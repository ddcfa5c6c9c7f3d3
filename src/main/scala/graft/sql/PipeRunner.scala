package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Executes a reference `.pipe` file on this engine as ONE Spark SQL
  * statement: each NODE's SQL is translated by [[ChSqlTranslator]] and
  * becomes a CTE under the node's name, and the statement selects from
  * the last node (the endpoint). So node references inline as
  * subqueries, as in the reference (SURVEY §3.1 step 3), and a pipe's
  * node names are scoped to its statement: no view is registered, and
  * concurrent pipes whose nodes share names cannot see each other's.
  * A node named after the table it reads (`WITH t AS (… FROM t)`)
  * reads the outer table. Cross-pipe references
  * (active_vs_missed_flights.pipe:10-12) resolve to temp views the
  * caller registers — typically by running the referenced pipe first
  * and registering its result.
  */
object PipeRunner {

  final case class Node(name: String, sql: String)

  /** Parse NODE blocks: `NODE <name>` … `SQL >` … (until next NODE/TYPE
    * marker). Pipe metadata lines (TOKEN/DESCRIPTION/TYPE/DATASOURCE/
    * COPY_SCHEDULE) are structural, not SQL. */
  def parse(text: String): Seq[Node] = {
    val nodes = Seq.newBuilder[Node]
    var name: Option[String] = None
    var inSql = false
    val sql = new StringBuilder
    def flush(): Unit = {
      name.filter(_ => sql.nonEmpty)
        .foreach(n => nodes += Node(n, sql.toString.trim))
      sql.clear()
    }
    text.linesIterator.foreach { line =>
      val t = line.trim
      if (t.startsWith("NODE ")) { flush(); name = Some(t.stripPrefix("NODE ").trim); inSql = false }
      else if (t.startsWith("SQL")) inSql = true
      else if (t.startsWith("TYPE ") || t.startsWith("DATASOURCE ") ||
        t.startsWith("TARGET_DATASOURCE") || t.startsWith("COPY_SCHEDULE") ||
        t.startsWith("TOKEN ") || t.startsWith("DESCRIPTION")) inSql = false
      else if (inSql) sql.append(line).append("\n")
    }
    flush()
    nodes.result()
  }

  /** Run a pipe file; returns the last node's frame. To reference this
    * pipe from another one, register the result under its name. */
  def run(spark: SparkSession, pipeFile: java.io.File,
          params: Map[String, String] = Map.empty,
          asOf: Option[String] = None): DataFrame = {
    val text = new String(java.nio.file.Files.readAllBytes(pipeFile.toPath), "UTF-8")
    val nodes = parse(text)
    require(nodes.nonEmpty, s"no SQL nodes in ${pipeFile.getName}")
    runNodes(spark, nodes, params, asOf)
  }

  /** The node-sequence form of [[run]] — the entry the control plane
    * uses for pipes that arrive as POSTed text rather than files. */
  def runNodes(spark: SparkSession, nodes: Seq[Node],
               params: Map[String, String] = Map.empty,
               asOf: Option[String] = None): DataFrame = {
    require(nodes.nonEmpty, "no SQL nodes in pipe")
    def name(n: Node) = "`" + n.name.replace("`", "``") + "`"
    val ctes = nodes.map(n =>
      s"${name(n)} AS (\n${ChSqlTranslator.translate(n.sql, params, asOf)}\n)")
    dedupColumns(spark.sql(
      ctes.mkString("WITH ", ",\n", s"\nSELECT * FROM ${name(nodes.last)}")))
  }

  /** CH tolerates duplicate result-column names and the reference's copy
    * pipe uses that to restamp a column (`SELECT *, x AS batch_max_updated`,
    * users_batch_copy.pipe:66 — the target table is written by name and
    * the last occurrence wins). Mirror it on the endpoint's columns:
    * keep the LAST occurrence of each duplicated name. */
  private def dedupColumns(df: DataFrame): DataFrame = {
    val cols = df.columns
    if (cols.distinct.length == cols.length) df
    else {
      val keep = cols.zipWithIndex.groupBy(_._1).map(_._2.last._2).toSet
      val tmp = df.toDF(cols.indices.map(i => s"__c$i"): _*)
      import org.apache.spark.sql.functions.col
      tmp.select(cols.zipWithIndex.collect {
        case (n, i) if keep(i) => col(s"__c$i").as(n)
      }.toIndexedSeq: _*)
    }
  }
}
