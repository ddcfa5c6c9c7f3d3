package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/parity.py`):
  * `runMain graft.Verify <sfDir> <outDir> [<query>...]`. Trailing query
  * names dump only those queries (and only their oracle SQL), and also
  * write each one's oracle SQL to `<outDir>/<name>.sql` — for iterating
  * on one oracle pair without paying the full dump. */
object Verify {

  /** Dump one query's result the way the driver's gate reads it. */
  private[graft] def dumpQuery(spark: SparkSession, sfDir: String,
                               outDir: String, name: String): Unit =
    SparkEntry.queries(name)(spark, sfDir).coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/$name")

  def main(args: Array[String]): Unit = {
    RunLock.acquireOrDie("Verify")
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [<query>...]")
    val Seq(sfDir, outDir) = args.toSeq.take(2)
    val named = args.drop(2).toSeq
    val unknown = named.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val names = if (named.isEmpty) SparkEntry.queries.keys.toSeq else named
    val oracle =
      if (named.isEmpty) SparkEntry.oracleSql
      else SparkEntry.oracleSql.filter { case (k, _) => named.contains(k) }
    val spark = Session(sfDir)
    new java.io.File(outDir).mkdirs()
    // A failed dump must be LOUD: round 6's schema break surfaced only as
    // 34 silent absences in the driver's correctness file. Record every
    // failure as a per-query marker file plus a summary, so "missing
    // parquet" is always distinguishable from "never attempted".
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    names.foreach { name =>
      try dumpQuery(spark, sfDir, outDir, name)
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${e.getMessage}"
        failed(name) = msg
        System.err.println(s"[verify] ERROR $name: $msg")
        try Files.writeString(Paths.get(s"$outDir/$name.ERROR.txt"), msg + "\n")
        catch { case _: Throwable => () }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracle
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    for (name <- named; sql <- SparkEntry.oracleSql.get(name))
      Files.writeString(Paths.get(s"$outDir/$name.sql"), sql)
    val errJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} of ${names.size} queries FAILED to dump")
    spark.stop()
  }
}
