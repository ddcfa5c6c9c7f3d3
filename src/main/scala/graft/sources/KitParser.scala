package graft.sources

import org.apache.spark.sql.types._

/** S7 — definition-file ingestion (modules/tb_functions.py:225-252): the
  * reference provisions tables by POSTing `.datasource` files; here the
  * same files parse into a catalog entry (name, StructType, JSONPaths,
  * engine semantics, partition/sort spec, Kafka binding) so a kit
  * directory can drive the Spark engine directly.
  *
  * Grammar covered is exactly what the 5 reference kits use
  * (the `.datasource` files under kits/users/{pg,mysql} and kits/airport/mysql):
  * a SCHEMA block of `` `col` Type `json:$.path` `` lines, ENGINE*
  * settings, and KAFKA_* bindings. Scaladoc cites: SCHEMA block
  * users_raw.datasource:1-15, ENGINE block :16-18, KAFKA block :20-27.
  */
object KitParser {

  final case class ColumnDef(name: String, dataType: DataType,
                             nullable: Boolean, jsonPath: Option[String])

  sealed trait EngineSemantics
  case object AppendOnly extends EngineSemantics                     // MergeTree
  final case class ReplaceByVersion(versionCol: String) extends EngineSemantics // ReplacingMergeTree + ENGINE_VER

  final case class DatasourceDef(
      name: String,
      columns: Seq[ColumnDef],
      engine: EngineSemantics,
      partitionKey: Option[String],
      sortingKey: Seq[String],
      kafkaTopic: Option[String],
      kafkaGroupId: Option[String],
      kafkaAutoOffsetReset: Option[String]) {
    def schema: StructType =
      StructType(columns.map(c => StructField(c.name, c.dataType, c.nullable)))
  }

  /** ClickHouse type → Spark type (SURVEY §1.2 table, complete for the
    * types the kits use). */
  def chType(t: String): (DataType, Boolean) = {
    val trimmed = t.trim
    val nullable = trimmed.startsWith("Nullable(")
    val inner0 = if (nullable) trimmed.stripPrefix("Nullable(").stripSuffix(")") else trimmed
    val inner = if (inner0.startsWith("LowCardinality("))
      inner0.stripPrefix("LowCardinality(").stripSuffix(")") else inner0
    val dt = inner match {
      case "Int8" => ByteType
      case "Int16" => ShortType
      case "Int32" => IntegerType
      case "Int64" => LongType
      case "UInt8" => ShortType // no unsigned in Spark; domain is 0/1
      case "UInt16" => IntegerType
      case "UInt32" => LongType
      case "UInt64" => LongType
      case "Float32" => FloatType
      case "Float64" => DoubleType
      case "String" => StringType
      case "DateTime" => TimestampNTZType
      case s if s.startsWith("DateTime64") => TimestampNTZType
      case s if s.startsWith("FixedString") => StringType // CHAR(n) invariant documented
      case other => throw new IllegalArgumentException(s"unmapped ClickHouse type: $other")
    }
    (dt, nullable)
  }

  private val colLine = """^\s*`([^`]+)`\s+([^`,]+?)\s*(`json:([^`]+)`)?\s*,?\s*$""".r
  private val setting = """^(\w+)\s+['"]?([^'"]*)['"]?\s*$""".r

  /** Parse one `.datasource` file's text. `name` = file basename. */
  def parseDatasource(name: String, text: String): DatasourceDef = {
    var inSchema = false
    val cols = Seq.newBuilder[ColumnDef]
    val settings = scala.collection.mutable.Map[String, String]()
    text.linesIterator.foreach { raw =>
      val line = raw.trim
      if (line.startsWith("SCHEMA")) inSchema = true
      else if (inSchema && line.isEmpty) inSchema = false
      else if (inSchema) line match {
        case colLine(col, tpe, _, path) =>
          val (dt, nullable) = chType(tpe)
          cols += ColumnDef(col, dt, nullable, Option(path))
        case _ => () // non-column schema line
      }
      else line match {
        case setting(k, v) if k.startsWith("ENGINE") || k.startsWith("KAFKA") =>
          settings(k) = v
        case _ => ()
      }
    }
    val engine = settings.get("ENGINE") match {
      case Some("ReplacingMergeTree") =>
        ReplaceByVersion(settings.getOrElse("ENGINE_VER",
          throw new IllegalArgumentException("ReplacingMergeTree without ENGINE_VER")))
      case _ => AppendOnly
    }
    DatasourceDef(
      name = name,
      columns = cols.result(),
      engine = engine,
      partitionKey = settings.get("ENGINE_PARTITION_KEY"),
      sortingKey = settings.get("ENGINE_SORTING_KEY")
        .map(_.split(",").map(_.trim).toSeq).getOrElse(Nil),
      kafkaTopic = settings.get("KAFKA_TOPIC"),
      kafkaGroupId = settings.get("KAFKA_GROUP_ID"),
      kafkaAutoOffsetReset = settings.get("KAFKA_AUTO_OFFSET_RESET"))
  }

  /** Parse every `.datasource` under a kit directory into a catalog.
    * Keys are kit-relative paths (e.g. `users/pg/users_raw`) — the pg
    * and mysql kits declare DIFFERENT schemas under the same basename
    * (unix-µs Int64 + __deleted vs DateTime + __value), so basename
    * keys would collapse them in filesystem-listing order. A root that
    * is not a directory is refused: a missing kit is an error, not an
    * empty catalog. */
  def parseKit(dir: java.io.File): Map[String, DatasourceDef] = {
    require(dir.isDirectory, s"kit root is not a directory: ${dir.getPath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".datasource")) Seq(f) else Nil
    walk(dir).map { f =>
      val name = f.getName.stripSuffix(".datasource")
      val rel = dir.toPath.relativize(f.toPath).toString
        .stripSuffix(".datasource").replace("/datasources/", "/")
      rel -> parseDatasource(name,
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    }.toMap
  }
}
