package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{base64, col, struct, to_json}
import org.apache.spark.sql.types.{ArrayType, BinaryType, MapType, StructType}

/** S6 — the HTTP JSON endpoint payload shape
  * (`GET /v0/pipes/{name}.json` → `{"meta":[...],"data":[...],"rows":N}`,
  * consumed at modules/tb_functions.py:264-273 / dash_airport.py:29-32).
  * The engine side of the contract: schema-derived meta + row objects.
  * Serving stays out of engine scope (SURVEY §1.1); any HTTP layer can
  * return this string verbatim.
  *
  * `limit` bounds the driver-side collect — endpoints are dashboard
  * payloads (the reference's clients truncate client-side,
  * dash_airport.py:174); bulk egress should write parquet instead.
  * Every renderer probes `limit + 1` rows so a clipped result is
  * distinguishable from a complete one: the JSON envelope carries
  * `rows_before_limit_at_least` (the reference payload's field), and
  * [[Rendered.overflow]] lets a transport layer signal truncation for
  * the envelope-less formats.
  */
object Endpoints {

  /** A rendered payload: body, rows actually included, and whether the
    * source had MORE rows than the limit (clipped result). */
  final case class Rendered(body: String, rows: Int, overflow: Boolean)

  /** Row objects for the JSON formats. NOT `Dataset.toJSON`: that
    * honors `spark.sql.jsonGenerator.ignoreNullFields` (default true),
    * which DROPS null-valued keys — rows would be ragged against the
    * `meta` column list and a consumer indexing `row[col["name"]]`
    * (the tb_functions/dash pattern) would KeyError on null cells.
    * Every row carries every column, null as JSON null. */
  private def jsonRows(df: DataFrame, n: Int): Array[String] = {
    val allCols = struct(df.columns.map(col).toIndexedSeq: _*)
    df.limit(n)
      .select(to_json(allCols,
        java.util.Collections.singletonMap("ignoreNullFields", "false")))
      .collect().map(_.getString(0))
  }

  def renderJson(df: DataFrame, limit: Int = 10000): Rendered = {
    val meta = df.schema.fields.map(f =>
      s"""{"name":${q(f.name)},"type":${q(f.dataType.simpleString)}}""")
      .mkString("[", ",", "]")
    val probed = jsonRows(df, limit + 1)
    val rows = probed.take(limit)
    val overflow = probed.length > limit
    // when clipped, all we know without running the full query is
    // "at least limit + 1" — exactly what the field name promises
    val atLeast = if (overflow) limit + 1 else rows.length
    Rendered(
      s"""{"meta":$meta,"data":${rows.mkString("[", ",", "]")},"rows":${rows.length},"rows_before_limit_at_least":$atLeast}""",
      rows.length, overflow)
  }

  /** NDJSON rendering (`GET /v0/pipes/{name}.ndjson`): one JSON object
    * per line, no envelope — the streaming-consumer format. Zero rows
    * render as an EMPTY body, not a blank line (strict line-per-object
    * consumers error on an empty line). */
  def renderNdjson(df: DataFrame, limit: Int = 10000): Rendered = {
    val probed = jsonRows(df, limit + 1)
    val rows = probed.take(limit)
    Rendered(if (rows.isEmpty) "" else rows.mkString("", "\n", "\n"),
      rows.length, probed.length > limit)
  }

  /** CSV rendering (`GET /v0/pipes/{name}.csv`): header row + RFC-4180
    * quoting (quote when the value holds comma/quote/newline).
    * Non-scalar columns (arrays/structs/maps — e.g. embedding vectors
    * or packed sequences) render through Spark's own JSON encoder
    * (`to_json`, the same encoding the .json format uses), binary as
    * base64 — never JVM `toString` (`WrappedArray(...)` is not a CSV
    * any consumer can round-trip). */
  def renderCsv(df: DataFrame, limit: Int = 10000): Rendered = {
    def cell(v: Any): String = {
      val s = if (v == null) "" else v.toString
      if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    }
    val flat = df.select(df.schema.fields.map { f =>
      f.dataType match {
        case _: ArrayType | _: StructType | _: MapType =>
          to_json(col(f.name)).as(f.name)
        case _: BinaryType => base64(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }.toIndexedSeq: _*)
    val probed = flat.limit(limit + 1).collect()
    val rows = probed.take(limit)
      .map(r => (0 until r.length).map(i => cell(r.get(i))).mkString(","))
    val header = df.columns.map(cell).mkString(",")
    Rendered((header +: rows).mkString("", "\n", "\n"),
      rows.length, probed.length > limit)
  }

  private[sources] def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
