package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump one query's result the way the driver's gate reads it. */
  private[graft] def dumpQuery(spark: SparkSession, sfDir: String,
                               outDir: String, name: String): Unit =
    SparkEntry.queries(name)(spark, sfDir).coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/$name")

  def main(args: Array[String]): Unit = {
    RunLock.acquireOrDie("Verify")
    val Array(sfDir, outDir) = args
    val spark = Session(sfDir)
    new java.io.File(outDir).mkdirs()
    // A failed dump must be LOUD: round 6's schema break surfaced only as
    // 34 silent absences in the driver's correctness file. Record every
    // failure as a per-query marker file plus a summary, so "missing
    // parquet" is always distinguishable from "never attempted".
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.keys.foreach { name =>
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} of ${SparkEntry.queries.size} queries FAILED to dump")
    spark.stop()
  }
}
