package graft

/** Dev tool: dump a SUBSET of SparkEntry.queries (plus their oracle
  * SQL) the same way Verify does — for iterating on one oracle pair
  * without paying the full dump, on the same [[Session]] and dump path
  * ([[Verify.dumpQuery]]).
  * Usage: runMain graft.VerifySome <sfDir> <outDir> <query...> */
object VerifySome {
  def main(args: Array[String]): Unit = {
    RunLock.acquireOrDie("VerifySome")
    val sfDir = args(0)
    val outDir = args(1)
    val spark = Session(sfDir)
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    args.drop(2).foreach { name =>
      Verify.dumpQuery(spark, sfDir, outDir, name)
      SparkEntry.oracleSql.get(name).foreach { sql =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/$name.sql"), sql)
      }
    }
    spark.stop()
  }
}
