package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe for graft's mains and test suites, so the
  * flags the oracle comparison and the benchmarks depend on cannot
  * drift between entry points:
  *   - `local[cpus]`, with `SPARK_GRAFT_CPUS` defaulting to the JVM's
  *     available processors;
  *   - the shuffle sizing of [[shuffleConfigs]];
  *   - UTC session time, so `timestamp_ntz` outputs read as UTC wall
  *     clock in DuckDB;
  *   - µs-precision parquet timestamps (not INT96), the logical type
  *     DuckDB produces;
  *   - the [[graft.functions.GraftExtensions]] extension, which names
  *     the native functions and the ClickHouse dialect for SQL text;
  *   - no UI, and WARN logging. */
object Session {

  /** The session for work over the sf directory `sfDir` (read only by
    * `SPARK_GRAFT_SHUFFLE=auto`). `getOrCreate`: one per JVM. */
  def apply(sfDir: String): SparkSession = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = shuffleConfigs(sfDir, n.toString)
      .foldLeft(SparkSession.builder().master(s"local[$n]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_SHUFFLE=auto` — partitions sized from the INPUT, the
    * way a cluster operator sizes them: total bytes under the sf dir /
    * a 128 MB per-partition target, clamped to [cores, 2048]. At the
    * sf0.1 contract scale this resolves to the core count (unchanged
    * figure); at sf100 (15 GB) it lands at ~117 — within noise of the
    * hand-adjudicated 128 from the round-9 scale probes. Pinning the
    * partition count while data grows 1000x measures spill, not the
    * plan. */
  def shufflePartitionsFor(sfDir: String, cpus: Int): Int = {
    def size(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles).getOrElse(Array.empty[java.io.File])
        .map(size).sum
    val perPartition = 128L * 1024 * 1024
    math.min(2048L,
      math.max(cpus.toLong, size(new java.io.File(sfDir)) / perPartition))
      .toInt
  }

  /** Resolve the shuffle sizing as SESSION CONFIGS: explicit number >
    * `auto` > core count (the contract default).
    *
    * `auto` (measured at sf30): one pinned count cannot serve every
    * stage (the pair family wants width, the vocab-bounded lm family
    * wants few coarse partitions). The stage-local mechanism is AQE
    * coalescing seeded with a GENEROUS `initialPartitionNum` (4× the
    * input-bytes heuristic — AQE can only coalesce down, never split,
    * and stages like the exploded shingle join shuffle far more bytes
    * than the input) and SIZE-FIRST coalescing
    * (`parallelismFirst=false`, 32 MB advisory): each stage then lands
    * near its own optimum. Measured same-box at sf30: this config
    * beats a global 128 on both families (pairs 138.9 s vs 144.3,
    * lm_buckets 22.0 s vs 24.1). The `parallelismFirst=true` default
    * was measured and REJECTED: it refuses to coalesce below ~1 MB
    * partitions, pinning every stage at the initial width — the pair
    * family regressed to 198 s. `spark.sql.shuffle.partitions` stays
    * at the core count as the non-AQE floor. */
  def shuffleConfigs(sfDir: String, cpus: String): Seq[(String, String)] =
    sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus) match {
      case "auto" =>
        val base = shufflePartitionsFor(sfDir, cpus.toInt)
        val initial = math.min(2048, math.max(cpus.toInt, 4 * base))
        Seq(
          "spark.sql.shuffle.partitions" -> cpus,
          "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
            initial.toString,
          "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32m")
      case n => Seq("spark.sql.shuffle.partitions" -> n)
    }
}
