package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.{ArtifactManifest, DedupMaintenance, TextDedup}

/** Delta-sized maintenance proof AT SCALE (round-13 verdict #3; round-15
  * verdict #3 extended it to STEADY STATE): the 100 TB story is not one
  * increment but a chain of them — generations accumulate until the
  * auto-compaction trigger fires, and per-increment wall time must stay
  * ~flat across the chain AND across the compaction boundary. This tool
  * runs that measurement against a PRE-EXISTING data dir + artifact set
  * (hardlink copies of the real sf100 pair — see tools/inc_at_scale.sh):
  *
  *   1. `update` on the untouched copy — either "skip" (artifact fully
  *      current) or "full" (a stage-set EXTENSION, e.g. a new surface
  *      staging onto an older set: only the missing stage runs — timed,
  *      because that number IS the pay-at-ingest cost of the surface);
  *   2. per round (1..rounds): append a ~`deltaPermille`‰ synthetic doc
  *      delta (new ids past max; half exact copies of sampled real
  *      docs, half suffixed near-copies — so the increment must produce
  *      real pair-graph edges through BOTH the exact-digest and the
  *      band-candidate kernels), ONE new parquet file, no existing file
  *      touched; then `update` — MUST take the "incremental" path; wall
  *      time, post-update generation, and any auto-compaction event are
  *      recorded. Round-14 advisory: parity is derived from
  *      `doc_id div step` (NOT the filter residue, which pins doc_id ≡ 7
  *      mod step and made the exact branch dead), and the delta is
  *      ASSERTED to contain both kinds;
  *   3. identity spot-checks at the END of the chain, WITHOUT a second
  *      full build: the maintained `doc_digests` live view must equal
  *      an md5 recompute over the post-append corpus (full-surface
  *      identity, one corpus scan — valid across the compaction
  *      boundary because compaction is identity-preserving), and the
  *      staged pair graph must contain edges reaching the delta ids.
  *
  * Usage:
  *   `runMain graft.tools.IncAtScale <dataDir> <artDir> [permille] [rounds] [maxGen]`
  * `maxGen` is passed to `update` as `autoCompactMaxGen`; with
  * rounds >= maxGen the chain MUST observe at least one auto-compaction
  * (asserted). Prints one JSON line with the per-round trail.
  */
object IncAtScale {
  def main(args: Array[String]): Unit = {
    graft.RunLock.acquireOrDie("IncAtScale")
    val data = args(0)
    val art = args(1)
    val permille = args.lift(2).map(_.toInt).getOrElse(1)
    val rounds = args.lift(3).map(_.toInt).getOrElse(1)
    val maxGen = args.lift(4).map(_.toInt).getOrElse(8)
    val spark = graft.Session(data)

    def timed(body: => String): (Double, String) = {
      System.gc(); Thread.sleep(100)
      val t0 = System.nanoTime()
      val mode = body
      ((System.nanoTime() - t0) / 1e9, mode)
    }

    // leg 1: bring the copied artifact set current (skip when already;
    // a stage-set extension when the set predates a new surface)
    val (tExtend, mExtend) = timed {
      DedupMaintenance.update(spark, data, art, autoCompactMaxGen = maxGen)
    }
    require(mExtend == "skip" || mExtend == "full",
      s"pre-append update took unexpected path: $mExtend")

    val docs0 = graft.Tables.documents(spark, data)
    val nDocs = docs0.count()
    // the ORIGINAL corpus ceiling: every round samples sources below it
    // (so later rounds never resample an earlier round's delta) and the
    // end-of-chain pair check looks for edges above it
    val maxId0 = docs0.agg(max(col("doc_id"))).first().getLong(0)
    val step = math.max(1L, 1000L / permille)

    // leg 2: the increment chain — each round's wall time is a headline
    val trail = (1 to rounds).map { k =>
      val docs = graft.Tables.documents(spark, data)
      val maxId = docs.agg(max(col("doc_id"))).first().getLong(0)
      // parity from div-step, independent of the residue filter
      // (round-14 advisory: `pmod(doc_id, step) === 7` pins every
      // selected id odd for even steps, so a doc_id-parity branch was
      // dead and the delta was 100% near-copies)
      val isExact = pmod(expr(s"doc_id div $step"), lit(2L)) === 0
      val delta = docs
        .filter(col("doc_id") <= lit(maxId0) &&
          pmod(col("doc_id"), lit(step)) === 7)
        .select((col("doc_id") + lit(maxId + 1L)).as("doc_id"), col("lang"),
          col("source"),
          when(isExact, col("text"))
            .otherwise(concat(col("text"), lit(s" inc15 probe tail r$k")))
            .as("text"),
          isExact.as("__exact"))
      val byKind = delta.groupBy("__exact").count().collect()
        .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
      val (nExact, nNear) =
        (byKind.getOrElse(true, 0L), byKind.getOrElse(false, 0L))
      require(nExact > 0 && nNear > 0,
        s"round $k delta must contain BOTH exact copies and near-copies, " +
          s"got exact=$nExact near=$nNear")
      delta.drop("__exact")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(1)
        .write.mode("append").parquet(s"$data/documents.parquet")
      spark.catalog.refreshByPath(data)

      val (tInc, mInc) = timed {
        DedupMaintenance.update(spark, data, art, autoCompactMaxGen = maxGen)
      }
      require(mInc == "incremental",
        s"round $k update must take the incremental path, took: $mInc")
      val lastInc = ArtifactManifest.read(art).flatMap(_.lastUpdate)
        .getOrElse("{}")
      val compacted = lastInc.contains("\"compacted\":true")
      System.err.println(f"[inc_at_scale] round $k: ${tInc}%.1f s " +
        s"exact=$nExact near=$nNear compacted=$compacted last_inc=$lastInc")
      (k, nExact + nNear, tInc, compacted, lastInc)
    }
    val nCompactions = trail.count(_._4)
    if (rounds >= maxGen)
      require(nCompactions >= 1,
        s"$rounds rounds at autoCompactMaxGen=$maxGen must trigger at " +
          "least one auto-compaction, saw none")

    // leg 3a: full-surface identity on doc_digests (maintained view ==
    // recompute over the post-append corpus), across the whole chain
    // and any compaction boundary it crossed
    val maintained = TextDedup.readDocDigests(spark, art)
      .select(col("doc_id"), col("digest"))
    val fresh = graft.Tables.documents(spark, data)
      .select(col("doc_id"), md5(col("text")).as("digest"))
    val diff = maintained.unionByName(fresh)
      .groupBy("doc_id", "digest").agg(count(lit(1)).as("c"))
      .filter(col("c") =!= 2).count()
    require(diff == 0, s"doc_digests diverged from recompute: $diff rows")

    // leg 3b: the engineered duplicates produced pair-graph edges
    val deltaPairs = TextDedup.stagedPairs(spark, art)
      .filter(col("doc_b") > maxId0).count()
    require(deltaPairs > 0, "no pair edge reaches the delta ids")

    def f2(v: Double) =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val roundsJson = trail.map { case (k, n, sec, compacted, lastInc) =>
      s"""{"round":$k,"n_delta":$n,"inc_sec":${f2(sec)},""" +
        s""""compacted":$compacted,"last_inc":$lastInc}"""
    }.mkString("[", ",", "]")
    println(s"""{"probe":"inc_at_scale","data":"$data","n_docs":$nDocs,""" +
      s""""permille":$permille,"max_gen":$maxGen,""" +
      s""""extend_sec":${f2(tExtend)},"extend_mode":"$mExtend",""" +
      s""""n_compactions":$nCompactions,"delta_pairs":$deltaPairs,""" +
      s""""rounds":$roundsJson}""")
    spark.stop()
  }
}
