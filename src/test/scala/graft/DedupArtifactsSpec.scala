package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.operators.{DedupMaintenance, TextDedup, TrainingMix, VectorOps}

/** The staged pair-graph topology (TextDedup.writeDedupArtifacts): every
  * staged consumer must be RESULT-IDENTICAL to its self-contained form —
  * the artifact is a cost optimization, never a semantics change. */
class DedupArtifactsSpec extends SparkSpec {

  private lazy val art: String = {
    val d = tempDir("dedup_art")
    TextDedup.writeDedupArtifacts(spark, sf, d)
    d
  }

  /** A private copy of [[art]] for a test that tampers with or rebuilds
    * its set (an sf build costs far more than the copy). */
  private def copyOfArt(prefix: String): String = {
    import java.nio.file.{Files, Paths}
    val out = tempDir(prefix)
    val src = Paths.get(art)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val t = Paths.get(out).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally walk.close()
    out
  }

  // sorted: several self-contained frames end in .distinct()/CC output
  // with no orderBy, so collect() order is incidental — identity with
  // the orderBy'd staged route must not hinge on it
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("staged artifacts exist and are non-trivial") {
    assert(TextDedup.stagedPairs(spark, art).count() > 0)
    assert(TextDedup.stagedClusters(spark, art).count() > 0)
    assert(spark.read.parquet(s"$art/emb_pairs").count() > 0)
    assert(spark.read.parquet(s"$art/emb_clusters").count() > 0)
  }

  test("staged == self-contained: clusters") {
    assert(rows(TextDedup.dupClustersStaged(spark, art)) ==
      rows(TextDedup.dupClusters(spark, sf)))
  }

  test("staged == self-contained: pagerank") {
    assert(rows(TextDedup.dupGraphPagerankStaged(spark, art)) ==
      rows(TextDedup.dupGraphPagerank(spark, sf)))
  }

  test("staged == self-contained: canonical select") {
    assert(rows(TextDedup.canonicalSelectStaged(spark, sf, art)) ==
      rows(TextDedup.canonicalSelect(spark, sf)))
  }

  test("staged == self-contained: split leakage") {
    assert(rows(TextDedup.splitLeakageStaged(spark, sf, art)) ==
      rows(TextDedup.splitLeakageAudit(spark, sf)))
  }

  test("staged == self-contained: training corpus build") {
    assert(rows(TrainingMix.buildCorpusStaged(spark, sf, art)) ==
      rows(TrainingMix.buildCorpus(spark, sf)))
  }

  test("staged == self-contained: embedding clusters") {
    assert(rows(VectorOps.dupClustersStaged(spark, art)) ==
      rows(VectorOps.dupClusters(spark, sf)))
  }

  test("probe layout: partitioned by list_id, every vector in exactly nprobe lists") {
    val layout = s"$art/emb_probe_layout"
    val dirs = new java.io.File(layout).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("list_id=")), dirs.mkString(","))
    val stored = spark.read.parquet(layout)
    val n = Tables.embeddings(spark, sf).count()
    assert(stored.count() == n * 3, "nprobe=3 rows per vector")
    assert(stored.select("vec_id").distinct().count() == n)
  }

  test("staged == self-contained: embedding near-dup pairs via the probe layout") {
    assert(rows(VectorOps.nearDupPairsOverLayout(spark, s"$art/emb_probe_layout")) ==
      rows(VectorOps.nearDupPairs(spark, sf)))
  }

  test("auto-route: the registered emb_near_dup_pairs reads the LAYOUT when " +
      "the artifact is current, falls back self-contained when it is not") {
    // staged + current + default threshold → the plan reads the staged
    // emb_pairs table (the endpoint's stored output — a parquet read)
    val routed = VectorOps.nearDupPairsAuto(spark, sf, art)
    assert(routed.inputFiles.exists(_.contains("/emb_pairs/")),
      s"current artifact must serve staged pairs: ${routed.inputFiles.take(3).mkString(",")}")
    assert(rows(routed) == rows(VectorOps.nearDupPairs(spark, sf)))
    // a HIGHER threshold post-filters the staged table; a LOWER one
    // needs pairs it never kept → recompute over the probe layout
    val hi = VectorOps.nearDupPairsAuto(spark, sf, art, minCosine = 0.6)
    assert(hi.inputFiles.exists(_.contains("/emb_pairs/")))
    assert(rows(hi) == rows(VectorOps.nearDupPairs(spark, sf, minCosine = 0.6)))
    val lo = VectorOps.nearDupPairsAuto(spark, sf, art, minCosine = 0.3)
    assert(lo.inputFiles.exists(_.contains("emb_probe_layout")) &&
      !lo.inputFiles.exists(_.contains("/emb_pairs/")),
      s"sub-threshold must recompute over the layout: ${lo.inputFiles.take(3).mkString(",")}")
    assert(rows(lo) == rows(VectorOps.nearDupPairs(spark, sf, minCosine = 0.3)))
    // a non-default geometry must NOT route (the staged assignment was
    // built under nprobe=3)
    val np2 = VectorOps.nearDupPairsAuto(spark, sf, art, nprobe = 2)
    assert(!np2.inputFiles.exists(_.contains("emb_probe_layout")))
    // no artifact → self-contained fallback, same result
    val none = tempDir("no_art")
    val fallback = VectorOps.nearDupPairsAuto(spark, sf, none)
    assert(!fallback.inputFiles.exists(_.contains("emb_probe_layout")))
    assert(rows(fallback) == rows(routed))
  }

  test("auto-route: the four text-side consumers read the STAGED pair graph " +
      "when the artifact is current, fall back self-contained when not") {
    def stagedInputs(df: DataFrame, table: String): Boolean =
      df.inputFiles.exists(_.contains(s"/$table/"))
    // current artifact → every consumer's plan reads the staged parquet
    val clusters = TextDedup.dupClustersAuto(spark, sf, art)
    assert(stagedInputs(clusters, "clusters"),
      s"clusters must route: ${clusters.inputFiles.take(3).mkString(",")}")
    assert(rows(clusters) == rows(TextDedup.dupClusters(spark, sf)))
    // pagerank's edge frame is localCheckpoint'd (lineage gone), so the
    // route is proven behaviorally: doctor a staged pairs table so
    // staged ≠ self-contained — a CURRENT artifact must serve the
    // doctored graph, a stale one must fall back to the corpus truth
    val dArt = copyOfArt("pr_route_art")
    assert(TextDedup.artifactsCurrent(sf, dArt))
    import spark.implicits._
    Seq((888888L, 888889L, 0.9, 0))
      .toDF("doc_a", "doc_b", "jaccard", "gen")
      .write.mode("append").parquet(s"$dArt/pairs")
    val prRouted = TextDedup.dupGraphPagerankAuto(spark, sf, dArt)
    assert(prRouted.filter(col("doc_id") === 888888L).count() == 1,
      "current artifact must serve the staged pair graph")
    tamperManifest(dArt)(m => m.copy(stages = m.stages - "emb_clusters"))
    val prFallback = TextDedup.dupGraphPagerankAuto(spark, sf, dArt)
    assert(prFallback.filter(col("doc_id") === 888888L).count() == 0,
      "stale artifact must fall back to the self-contained graph")
    assert(rows(prFallback) == rows(TextDedup.dupGraphPagerank(spark, sf)))
    assert(rows(TextDedup.dupGraphPagerankAuto(spark, sf, art)) ==
      rows(TextDedup.dupGraphPagerank(spark, sf)))
    val canon = TextDedup.canonicalSelectAuto(spark, sf, art)
    assert(stagedInputs(canon, "clusters"))
    assert(rows(canon) == rows(TextDedup.canonicalSelect(spark, sf)))
    val leak = TextDedup.splitLeakageAuto(spark, sf, art)
    assert(stagedInputs(leak, "pairs"))
    assert(rows(leak) == rows(TextDedup.splitLeakageAudit(spark, sf)))
    // non-default staging params → fingerprint mismatch → self-contained
    assert(!stagedInputs(
      TextDedup.dupClustersAuto(spark, sf, art, minJaccard = 0.4), "clusters"))
    assert(!stagedInputs(
      TextDedup.splitLeakageAuto(spark, sf, art, maxDf = 50), "pairs"))
    // non-default maxRounds wants possibly-unconverged CC semantics
    assert(!stagedInputs(
      TextDedup.dupClustersAuto(spark, sf, art, maxRounds = 1), "clusters"))
    // no artifact at all → self-contained fallback, same result
    val none = tempDir("no_text_art")
    val fb = TextDedup.dupClustersAuto(spark, sf, none)
    assert(!stagedInputs(fb, "clusters"))
    assert(rows(fb) == rows(clusters))
  }

  test("auto-route: docs_near_dup_pairs / edit_distance / emb_dup_clusters " +
      "read the staged graph when current, fall back self-contained when not") {
    def stagedInputs(df: DataFrame, table: String): Boolean =
      df.inputFiles.exists(_.contains(s"/$table/"))
    // the pair endpoint itself: a current artifact serves the staged
    // pair table directly (it IS the query's output)
    val pairs = TextDedup.nearDupPairsAuto(spark, sf, art)
    assert(stagedInputs(pairs, "pairs"),
      s"pairs must route: ${pairs.inputFiles.take(3).mkString(",")}")
    assert(rows(pairs) == rows(TextDedup.nearDupPairs(spark, sf)))
    // edit distance: staged pair frame + the always-run levenshtein
    // kernel; the text join keeps the corpus in the plan, so the route
    // shows as the staged pairs table AMONG the inputs
    val ed = TextDedup.nearDupEditDistanceAuto(spark, sf, art)
    assert(stagedInputs(ed, "pairs"),
      s"edit distance must route: ${ed.inputFiles.take(3).mkString(",")}")
    assert(rows(ed) == rows(TextDedup.nearDupEditDistance(spark, sf)))
    // embedding clusters: staged CC result, geometry-gated like the
    // emb pair route
    val ec = VectorOps.dupClustersAuto(spark, sf, art)
    assert(stagedInputs(ec, "emb_clusters"),
      s"emb clusters must route: ${ec.inputFiles.take(3).mkString(",")}")
    assert(rows(ec) == rows(VectorOps.dupClusters(spark, sf)))
    // non-default params must NOT route
    assert(!stagedInputs(
      TextDedup.nearDupPairsAuto(spark, sf, art, minJaccard = 0.4), "pairs"))
    assert(!stagedInputs(
      TextDedup.nearDupPairsAuto(spark, sf, art, maxDf = 50), "pairs"))
    assert(!stagedInputs(
      TextDedup.nearDupEditDistanceAuto(spark, sf, art, minJaccard = 0.4), "pairs"))
    // non-default maxRounds must not route; 63 (vs 1 in the text twin)
    // because the self-contained fallback RUNS its CC eagerly and the
    // emb graph needs more than one round to converge
    assert(!stagedInputs(
      VectorOps.dupClustersAuto(spark, sf, art, maxRounds = 63), "emb_clusters"))
    // no artifact → self-contained fallback, same result
    val none = tempDir("no_art3")
    assert(!stagedInputs(TextDedup.nearDupPairsAuto(spark, sf, none), "pairs"))
    assert(rows(TextDedup.nearDupPairsAuto(spark, sf, none)) == rows(pairs))
    assert(!stagedInputs(VectorOps.dupClustersAuto(spark, sf, none), "emb_clusters"))
    assert(rows(VectorOps.dupClustersAuto(spark, sf, none)) == rows(ec))
    // corpus build: the cluster input routes, the corpus tail always runs
    val corpus = TrainingMix.buildCorpusAuto(spark, sf, art)
    assert(stagedInputs(corpus, "clusters"),
      s"corpus build must route: ${corpus.inputFiles.take(3).mkString(",")}")
    assert(rows(corpus) == rows(TrainingMix.buildCorpus(spark, sf)))
    assert(!stagedInputs(TrainingMix.buildCorpusAuto(spark, sf, none), "clusters"))
    assert(rows(TrainingMix.buildCorpusAuto(spark, sf, none)) == rows(corpus))
  }

  test("staged == self-contained: the span family (substring spans, span " +
      "doc stats, dedup rewrite, corpus v2) routes when current, falls " +
      "back when not") {
    def stagedInputs(df: DataFrame, table: String): Boolean =
      df.inputFiles.exists(_.contains(s"/$table/"))
    assert(TextDedup.stagedSpans(spark, art).count() > 0)
    // current artifact → each consumer's plan reads the staged span table
    val spans = TextDedup.substringSpansAuto(spark, sf, art)
    assert(stagedInputs(spans, "spans"),
      s"spans must route: ${spans.inputFiles.take(3).mkString(",")}")
    assert(rows(spans) == rows(TextDedup.substringSpans(spark, sf)))
    val stats = TextDedup.spanDocStatsAuto(spark, sf, art)
    assert(stagedInputs(stats, "spans"))
    assert(rows(stats) == rows(TextDedup.spanDocStats(spark, sf)))
    val rewrite = TextDedup.dedupRewriteAuto(spark, sf, art)
    assert(stagedInputs(rewrite, "spans"))
    assert(rows(rewrite) == rows(TextDedup.dedupRewrite(spark, sf)))
    val v2 = TrainingMix.buildCorpusV2Auto(spark, sf, art)
    assert(stagedInputs(v2, "spans"),
      s"corpus v2 must route: ${v2.inputFiles.take(3).mkString(",")}")
    assert(rows(v2) == rows(TrainingMix.buildCorpusV2(spark, sf)))
    // a non-default longSpanChars is a post-threshold — it still routes
    val stats60 = TextDedup.spanDocStatsAuto(spark, sf, art, longSpanChars = 60)
    assert(stagedInputs(stats60, "spans"))
    assert(rows(stats60) == rows(TextDedup.spanDocStats(spark, sf, 60)))
    // non-default span-pipeline params want a DIFFERENT pipeline → no route
    assert(!stagedInputs(
      TextDedup.substringSpansAuto(spark, sf, art, k = 9), "spans"))
    assert(!stagedInputs(
      TextDedup.substringSpansAuto(spark, sf, art, maxDf = 50), "spans"))
    // no artifact → self-contained fallback, same result
    val none = tempDir("no_span_art")
    val fb = TextDedup.substringSpansAuto(spark, sf, none)
    assert(!stagedInputs(fb, "spans"))
    assert(rows(fb) == rows(spans))
    assert(!stagedInputs(TrainingMix.buildCorpusV2Auto(spark, sf, none), "spans"))
    assert(rows(TrainingMix.buildCorpusV2Auto(spark, sf, none)) == rows(v2))
  }

  test("staged == self-contained: text increment screening routes through " +
      "the staged digests/bands/shingle-index, falls back when stale") {
    def stagedInputs(df: DataFrame, table: String): Boolean =
      df.inputFiles.exists(_.contains(s"/$table/"))
    val routed = TextDedup.screenIncrementAuto(spark, sf, art)
    assert(stagedInputs(routed, "band_index") &&
      stagedInputs(routed, "doc_digests") &&
      stagedInputs(routed, "shingle_index"),
      s"screen must route: ${routed.inputFiles.take(3).mkString(",")}")
    // zero corpus scans on the routed plan
    assert(!routed.inputFiles.exists(_.contains("documents.parquet")),
      "routed screen must not scan the corpus")
    assert(rows(routed) == rows(TextDedup.screenIncrement(spark, sf)))
    // a non-default threshold post-filters either frame — still routes
    val hi = TextDedup.screenIncrementAuto(spark, sf, art, minJaccard = 0.7)
    assert(stagedInputs(hi, "band_index"))
    assert(rows(hi) == rows(TextDedup.screenIncrement(spark, sf, 0.7)))
    // no artifact → self-contained fallback, same result
    val none = tempDir("no_screen_art")
    val fb = TextDedup.screenIncrementAuto(spark, sf, none)
    assert(!stagedInputs(fb, "band_index"))
    assert(rows(fb) == rows(routed))
  }

  test("increment screen: verdicts agree with the pair-graph truth") {
    val screen = VectorOps.screenIncrementOverLayout(
        spark, sf, s"$art/emb_probe_layout").collect()
    // truth from the pair graph: for each incoming vec (id%10==0), its
    // best EXISTING counterpart among the near-dup pairs (same candidate
    // rule, same threshold), cosine desc / id asc
    val pairs = VectorOps.nearDupPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val matches = (pairs.map { case (a, b, c) => (a, b, c) } ++
        pairs.map { case (a, b, c) => (b, a, c) })
      .filter { case (v, e, _) => v % 10 == 0 && e % 10 != 0 }
      .groupBy(_._1).view
      .mapValues(_.minBy { case (_, e, c) => (-c, e) }).toMap
    assert(screen.nonEmpty)
    for (r <- screen) {
      val v = r.getAs[Long]("vec_id")
      matches.get(v) match {
        case Some((_, e, c)) =>
          assert(r.getAs[String]("verdict") == "near_dup" &&
            r.getAs[Long]("matched_vec") == e &&
            r.getAs[Double]("cosine") == c, s"vec $v: $r vs ($e,$c)")
        case None =>
          assert(r.getAs[String]("verdict") == "novel" && r.isNullAt(2), s"vec $v: $r")
      }
    }
  }

  test("increment screen: the size-guarded shuffle path (huge increments) " +
      "is result-identical to the broadcast+DPP path") {
    val layout = s"$art/emb_probe_layout"
    val viaBroadcast = rows(
      VectorOps.screenIncrementOverLayout(spark, sf, layout))
    val viaShuffle = rows(
      VectorOps.screenIncrementOverLayout(spark, sf, layout,
        broadcastProbeBytes = 0L))
    assert(viaShuffle == viaBroadcast)
    // and the forced path really did join the probe frame by shuffle
    // (a planned-away DPP placeholder can still PRINT as
    // `dynamicpruning(true)`, so assert the join strategy positively)
    val df = VectorOps.screenIncrementOverLayout(spark, sf, layout,
      broadcastProbeBytes = 0L)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"),
      s"guarded path must shuffle-hash-join the probe frame:\n${p.take(2000)}")
  }

  test("increment screen: probed cells prune the layout scan at runtime") {
    val df = VectorOps.screenIncrementOverLayout(spark, sf, s"$art/emb_probe_layout")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"incoming probe lists must prune the layout scan:\n${p.take(3000)}")
  }

  test("fingerprint skip: unchanged inputs reuse the staged artifacts; " +
      "changed inputs or params rebuild") {
    // private input copy — the fixture dirs are read-only and shared
    val in = tempDir("dedup_fp_in")
    for (t <- Seq("documents.parquet", "embeddings.parquet"))
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/$t"),
        java.nio.file.Paths.get(s"$in/$t"))
    val out = tempDir("dedup_fp_art")
    assert(TextDedup.writeDedupArtifacts(spark, in, out), "first build runs")
    val firstPairs = rows(TextDedup.stagedPairs(spark, out).orderBy("doc_a", "doc_b"))
    // unchanged input → skip, and the staged results are byte-for-byte live
    assert(!TextDedup.writeDedupArtifacts(spark, in, out), "unchanged input skips")
    assert(rows(TextDedup.stagedPairs(spark, out).orderBy("doc_a", "doc_b"))
      == firstPairs)
    // different staging params are a different artifact → rebuild
    assert(TextDedup.writeDedupArtifacts(spark, in, out, minJaccard = 0.4),
      "param change rebuilds")
    // input byte change (here: mtime bump, the cheapest honest signal a
    // rewritten-in-place table gives) → rebuild
    assert(TextDedup.writeDedupArtifacts(spark, in, out, minJaccard = 0.4) == false)
    val doc = new java.io.File(in, "documents.parquet")
    assert(doc.setLastModified(doc.lastModified() + 1000))
    assert(TextDedup.writeDedupArtifacts(spark, in, out, minJaccard = 0.4),
      "input change rebuilds")
  }

  test("fingerprint skip: a half-finished build (no marker) always rebuilds") {
    val out = copyOfArt("dedup_fp_crash")
    assert(!TextDedup.writeDedupArtifacts(spark, sf, out))
    // simulate a crash before the last stage's commit
    tamperManifest(out)(m => m.copy(stages = m.stages - "emb_clusters"))
    assert(TextDedup.writeDedupArtifacts(spark, sf, out),
      "missing marker must force a rebuild, never trust stale artifacts")
    assert(!TextDedup.writeDedupArtifacts(spark, sf, out))
  }

  test("per-stage resume: a crash after early stages restarts at the first " +
      "incomplete stage, never re-shingling the corpus") {
    val out = copyOfArt("dedup_resume")
    assert(!TextDedup.writeDedupArtifacts(spark, sf, out))
    // simulate a crash after pairs+clusters landed but before the emb
    // stages: the later stages unlisted, early artifacts listed and
    // intact (exactly what a disk-full kill in the emb_probe_layout
    // stage leaves behind)
    tamperManifest(out)(m => m.copy(stages = m.stages --
      Seq("emb_probe_layout", "emb_pairs", "emb_clusters")))
    val pairsSuccess = new java.io.File(out, "pairs/_SUCCESS")
    val clustersSuccess = new java.io.File(out, "clusters/_SUCCESS")
    val (tPairs, tClusters) =
      (pairsSuccess.lastModified(), clustersSuccess.lastModified())
    val embBefore =
      rows(spark.read.parquet(s"$art/emb_pairs").orderBy("vec_a", "vec_b"))
    assert(TextDedup.writeDedupArtifacts(spark, sf, out), "resume completes")
    assert(pairsSuccess.lastModified() == tPairs,
      "completed pairs stage must not rerun on resume")
    assert(clustersSuccess.lastModified() == tClusters,
      "completed clusters stage must not rerun on resume")
    assert(rows(spark.read.parquet(s"$out/emb_pairs").orderBy("vec_a", "vec_b"))
      == embBefore, "resumed emb stages produce the canonical graph")
    // the resumed build is a normal skippable artifact afterwards
    assert(!TextDedup.writeDedupArtifacts(spark, sf, out))
  }

  test("torn commit: a garbage _MANIFEST.tmp beside the manifest (a crash " +
      "before the rename) leaves the committed set current and serving") {
    import java.nio.file.{Files, Paths}
    val out = copyOfArt("dedup_torn")
    Files.write(Paths.get(out, "_MANIFEST.tmp"),
      "version=6\nmin_jaccard=0.\u0000".getBytes("UTF-8"))
    assert(TextDedup.artifactsCurrent(sf, out),
      "an uncommitted temp file must not disturb the committed manifest")
    val routed = TextDedup.dupClustersAuto(spark, sf, out)
    assert(routed.inputFiles.exists(_.contains(s"$out/clusters/")),
      s"current artifact must serve staged clusters: ${routed.inputFiles.take(3).mkString(",")}")
    assert(DedupMaintenance.update(spark, sf, out) == "skip")
  }

  test("artifact summary: one row per cluster; canonical and hub are members") {
    val clusters = TextDedup.dupClustersStaged(spark, art).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
    val byCluster = clusters.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val summary = TextDedup.dedupArtifactSummary(spark, sf, art).collect()
    assert(summary.length == byCluster.size)
    for (r <- summary) {
      val c = r.getAs[Long]("cluster_id")
      assert(byCluster(c).contains(r.getAs[Long]("canonical_doc")),
        s"canonical of $c not a member")
      assert(byCluster(c).contains(r.getAs[Long]("hub_doc")),
        s"hub of $c not a member")
    }
  }

  test("screenAgainstLayout: a re-ingested vector (vec_id already in the " +
      "layout) never matches itself") {
    // feed a LAYOUT vector back in under its own id: without the
    // self-exclusion it matches itself at cosine 1.0 (round-11
    // advisory); with it, the verdict attributes to a DIFFERENT vector
    // or reports novel
    val probe = Tables.embeddings(spark, sf).filter("vec_id in (3, 40)")
      .select("vec_id", "embedding")
    val got = VectorOps.screenAgainstLayout(
        spark, probe, s"$art/emb_probe_layout").collect()
    assert(got.length == 2)
    for (r <- got)
      assert(r.isNullAt(r.fieldIndex("matched_vec")) ||
        r.getAs[Long]("matched_vec") != r.getAs[Long]("vec_id"),
        s"self-match leaked: $r")
  }

  test("screenDocsAgainstArtifacts: common shingles (stored df > maxDf) are " +
      "counted by the exact correction, not dropped") {
    // boilerplate regime: 10 staged docs share a 22-word preamble, so
    // with maxDf=3 its internal shingles are all COMMON (df=10 > 3).
    // An edited copy of doc 1 overlaps doc 1 mostly THROUGH those
    // common shingles; the rare-only count alone sits far below the
    // 0.5 threshold, so the verdict near_dup/novel — and the exact
    // jaccard value — hinge on the correction join counting them
    // (round-11 advisory: a using-join put the key first and the
    // positional rename swapped ids with hashes → c_common was 0).
    val boiler = (0 until 22).map(i => s"b$i").mkString(" ")
    def uniq(tag: String) = (0 until 12).map(j => s"${tag}_$j").mkString(" ")
    val texts = (1 to 10).map(i => i.toLong -> s"$boiler ${uniq(s"u$i")}")
    val in = tempDir("screen_common_in")
    val out = tempDir("screen_common_art")
    import spark.implicits._
    texts.map { case (id, t) => (id, t, "en", "synthetic", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$in/documents.parquet")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/embeddings.parquet"),
      java.nio.file.Paths.get(s"$in/embeddings.parquet"))
    assert(TextDedup.writeDedupArtifacts(spark, in, out, maxDf = 3))
    // incoming = doc 1 with its last two words replaced
    val w = texts.head._2.split(" ")
    val editedText = (w.dropRight(2) :+ "zz1" :+ "zz2").mkString(" ")
    val incoming = Seq((999L, editedText, "en", "synthetic", editedText.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextDedup.screenDocsAgainstArtifacts(spark, incoming, out, maxDf = 3)
      .collect()
    assert(got.length == 1)
    val r = got.head
    // ground truth from plain-Scala shingling (same word-3-gram rule)
    def sh(t: String): Set[String] = {
      val ws = t.split(" "); (0 to ws.length - 3)
        .map(i => s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}").toSet
    }
    val (a, b) = (sh(editedText), sh(texts.head._2))
    val trueJ = (a & b).size.toDouble / (a | b).size
    assert(trueJ >= 0.5, s"fixture broke: true jaccard $trueJ")
    // rare-only overlap must NOT clear the threshold on its own —
    // otherwise this test would pass with the correction broken
    val commonCount = sh(boiler).size
    val rareOnly = ((a & b).size - commonCount).toDouble / (a | b).size
    assert(rareOnly < 0.5, s"fixture broke: rare-only jaccard $rareOnly")
    assert(r.getAs[String]("verdict") == "near_dup", r.toString)
    assert(r.getAs[Long]("matched_doc") == 1L, r.toString)
    assert(r.getAs[Double]("jaccard") == math.floor(trueJ * 1e4 + 0.5) / 1e4,
      r.toString)
  }

  test("round-14: corpus builds v1+v2 route through the staged doc_verdicts " +
      "surface — zero corpus scans — and match the self-contained forms") {
    def stagedInputs(df: DataFrame, table: String): Boolean =
      df.inputFiles.exists(_.contains(s"/$table/"))
    val v1 = TrainingMix.buildCorpusAuto(spark, sf, art)
    assert(stagedInputs(v1, "doc_verdicts") && stagedInputs(v1, "clusters"),
      s"v1 must read verdicts+clusters: ${v1.inputFiles.take(3).mkString(",")}")
    assert(!v1.inputFiles.exists(_.contains("documents.parquet")),
      "routed v1 corpus build must not scan the corpus")
    assert(rows(v1) == rows(TrainingMix.buildCorpus(spark, sf)))
    val v2 = TrainingMix.buildCorpusV2Auto(spark, sf, art)
    assert(stagedInputs(v2, "doc_verdicts") && stagedInputs(v2, "spans"),
      s"v2 must read verdicts+spans: ${v2.inputFiles.take(3).mkString(",")}")
    assert(!v2.inputFiles.exists(_.contains("documents.parquet")),
      "routed v2 corpus build must not scan the corpus")
    assert(rows(v2) == rows(TrainingMix.buildCorpusV2(spark, sf)))
    // quality threshold stays a read-time parameter: the surface stores
    // the RATIO, so a non-default threshold routes and still matches
    val v1t = TrainingMix.buildCorpusAuto(spark, sf, art,
      minStopwordRatio = 0.05)
    assert(stagedInputs(v1t, "doc_verdicts"))
    assert(rows(v1t) ==
      rows(TrainingMix.buildCorpus(spark, sf, minStopwordRatio = 0.05)))
  }

  test("round-14: an artifact built under NON-DEFAULT staging params still " +
      "serves the param-free families (spans, screening, corpus v2), " +
      "never the param-coupled ones") {
    def stagedInputs(df: DataFrame, table: String): Boolean =
      df.inputFiles.exists(_.contains(s"/$table/"))
    val art2 = tempDir("paramfree_art")
    assert(TextDedup.writeDedupArtifacts(spark, sf, art2,
      minJaccard = 0.6, maxDf = 50))
    val spans = TextDedup.substringSpansAuto(spark, sf, art2)
    assert(stagedInputs(spans, "spans"),
      s"span tables are param-free: ${spans.inputFiles.take(3).mkString(",")}")
    assert(rows(spans) == rows(TextDedup.substringSpans(spark, sf)))
    val stats = TextDedup.spanDocStatsAuto(spark, sf, art2)
    assert(stagedInputs(stats, "spans"))
    assert(rows(stats) == rows(TextDedup.spanDocStats(spark, sf)))
    val screen = TextDedup.screenIncrementAuto(spark, sf, art2)
    assert(stagedInputs(screen, "band_index"))
    assert(rows(screen) == rows(TextDedup.screenIncrement(spark, sf)))
    val v2 = TrainingMix.buildCorpusV2Auto(spark, sf, art2)
    assert(stagedInputs(v2, "doc_verdicts"))
    assert(rows(v2) == rows(TrainingMix.buildCorpusV2(spark, sf)))
    // param-COUPLED consumers (pair graph, clusters) must not serve a
    // set staged under different minJaccard/maxDf
    assert(!stagedInputs(TextDedup.dupClustersAuto(spark, sf, art2), "clusters"))
    assert(!stagedInputs(TextDedup.nearDupPairsAuto(spark, sf, art2), "pairs"))
  }

  test("round-14: emb_near_dup_pairs_ivf serves the staged pair table when " +
      "current; emb_screen_increment runs entirely off the staged layout") {
    def stagedInputs(df: DataFrame, table: String): Boolean =
      df.inputFiles.exists(_.contains(s"/$table/"))
    val ivf = VectorOps.nearDupPairsIvfAuto(spark, sf, art)
    assert(stagedInputs(ivf, "emb_pairs"),
      s"ivf endpoint must serve staged pairs: ${ivf.inputFiles.take(3).mkString(",")}")
    assert(rows(ivf) ==
      rows(VectorOps.nearDupPairsOverLayout(spark, s"$art/emb_probe_layout")))
    val scr = VectorOps.screenIncrementLayoutAuto(spark, sf, art)
    assert(stagedInputs(scr, "emb_probe_layout"))
    assert(!scr.inputFiles.exists(_.contains("embeddings.parquet")),
      "routed emb screen must not scan the corpus")
    assert(rows(scr) == rows(
      VectorOps.screenIncrementOverLayout(spark, sf, s"$art/emb_probe_layout")))
    // no artifact → the explicit restage-and-join fallback, same result
    val none = tempDir("no_ivf_art")
    val fb = VectorOps.nearDupPairsIvfAuto(spark, sf, none)
    assert(rows(fb) == rows(ivf))
    val fbScr = VectorOps.screenIncrementLayoutAuto(spark, sf, none)
    assert(rows(fbScr) == rows(scr))
  }

  test("round-14: minhash LSH pairs route through the staged band/shingle " +
      "index — zero corpus scans — at any threshold; a custom bucket cap " +
      "computes self-contained") {
    def stagedInputs(df: DataFrame, table: String): Boolean =
      df.inputFiles.exists(_.contains(s"/$table/"))
    val routed = TextDedup.minhashLshPairsAuto(spark, sf, art)
    assert(stagedInputs(routed, "band_index") &&
      stagedInputs(routed, "shingle_index"),
      s"lsh must route: ${routed.inputFiles.take(3).mkString(",")}")
    assert(!routed.inputFiles.exists(_.contains("documents.parquet")),
      "routed lsh pairs must not scan the corpus")
    assert(rows(routed) == rows(TextDedup.minhashLshPairs(spark, sf)))
    // verification threshold is read-time — a non-default one routes
    val hi = TextDedup.minhashLshPairsAuto(spark, sf, art, minJaccard = 0.7)
    assert(stagedInputs(hi, "band_index"))
    assert(rows(hi) == rows(TextDedup.minhashLshPairs(spark, sf, 0.7)))
    // a bucket cap is a read-time anchor dial over the staged band
    // table (round-15: the DEFAULT serve carries the adversarial-corpus
    // guard too) — it still routes and equals the capped self-contained
    val cappedAuto = TextDedup.minhashLshPairsAuto(spark, sf, art, maxBucket = 4)
    assert(stagedInputs(cappedAuto, "band_index"))
    assert(rows(cappedAuto) ==
      rows(TextDedup.minhashLshPairs(spark, sf, maxBucket = 4)))
    // no artifact → self-contained fallback, same result
    val none = tempDir("no_lsh_art")
    val fb = TextDedup.minhashLshPairsAuto(spark, sf, none)
    assert(!stagedInputs(fb, "band_index"))
    assert(rows(fb) == rows(routed))
  }

  test("round-14: staged routes keep their presentation-sort contracts " +
      "(collect order, not just value sets)") {
    val pairs = TextDedup.nearDupPairsAuto(spark, sf, art)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == pairs.sorted, "pairs must present (doc_a, doc_b)-sorted")
    val clusters = TextDedup.dupClustersAuto(spark, sf, art)
      .select("cluster_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(clusters == clusters.sorted,
      "clusters must present (cluster_id, doc_id)-sorted")
    val spans = TextDedup.substringSpansAuto(spark, sf, art)
      .select("doc_a", "doc_b", "offset_delta").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Number]("offset_delta").longValue)).toSeq
    assert(spans == spans.sorted,
      "spans must present (doc_a, doc_b, offset_delta)-sorted")
    val corpus = TrainingMix.buildCorpusAuto(spark, sf, art)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(corpus == corpus.sorted, "corpus build must present doc_id-sorted")
    val ivf = VectorOps.nearDupPairsIvfAuto(spark, sf, art)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ivf == ivf.sorted, "ivf pairs must present (vec_a, vec_b)-sorted")
  }

  test("explicit embNLists differing from the staged _GEOMETRY rebuilds " +
      "instead of skipping") {
    val d = copyOfArt("geom_art")
    val staged = VectorOps.readLayoutGeometry(s"$d/emb_probe_layout").get._1
    // same geometry (explicit or derived) → skip; different → rebuild
    assert(!TextDedup.writeDedupArtifacts(spark, sf, d, embNLists = staged.toInt))
    assert(!TextDedup.writeDedupArtifacts(spark, sf, d))
    assert(TextDedup.writeDedupArtifacts(spark, sf, d, embNLists = staged.toInt + 3))
    assert(VectorOps.readLayoutGeometry(s"$d/emb_probe_layout").get._1 ==
      staged + 3)
  }
}
