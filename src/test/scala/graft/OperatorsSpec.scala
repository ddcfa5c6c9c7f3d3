package graft

import org.apache.spark.sql.functions._
import graft.operators.{TextDedup, VectorOps}

/** Scale-path operators vs their exact counterparts, plus smoke over
  * the whole registry. */
class OperatorsSpec extends SparkSpec {

  test("MinHash+LSH recall >= 0.8 vs exact Jaccard pairs, no false positives") {
    val exact = TextDedup.nearDupPairsExact(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = TextDedup.minhashLshPairs(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH emitted a pair the exact path doesn't have")
    if (exact.nonEmpty)
      assert(lsh.size.toDouble / exact.size >= 0.8,
        s"LSH recall ${lsh.size}/${exact.size}")
  }

  test("LSH hot-bucket cap: cluster membership preserved on a boilerplate " +
      "flood while the quadratic bucket join is cut") {
    import spark.implicits._
    // pathological corpus: 40 byte-identical boilerplate docs put ~40
    // rows in ONE (band, band_hash) bucket per band — the adversarial
    // shape that makes the uncapped self-join quadratic at 100 TB
    val dir = tempDir("lsh_cap")
    val boiler = Seq.fill(3)(
      "the same boilerplate sentence repeated across the flood of pages")
      .mkString(" ")
    val uniqueA = "a genuinely unique document about owls and rivers flowing east"
    val uniqueB = "another distinct text mentioning quasars pulsing in deep space"
    val docs = (0L until 40L).map(i => (i, "en", "web", boiler)) ++
      Seq((100L, "en", "web", uniqueA), (101L, "en", "web", uniqueB),
        (102L, "en", "web", uniqueA)) // exact twin of 100
    docs.map { case (id, l, s, t) => (id, l, s, t, t.length.toLong) }
      .toDF("doc_id", "lang", "source", "text", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val uncapped = TextDedup.minhashLshPairs(spark, dir)
    val capped = TextDedup.minhashLshPairs(spark, dir, maxBucket = 4)
    def parts(pairs: org.apache.spark.sql.DataFrame): Set[Set[Long]] =
      graft.operators.ConnectedComponents
        .clusters(spark, pairs.select("doc_a", "doc_b"))
        .toDF("doc_id", "cluster_id", "cluster_size")
        .collect().groupBy(_.getLong(1))
        .values.map(_.map(_.getLong(0)).toSet).toSet
    // the cap drops anchor-to-anchor edges beyond the per-bucket star...
    assert(capped.count() < uncapped.count(),
      "cap must actually drop candidate pairs on the flood")
    // ...but every bucket member still reaches the bucket minimum, so
    // downstream CLUSTER MEMBERSHIP is identical
    assert(parts(capped) == parts(uncapped))
    assert(parts(capped).contains((0L until 40L).toSet),
      "the flood must cluster together under the cap")
    assert(parts(capped).contains(Set(100L, 102L)),
      "the genuine twin pair must survive the cap")
  }

  test("round-15: the hot-bucket cap reaches the STAGED band self-join " +
      "(the default serve) — capped staged == capped self-contained on " +
      "the boilerplate flood, still routed") {
    import spark.implicits._
    val dir = tempDir("lsh_cap_staged")
    val boiler = Seq.fill(3)(
      "the same boilerplate sentence repeated across the flood of pages")
      .mkString(" ")
    // NEAR-dup flood (unique tail token per doc): unlike the exact
    // flood, these docs are NOT exact duplicates, so the screening
    // form's band join sees them too (exact dups are digest-pruned
    // before candidate generation)
    val docs = (0L until 40L).map(i =>
      (i, "en", "web", s"$boiler uniq$i")) ++
      Seq((100L, "en", "web",
        "a genuinely unique document about owls and rivers flowing east"))
    docs.map { case (id, l, s, t) => (id, l, s, t, t.length.toLong) }
      .toDF("doc_id", "lang", "source", "text", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    (0L until 4L).map { i =>
      val r = new scala.util.Random(i)
      val v = Array.fill(16)(r.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (i, v.map(_ / n), 0)
    }.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val art = tempDir("lsh_cap_art")
    assert(TextDedup.writeDedupArtifacts(spark, dir, art))
    def stagedInputs(df: org.apache.spark.sql.DataFrame, t: String): Boolean =
      df.inputFiles.exists(_.contains(s"/$t/"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // LSH pairs: a non-default cap still ROUTES (it is a read-time
    // anchor dial over the staged band table) and is value-identical
    // to the capped self-contained form
    val cappedStaged = TextDedup.minhashLshPairsAuto(spark, dir, art, maxBucket = 4)
    assert(stagedInputs(cappedStaged, "band_index") &&
      !cappedStaged.inputFiles.exists(_.contains("documents.parquet")),
      "capped LSH must still serve from the staged index")
    assert(rows(cappedStaged) ==
      rows(TextDedup.minhashLshPairs(spark, dir, maxBucket = 4)))
    // the cap really cuts candidates on the staged route too
    assert(cappedStaged.count() <
      TextDedup.minhashLshPairsAuto(spark, dir, art).count())
    // screening: capped staged == capped self-contained, and every
    // incoming doc keeps its UNCAPPED verdict category (the cap prunes
    // which existing docs are probed, never whether a flooded incoming
    // doc is recognized as a near-dup)
    val scrStaged = TextDedup.screenIncrementAuto(spark, dir, art, maxBucket = 4)
    assert(stagedInputs(scrStaged, "band_index") &&
      !scrStaged.inputFiles.exists(_.contains("documents.parquet")),
      "capped screening must still serve from the staged index")
    assert(rows(scrStaged) ==
      rows(TextDedup.screenIncrement(spark, dir, maxBucket = 4)))
    def verdicts(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      df.select("doc_id", "verdict").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(verdicts(scrStaged) ==
      verdicts(TextDedup.screenIncrementAuto(spark, dir, art)),
      "the cap must not change any incoming doc's verdict on the flood")
  }

  test("df-capped near-dup pairs are bit-identical to the exact path at test SF") {
    // max shingle df < maxDf here, so candidate generation loses nothing
    // and verification reports the same exact jaccards
    val capped = TextDedup.nearDupPairs(spark, sf).collect().map(_.toString).toSeq
    val exact = TextDedup.nearDupPairsExact(spark, sf).collect().map(_.toString).toSeq
    assert(capped == exact)
  }

  test("df-cap correction branch: capped boilerplate shingle, exact jaccards preserved") {
    import spark.implicits._
    // "B"/"D"/"E" are boilerplate (df > maxDf=2 → capped out of candidate
    // generation); r*/x*/m*/e*/C are rare. Exercises all three capped-path
    // stages: counting join over rare shingles, optimistic upper bound,
    // exact correction over capped-out shingles.
    val sh = Seq(
      1L -> "B", 1L -> "r1", 1L -> "r2", 1L -> "r3",
      2L -> "B", 2L -> "r1", 2L -> "r2", 2L -> "r3",
      3L -> "B", 3L -> "r4", 3L -> "r5", 3L -> "x1",
      4L -> "B", 4L -> "r4", 4L -> "r5", 4L -> "x2",
      7L -> "B", 7L -> "E", 7L -> "D",
      8L -> "B", 8L -> "E", 8L -> "D",
      13L -> "B", 13L -> "D", 13L -> "C", 13L -> "m4",
      14L -> "B", 14L -> "E", 14L -> "m4", 14L -> "e1"
    ).toDF("doc_id", "shingle")
    val capped = TextDedup.nearDupFrom(sh, 0.5, maxDf = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val exact = TextDedup.nearDupExactFrom(sh, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // every pair sharing >=1 rare shingle comes out with its EXACT
    // jaccard: (1,2) needs the correction to lift 3/5 back to 4/4, and
    // (13,14) passes the optimistic bound (3/5) but the correction
    // drops it (true jaccard 2/6) — the correction join is load-bearing
    // in both directions
    assert(capped == Seq((1L, 2L, 1.0), (3L, 4L, 0.6)))
    // the exact truth additionally holds the all-capped pair (7,8):
    // the documented df-cap boundary (boilerplate cluster wider than
    // maxDf shares no rare shingle)
    assert(exact == Seq((1L, 2L, 1.0), (3L, 4L, 0.6), (7L, 8L, 1.0)))
  }

  test("per-row minhash bands: short docs yield empty bands instead of crashing") {
    import spark.implicits._
    val df = Seq((1L, "only two"), (2L, "a"), (3L, ""), (4L, "one two three four"))
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        TextDedup.minhashBandsPerRow(col("text")).as("bands"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    assert(out(1L).isEmpty && out(2L).isEmpty && out(3L).isEmpty)
    assert(out(4L).size == 4)
  }

  test("staged-shingle near-dup equals the self-contained query, no text scans") {
    val staged = tempDir("graftshingle") + "/sh"
    TextDedup.stageShingles(spark, sf, staged)
    val viaStage = TextDedup.nearDupPairsStaged(spark, staged)
    assert(viaStage.collect().map(_.toString).toSeq ==
      TextDedup.nearDupPairs(spark, sf).collect().map(_.toString).toSeq)
    // the staged plan must read ONLY the staged table — zero scans of
    // the documents corpus (the point of paying the staging write once)
    val p = viaStage.queryExecution.executedPlan.toString
    assert(!p.contains("documents.parquet"), p.take(1500))
  }

  test("IVF near-dup pairs: subset of exact truth, recall >= 0.8, exact cosines") {
    val exact = VectorOps.nearDupPairsExact(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = VectorOps.nearDupPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(ivf.keySet.subsetOf(exact.keySet),
      "IVF candidates emitted a pair the exact path doesn't have")
    ivf.foreach { case (k, c) => assert(c == exact(k), s"cosine mismatch at $k") }
    if (exact.nonEmpty)
      assert(ivf.size.toDouble / exact.size >= 0.8,
        s"IVF near-dup recall ${ivf.size}/${exact.size}")
  }

  test("bpe merge candidates: pair counts weighted by word frequency") {
    val texts = Tables.documents(spark, sf).select("text")
      .collect().map(_.getString(0))
    val freq = scala.collection.mutable.Map[String, Long]()
    texts.flatMap(_.split(" ")).filter(_.length >= 2)
      .foreach(w => freq(w) = freq.getOrElse(w, 0L) + 1)
    val pf = scala.collection.mutable.Map[String, Long]()
    freq.foreach { case (w, f) =>
      (0 until w.length - 1).foreach { i =>
        val p = w.substring(i, i + 2)
        pf(p) = pf.getOrElse(p, 0L) + f
      }
    }
    val want = pf.toSeq.sortBy { case (p, f) => (-f, p) }.take(20)
    val got = operators.TextAnalysis.bpeMergeCandidates(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want)
  }

  test("bpe encode: token counts match an independent list-based BPE") {
    // reference tokenizer on token LISTS (not the operator's string
    // trick): apply each char-pair merge left-to-right non-overlapping
    def encodeWord(w: String, merges: Seq[String]): Int = {
      var toks = w.map(_.toString).toVector
      for (m <- merges) {
        val (a, b) = (m.substring(0, 1), m.substring(1, 2))
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < toks.length) {
          if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
            out += m; i += 2
          } else { out += toks(i); i += 1 }
        }
        toks = out.result()
      }
      toks.length
    }
    val merges = operators.TextAnalysis.bpeMergeCandidates(spark, sf)
      .collect().map(_.getString(0)).toSeq
    val got = operators.TextAnalysis.bpeEncode(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(texts.nonEmpty && got.size == texts.length)
    texts.foreach { case (id, text) =>
      val words = text.split(" ").filter(_.nonEmpty).toSeq
      val want =
        (words.length, words.map(_.length).sum,
          words.map(encodeWord(_, merges)).sum)
      assert(got(id) == want, s"doc $id: ${got(id)} vs $want")
    }
  }

  test("connected components: worst-case chain converges, maxRounds throws") {
    import spark.implicits._
    // a 10-node path is the diameter-9 worst case for min-label
    // propagation — plus a detached clique and a singleton pair
    val chain = (1L to 9L).map(i => (i, i + 1))
    val extra = Seq((20L, 21L), (20L, 22L), (21L, 22L), (30L, 31L))
    val pairs = (chain ++ extra).toDF("a", "b")
    val got = operators.ConnectedComponents.clusters(spark, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = ((1L to 10L).map(i => (i, 1L, 10L)) ++
      Seq(20L, 21L, 22L).map(i => (i, 20L, 3L)) ++
      Seq(30L, 31L).map(i => (i, 30L, 2L))).toSet
    assert(got.toSet == want)
    // a cap below the chain diameter must THROW, not return a partial
    // clustering that would split a true duplicate cluster
    val e = intercept[IllegalStateException] {
      operators.ConnectedComponents.clusters(spark, pairs, maxRounds = 4).collect()
    }
    assert(e.getMessage.contains("converge"))
  }

  test("dup clusters equal an independent union-find over the pair graph") {
    val pairs = TextDedup.nearDupPairs(spark, sf).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // independent truth: driver-side union-find (not the propagation
    // algorithm under test, not the oracle's recursive closure)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(d => d -> find(d)).toMap
    val wantSizes = want.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val got = TextDedup.dupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).toSet == want.keySet)
    got.foreach { case (doc, cl, sz) =>
      assert(cl == want(doc), s"doc $doc: cluster $cl vs ${want(doc)}")
      assert(sz == wantSizes(want(doc)), s"doc $doc: size $sz")
    }
  }

  test("embedding dup clusters equal an independent union-find over the vector pair graph") {
    val pairs = VectorOps.nearDupPairs(spark, sf).select("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(v => v -> find(v)).toMap
    val wantSizes = want.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val got = VectorOps.dupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).toSet == want.keySet)
    got.foreach { case (vec, cl, sz) =>
      assert(cl == want(vec), s"vec $vec: cluster $cl vs ${want(vec)}")
      assert(sz == wantSizes(want(vec)), s"vec $vec: size $sz")
    }
  }

  test("stratified sample: md5-threshold keep rule verified row by row") {
    val docs = Tables.documents(spark, sf).select("doc_id", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def key(id: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 4)
    }
    val want = docs.filter { case (id, lang) =>
      key(id) < (if (lang == "en") "8000" else "3333")
    }.map(_._1).toSet
    val got = operators.TrainingMix.stratifiedSample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(3), r.getDouble(4)))
    assert(got.map(_._1).toSet == want)
    got.foreach { case (id, lang, k, w) =>
      assert(k == key(id))
      assert(w == (if (lang == "en") 2.0 else 5.0))
    }
  }

  test("sequence packing matches a sequential per-shard recomputation") {
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2).toLong))
    val want = toks.groupBy(t => (t._2, t._1 % 4)).toSeq.flatMap { case (_, ds) =>
      var cum = 0L
      ds.sortBy(_._1).toSeq.map { case (id, _, n) =>
        val before = cum; cum += n; id -> ((before, before / 256))
      }
    }.toMap
    val got = operators.TrainingMix.packSequences(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getLong(5)))
    assert(got.length == toks.length)
    got.foreach { case (id, before, pack) =>
      assert((before, pack) == want(id), s"doc $id")
    }
  }

  test("top terms per doc match a full driver-side recomputation") {
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val nDocs = texts.length
    val df = texts.flatMap { case (_, t) => t.split(" ").distinct }
      .groupBy(identity).view.mapValues(_.length).toMap
    val want = texts.map { case (id, t) =>
      val tf = t.split(" ").groupBy(identity).view.mapValues(_.length)
      val top = tf.toSeq.map { case (term, f) =>
        (term, f.toLong, f * (nDocs + 1.0) / (df(term) + 1.0))
      }.sortBy { case (term, _, w) => (-w, term) }.take(3)
      id -> top.zipWithIndex.map { case ((term, f, w), i) =>
        (term, f, df(term).toLong, math.floor(w * 1e6 + 0.5) / 1e6, i + 1)
      }
    }.toMap
    val got = operators.TextAnalysis.topTermsPerDoc(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getInt(5))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (id, rows) => assert(rows == want(id), s"doc $id") }
  }

  test("training-corpus build: every stage invariant holds vs component outputs") {
    val corpus = operators.TrainingMix.buildCorpus(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getInt(3), r.getLong(4), r.getLong(5)))
    val keptIds = corpus.map(_._1).toSet
    assert(keptIds.nonEmpty)
    // 1. quality: no kept doc is in the 'low' band
    val lowBand = operators.TextAnalysis.qualityScore(spark, sf)
      .filter(col("quality_band") === "low")
      .collect().map(_.getLong(0)).toSet
    assert((keptIds & lowBand).isEmpty)
    // 2. exact dedup: kept docs have pairwise-distinct content digests
    val digests = Tables.documents(spark, sf)
      .filter(col("doc_id").isin(keptIds.toSeq: _*))
      .select(md5(col("text"))).collect().map(_.getString(0))
    assert(digests.length == digests.distinct.length)
    // 3. near-dup dedup: at most the canonical member of each cluster
    val clusters = operators.TextDedup.dupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    clusters.foreach { case (doc, cl) =>
      if (doc != cl) assert(!keptIds(doc), s"non-canonical dup $doc kept")
    }
    // 4. split agrees with the registered split assignment
    val splits = operators.TextAnalysis.splitAssign(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    corpus.foreach { case (id, _, split, _, _, _) => assert(split == splits(id)) }
    // 5. packing: sequential per (split, lang, shard) recomputation
    val grouped = corpus.groupBy(c => (c._3, c._2, c._4))
    grouped.foreach { case (_, ds) =>
      var cum = 0L
      ds.sortBy(_._1).foreach { case (id, _, _, _, n, pack) =>
        assert(pack == cum / 256, s"doc $id pack")
        cum += n
      }
    }
  }

  test("contamination check matches a driver-side fingerprint intersection") {
    val fps = operators.TextAnalysis.rollingFingerprints(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val splits = operators.TextAnalysis.splitAssign(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    // df-cap fingerprints exactly like the operator
    val df = fps.toSeq.flatMap { case (d, s) => s.map(_ -> d) }
      .groupBy(_._1).view.mapValues(_.size).toMap
    val rare = fps.view.mapValues(_.filter(df(_) <= 100)).toMap
    val trainDocs = splits.collect { case (d, "train") => d }.toSet
    val want = (for {
      (e, eFps) <- rare.toSeq if splits(e) != "train"
      t <- trainDocs
      shared = (eFps & rare(t)).size if shared >= 2
    } yield (e, splits(e), t, shared.toLong)).toSet
    val got = operators.TextAnalysis.contaminationCheck(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want)
  }

  test("centroid update matches a driver-side k-means step") {
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val anchors = vecs.filter(_._1 < 8).sortBy(_._1)
    def simTo(v: Array[Float], a: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * a(i).toDouble; i += 1 }
      math.floor(s * 1e6 + 0.5) / 1e6
    }
    val assigned = vecs.map { case (_, v) =>
      val best = anchors.map { case (lid, a) => (lid, simTo(v, a)) }
        .maxBy { case (lid, s) => (s, -lid) }._1
      (best, v)
    }
    val want = assigned.groupBy(_._1).flatMap { case (lid, members) =>
      val n = members.length
      (0 until members.head._2.length).map { d =>
        val s = members.map(m => math.floor(m._2(d).toDouble * 1e6 + 0.5).toLong).sum
        val c = math.floor(s / (n * 1e6) * 1e6 + 0.5) / 1e6
        (lid, d) -> ((n.toLong, c))
      }
    }
    val got = operators.VectorOps.centroidUpdate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) => assert(v == want(k), s"list/dim $k") }
  }

  test("kmeans: three unrolled rounds match a driver-side train loop bit-for-bit") {
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def dotD(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    var anchors: Map[Long, Array[Float]] =
      vecs.filter(_._1 < 8).map { case (id, v) => id -> v }.toMap
    var want: Map[(Long, Int), (Long, Double)] = Map.empty
    for (_ <- 0 until 3) {
      val assigned = vecs.map { case (_, v) =>
        val best = anchors.toSeq.map { case (lid, a) =>
          (lid, math.floor((dotD(a, a) - 2.0 * dotD(v, a)) * 1e6 + 0.5) / 1e6)
        }.minBy { case (lid, d) => (d, lid) }._1
        (best, v)
      }
      want = assigned.groupBy(_._1).flatMap { case (lid, members) =>
        val n = members.length
        (0 until members.head._2.length).map { d =>
          val s = members.map(m => math.floor(m._2(d).toDouble * 1e6 + 0.5).toLong).sum
          (lid, d) -> ((n.toLong, math.floor(s / (n * 1e6) * 1e6 + 0.5) / 1e6))
        }
      }
      anchors = want.groupBy(_._1._1).map { case (lid, dims) =>
        lid -> dims.toSeq.sortBy(_._1._2).map(_._2._2.toFloat).toArray
      }
    }
    val got = operators.VectorOps.kmeans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) => assert(v == want(k), s"list/dim $k") }
  }

  test("weighted sample stats aggregate the sample exactly") {
    val tokens = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2).toLong))).toMap
    val sample = operators.TrainingMix.stratifiedSample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(4).toLong))
    val want = sample.groupBy(_._2).view.mapValues { rows =>
      (rows.length.toLong, rows.map(_._3).sum,
        rows.map(r => r._3 * tokens(r._1)._2).sum)
    }.toMap
    val got = operators.TrainingMix.sampleWeightedStats(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == want)
  }

  test("as-of join matches a per-row scan of the click timeline") {
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("tus"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // one click per (user, instant): max event_id, like the operator
    val clicks = ev.filter(_._4 == "click")
      .groupBy(e => (e._2, e._3)).view.mapValues(_.map(_._1).max)
      .toSeq.map { case ((u, t), id) => (u, t, id) }
    val want = ev.filter(_._4 == "purchase").map { case (id, u, t, _) =>
      val prior = clicks.filter(c => c._1 == u && c._2 <= t)
      id -> (if (prior.isEmpty) None
             else Some(prior.maxBy(c => (c._2, c._3))._3))
    }.toMap
    val got = operators.AsOfJoin.eventsAsOfJoin(spark, sf).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(4)) None else Some(r.getLong(4))))
      .toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (id, click) => assert(click == want(id), s"purchase $id") }
  }

  test("as-of join edges: equal-instant match is inclusive, no-prior rows null") {
    import spark.implicits._
    val left = Seq((1L, 10L, "p1"), (1L, 20L, "p2"), (2L, 5L, "p3"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, "s10"), (1L, 15L, "s15"), (3L, 1L, "zz"))
      .toDF("k", "t", "state")
    val out = operators.AsOfJoin.asOfJoin(left, right, Seq("k"), "t", Seq("state"))
      .orderBy("k", "t").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(3))))
    assert(out.toSeq == Seq(
      (1L, 10L, Some("s10")), // same instant: right row visible
      (1L, 20L, Some("s15")),
      (2L, 5L, None)))        // key with no right history
  }

  test("binary chunks reassemble byte-exactly and cover every payload byte") {
    val payloads = Tables.documents(spark, sf)
      .select(col("doc_id"), encode(col("text"), "utf-8").as("p"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val chunks = operators.Multimodal.binaryChunks(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getString(4)))
      .groupBy(_._1)
    assert(chunks.keySet == payloads.keySet)
    chunks.foreach { case (doc, cs) =>
      val sorted = cs.sortBy(_._2)
      // indices dense from 0, offsets contiguous, count = ceil(n/64)
      assert(sorted.map(_._2).toSeq == sorted.indices.toSeq)
      assert(sorted.length == math.max((payloads(doc).length + 63) / 64, 1))
      sorted.foreach { case (_, idx, off, len, digest) =>
        assert(off == idx * 64L)
        val piece = payloads(doc).slice(off.toInt, off.toInt + len)
        assert(piece.length == len)
        val md = java.security.MessageDigest.getInstance("MD5")
        assert(digest == md.digest(piece).map("%02x".format(_)).mkString)
      }
      assert(sorted.map(_._4).sum == payloads(doc).length)
    }
  }

  test("frame sampling matches a driver-side byte walk") {
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val want = texts.flatMap { case (id, t) =>
      val bytes = t.getBytes("UTF-8")
      val kMax = math.max((bytes.length - 8) / 24, 0)
      (0 to kMax).filter(_ % 2 == 0).map { k =>
        val o = k * 24
        val end = math.min(o + 32, bytes.length)
        (id, k, o, end - o, bytes.slice(o, end).map(b => (b & 0xff).toLong).sum)
      }
    }.toSet
    val got = operators.Multimodal.frameSample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4)))
      .toSet
    assert(got == want)
  }

  test("native simhash64 is bit-identical to the interpreted HOF chain") {
    val docs = Tables.documents(spark, sf)
    val both = docs.select(
        col("doc_id"),
        call_function("simhash64", expr("array_distinct(split(text, ' '))")).as("native"),
        expr(
          """aggregate(
            |  transform(array_distinct(split(text, ' ')),
            |    t -> shiftleft(cast(conv(substring(md5(t), 17, 8), 16, 10) as bigint), 32)
            |         | cast(conv(substring(md5(t), 25, 8), 16, 10) as bigint)),
            |  array_repeat(cast(0 as bigint), 64),
            |  (acc, h) -> zip_with(acc,
            |      transform(sequence(0, 63), b -> if(((h >> b) & 1) = 1, 1L, -1L)),
            |      (x, y) -> x + y),
            |  acc -> aggregate(sequence(0, 63), cast(0 as bigint),
            |      (s, b) -> if(acc[b] > 0, s | (1L << b), s)))""".stripMargin).as("hof"))
      .collect()
    both.foreach(r => assert(r.getLong(1) == r.getLong(2), s"doc ${r.getLong(0)}"))
  }

  test("simhash: near-dup pairs have small hamming distance") {
    val pairs = TextDedup.nearDupPairs(spark, sf).select("doc_a", "doc_b")
    val sh = TextDedup.simhash(spark, sf)
    val joined = pairs
      .join(sh.toDF("doc_a", "sim_a"), "doc_a")
      .join(sh.toDF("doc_b", "sim_b"), "doc_b")
      .select(expr("bit_count(sim_a ^ sim_b)").as("hamming"))
      .collect().map(_.getInt(0))
    // jaccard>=0.5 dups should collide on most bits
    joined.foreach(h => assert(h <= 16, s"hamming $h too large for a near-dup"))
  }

  test("multi-probe LSH ANN: top-1 recall >= 0.8 on uniform corpus (worst case)") {
    val lsh = VectorOps.knnLsh(spark, sf, nQueries = 20, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bfTop1 = VectorOps.knnBruteForce(spark, sf, nQueries = 20, k = 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // theory: b=3,L=6 multi-probe(1) at cosine≈0.4 → hit prob ≈ 0.99
    val hit = bfTop1.count(lsh.contains)
    assert(hit >= (bfTop1.size * 0.8).toInt,
      s"LSH top-1 recall too low: $hit/${bfTop1.size}")
  }

  test("rolling fingerprints: near-dup docs share chunks, distinct docs share few") {
    val fps = operators.TextAnalysis.rollingFingerprints(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val pairs = TextDedup.nearDupPairs(spark, sf).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      val overlap = (fps(a) & fps(b)).size.toDouble / math.min(fps(a).size, fps(b).size)
      assert(overlap >= 0.5, s"near-dup pair ($a,$b) shares only $overlap of chunks")
    }
  }

  test("IVF search: nprobe=all equals brute force; nprobe=3 has useful recall") {
    val bf = VectorOps.knnBruteForce(spark, sf, nQueries = 20, k = 5)
      .select("query_id", "neighbor_id", "cosine").collect().map(_.toString).toSeq
    val full = VectorOps.knnIvf(spark, sf, nQueries = 20, k = 5, nLists = 8, nprobe = 8)
      .select("query_id", "neighbor_id", "cosine").collect().map(_.toString).toSeq
    assert(full == bf, "probing every list must degenerate to brute force")
    val bfTop1 = VectorOps.knnBruteForce(spark, sf, nQueries = 20, k = 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf3 = VectorOps.knnIvf(spark, sf, nQueries = 20, k = 5, nLists = 8, nprobe = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hit = bfTop1.count(ivf3.contains)
    // measured 15/20 at nprobe=3 on this corpus; floor at 50%
    assert(hit >= bfTop1.size / 2, s"IVF nprobe=3 top-1 recall: $hit/${bfTop1.size}")
  }

  test("IVF assignment partitions the corpus completely") {
    val total = VectorOps.ivfAssign(spark, sf)
      .agg(sum("n_vectors")).first().getLong(0)
    val n = Tables.embeddings(spark, sf).count()
    assert(total == n)
  }

  test("sketch rollup: merge-invariant and within 5% of exact distincts") {
    // merging day-level sketches must equal sketching the range directly
    // (associative merge — the property that makes incremental rollup
    // tables correct), and the estimate must track the exact count
    val viaMerge = pipes.CdcPipes.activeUsersSketchRollupHll(spark, sf)
      .collect().map(r => (r.get(0).toString, r.getLong(1))).toMap
    val direct = Tables.events(spark, sf)
      .groupBy(date_trunc("week", col("ts")).cast("timestamp_ntz").as("week"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est"))
      .collect().map(r => (r.get(0).toString, r.getLong(1))).toMap
    assert(viaMerge.keySet == direct.keySet)
    viaMerge.foreach { case (k, v) => assert(v == direct(k), s"week $k: $v vs ${direct(k)}") }
    val exact = Tables.events(spark, sf)
      .groupBy(date_trunc("week", col("ts")).cast("timestamp_ntz").as("week"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => (r.get(0).toString, r.getLong(1))).toMap
    viaMerge.foreach { case (k, v) =>
      val e = exact(k)
      assert(math.abs(v - e) <= math.max(1L, (e * 0.05).toLong), s"$k: est $v vs exact $e")
    }
  }

  test("approx distinct stays within 5% of exact per bucket") {
    val exact = pipes.CdcPipes.activeUsersPerHour(spark, sf)
      .collect().map(r => (r.get(0).toString, r.getLong(1))).toMap
    val approx = pipes.CdcPipes.activeUsersPerHourHll(spark, sf)
      .collect().map(r => (r.get(0).toString, r.getLong(1))).toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (k, a) =>
      val e = exact(k)
      assert(math.abs(a - e) <= math.max(1L, (e * 0.05).toLong), s"$k: $a vs $e")
    }
  }

  test("repetition filters match a driver-side recompute of every metric") {
    def fr(x: Double) = math.floor(x * 10000 + 0.5) / 10000.0
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = operators.TextAnalysis.repetitionFilters(spark, sf).collect()
    assert(out.length == docs.size)
    assert(out.exists(!_.getBoolean(5)) && out.exists(_.getBoolean(5)),
      "both verdicts should occur at test SF")
    out.foreach { r =>
      val t = docs(r.getLong(0)).split(" ", -1).toSeq
      val grams = if (t.size >= 3) t.sliding(3).map(_.mkString(" ")).toSeq else Nil
      val dup = if (t.size >= 3) fr((grams.size - grams.distinct.size).toDouble / grams.size) else 0.0
      val top = fr(t.groupBy(identity).values.map(_.size).max.toDouble / t.size)
      assert(r.getLong(1) == t.size, r)
      assert(r.getDouble(2) == fr(t.distinct.size.toDouble / t.size), r)
      assert(r.getDouble(3) == dup, r)
      assert(r.getDouble(4) == top, r)
      assert(r.getBoolean(5) == (top <= 0.15 && dup <= 0.02), r)
    }
  }

  test("substring spans match a driver-side positional-winnowing recompute") {
    val K = 8; val W = 16; val MinRun = 3; val MaxDf = 100
    def spansOf(s: String): Set[(Int, Long)] = {
      val n = s.length
      val nh = math.max(n - K + 1, 1)
      val rh = Array.tabulate(nh) { i =>
        (0 until K).foldLeft(0L)((acc, j) =>
          (acc * 31 + (if (i + j < n) s.charAt(i + j).toLong else 0L)) % 1073741824L)
      }
      val nw = math.max(nh - W + 1, 1)
      (0 until nw).map { i =>
        val win = (i until math.min(i + W, nh))
        val mp = win.minBy(rh)
        (mp, rh(mp))
      }.toSet
    }
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // native expression agrees per doc, and projects to the same
    // fingerprint SET as the non-positional native
    val gotSpans = Tables.documents(spark, sf)
      .select(col("doc_id"),
        call_function("winnow_spans", col("text"), lit(K), lit(W)).as("s"),
        call_function("winnow_fingerprints", col("text"), lit(K), lit(W)).as("f"))
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getInt(0), x.getLong(1))).toSet,
        r.getSeq[Long](2).toSet))
    gotSpans.foreach { case (id, sp, fp) =>
      val want = spansOf(docs.toMap.apply(id))
      assert(sp == want, s"doc $id spans")
      assert(sp.map(_._2) == fp, s"doc $id: positional fps != plain fps")
    }
    // end-to-end pipeline recompute: df-cap → fp join → offset groups
    val all = docs.flatMap { case (id, t) => spansOf(t).map(p => (id, p._1, p._2)) }
    val df = all.groupBy(_._3).view.mapValues(_.length).toMap
    val capped = all.filter(r => df(r._3) <= MaxDf)
    val byFp = capped.groupBy(_._3)
    val groups = scala.collection.mutable.Map[(Long, Long, Int), (Long, Int, Int)]()
    byFp.values.foreach { rows =>
      for (x <- rows; y <- rows if x._1 < y._1) {
        val key = (x._1, y._1, x._2 - y._2)
        val (c, lo, hi) = groups.getOrElse(key, (0L, Int.MaxValue, Int.MinValue))
        groups(key) = (c + 1, math.min(lo, x._2), math.max(hi, x._2))
      }
    }
    val want = groups.filter(_._2._1 >= MinRun).map { case ((a, b, d), (c, lo, hi)) =>
      (a, b, d, c, lo, lo - d, hi - lo + K)
    }.toSet
    val got = operators.TextDedup.substringSpans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getInt(4), r.getInt(5), r.getInt(6))).toSet
    assert(got.nonEmpty && got == want)
  }

  test("corpus v2: every stage invariant holds vs the component endpoints") {
    val keepSet = operators.TextAnalysis.repetitionFilters(spark, sf)
      .filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    val longDup = operators.TextDedup.spanDocStats(spark, sf)
      .filter(col("has_long_dup")).select("doc_id").collect().map(_.getLong(0)).toSet
    val digests = Tables.documents(spark, sf)
      .select(col("doc_id"), md5(col("text")).as("d")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = operators.TrainingMix.buildCorpusV2(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3),
        r.getLong(4), r.getLong(5)))
    val kept = out.map(_._1).toSet
    assert(kept.nonEmpty && kept.size < keepSet.size,
      "v2 must keep a strict subset (span/exact dedup must drop something)")
    // stage invariants
    assert(kept.subsetOf(keepSet), "a kept doc failed the repetition verdict")
    assert(kept.intersect(longDup).isEmpty, "a kept doc has a long duplicated span")
    val survivors = (keepSet -- longDup)
    kept.foreach { id =>
      val sameDigest = survivors.filter(o => digests(o) == digests(id))
      assert(sameDigest.min == id, s"doc $id kept but is not its digest-canonical")
    }
    (survivors -- kept).foreach { id =>
      val sameDigest = survivors.filter(o => digests(o) == digests(id))
      assert(sameDigest.min != id, s"doc $id dropped but IS its digest-canonical")
    }
    // packing recompute on the kept rows
    out.groupBy(r => (r._3, r._2, r._4)).foreach { case (_, rows) =>
      var before = 0L
      rows.sortBy(_._1).foreach { r =>
        assert(r._6 == math.floor(before / 256.0).toLong, s"doc ${r._1} pack_id")
        before += r._5
      }
    }
  }

  test("span doc stats aggregate the span table exactly") {
    val spans = TextDedup.substringSpans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(6)))
    val u = spans.map(s => (s._1, s._2, s._3)) ++ spans.map(s => (s._2, s._1, s._3))
    val want = u.groupBy(_._1).map { case (id, rows) =>
      id -> ((rows.length.toLong, rows.map(_._2).distinct.length.toLong,
        rows.map(_._3).max, rows.map(_._3).max >= 40))
    }
    val got = TextDedup.spanDocStats(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getInt(3), r.getBoolean(4)))).toMap
    assert(got.nonEmpty && got == want)
    assert(got.values.exists(_._4) && got.values.exists(!_._4),
      "both verdicts should occur at test SF")
  }

  test("native session_window agrees with the lag-based sessionization") {
    // same 30-minute gap rule, two independent mechanisms: the
    // registered operator's lag+running-sum windows vs Spark's native
    // session_window aggregation (the streaming-capable form)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.get(1).toString, r.get(2).toString, r.getLong(3), r.getDouble(4))
    val native = Tables.events(spark, sf)
      .groupBy(col("user_id"),
        session_window(col("ts").cast("timestamp"), "30 minutes"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        graft.functions.ChFunctions.exactSum(col("value"), 2).as("session_value"))
      .select("user_id", "session_start", "session_end", "n_events", "session_value")
      .collect().map(key).sortBy(t => (t._1, t._2)).toSeq
    val lagBased = pipes.CdcPipes.eventsSessionization(spark, sf)
      .select("user_id", "session_start", "session_end", "n_events", "session_value")
      .collect().map(key).sortBy(t => (t._1, t._2)).toSeq
    assert(native.nonEmpty && native == lagBased)
  }

  test("integrity audit: known violations fire, clean constraints report zero") {
    val got = operators.Audit.integrityAudit(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.size == 8)
    // these two are genuinely dirty in the corpus
    assert(got("customer.acctbal_non_negative")._2 > 0)
    assert(got("lineitem.pk_unique")._2 > 0)
    // the rest must certify clean
    (got.keySet - "customer.acctbal_non_negative" - "lineitem.pk_unique")
      .foreach(k => assert(got(k)._2 == 0, s"$k reported violations"))
    // n_checked is the table cardinality
    assert(got("customer.pk_unique")._1 == Tables.customer(spark, sf).count())
    assert(got("lineitem.pk_unique")._1 == Tables.lineitem(spark, sf).count())
    // independent recompute of the two firing checks
    val negBal = Tables.customer(spark, sf).filter(col("c_acctbal") < 0).count()
    assert(got("customer.acctbal_non_negative")._2 == negBal)
    val li = Tables.lineitem(spark, sf)
    val dups = li.count() - li.select("l_orderkey", "l_linenumber").distinct().count()
    assert(got("lineitem.pk_unique")._2 == dups)
  }

  test("histogram quantiles equal the discrete quantile of binned values; merge-invariant") {
    // the histogram p-quantile bin must EQUAL the bin of the
    // ceil(p·n)-th order statistic (the type-1 discrete quantile the
    // cumulative-histogram rule computes) — recomputed by a driver
    // sort, not by the interpolating percentile() (which can sit
    // several bins away where the tail is sparse)
    val values = Tables.events(spark, sf).select("event_type", "value").collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) 0.0 else r.getDouble(1))).groupBy(_._1)
    val exact = values.map { case (ty, vs) =>
      val bins = vs.map { case (_, v) => (math.floor(v * 100 + 0.5) / 100).toLong }.sorted
      def q(p: Double) = bins(math.ceil(p * bins.length).toInt - 1)
      ty -> ((q(0.5), q(0.95)))
    }
    val got = pipes.CdcPipes.eventsValueHistogram(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    got.foreach { case (ty, p50b, p95b) =>
      assert((p50b, p95b) == exact(ty), s"$ty: ($p50b, $p95b) vs ${exact(ty)}")
    }
    // mergeability: bin counts from two disjoint halves sum to the
    // full histogram — the property that makes this the 100 TB path
    val full = Tables.events(spark, sf)
      .select(col("event_type"),
        expr("floor(coalesce(value, 0.0) * 100 + 0.5) div 100").as("bin"))
      .groupBy("event_type", "bin").agg(count(lit(1)).as("n"))
    val halves = Seq(0, 1).map { h =>
      Tables.events(spark, sf).filter(col("event_id") % 2 === h)
        .select(col("event_type"),
          expr("floor(coalesce(value, 0.0) * 100 + 0.5) div 100").as("bin"))
        .groupBy("event_type", "bin").agg(count(lit(1)).as("n"))
    }
    val merged = halves.reduce(_ unionByName _)
      .groupBy("event_type", "bin").agg(sum("n").as("n"))
    val a = full.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val b = merged.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(a == b)
  }

  test("funnel levels match a greedy-earliest driver walk per user") {
    val evs = Tables.events(spark, sf).select("user_id", "event_type", "ts")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getAs[java.time.LocalDateTime](2))).groupBy(_._1)
    val want = evs.flatMap { case (u, rows) =>
      val t1 = rows.filter(_._2 == "signup").map(_._3).sortBy(_.toString).headOption
      t1.map { start =>
        val lim = start.plusDays(7)
        def next(after: java.time.LocalDateTime, typ: String) =
          rows.filter(r => r._2 == typ && r._3.isAfter(after) && !r._3.isAfter(lim))
            .map(_._3).sortBy(_.toString).headOption
        val t2 = next(start, "click")
        val t3 = t2.flatMap(next(_, "purchase"))
        u -> ((Some(start), t2, t3, 1 + t2.size + t3.size))
      }
    }
    val got = pipes.CdcPipes.eventsFunnel(spark, sf).collect()
      .map { r =>
        def ot(i: Int) = if (r.isNullAt(i)) None
          else Some(r.getAs[java.time.LocalDateTime](i))
        r.getLong(0) -> ((ot(1), ot(2), ot(3), r.getInt(4)))
      }.toMap
    assert(got.keySet == want.keySet)
    assert(got.values.map(_._4).toSet.size > 1, "several funnel depths should occur")
    got.foreach { case (k, v) => assert(v == want(k), s"user $k") }
  }

  test("rolling range-frame window matches a per-event driver scan") {
    val evs = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"),
        floor(coalesce(col("value"), lit(0.0)) * 100 + 0.5).cast("long").as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byUser = evs.groupBy(_._2)
    val want = evs.map { case (id, u, us, _) =>
      val peers = byUser(u).filter(e => e._3 >= us - 3600L * 1000000L && e._3 <= us)
      id -> ((peers.map(_._4).sum / 100.0, peers.length.toLong))
    }.toMap
    val got = pipes.CdcPipes.eventsRollingValue(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(3), r.getLong(4)))).toMap
    assert(got.size == want.size)
    got.foreach { case (k, v) => assert(v == want(k), s"event $k") }
  }

  test("hourly anomalies match a driver-side trailing-window recompute") {
    val evs = Tables.events(spark, sf).select("event_type", "ts", "value").collect()
      .map(r => (r.getString(0),
        r.getAs[java.time.LocalDateTime](1).withMinute(0).withSecond(0).withNano(0),
        if (r.isNullAt(2)) 0.0 else r.getDouble(2)))
    val hourly = evs.groupBy(e => (e._1, e._2)).map { case ((ty, h), rows) =>
      (ty, h, rows.length.toLong, rows.map(e => math.floor(e._3 * 100 + 0.5).toLong).sum)
    }.toSeq
    val want = hourly.groupBy(_._1).flatMap { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      sorted.indices.flatMap { i =>
        val frame = sorted.slice(math.max(0, i - 24), i)
        val m = frame.length.toLong
        if (m < 8) None else {
          val (ty, h, n, cents) = sorted(i)
          val s = frame.map(_._4).sum
          val q = frame.map(r => r._4 * r._4).sum
          val dev = cents * m - s
          val varm = m * q - s * s
          val z = if (varm > 0)
            Some(math.floor(dev.toDouble / math.sqrt(varm.toDouble) * 1e4 + 0.5) / 1e4)
          else None
          Some((ty, h) -> ((n, cents / 100.0, m, z, dev * dev > 9 * varm)))
        }
      }
    }
    val out = pipes.CdcPipes.eventsHourlyAnomalies(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[java.time.LocalDateTime](1)) ->
        ((r.getLong(2), r.getDouble(3), r.getLong(4),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)), r.getBoolean(6))))
      .toMap
    assert(out.keySet == want.keySet)
    assert(out.values.exists(_._5) && out.values.exists(!_._5),
      "both verdicts should occur at test SF")
    out.foreach { case (k, v) => assert(v == want(k), s"series $k") }
  }

  test("LM score matches a driver-side bigram model, bit-for-bit") {
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
    val uni = texts.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val big = texts.flatMap(_._2.sliding(2).filter(_.size == 2).map(p => (p(0), p(1))))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val v = uni.size.toLong
    val want = texts.filter(_._2.size >= 2).map { case (doc, t) =>
      val units = t.sliding(2).filter(_.size == 2).map { p =>
        math.floor((big((p(0), p(1))) + 1.0) / (uni(p(0)) + v) * 1e9).toLong
      }.toSeq
      doc -> ((units.size.toLong,
        math.floor(units.sum / (units.size * 1e9) * 1e6 + 0.5) / 1e6))
    }.toMap
    val got = operators.TextAnalysis.lmScore(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, s) => assert(s == want(k), s"doc $k") }
  }

  test("boilerplate coverage agrees with a groupBy-df recompute") {
    val docs = Tables.documents(spark, sf)
    val sh = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 2), i -> concat_ws(' ', t[i-1], t[i], t[i+1]))"))
        .as("shingle"))
      .distinct()
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val want = sh.join(dfreq, "shingle").groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") > 5, 1L).otherwise(0L)).as("n_boilerplate"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val out = operators.TextAnalysis.boilerplateCoverage(spark, sf).collect()
    assert(out.length == want.size)
    assert(out.exists(_.getBoolean(4)), "some doc should be flagged at test SF")
    out.foreach { r =>
      assert((r.getLong(1), r.getLong(2)) == want(r.getLong(0)), r)
      assert(r.getBoolean(4) == (r.getLong(2) > 0), r)
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("rfm segments: scores in 1..5, labels consistent with the score rule") {
    val rows = pipes.CdcPipes.userRfmSegments(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (rs, fs, ms) = (r.getAs[Int]("r_score"), r.getAs[Int]("f_score"), r.getAs[Int]("m_score"))
      assert(rs >= 1 && rs <= 5 && fs >= 1 && fs <= 5 && ms >= 1 && ms <= 5)
      assert(r.getAs[Int]("recency_days") >= 0)
      val expect =
        if (rs >= 4 && fs >= 4 && ms >= 4) "champion"
        else if (rs >= 3 && fs >= 3) "loyal"
        else if (rs <= 2 && fs >= 3) "at_risk"
        else if (rs <= 2 && fs <= 2) "hibernating"
        else "regular"
      assert(r.getAs[String]("segment") == expect, s"user ${r.get(0)}: $rs/$fs/$ms")
    }
  }

  test("attribution: touch order sane, touches precede the first purchase") {
    val rows = pipes.CdcPipes.userAttribution(spark, sf).collect()
    assert(rows.nonEmpty)
    val types = Set("click", "view")
    for (r <- rows) {
      val ft = r.getAs[java.time.LocalDateTime]("first_touch_ts")
      val lt = r.getAs[java.time.LocalDateTime]("last_touch_ts")
      val pt = r.getAs[java.time.LocalDateTime]("purchase_ts")
      assert(!ft.isAfter(lt), "first touch after last touch")
      assert(!lt.isAfter(pt), "touch after the purchase")
      assert(types(r.getAs[String]("first_touch_type")))
      assert(types(r.getAs[String]("last_touch_type")))
      assert(r.getAs[Long]("n_touches") >= 1L)
    }
  }

  test("journey paths: <=5 known components, counts descending, users conserved") {
    val rows = pipes.CdcPipes.userEventPaths(spark, sf).collect()
    assert(rows.nonEmpty)
    val alphabet = Set("click", "view", "purchase", "signup", "error")
    for (r <- rows) {
      val parts = r.getAs[String]("path").split(">")
      assert(parts.length <= 5 && parts.forall(alphabet), r.getAs[String]("path"))
    }
    val counts = rows.map(_.getAs[Long]("n_users"))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b }, "top-N not descending")
    val nUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(counts.sum <= nUsers, "paths claim more users than exist")
  }

  test("q11 shape: kept parts are exactly those above fraction of the global total") {
    // fraction=0 keeps every part -> recompute the threshold independently
    val all = pipes.TpchPipes.q11ImportantStock(spark, sf, fraction = 0.0).collect()
    val totalUnits = all.map(r => math.round(r.getAs[Double]("stock_value") * 10000)).sum
    val expectKept = all.count(r =>
      math.round(r.getAs[Double]("stock_value") * 10000) > totalUnits * 0.0001)
    val kept = pipes.TpchPipes.q11ImportantStock(spark, sf).collect()
    assert(kept.length == expectKept, s"${kept.length} vs $expectKept of ${all.length}")
    val vals = kept.map(_.getAs[Double]("stock_value"))
    if (vals.length > 1)
      assert(vals.zip(vals.tail).forall { case (a, b) => a >= b }, "not value-descending")
    // the fraction=0 frame must itself be non-trivial at every SF
    assert(all.nonEmpty, "NATION_7 has no shipped lineitems at this SF")
  }

  test("every registered query runs at sf0.001") {
    val mayBeEmpty = Set("events_quarantine", "customers_without_orders",
      "docs_near_dup_pairs", "docs_minhash_lsh_pairs", "emb_knn_lsh")
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n >= 0)
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("oracle map keys are a subset of query keys") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("screening dedup: verdicts partition the increment; matches verified") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = operators.TextDedup.screenIncrement(spark, sf).collect()
    // one row per incoming doc, every incoming doc present
    val incoming = docs.keySet.filter(_ % 10 == 0)
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == incoming)
    for (r <- rows) {
      val (id, verdict) = (r.getAs[Long]("doc_id"), r.getAs[String]("verdict"))
      verdict match {
        case "exact_dup" =>
          val m = r.getAs[Long]("matched_doc")
          assert(m % 10 != 0 && docs(m) == docs(id), s"$id exact match wrong")
          assert(r.isNullAt(r.fieldIndex("jaccard")))
        case "near_dup" =>
          val m = r.getAs[Long]("matched_doc")
          assert(m % 10 != 0 && r.getAs[Double]("jaccard") >= 0.5)
        case "novel" =>
          assert(r.isNullAt(r.fieldIndex("matched_doc")))
          // no existing doc shares this text exactly
          assert(!docs.exists { case (k, t) => k % 10 != 0 && t == docs(id) },
            s"$id marked novel but has an exact twin")
        case other => fail(s"unknown verdict $other")
      }
    }
    assert(rows.exists(_.getAs[String]("verdict") != "novel"),
      "synthetic corpus should screen some duplicates")
  }

  test("budget select: admitted tokens respect the greedy budget rule") {
    import org.apache.spark.sql.functions._
    val budget = 10000L
    val rows = operators.TrainingMix.budgetSelect(spark, sf, budget).collect()
    assert(rows.nonEmpty)
    val byTier = rows.groupBy(_.getAs[String]("tier"))
    val bulkBuckets = byTier.getOrElse("bulk", Array()).map(_.getAs[Int]("bucket")).toSet
    val bndBuckets = byTier.getOrElse("boundary", Array()).map(_.getAs[Int]("bucket")).toSet
    assert(bndBuckets.size <= 1, "only one bucket may straddle the budget")
    // every bulk bucket outranks the boundary bucket
    for (b <- bndBuckets; bb <- bulkBuckets) assert(bb > b)
    // total admitted minus the one straddler is under budget; with the
    // straddler's full token count it can exceed it only by that doc
    val total = rows.map(_.getAs[Long]("n_tokens")).sum
    val maxDoc = rows.map(_.getAs[Long]("n_tokens")).max
    assert(total - maxDoc < budget, s"selected $total tokens for budget $budget")
  }

  test("hard negatives: never the query's own label, cosine <= unrestricted kNN") {
    import org.apache.spark.sql.functions._
    val hn = operators.VectorOps.hardNegatives(spark, sf).collect()
    assert(hn.nonEmpty)
    for (r <- hn)
      assert(r.getAs[Int]("neighbor_label") != r.getAs[Int]("query_label"))
    // restricting candidates can only lower the best cosine per rank
    val free = operators.VectorOps.knnBruteForce(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) -> r.getAs[Double]("cosine"))
      .toMap
    for (r <- hn) {
      val key = (r.getAs[Long]("query_id"), r.getAs[Int]("rank"))
      free.get(key).foreach(f =>
        assert(r.getAs[Double]("cosine") <= f + 1e-9, s"$key hard-negative beats free kNN"))
    }
  }

  test("source outliers: bottom-m per source, ranks dense, cosine ascending") {
    import org.apache.spark.sql.functions._
    val rows = operators.VectorOps.sourceOutliers(spark, sf).collect()
    assert(rows.nonEmpty)
    val bySource = rows.groupBy(_.getAs[String]("source"))
    // sf fixtures embed every doc, 25 docs/source — each source fills m
    val perSource = Tables.documents(spark, sf).groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((src, rs) <- bySource) {
      val sorted = rs.sortBy(_.getAs[Int]("outlier_rank"))
      assert(sorted.map(_.getAs[Int]("outlier_rank")).toSeq ==
        (1 to math.min(5, perSource(src).toInt)))
      val cosines = sorted.map(_.getAs[Double]("cosine")).toSeq
      assert(cosines == cosines.sorted, s"$src cosines not ascending")
      // an outlier is less typical than the source's docs at large:
      // its cosine can't exceed 1 and the rank-1 doc is the minimum
      assert(cosines.forall(c => c >= -1.000001 && c <= 1.000001))
    }
  }

  test("endpoint JSON payload has the reference shape") {
    val payload = sources.Endpoints.renderJson(
      pipes.TpchPipes.q1PricingSummary(spark, sf), limit = 3).body
    assert(payload.startsWith("""{"meta":[{"name":"l_returnflag","type":"string"}"""))
    assert(payload.contains(""""data":[{"""))
    assert(payload.contains(""""rows":3"""))
  }

  test("tfidf pairs: integer-unit cosine, df cap, threshold") {
    import spark.implicits._
    // 1/2 identical → cosine 1.0; 3 shares only the common term with
    // them; 4/5 share a rare bigram-ish vocabulary → high but <1;
    // 6 is disjoint. "the" appears in 5 docs → capped out at maxDf=4,
    // so 3 shares NOTHING scored and must not pair with anyone.
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "the quick brown fox"),
      (3L, "the unrelated totally different words here"),
      (4L, "the alpha beta gamma delta"),
      (5L, "the alpha beta gamma epsilon"),
      (6L, "zeta eta theta iota")
    ).toDF("doc_id", "text")
    val got = operators.TextAnalysis.tfidfPairsFrom(docs, minCos = 0.5, maxDf = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.map(t => (t._1, t._2)) == Seq((1L, 2L), (4L, 5L)))
    // identical docs: dot == norm2, cosine rounds to exactly 1.0
    assert(got.head._3 == 1.0)
    // 4/5: 3 shared df=2 terms (idf units 233) + 1 unique df=1 term
    // (350) each → dot 3·233² = 162867, norms 285367 → 0.5707. The
    // rare unique term correctly drags the pair BELOW the 3/4 naive
    // token overlap — idf weighting is load-bearing, not cosmetic.
    assert(got(1)._3 == 0.5707)
    // threshold is load-bearing: raising it past the pair drops it
    val strict = operators.TextAnalysis.tfidfPairsFrom(docs, minCos = 0.9, maxDf = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(strict == Seq((1L, 2L)))
  }

  /** Driver-side re-derivation of the Q5/Q7 joins from raw collected
    * tables — an oracle independent of the DataFrame join topology, so
    * a wrong join key or a dropped residual predicate fails here, not
    * just at the DuckDB gate. Smoke-scale only (sf0.001 lineitem fits
    * in the driver easily). */
  private def tradeLines(): Seq[(Long, java.time.LocalDateTime, Int, Int, Long)] = {
    // (orderkey, shipdate, suppNation, custNation, revenueUnits)
    val nation = Tables.nation(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getInt(2)).toMap // nationkey -> regionkey
    val supp = Tables.supplier(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val cust = Tables.customer(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_orderdate").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getAs[java.time.LocalDateTime](2)))).toMap
    assert(nation.nonEmpty && supp.nonEmpty && cust.nonEmpty)
    Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
      .collect().toSeq.flatMap { r =>
        val ok = r.getLong(0)
        orders.get(ok).map { case (ck, _) =>
          val units = math.floor(r.getDouble(3) * (1 - r.getDouble(4)) * 10000 + 0.5).toLong
          (ok, r.getAs[java.time.LocalDateTime](2), supp(r.getLong(1)), cust(ck), units)
        }
      }
  }

  test("q5 shape: matches a driver-side recomputation; ASIA nations only") {
    val nationRows = Tables.nation(spark, sf).collect()
    val regionOf = Tables.region(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val nameOf = nationRows.map(r => r.getInt(0) -> r.getString(1)).toMap
    val asiaKeys = nationRows.filter(r => regionOf(r.getInt(2)) == "ASIA")
      .map(_.getInt(0)).toSet
    val orderDate = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderdate").collect()
      .map(r => r.getLong(0) -> r.getAs[java.time.LocalDateTime](1)).toMap
    val lo = java.time.LocalDateTime.parse("1996-01-01T00:00")
    val hi = java.time.LocalDateTime.parse("1997-01-01T00:00")
    val expect = tradeLines()
      .filter { case (ok, _, sn, cn, _) =>
        sn == cn && asiaKeys(cn) &&
          !orderDate(ok).isBefore(lo) && orderDate(ok).isBefore(hi)
      }
      .groupBy { case (_, _, _, cn, _) => nameOf(cn) }
      .map { case (n, ls) => n -> ls.map(_._5).sum }
    val got = pipes.TpchPipes.q5LocalSupplierVolume(spark, sf).collect()
      .map(r => r.getString(0) -> math.round(r.getDouble(1) * 10000)).toSeq
    assert(got.toMap == expect, s"got ${got.toMap} expect $expect")
    val revs = got.map(_._2)
    assert(revs.zip(revs.tail).forall { case (a, b) => a >= b }, "not DESC")
  }

  test("q7 shape: matches a driver-side recomputation; both directions, in-window years") {
    val nameOf = Tables.nation(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val lo = java.time.LocalDateTime.parse("1996-01-01T00:00")
    val hi = java.time.LocalDateTime.parse("1998-01-01T00:00")
    val pair = Set("NATION_12", "NATION_10")
    val expect = tradeLines()
      .filter { case (_, sd, sn, cn, _) =>
        pair(nameOf(sn)) && pair(nameOf(cn)) && nameOf(sn) != nameOf(cn) &&
          !sd.isBefore(lo) && sd.isBefore(hi)
      }
      .groupBy { case (_, sd, sn, cn, _) => (nameOf(sn), nameOf(cn), sd.getYear) }
      .map { case (k, ls) => k -> ls.map(_._5).sum }
    val got = pipes.TpchPipes.q7VolumeShipping(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)) ->
        math.round(r.getDouble(3) * 10000)).toMap
    assert(got == expect, s"got $got expect $expect")
    assert(got.keys.map(_._1).toSet.subsetOf(pair))
    assert(got.keys.forall { case (a, b, y) => a != b && y >= 1996 && y <= 1997 })
  }

  test("source divergence: nonneg, token conservation, matches a driver recompute") {
    val rows = operators.TextAnalysis.sourceDivergence(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Double]("chi2") >= 0.0))
    // independent recompute from raw text (same unit discipline)
    val byST = Tables.documents(spark, sf).select("source", "text").collect()
      .flatMap(r => r.getString(1).split(" ", -1).map(t => (r.getString(0), t)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val ct = byST.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val ns = byST.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val n = ct.values.sum
    for (r <- rows) {
      val s = r.getString(0)
      assert(r.getAs[Long]("n_tokens") == ns(s))
      assert(r.getAs[Long]("n_terms") == byST.keys.count(_._1 == s))
      val present = byST.collect { case ((`s`, t), c) =>
        val d = (c * n - ct(t) * ns(s)).toDouble
        math.floor(d * d / ((ns(s).toDouble * ns(s)) * (n.toDouble * ct(t))) * 1e9 + 0.5).toLong
      }.sum
      val cs = byST.collect { case ((`s`, t), _) => ct(t) }.sum
      val absent = math.floor((n - cs).toDouble * 1e9 / n + 0.5).toLong
      assert(r.getAs[Double]("chi2") == (present + absent) / 1e9, s)
    }
    // a source identical to the corpus mix would score ~0; distinct
    // sources must not all collapse to the same value
    assert(rows.map(_.getAs[Double]("chi2")).distinct.length > 1)
  }

  test("window features: windows nest, last_type matches the argmax event") {
    val rows = pipes.CdcPipes.userWindowFeatures(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getAs[Long]("n_1d") <= r.getAs[Long]("n_7d"))
      assert(r.getAs[Long]("n_7d") <= r.getAs[Long]("n_28d"))
      // values are nonnegative in this corpus, so nesting holds for sums too
      assert(r.getAs[Double]("value_1d") <= r.getAs[Double]("value_7d"))
      assert(r.getAs[Double]("value_7d") <= r.getAs[Double]("value_28d"))
      if (r.getAs[Long]("n_28d") > 0) assert(r.getAs[Long]("n_types_28d") >= 1)
    }
    val lastByUser = Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .groupBy(_.getLong(0)).view.mapValues(
        _.maxBy { r =>
          val t = r.getAs[java.time.LocalDateTime](1)
          (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
            t.getNano / 1000, r.getLong(2))
        }.getString(3)).toMap
    for (r <- rows)
      assert(r.getAs[String]("last_type") == lastByUser(r.getAs[Long]("user_id")))
  }
}
