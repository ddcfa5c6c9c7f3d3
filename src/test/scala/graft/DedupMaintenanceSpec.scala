package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.operators.{DedupMaintenance, TextDedup, VectorOps}

/** Incremental artifact maintenance (DedupMaintenance.update) under the
  * full CDC shape: appends, copy-on-write updates and deletes must each
  * update every staged artifact to a state whose LIVE (tombstone-
  * resolved) view is IDENTICAL to a full rebuild over the final input,
  * at change-proportional cost; any input change the increment cannot
  * prove safe must take the full-rebuild path, never bend
  * correctness. */
class DedupMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  // ---- synthetic corpus with engineered duplicates ----
  // texts: 25 unique words per doc; a near-dup copies a text and
  // replaces the last 2 words (3-gram jaccard ≈ 0.7)
  private def words(tag: String) =
    (0 until 25).map(j => s"w${tag}_$j").mkString(" ")
  private def nearText(tag: String) =
    (0 until 23).map(j => s"w${tag}_$j").mkString(" ") + " zz1 zz2"
  // embeddings: seeded unit vectors; a near-dup is a perturbed copy
  private def vec(seed: Long): Array[Float] = {
    val r = new scala.util.Random(seed)
    val v = Array.fill(64)(r.nextGaussian().toFloat)
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }
  private def near(base: Array[Float], seed: Long): Array[Float] = {
    val r = new scala.util.Random(seed)
    val v = base.map(x => x + 0.05f * r.nextGaussian().toFloat)
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }

  private def baseDocs: Seq[(Long, String)] =
    (0L until 40L).map(i => // doc 6 is a near-dup of doc 5 (base-internal pair)
      if (i == 6L) i -> nearText("5") else i -> words(i.toString))
  private def deltaDocs: Seq[(Long, String)] = Seq(
    100L -> nearText("7"),   // delta × base pair (7, 100)
    101L -> words("d101"),
    102L -> nearText("d101") // delta × delta pair (101, 102)
  ) ++ (103L to 109L).map(i => i -> words(i.toString))

  private def baseEmbFixed: Seq[(Long, Array[Float], Int)] =
    (0L until 39L).map(i => (i, vec(i), 0)) :+
      ((39L, near(vec(20), 901L), 0)) // base-internal near pair (20, 39)
  private def deltaEmb: Seq[(Long, Array[Float], Int)] = Seq(
    (100L, near(vec(7), 902L), 0),        // delta × base pair (7, 100)
    (101L, near(near(vec(7), 902L), 903L), 0) // delta × delta pair (100, 101)
  ) ++ (103L to 109L).map(i => (i, vec(i + 500), 0))

  private def partFiles(dir: String, table: String): Seq[java.io.File] =
    Option(new java.io.File(s"$dir/$table").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).sortBy(_.getName).toSeq

  /** Each write lands as EXACTLY one part file (repartition(1)); the
    * returned (docFile, embFile) handles let the copy-on-write tests
    * rewrite a KNOWN slice of the corpus (part-file names carry UUIDs,
    * so name order says nothing about write order). */
  private def writeSlice(dir: String, docs: Seq[(Long, String)],
                         emb: Seq[(Long, Array[Float], Int)])
      : (Option[java.io.File], Option[java.io.File]) = {
    val d0 = partFiles(dir, "documents.parquet").toSet
    val e0 = partFiles(dir, "embeddings.parquet").toSet
    if (docs.nonEmpty)
      docs.toDF("doc_id", "text")
        .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
        .repartition(1)
        .write.mode("append").parquet(s"$dir/documents.parquet")
    if (emb.nonEmpty)
      emb.toDF("vec_id", "embedding", "label").repartition(1)
        .write.mode("append").parquet(s"$dir/embeddings.parquet")
    (partFiles(dir, "documents.parquet").find(!d0.contains(_)),
      partFiles(dir, "embeddings.parquet").find(!e0.contains(_)))
  }
  private def appendDelta(dir: String): Unit =
    writeSlice(dir, deltaDocs, deltaEmb)

  /** Copy a directory tree, keeping every file's mtime. */
  private def copyTree(from: String, to: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val q = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }

  /** A base corpus and its full artifact build, made ONCE per suite
    * (on first use) and copied for each test that starts from it. The
    * copies keep every file's mtime: [[TextDedup.inputFiles]] compares
    * them, so a copy that lost them would turn an expected
    * "incremental" path into "full" — each test asserts its copy is
    * current ("skip") before changing it. `write` lays the corpus out
    * as slices and returns each slice's (doc, emb) part file. */
  private final class SharedBase(write: String => Seq[(Option[java.io.File],
                                                      Option[java.io.File])]) {
    lazy val (data, art, slices) = {
      val d = tempDir("dm_base_data"); val a = tempDir("dm_base_art")
      val sl = write(d)
      assert(DedupMaintenance.update(spark, d, a) == "full")
      (d, a, sl)
    }
    /** A fresh (data, art) copy, its slices' part files mapped into it. */
    def copy(): (String, String, Seq[(Option[java.io.File], Option[java.io.File])]) = {
      val d = tempDir("dm_data"); val a = tempDir("dm_art")
      copyTree(data, d); copyTree(art, a)
      def moved(f: Option[java.io.File]) = f.map(x => new java.io.File(d,
        new java.io.File(data).toPath.relativize(x.toPath).toString))
      (d, a, slices.map { case (x, y) => (moved(x), moved(y)) })
    }
  }
  /** The base corpus as one slice. */
  private lazy val oneSlice = new SharedBase(d =>
    Seq(writeSlice(d, baseDocs, baseEmbFixed)))
  /** The base corpus as two slices (ids 0-19, 20-39), so a
    * copy-on-write change can touch one file of each table. */
  private lazy val twoSlices = new SharedBase(d => Seq(
    writeSlice(d, baseDocs.take(20), baseEmbFixed.take(20)),
    writeSlice(d, baseDocs.drop(20), baseEmbFixed.drop(20))))

  /** Copy-on-write: REPLACE one existing part file's content in place
    * (same path, new bytes) — the lakehouse update/delete shape the
    * increment resolves through the staged file maps. */
  private def rewriteFile(target: java.io.File, df0: DataFrame): Unit = {
    val t = tempDir("cow")
    // doc frames get the fixture lang the appends carry (the verdict
    // surface reads it); emb frames pass through untouched
    val df =
      if (df0.columns.contains("text") && !df0.columns.contains("lang"))
        df0.withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      else df0
    df.repartition(1).write.mode("overwrite").parquet(t)
    val part = new java.io.File(t).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(target.delete())
    // the original write left a Hadoop LocalFileSystem checksum sidecar
    // (.<name>.crc) — new bytes under the old name would fail its stale
    // checksum (a local-FS artifact; object stores have no sidecars)
    val crc = new java.io.File(target.getParentFile, s".${target.getName}.crc")
    if (crc.exists) assert(crc.delete())
    java.nio.file.Files.move(part.toPath, target.toPath)
    // mtime granularity: make the change unmissable for the fingerprint
    target.setLastModified(System.currentTimeMillis() + 1000)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Every artifact surface compared between two staged dirs through
    * the LIVE (tombstone-resolved) views — the only contract v4 makes:
    * physical layout may differ (appends + tombstones vs fresh build),
    * what readers see may not. The tombstone table is the mechanism,
    * not a served surface, so it is the one entry not compared. */
  private def assertArtifactsEqual(a: String, b: String): Unit = {
    // pinned, so no surface can drop out of the comparison unnoticed
    assert(TextDedup.artifactSurfaces.map(_.name) == Seq("tombstones",
      "shingle_index", "shingle_df", "doc_stats", "doc_files", "pairs",
      "clusters", "span_index", "span_df", "spans", "doc_digests",
      "band_index", "doc_verdicts", "emb_probe_layout", "vec_files",
      "emb_pairs", "emb_clusters"))
    for (s <- TextDedup.artifactSurfaces if s != TextDedup.Tombstones)
      assert(rows(TextDedup.readSurface(spark, a, s)) ==
        rows(TextDedup.readSurface(spark, b, s)), s"${s.name} differs")
  }

  /** Full rebuild of the CURRENT data dir into a fresh artifact dir at
    * the maintained layout's pinned geometry, then surface equality. */
  private def assertEqualsFreshRebuild(data: String, art: String,
                                       maxDf: Int = 100): Unit = {
    val l = VectorOps.readLayoutGeometry(s"$art/emb_probe_layout").get._1
    val art2 = tempDir("dm_fresh")
    TextDedup.writeDedupArtifacts(spark, data, art2, maxDf = maxDf,
      embNLists = l.toInt)
    assertArtifactsEqual(art, art2)
  }

  test("incremental(base+delta) equals full-rebuild(base∪delta) on every " +
      "artifact, then skips") {
    val (data, art, _) = oneSlice.copy()
    assert(DedupMaintenance.update(spark, data, art) == "skip")
    appendDelta(data)
    assert(DedupMaintenance.update(spark, data, art) == "incremental")
    assert(TextDedup.artifactsCurrent(data, art))
    // the engineered pairs actually exist and cross the delta boundary
    val pairs = TextDedup.stagedPairs(spark, art)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((5L, 6L)), s"base pair missing: $pairs")
    assert(pairs.contains((7L, 100L)), s"delta×base pair missing: $pairs")
    assert(pairs.contains((101L, 102L)), s"delta×delta pair missing: $pairs")
    val epairs = TextDedup.stagedEmbPairs(spark, art)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(epairs.contains((20L, 39L)), s"base emb pair missing: $epairs")
    assert(epairs.contains((7L, 100L)), s"delta×base emb pair missing: $epairs")
    assert(epairs.contains((100L, 101L)), s"delta×delta emb pair missing: $epairs")
    // the merged (7,100,101) emb component must have ONE label = min id 7
    val eclust = TextDedup.stagedEmbClusters(spark, art)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(eclust(100L)._1 == eclust(7L)._1 && eclust(101L)._1 == eclust(7L)._1)
    // identity vs a fresh full rebuild at the layout's pinned geometry
    assertEqualsFreshRebuild(data, art)
    // nothing changed since → skip
    assert(DedupMaintenance.update(spark, data, art) == "skip")
  }

  test("a full build writes exactly the surface table's directories under " +
      "<out>, plus _MANIFEST") {
    assert(new java.io.File(oneSlice.art).list().toSet ==
      TextDedup.artifactSurfaces.map(_.name).toSet + "_MANIFEST")
  }

  test("copy-on-write UPDATE: rewritten rows retract and reapply — pairs " +
      "appear AND disappear, clusters merge AND split, ≡ full rebuild") {
    // two doc files / two emb files so the update touches only one
    val (data, art, Seq((docA, _), (_, embB))) = twoSlices.copy()
    assert(DedupMaintenance.update(spark, data, art) == "skip")
    // sanity: the base pairs exist before the update
    assert(TextDedup.stagedPairs(spark, art).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((5L, 6L)))
    // docA carries docs 0..19: update doc 6 (kills pair (5,6) — a
    // split) and doc 8 (nearText("9") → NEW pair (8,9) — a merge)
    val newSlice0 = baseDocs.take(20).map {
      case (6L, _) => 6L -> words("solo6")
      case (8L, _) => 8L -> nearText("9")
      case other   => other
    }
    rewriteFile(docA.get, newSlice0.toDF("doc_id", "text"))
    // embB carries vecs 20..39: update vec 39 (kills emb pair
    // (20,39)) and vec 25 (→ near vec(7): NEW emb pair (7,25))
    val newEmb1 = baseEmbFixed.drop(20).map {
      case (39L, _, l) => (39L, vec(7777), l)
      case (25L, _, l) => (25L, near(vec(7), 905L), l)
      case other       => other
    }
    rewriteFile(embB.get, newEmb1.toDF("vec_id", "embedding", "label"))
    assert(DedupMaintenance.update(spark, data, art) == "incremental")
    val pairs = TextDedup.stagedPairs(spark, art)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.contains((5L, 6L)), s"retracted pair survived: $pairs")
    assert(pairs.contains((8L, 9L)), s"new pair from update missing: $pairs")
    val epairs = TextDedup.stagedEmbPairs(spark, art)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!epairs.contains((20L, 39L)), s"retracted emb pair survived: $epairs")
    assert(epairs.contains((7L, 25L)), s"new emb pair from update missing: $epairs")
    assertEqualsFreshRebuild(data, art)
    assert(DedupMaintenance.update(spark, data, art) == "skip")
  }

  test("copy-on-write DELETE: dropped rows and a removed file retract " +
      "everywhere, ≡ full rebuild") {
    val data = tempDir("dm_d_data"); val art = tempDir("dm_d_art")
    val (docA, _) = writeSlice(data, baseDocs.take(20), baseEmbFixed.take(20))
    val (_, embB) = writeSlice(data, baseDocs.drop(20), baseEmbFixed.drop(20))
    val (docC, embC) = writeSlice(data, deltaDocs, deltaEmb)
    assert(DedupMaintenance.update(spark, data, art) == "full")
    // drop doc 5 from its file (pair (5,6) must die with it) and
    // remove the THIRD doc file outright (docs 100.. all gone — the
    // (7,100) and (101,102) pairs die); same shape on the emb side
    rewriteFile(docA.get,
      baseDocs.take(20).filterNot(_._1 == 5L).toDF("doc_id", "text"))
    assert(docC.get.delete(), "couldn't remove the delta doc file")
    rewriteFile(embB.get,
      baseEmbFixed.drop(20).filterNot(_._1 == 39L)
        .toDF("vec_id", "embedding", "label"))
    assert(embC.get.delete(), "couldn't remove the delta emb file")
    assert(DedupMaintenance.update(spark, data, art) == "incremental")
    val pairs = TextDedup.stagedPairs(spark, art)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.isEmpty, s"pairs of deleted docs survived: $pairs")
    val epairs = TextDedup.stagedEmbPairs(spark, art)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(epairs.isEmpty, s"emb pairs of deleted vecs survived: $epairs")
    assert(TextDedup.stagedClusters(spark, art).isEmpty &&
      TextDedup.stagedEmbClusters(spark, art).isEmpty,
      "clusters of deleted members survived")
    // deleted ids are gone from the maintenance state too
    assert(TextDedup.readDocStats(spark, art)
      .filter(col("doc_id") === 5L || col("doc_id") >= 100L).isEmpty)
    assertEqualsFreshRebuild(data, art)
  }

  test("an mtime-touched (content-identical) file takes the incremental " +
      "retract-and-reapply path and stays rebuild-identical") {
    val (data, art, Seq((docA, _), _)) = twoSlices.copy()
    val baseFile = docA.get
    assert(DedupMaintenance.update(spark, data, art) == "skip")
    assert(baseFile.setLastModified(baseFile.lastModified() + 60000))
    // content provably unchanged is indistinguishable from an update:
    // the file's docs retract and reapply (to the same state)
    assert(DedupMaintenance.update(spark, data, art) == "incremental")
    assertEqualsFreshRebuild(data, art)
  }

  test("an UPWARD df-cap crossing (base ≤ maxDf < merged) reclassifies the " +
      "affected docs incrementally: stale pairs retract, ≡ full rebuild") {
    val data = tempDir("dm_x_data"); val art = tempDir("dm_x_art")
    // docs 0,1 share every shingle of words("shared") → df = 2; maxDf=2
    // classifies them rare → pair (0,1) at jaccard 1. One more copy in
    // the delta pushes df to 3 > maxDf: every shared shingle goes
    // common, so the df-capped pipeline finds NO pairs at all — the
    // increment must retract (0,1) without a full rebuild.
    writeSlice(data,
      Seq(0L -> words("shared"), 1L -> words("shared")) ++
        (2L until 10L).map(i => i -> words(i.toString)),
      baseEmbFixed)
    assert(DedupMaintenance.update(spark, data, art, maxDf = 2) == "full")
    assert(TextDedup.stagedPairs(spark, art).count() == 1)
    writeSlice(data, Seq(50L -> words("shared")), Seq.empty)
    assert(DedupMaintenance.update(spark, data, art, maxDf = 2) == "incremental")
    assert(TextDedup.stagedPairs(spark, art).isEmpty,
      "crossing must reclassify the base pair away")
    assert(TextDedup.stagedClusters(spark, art).isEmpty)
    // doc_stats of the reclassified docs moved to the new n_rare
    assert(TextDedup.readDocStats(spark, art)
      .filter(col("doc_id") === 0L && col("n_rare") =!= 0L).isEmpty)
    assertEqualsFreshRebuild(data, art, maxDf = 2)
  }

  test("a DOWNWARD df-cap crossing (a delete drops df back under maxDf) " +
      "resurrects the pair from STAGED shingles, ≡ full rebuild") {
    val data = tempDir("dm_y_data"); val art = tempDir("dm_y_art")
    // three copies → df = 3 > maxDf = 2 → no pairs; deleting one copy
    // drops df to 2 → docs 0,1 become rare again and the pair (0,1)
    // must APPEAR — discovered purely from the staged index rows of
    // the reclassified docs (their text is never re-read)
    writeSlice(data,
      Seq(0L -> words("shared"), 1L -> words("shared")) ++
        (2L until 10L).map(i => i -> words(i.toString)),
      baseEmbFixed)
    val (doc50, _) = writeSlice(data, Seq(50L -> words("shared")), Seq.empty)
    assert(DedupMaintenance.update(spark, data, art, maxDf = 2) == "full")
    assert(TextDedup.stagedPairs(spark, art).isEmpty)
    assert(doc50.get.delete())
    assert(DedupMaintenance.update(spark, data, art, maxDf = 2) == "incremental")
    val pairs = TextDedup.stagedPairs(spark, art).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)), s"downward crossing missed the pair: $pairs")
    assertEqualsFreshRebuild(data, art, maxDf = 2)
  }

  test("a SPAN-df crossing (SpanMaxDf is a constant, so 100+ copies of one " +
      "boilerplate) reclassifies span groups in BOTH directions, ≡ full " +
      "rebuild") {
    val data = tempDir("dm_sx_data"); val art = tempDir("dm_sx_art")
    // 99 docs share boilerplate prefix B (same offset → one span group
    // per pair, offset_delta 0): every winnowed fp of B has df = 99
    // ≤ SpanMaxDf = 100 → capped → C(99,2) span groups. Appending two
    // more B-docs pushes df to 101 > SpanMaxDf: an UPWARD crossing —
    // every B-doc's span rows must retract incrementally (the tails
    // are unique, so nothing replaces them). Deleting that delta file
    // drops df back to 99: the DOWNWARD crossing must resurrect the
    // groups purely from the staged span_index rows (text never
    // re-read). The word tails keep the SHINGLE side quiet (pair
    // jaccard ≈ 0.25 < 0.5), so this exercises the span
    // reclassification set independently of the shingle one.
    val boiler = "alpha bravo charlie delta echo foxtrot golf hotel " +
      "india juliet kilo lima mike november oscar papa"
    def spanDoc(i: Long) = i -> (boiler + " " + words(s"t$i"))
    writeSlice(data, (0L until 99L).map(spanDoc), baseEmbFixed)
    assert(DedupMaintenance.update(spark, data, art) == "full")
    val nBase = TextDedup.stagedSpans(spark, art).count()
    assert(nBase == 99L * 98 / 2,
      s"expected C(99,2) base span groups, got $nBase")
    val (delta, _) =
      writeSlice(data, Seq(spanDoc(200L), spanDoc(201L)), Seq.empty)
    assert(DedupMaintenance.update(spark, data, art) == "incremental")
    // every base-pair span is gone; the ONE survivor is (200, 201) —
    // their 3-digit-id tails legitimately share ~45 boundary
    // fingerprints at delta 0 (df = 2, rare), a span a full rebuild
    // finds too, discovered here by the within-apply leg of the kernel
    val after = TextDedup.stagedSpans(spark, art)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(after.toSeq == Seq((200L, 201L)),
      s"upward crossing must keep only the new-pair span: ${after.mkString(",")}")
    assertEqualsFreshRebuild(data, art)
    assert(delta.get.delete())
    assert(DedupMaintenance.update(spark, data, art) == "incremental")
    assert(TextDedup.stagedSpans(spark, art).count() == nBase,
      "downward crossing must resurrect the span groups from the staged index")
    assertEqualsFreshRebuild(data, art)
  }

  test("compaction folds tombstones away: live views identical, gen reset, " +
      "artifacts still current") {
    val (data, art, Seq((docA, _), _)) = twoSlices.copy()
    assert(DedupMaintenance.update(spark, data, art) == "skip")
    rewriteFile(docA.get, baseDocs.take(20).map {
      case (6L, _) => 6L -> words("solo6"); case o => o
    }.toDF("doc_id", "text"))
    // auto-compaction OFF: this test exercises the MANUAL compact()
    // path, so the increment must leave its tombstones behind
    assert(DedupMaintenance.update(spark, data, art,
      autoCompactMaxGen = 0, autoCompactDeadFrac = 0) == "incremental")
    assert(manifest(art).gen == 1)
    assert(spark.read.parquet(s"$art/tombstones").count() > 0)
    val before = Seq(
      rows(TextDedup.stagedPairs(spark, art)),
      rows(TextDedup.stagedClusters(spark, art)),
      rows(TextDedup.readDocStats(spark, art)),
      rows(TextDedup.readShingleDf(spark, art)),
      rows(TextDedup.stagedEmbPairs(spark, art)))
    DedupMaintenance.compact(spark, art)
    assert(spark.read.parquet(s"$art/tombstones").isEmpty, "tombstones survive")
    assert(manifest(art).gen == 0)
    assert(TextDedup.artifactsCurrent(data, art), "compaction broke currency")
    val after = Seq(
      rows(TextDedup.stagedPairs(spark, art)),
      rows(TextDedup.stagedClusters(spark, art)),
      rows(TextDedup.readDocStats(spark, art)),
      rows(TextDedup.readShingleDf(spark, art)),
      rows(TextDedup.stagedEmbPairs(spark, art)))
    assert(before == after, "compaction changed a live view")
    assert(DedupMaintenance.update(spark, data, art) == "skip")
  }

  test("auto-compaction: a long increment chain keeps the read-path " +
      "generation count bounded; _LAST_INC records it; identity preserved") {
    val (data, art, Seq((docA, _), _)) = twoSlices.copy()
    // bytes-ratio signal off: at toy scale parquet overhead makes it
    // meaningless — this test pins the GENERATION-count signal
    def upd() = DedupMaintenance.update(spark, data, art,
      autoCompactMaxGen = 2, autoCompactDeadFrac = 0)
    assert(upd() == "skip")
    val target = docA.get
    for (round <- 1 to 4) {
      rewriteFile(target, baseDocs.take(20).map {
        case (6L, _) => 6L -> words(s"solo6_r$round"); case o => o
      }.toDF("doc_id", "text"))
      assert(upd() == "incremental")
      assert(manifest(art).gen <= 2,
        s"round $round: generation count unbounded (${manifest(art).gen})")
    }
    // 4 increments at maxGen=2 → at least one compaction happened and
    // the latest one is on record
    assert(manifest(art).gen < 4)
    assert(manifest(art).lastUpdate.exists(_.contains(
      """"compacted":true""")), manifest(art).lastUpdate.toString)
    // compacted state is current, serves the right rows, and skips
    assert(TextDedup.artifactsCurrent(data, art))
    assertEqualsFreshRebuild(data, art)
    assert(upd() == "skip")
  }

  test("manifest tombstones_clean: set after build/compact (readers skip " +
      "the probe entirely), cleared the moment an increment writes tombstones") {
    val (data, art, Seq((docA, _), _)) = twoSlices.copy()
    assert(DedupMaintenance.update(spark, data, art) == "skip")
    def marked = manifest(art).tombstonesClean
    assert(marked, "fresh build must mark clean")
    // the marker short-circuits BEFORE any tombstone read: with the
    // table directory gone, a probing reader would throw PATH_NOT_FOUND
    val saved = tempDir("dm_cl_saved")
    val tombDir = new java.io.File(art, "tombstones")
    java.nio.file.Files.move(tombDir.toPath,
      new java.io.File(saved, "tombstones").toPath)
    val viaMarker = rows(TextDedup.stagedPairs(spark, art))
    java.nio.file.Files.move(new java.io.File(saved, "tombstones").toPath,
      tombDir.toPath)
    assert(viaMarker == rows(TextDedup.stagedPairs(spark, art)))
    // a PURE append (unique docs, fresh-seed random unit vectors — the
    // fixture's no-pair convention: no new pairs, no crossings, no
    // relabels) writes zero tombstone rows — the marker survives and
    // append-heavy chains stay probe-free
    writeSlice(data,
      (200L to 205L).map(i => i -> words(s"app$i")),
      (200L to 205L).map(i => (i, vec(i + 700), 0)))
    assert(DedupMaintenance.update(spark, data, art,
      autoCompactMaxGen = 0, autoCompactDeadFrac = 0) == "incremental")
    assert(marked,
      "a tombstone-free append must keep the probe-free read path")
    assertEqualsFreshRebuild(data, art)
    // an increment kills the marker (it writes tombstones)...
    rewriteFile(docA.get, baseDocs.take(20).map {
      case (6L, _) => 6L -> words("solo6"); case o => o
    }.toDF("doc_id", "text"))
    assert(DedupMaintenance.update(spark, data, art,
      autoCompactMaxGen = 0, autoCompactDeadFrac = 0) == "incremental")
    assert(!marked,
      "live tombstones behind a clean marker would serve dead rows")
    // ...and compaction restores it
    DedupMaintenance.compact(spark, art)
    assert(marked)
    assertEqualsFreshRebuild(data, art)
  }

  test("a crashed increment (journal present) forces the full-rebuild path " +
      "and marks the artifacts stale") {
    val (data, art, _) = oneSlice.copy()
    assert(DedupMaintenance.update(spark, data, art) == "skip")
    appendDelta(data)
    tamperManifest(art)(_.copy(pending = true))
    assert(!TextDedup.artifactsCurrent(data, art),
      "a journal must mark the artifacts stale")
    assert(DedupMaintenance.update(spark, data, art) == "full")
    assert(TextDedup.artifactsCurrent(data, art))
    assert(!manifest(art).pending)
  }

  test("an id collision in a NEW file while the old carrier is untouched " +
      "(two live versions) is not resolvable: full rebuild") {
    val (data, art, _) = oneSlice.copy()
    assert(DedupMaintenance.update(spark, data, art) == "skip")
    Seq((3L, vec(777), 0)).toDF("vec_id", "embedding", "label")
      .write.mode("append").parquet(s"$data/embeddings.parquet")
    assert(DedupMaintenance.update(spark, data, art) == "full")
  }

  test("an update MOVING an anchor vector (vec_id < nLists) is absorbed " +
      "incrementally: affected assignments re-probe, pairs follow the new " +
      "anchor, ≡ full rebuild") {
    val (data, art, Seq((_, embA), _)) = twoSlices.copy()
    assert(DedupMaintenance.update(spark, data, art,
      autoCompactMaxGen = 0, autoCompactDeadFrac = 0) == "skip")
    // vec 3 sits in the anchor range (nLists >= 8 by the schedule):
    // move it right next to vec 20 — under the new anchor frame the
    // (20, 39) near-pair's neighborhood must re-probe into list 3 and
    // the NEW pairs (3,20) and (3,39) must appear, found without any
    // full re-assignment
    rewriteFile(embA.get, baseEmbFixed.take(20).map {
      case (3L, _, l) => (3L, near(vec(20), 999L), l); case o => o
    }.toDF("vec_id", "embedding", "label"))
    assert(DedupMaintenance.update(spark, data, art,
      autoCompactMaxGen = 0, autoCompactDeadFrac = 0) == "incremental")
    val epairs = TextDedup.stagedEmbPairs(spark, art)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(epairs.contains((3L, 20L)) && epairs.contains((3L, 39L)),
      s"anchor-churn pairs missing: $epairs")
    assert(manifest(art).lastUpdate.exists(_.contains(
      """"vecs_reanchored":""")), manifest(art).lastUpdate.toString)
    assertEqualsFreshRebuild(data, art)
    assert(DedupMaintenance.update(spark, data, art) == "skip")
  }

  test("a DELETED anchor vector is absorbed incrementally: its list's " +
      "members re-probe among the remaining anchors, ≡ full rebuild") {
    val (data, art, Seq((_, embA), _)) = twoSlices.copy()
    assert(DedupMaintenance.update(spark, data, art,
      autoCompactMaxGen = 0, autoCompactDeadFrac = 0) == "skip")
    rewriteFile(embA.get,
      baseEmbFixed.take(20).filterNot(_._1 == 3L)
        .toDF("vec_id", "embedding", "label"))
    assert(DedupMaintenance.update(spark, data, art,
      autoCompactMaxGen = 0, autoCompactDeadFrac = 0) == "incremental")
    // the deleted anchor's rows (own id and any member of list 3) are
    // gone from the live layout
    assert(TextDedup.readSurface(spark, art, TextDedup.EmbProbeLayout)
      .filter(col("vec_id") === 3L).isEmpty)
    assertEqualsFreshRebuild(data, art)
  }

  test("real corpus (sf0.001): split-append increment equals the merged " +
      "full rebuild") {
    val data = tempDir("dm_r_data"); val art = tempDir("dm_r_art")
    Tables.documents(spark, sf).filter("doc_id < 450")
      .write.parquet(s"$data/documents.parquet")
    Tables.embeddings(spark, sf).filter("vec_id < 450")
      .write.parquet(s"$data/embeddings.parquet")
    assert(DedupMaintenance.update(spark, data, art) == "full")
    Tables.documents(spark, sf).filter("doc_id >= 450")
      .write.mode("append").parquet(s"$data/documents.parquet")
    Tables.embeddings(spark, sf).filter("vec_id >= 450")
      .write.mode("append").parquet(s"$data/embeddings.parquet")
    assert(DedupMaintenance.update(spark, data, art) == "incremental")
    val l = VectorOps.readLayoutGeometry(s"$art/emb_probe_layout").get._1
    val art2 = tempDir("dm_r_art2")
    TextDedup.writeDedupArtifacts(spark, data, art2, embNLists = l.toInt)
    assertArtifactsEqual(art, art2)
    // geometry drift (round-11 advisory): the maintained layout stays
    // pinned at the 450-vector derivation (11 lists) while the merged
    // 500-vector corpus derives 12 — the registered auto-route must
    // fall back to the self-contained form rather than serve
    // index-pinned pairs under a stale schedule
    val derived = math.max(8L, math.ceil(math.sqrt(
      Tables.embeddings(spark, data).count().toDouble) / 2).toLong)
    assert(derived != l, s"fixture no longer drifts: pinned=$l derived=$derived")
    val auto = VectorOps.nearDupPairsAuto(spark, data, art)
    assert(!auto.inputFiles.exists(f =>
        f.contains("emb_probe_layout") || f.contains("/emb_pairs/")),
      "drifted geometry must not serve any staged surface")
  }

  test("real corpus (sf0.001): a copy-on-write update of a corpus slice " +
      "equals the merged full rebuild") {
    val data = tempDir("dm_ru_data"); val art = tempDir("dm_ru_art")
    // two files per table so the update touches one
    Tables.documents(spark, sf).filter("doc_id < 300").repartition(1)
      .write.mode("append").parquet(s"$data/documents.parquet")
    val d0 = partFiles(data, "documents.parquet").toSet
    Tables.documents(spark, sf).filter("doc_id >= 300").repartition(1)
      .write.mode("append").parquet(s"$data/documents.parquet")
    val hiDocFile = partFiles(data, "documents.parquet")
      .find(!d0.contains(_)).get
    Tables.embeddings(spark, sf).filter("vec_id < 300").repartition(1)
      .write.mode("append").parquet(s"$data/embeddings.parquet")
    Tables.embeddings(spark, sf).filter("vec_id >= 300").repartition(1)
      .write.mode("append").parquet(s"$data/embeddings.parquet")
    assert(DedupMaintenance.update(spark, data, art) == "full")
    // rewrite the >=300 doc slice: drop 10 docs, rewrite 5 texts
    val touched = hiDocFile
    val updated = spark.read.parquet(touched.toString)
      .filter("doc_id % 97 != 0")
      .selectExpr("doc_id",
        "case when doc_id % 41 = 0 then concat(text, ' graft update probe') " +
          "else text end as text")
    rewriteFile(touched, updated)
    assert(DedupMaintenance.update(spark, data, art) == "incremental")
    assertEqualsFreshRebuild(data, art)
  }
}
