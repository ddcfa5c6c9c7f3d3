package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.ChFunctions._
import TextDedup.{Surface, BandIndex, Clusters, DocDigests, DocFiles,
  DocStats, DocVerdicts, EmbClusters, EmbPairs, EmbProbeLayout, Pairs,
  ShingleDf, ShingleIndex, SpanDf, SpanIndex, Spans, Tombstones, VecFiles}

/** Incremental maintenance of the staged dedup artifacts
  * ([[TextDedup.writeDedupArtifacts]]) under the FULL CDC shape —
  * appends, updates, and deletes — the reference's incremental-per-
  * block architecture (kits/users/pg/pipes/users_mv.pipe:19-20
  * precomputes at ingest; users_batch_copy.pipe:10-26 advances a
  * watermark; the workload itself is 60% updates / 10% deletes,
  * demo_users.py:17-19) applied to the dedup pipeline: any input
  * change expressible as copy-on-write file operations updates all
  * staged artifacts at a cost proportional to the CHANGE, and the
  * result is IDENTICAL to a full rebuild over the final input
  * (asserted surface-by-surface in DedupMaintenanceSpec).
  *
  * CHANGE MODEL — copy-on-write files, the lakehouse convention:
  *  - an APPEND adds new parquet files under `documents.parquet/` /
  *    `embeddings.parquet/`;
  *  - an UPDATE rewrites the file(s) carrying the changed rows;
  *  - a DELETE rewrites the carrying file without the row (or removes
  *    the file outright).
  * The staged `doc_files`/`vec_files` maps resolve a modified/removed
  * file to exactly the ids it carried, so retraction never reads old
  * bytes (they are gone) — RETRACT-THEN-REAPPLY per changed id:
  *
  *  1. retract: tombstone the changed ids' index rows, stats, pairs
  *     (either endpoint) and file-map rows; append NEGATIVE df
  *     partials for their shingles (the summed-on-read `shingle_df`
  *     absorbs them — delta-sized appends, zero rewrites);
  *  2. reclassify: a df change can push a shingle ACROSS maxDf in
  *     either direction. Both directions are bounded: an upward
  *     crossing starts ≤ maxDf so ≤ maxDf live docs contain the
  *     shingle; a downward crossing ENDS ≤ maxDf so ≤ maxDf live docs
  *     remain. Those docs' stats and pairs are recomputed from their
  *     STAGED shingle rows (text never re-read, index rows stay
  *     live) — the crossing is absorbed at cost ∝ affected docs
  *     instead of guarding to a full rebuild;
  *  3. reapply: the upserted rows shingle/probe as a delta; every NEW
  *     pair shares a shingle (a probed list) with a reapplied doc
  *     (vector), so all joins against staged state restrict to the
  *     delta's key set — base×base pairs are untouched by
  *     construction, and the unchanged-side classifications are
  *     proven stable because every doc touching a crossing shingle
  *     was moved into the recompute set;
  *  4. re-cluster: components touching any changed id are re-labeled
  *     by running CC over the AFFECTED SUBGRAPH only (old members ∪
  *     new endpoints; live edges after retraction plus new pairs) —
  *     closed under edges by the same argument, so merges AND splits
  *     come out identical to a full re-run; labels append under the
  *     merge-on-read tombstone rule, no table rewrite (the round-10
  *     swap-the-whole-label-table step — the measured ~33 s fixed
  *     floor — is gone).
  *
  * EMBEDDINGS — the layout's persisted `_GEOMETRY` pins the LIST COUNT
  * (an index never re-derives k from n on insert), so unchanged
  * assignments are byte-stable; changed vectors retract their probe
  * rows via tombstones and re-probe; new pairs come from delta-probes
  * × surviving layout ([[VectorOps.pairsBetweenProbes]]). ANCHOR CHURN
  * (a changed/deleted/new vector with vec_id < nLists — round 12,
  * previously a full-rebuild guard) is absorbed incrementally: the
  * exact affected set is (owners of stored rows on a changed list) ∪
  * (vectors a new anchor can displace, found by comparing each
  * vector's stored nprobe-th-best sim against the new anchors — two
  * LINEAR passes), and those vectors ride the same
  * retract-and-reapply path under the new anchor frame.
  *
  * REMAINING GUARDS (any failure → full rebuild, correctness never
  * bent):
  *  - an id collision between an upserted row and a live row whose
  *    file was NOT touched (two live versions of one id — incoherent
  *    under any rebuild), or within the upsert batch itself;
  *  - a different requested embedding geometry;
  *  - no complete [[ArtifactManifest]] of the same params, an absent
  *    `_GEOMETRY`, or an increment still `pending` from a crash.
  *
  * CRASH SAFETY — appends are not atomic, so the increment commits a
  * `pending` manifest before its first append and the new inputs and
  * generation after its last. A crash in between leaves `pending`:
  * `artifactsCurrent` then reports stale (consumers fall back to
  * self-contained forms) and the next update() takes the proven
  * full-rebuild path. Every frame the increment writes is eagerly
  * materialized BEFORE the first append, so no plan can observe its
  * own writes (the round-10 append path had exactly that latent bug:
  * `doc_stats` was computed lazily and executed after the df partials
  * landed, double-counting the delta's dfs — masked at test SFs where
  * dfs ≪ maxDf, caught by this rewrite's eager-before-write discipline
  * and pinned by the crossing specs).
  */
object DedupMaintenance {

  /** Bring the staged artifacts up to date with `dir`. Returns the
    * path taken: "skip" (already current), "incremental" (delta-only
    * maintenance — possibly followed by an automatic compaction, see
    * below), or "full" (first build, or a guard fired).
    *
    * AUTO-COMPACTION: a long CDC increment chain accumulates
    * generations and tombstones without bound — read amplification
    * (and eventually the tombstone resolve join itself) grows until
    * an operator intervenes, which nothing in a deployment loop ever
    * does. So update() itself triggers [[compact]] after a successful
    * increment when either cheap read-amplification signal crosses its
    * threshold: the manifest's generation reaches `autoCompactMaxGen`,
    * or the tombstone table's raw bytes exceed `autoCompactDeadFrac`
    * of the live id-map surfaces' (filesystem metadata only). The
    * compaction is identity-preserving (it writes the live views), so
    * callers observe only bounded read paths; the manifest's
    * `last_update` records `"compacted":true` for the control plane.
    * Thresholds ≤ 0 disable the trigger (manual-only, the pre-round-12
    * behavior). */
  def update(spark: SparkSession, dir: String, out: String,
             minJaccard: Double = TextDedup.DefaultMinJaccard,
             maxDf: Int = TextDedup.DefaultMaxDf,
             embNLists: Int = 0, autoCompactMaxGen: Int = 8,
             autoCompactDeadFrac: Double = 0.25): String =
    TextDedup.artifactLock(out).synchronized {
      TextDedup.withArtifactFileLock(out) {
        // copy-on-write rewrites the files under `dir` IN PLACE — a
        // long-lived session's shared FileStatusCache would otherwise
        // hand the scan a stale (pre-rewrite) length and the footer
        // read detonates mid-job
        spark.catalog.refreshByPath(dir)
        if (TextDedup.artifactsCurrent(dir, out, Some((minJaccard, maxDf))) &&
            TextDedup.stagedGeometryOk(out, embNLists)) "skip"
        else {
          val inputs = TextDedup.inputFiles(dir)
          val mode = classifyDelta(dir, out, inputs, minJaccard, maxDf) match {
            case Some((base, d)) if tryIncrement(spark, dir, out, base, d,
                inputs, minJaccard, maxDf, embNLists) => "incremental"
            case _ =>
              TextDedup.buildLocked(spark, dir, out, minJaccard, maxDf, embNLists)
              ArtifactManifest.amend(out)(
                _.copy(lastUpdate = Some("""{"mode":"full","gen":0}""")))
              "full"
          }
          if (mode == "incremental" &&
              shouldCompact(out, autoCompactMaxGen, autoCompactDeadFrac)) {
            compactLocked(spark, out)
            ArtifactManifest.amend(out)(m => m.copy(lastUpdate =
              m.lastUpdate.map(_.stripSuffix("}") + ""","compacted":true}""")))
          }
          mode
        }
      }
    }

  /** The read-amplification trigger: generation count, or dead bytes
    * as a fraction of the live id-map surfaces. Both are pure
    * filesystem metadata — no Spark job. */
  private def shouldCompact(out: String, maxGen: Int,
                            deadFrac: Double): Boolean =
    (maxGen > 0 && ArtifactManifest.read(out).exists(_.gen >= maxGen)) ||
      (deadFrac > 0 && {
        val live = Seq(DocFiles, VecFiles, DocStats)
          .map(TextDedup.surfaceDataBytes(out, _)).sum
        live > 0 && TextDedup.tombstoneRawBytes(out) > deadFrac * live
      })

  /** The file-level diff the increment works from: every stored file
    * classified unchanged / changed / removed, plus the new files.
    * None → the stored state is not diffable (missing/incomplete/
    * pending, or a param change) and the caller takes the full
    * path. */
  private final case class FileDelta(
      newDoc: Seq[java.io.File], chgDoc: Seq[java.io.File],
      touchedDocRel: Seq[String],
      newEmb: Seq[java.io.File], chgEmb: Seq[java.io.File],
      touchedEmbRel: Seq[String]) {
    def isEmpty: Boolean = newDoc.isEmpty && chgDoc.isEmpty &&
      touchedDocRel.isEmpty && newEmb.isEmpty && chgEmb.isEmpty &&
      touchedEmbRel.isEmpty
  }

  private def classifyDelta(dir: String, out: String,
                            inputs: Seq[ArtifactManifest.InputFile],
                            minJaccard: Double, maxDf: Int)
      : Option[(ArtifactManifest.Manifest, FileDelta)] = {
    val base = ArtifactManifest.read(out).filter(TextDedup.manifestUsable(_,
        out, Some((minJaccard, maxDf)), TextDedup.artifactSurfaces))
      .getOrElse(return None)
    def sizeMtime(f: ArtifactManifest.InputFile) = (f.size, f.mtime)
    val old = base.inputs.map(f => f.rel -> sizeMtime(f)).toMap
    val cur = inputs.map(f => f.rel -> sizeMtime(f)).toMap
    def file(rel: String) = new java.io.File(dir, rel)
    val fresh = (cur.keySet -- old.keySet).toSeq.sorted
    val changed = old.keysIterator
      .filter(rel => cur.get(rel).exists(_ != old(rel))).toSeq.sorted
    val removed = (old.keySet -- cur.keySet).toSeq.sorted
    def docSide(rel: String) = rel.startsWith("documents.parquet")
    def embSide(rel: String) = rel.startsWith("embeddings.parquet")
    // every involved path must belong to one of the two tables (a
    // table swapping between single-file and directory layout shows
    // up as unclassifiable rels)
    if ((fresh ++ changed ++ removed).exists(r => !docSide(r) && !embSide(r)))
      return None
    val d = FileDelta(
      fresh.filter(docSide).map(file),
      changed.filter(docSide).map(file),
      (changed ++ removed).filter(docSide),
      fresh.filter(embSide).map(file),
      changed.filter(embSide).map(file),
      (changed ++ removed).filter(embSide))
    if (d.isEmpty) None else Some((base, d)) // stale, yet no file moved
  }

  // ---- small frame helpers ----
  private def emptyIds(spark: SparkSession, name: String): DataFrame =
    spark.range(0).select(col("id").as(name))
  private def ckpt(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Wall-clock milliseconds per named phase of one increment — the
    * operational breakdown its wall time decomposes into, recorded in
    * the manifest's `last_update` as `phases_ms`. */
  private final class Phases {
    private val ms = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def apply[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      try body
      finally ms(name) = ms.getOrElse(name, 0L) + (System.nanoTime() - t0) / 1000000
    }
    def json: String =
      ms.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }

  /** One side's planned increment: everything is EAGER (computed
    * against pre-write state) and delta-sized. */
  private final case class TextPlan(
      retractIds: DataFrame, upserts: DataFrame, deltaSh: DataFrame,
      dfNet: DataFrame, rIds: DataFrame, cIds: DataFrame,
      aStats: DataFrame, newPairs: DataFrame,
      clusterNodes: DataFrame, clusterNew: DataFrame,
      // span surface (winnowed fingerprints) — same retract-and-
      // reapply shape over its own index/df/pair tables
      deltaSpan: DataFrame, spanDfNet: DataFrame, cSpanIds: DataFrame,
      newSpans: DataFrame,
      // screening index (digests + minhash bands) — per-doc pure
      // functions, plain retract-and-reapply
      deltaDig: DataFrame, deltaBands: DataFrame,
      // per-doc verdict surface (corpus-build inputs) — same class
      deltaVerd: DataFrame)
  private final case class EmbPlan(
      retractIds: DataFrame, // file-map retractions (vec_files)
      cIds: DataFrame,       // layout/pair retractions (⊇ retractIds:
                             // adds anchor-churn re-probed vectors)
      upserts: DataFrame, aProbes: DataFrame,
      newPairs: DataFrame, clusterNodes: DataFrame, clusterNew: DataFrame)

  /** Run the guarded increment. Returns false — having written NOTHING
    * — when any validity guard fires. All guard probes read only the
    * compact staged state (ids, hashes, dfs, file maps), never base
    * text or base embeddings. */
  private def tryIncrement(spark: SparkSession, dir: String, out: String,
                           base: ArtifactManifest.Manifest, d: FileDelta,
                           inputs: Seq[ArtifactManifest.InputFile],
                           minJaccard: Double, maxDf: Int,
                           embNLists: Int): Boolean = {
    val layout = EmbProbeLayout.path(out)
    val g = base.gen + 1
    val phase = new Phases

    // ---- plan + guard phase (no writes) ----
    val textPlan: Option[Option[TextPlan]] = // outer None = guard fired
      phase("plan_text") { planText(spark, out, d, minJaccard, maxDf, phase) }
    if (textPlan.isEmpty) return false
    val embPlan: Option[Option[EmbPlan]] =
      phase("plan_emb") { planEmb(spark, out, layout, d, embNLists, phase) }
    if (embPlan.isEmpty) return false

    // a PURE-APPEND increment (no retractions, no crossings, no
    // cluster relabels) appends only empty tombstone frames: a clean
    // table stays clean, and append-heavy CDC chains keep the
    // probe-free read path. The id frames are eager checkpoints, so
    // the emptiness checks are driver-cheap.
    val wroteTombstones =
      textPlan.flatten.exists(t => !t.retractIds.isEmpty ||
        !t.cIds.isEmpty || !t.clusterNodes.isEmpty ||
        !t.cSpanIds.isEmpty) ||
      embPlan.flatten.exists(e => !e.cIds.isEmpty ||
        !e.clusterNodes.isEmpty)
    val clean = base.tombstonesClean && !wroteTombstones

    // ---- write phase (pending; every frame above is eager) ----
    // `tombstones_clean` drops BEFORE the first tombstone append, so a
    // crash leaves readers on the (correct) emptiness probe
    ArtifactManifest.commit(out,
      base.copy(pending = true, tombstonesClean = clean))

    // one side's writes: its tombstones as ONE append, then each
    // surface's delta rows, stamped generation g
    def write(tombs: Seq[(Surface, DataFrame)],
              rows: Seq[(Surface, DataFrame)]): Unit = {
      val t = tombs.map { case (s, ids) => ids.select(lit(s.name).as("surface"),
        col(s.id).as("id"), lit(g).as("gen")) }.reduce(_ unionByName _)
      for ((s, df) <- (Tombstones, t) +: rows)
        TextDedup.writeSurface(df, s, s.path(out), g, "append")
    }

    for (t <- textPlan.flatten) phase("write_text") {
      write(
        Seq(ShingleIndex -> t.retractIds, DocFiles -> t.retractIds,
          DocStats -> t.cIds, Pairs -> t.cIds, Clusters -> t.clusterNodes,
          SpanIndex -> t.retractIds, Spans -> t.cSpanIds,
          DocDigests -> t.retractIds, BandIndex -> t.retractIds,
          DocVerdicts -> t.retractIds),
        Seq(ShingleIndex -> t.deltaSh,
          ShingleDf -> t.dfNet.select(col("shingle"), col("net").as("df")),
          DocStats -> t.aStats,
          DocFiles -> t.upserts.select("doc_id", "src_file"),
          Pairs -> t.newPairs, Clusters -> t.clusterNew,
          SpanIndex -> t.deltaSpan,
          SpanDf -> t.spanDfNet.select(col("fp"), col("net").as("df")),
          Spans -> t.newSpans, DocDigests -> t.deltaDig,
          BandIndex -> t.deltaBands, DocVerdicts -> t.deltaVerd))
    }

    for (e <- embPlan.flatten) phase("write_emb") {
      write(
        Seq(EmbProbeLayout -> e.cIds, VecFiles -> e.retractIds,
          EmbPairs -> e.cIds, EmbClusters -> e.clusterNodes),
        Seq(EmbProbeLayout -> e.aProbes,
          VecFiles -> e.upserts.select("vec_id", "src_file"),
          EmbPairs -> e.newPairs, EmbClusters -> e.clusterNew))
    }

    val lastUpdate = lastIncJson(g, textPlan.flatten, embPlan.flatten, phase)
    ArtifactManifest.commit(out, base.copy(inputs = inputs, gen = g,
      tombstonesClean = clean, pending = false, lastUpdate = Some(lastUpdate)))
    true
  }

  private def lastIncJson(g: Int, t: Option[TextPlan],
                          e: Option[EmbPlan], phase: Phases): String = {
    val tj = t.map(p => s""","docs_retracted":${p.retractIds.count()},""" +
      s""""docs_upserted":${p.upserts.count()},""" +
      s""""docs_reclassified":${p.rIds.count()},""" +
      s""""new_pairs":${p.newPairs.count()},""" +
      s""""new_spans":${p.newSpans.count()}""").getOrElse("")
    val ej = e.map(p => s""","vecs_retracted":${p.retractIds.count()},""" +
      s""""vecs_upserted":${p.upserts.count()},""" +
      s""""vecs_reanchored":${p.cIds.count() - p.retractIds.count()},""" +
      s""""new_emb_pairs":${p.newPairs.count()}""").getOrElse("")
    s"""{"mode":"incremental","gen":$g$tj$ej,"phases_ms":${phase.json}}"""
  }

  /** Plan the text-side increment. Outer None = a guard fired (caller
    * falls back to the full build); inner None = no doc-side change. */
  private def planText(spark: SparkSession, out: String, d: FileDelta,
                       minJaccard: Double, maxDf: Int,
                       phase: Phases): Option[Option[TextPlan]] = {
    if (d.newDoc.isEmpty && d.chgDoc.isEmpty && d.touchedDocRel.isEmpty)
      return Some(None)
    val retractIds = ckpt(
      if (d.touchedDocRel.isEmpty) emptyIds(spark, "doc_id")
      else TextDedup.readDocFiles(spark, out)
        .filter(col("src_file").isin(d.touchedDocRel: _*))
        .select("doc_id"))
    val upsertFiles = d.newDoc ++ d.chgDoc
    val upserts = ckpt(
      if (upsertFiles.isEmpty)
        spark.range(0).select(col("id").as("doc_id"), lit("").as("text"),
          lit("").as("lang"), lit("").as("src_file"))
      else {
        val raw = spark.read.parquet(upsertFiles.map(_.toString): _*)
        // same lang tolerance as the verdict stage: a lang-less corpus
        // keeps its dedup maintenance (docVerdictsFrame mirrors this
        // default, so increment ≡ rebuild holds on such data too)
        val withLang =
          if (raw.columns.contains("lang")) raw
          else raw.withColumn("lang", lit(""))
        withLang.select(col("doc_id"), col("text"), col("lang"),
          TextDedup.relFileCol.as("src_file"))
      })
    // two live versions of one id would make any rebuild incoherent
    if (!upserts.groupBy("doc_id").count().filter(col("count") > 1).isEmpty)
      return None
    if (!upserts.select("doc_id")
        .join(TextDedup.readDocFiles(spark, out).select("doc_id"),
          Seq("doc_id"), "left_semi")
        .join(retractIds, Seq("doc_id"), "left_anti").isEmpty)
      return None

    val liveIdx = TextDedup.readShingleIndex(spark, out)
    val deltaSh = phase("t_delta_shingles") { ckpt(TextDedup.shingles(upserts)
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))) }
    // EMPTY-SET SKIPS throughout this plan: the common append-shaped
    // increment has no retractions and no crossings, and each skipped
    // branch is a full (if compact, column-pruned) scan of the staged
    // index — measured at sf10, the skips cut a 1% append's plan_text
    // from ~25 s toward the pair kernel's own cost. The probes are
    // cheap: every probed frame is checkpointed and delta-sized.
    val haveRetract = !retractIds.isEmpty
    // net df movement per touched shingle — appended as (possibly
    // negative) partials; the summed-on-read df table absorbs them
    val dfNet = ckpt(
      if (!haveRetract)
        deltaSh.groupBy("shingle").agg(count(lit(1)).as("net"))
      else
        deltaSh.groupBy("shingle").agg(count(lit(1)).as("dfp"))
          .join(liveIdx.join(retractIds, Seq("doc_id"), "left_semi")
            .groupBy("shingle")
            .agg((-count(lit(1))).as("dfn")), Seq("shingle"), "full")
          .select(col("shingle"),
            (coalesce(col("dfp"), lit(0L)) + coalesce(col("dfn"), lit(0L)))
              .as("net"))
          .filter(col("net") =!= 0L))
    // stored dfs for exactly the touched/apply shingles: restrict the
    // PARTIALS table first (broadcast semi), THEN aggregate — the
    // full-width groupBy of readShingleDf exchanges the whole df table
    // and this runs on every increment
    val dfBaseTouched = ckpt(
      spark.read.parquet(ShingleDf.path(out))
        .join(dfNet.select("shingle"), Seq("shingle"), "left_semi")
        .groupBy("shingle").agg(sum(col("df")).as("dfb"))
        .filter(col("dfb") > 0))
    // maxDf crossings in EITHER direction: the docs containing a
    // crossing shingle get their stats and pairs recomputed under the
    // new dfs (bounded by maxDf live docs per crossing shingle — an
    // upward crossing STARTS ≤ maxDf, a downward one ENDS ≤ maxDf)
    val crossing = ckpt(dfNet
      .join(dfBaseTouched, Seq("shingle"), "left")
      .select(col("shingle"), coalesce(col("dfb"), lit(0L)).as("dfb"),
        (coalesce(col("dfb"), lit(0L)) + col("net")).as("dfn2"))
      .filter((col("dfb") <= maxDf) =!= (col("dfn2") <= maxDf))
      .select("shingle"))
    val rIds = ckpt(
      if (crossing.isEmpty) emptyIds(spark, "doc_id")
      else liveIdx.join(crossing, Seq("shingle"), "left_semi")
        .select("doc_id").distinct()
        .join(retractIds, Seq("doc_id"), "left_anti")
        .join(upserts.select("doc_id"), Seq("doc_id"), "left_anti"))
    val haveR = !rIds.isEmpty
    val cIds = ckpt(
      if (!haveR) retractIds
      else retractIds.unionByName(rIds).distinct())
    // the APPLY frame: fresh shingles for upserts, STAGED rows for the
    // reclassified docs (their text never re-read)
    val aSh =
      if (!haveR) deltaSh
      else ckpt(deltaSh.unionByName(
        liveIdx.join(rIds, Seq("doc_id"), "left_semi")
          .select("doc_id", "shingle")))
    // final per-shingle df over the apply frame's shingle universe —
    // same restrict-then-aggregate move as above (aSh's shingles are
    // deltaSh's unless reclassification widened them)
    val dfAStored =
      if (!haveR) dfBaseTouched
      else spark.read.parquet(ShingleDf.path(out))
        .join(aSh.select("shingle").distinct(), Seq("shingle"), "left_semi")
        .groupBy("shingle").agg(sum(col("df")).as("dfb"))
        .filter(col("dfb") > 0)
    val dfA = ckpt(aSh.select("shingle").distinct()
      .join(dfAStored, Seq("shingle"), "left")
      .join(dfNet, Seq("shingle"), "left")
      .select(col("shingle"),
        (coalesce(col("dfb"), lit(0L)) + coalesce(col("net"), lit(0L)))
          .as("df_new")))
    val aStats = ckpt(aSh.join(dfA, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("df_new") <= maxDf, 1L).otherwise(0L)).as("n_rare")))
    val newPairs = phase("t_new_pairs") { ckpt(deltaTextPairs(spark, out, aSh, aStats, dfA,
      cIds, minJaccard, maxDf)) }
    val surviving = TextDedup.stagedPairs(spark, out)
      .join(cIds.toDF("doc_a"), Seq("doc_a"), "left_anti")
      .join(cIds.toDF("doc_b"), Seq("doc_b"), "left_anti")
      .select("doc_a", "doc_b")
    val (nodes, relabeled) = phase("t_relabel") { relabel(spark,
      TextDedup.stagedClusters(spark, out)
        .toDF("id", "cluster_id", "cluster_size"),
      surviving.toDF("a", "b"), cIds.toDF("id"),
      newPairs.select(col("doc_a").as("a"), col("doc_b").as("b"))) }

    // ---- SPAN surface: the winnowed-fingerprint index rides the
    // identical retract-and-reapply discipline as the shingle side —
    // its own df partials, its own SpanMaxDf crossing set (winnow
    // fingerprints and shingles tokenize differently, so the two
    // reclassification sets are independent), its own delta pair
    // kernel. The crossing bound is the same: a span-df crossing
    // starts-or-ends ≤ SpanMaxDf ROWS, which bounds the affected
    // docs at SpanMaxDf per crossing fingerprint. ----
    val liveSpanIdx = TextDedup.readSpanIndex(spark, out)
    val deltaSpan = phase("t_delta_spans") { ckpt(
      TextDedup.spanIndexFrame(upserts)) }
    val spanDfNet = ckpt(
      if (!haveRetract)
        deltaSpan.groupBy("fp").agg(count(lit(1)).as("net"))
      else
        deltaSpan.groupBy("fp").agg(count(lit(1)).as("dfp"))
          .join(liveSpanIdx.join(retractIds, Seq("doc_id"), "left_semi")
            .groupBy("fp").agg((-count(lit(1))).as("dfn")), Seq("fp"), "full")
          .select(col("fp"),
            (coalesce(col("dfp"), lit(0L)) + coalesce(col("dfn"), lit(0L)))
              .as("net"))
          .filter(col("net") =!= 0L))
    val spanDfBaseTouched = ckpt(
      spark.read.parquet(SpanDf.path(out))
        .join(spanDfNet.select("fp"), Seq("fp"), "left_semi")
        .groupBy("fp").agg(sum(col("df")).as("dfb"))
        .filter(col("dfb") > 0))
    val spanCrossing = ckpt(spanDfNet
      .join(spanDfBaseTouched, Seq("fp"), "left")
      .select(col("fp"), coalesce(col("dfb"), lit(0L)).as("dfb"),
        (coalesce(col("dfb"), lit(0L)) + col("net")).as("dfn2"))
      .filter((col("dfb") <= TextDedup.SpanMaxDf) =!=
        (col("dfn2") <= TextDedup.SpanMaxDf))
      .select("fp"))
    val rSpanIds = ckpt(
      if (spanCrossing.isEmpty) emptyIds(spark, "doc_id")
      else liveSpanIdx.join(spanCrossing, Seq("fp"), "left_semi")
        .select("doc_id").distinct()
        .join(retractIds, Seq("doc_id"), "left_anti")
        .join(upserts.select("doc_id"), Seq("doc_id"), "left_anti"))
    val haveRSpan = !rSpanIds.isEmpty
    val cSpanIds = ckpt(
      if (!haveRSpan) retractIds
      else retractIds.unionByName(rSpanIds).distinct())
    val aSpan =
      if (!haveRSpan) deltaSpan
      else ckpt(deltaSpan.unionByName(
        liveSpanIdx.join(rSpanIds, Seq("doc_id"), "left_semi")
          .select("doc_id", "pos", "fp")))
    val spanDfAStored =
      if (!haveRSpan) spanDfBaseTouched
      else spark.read.parquet(SpanDf.path(out))
        .join(aSpan.select("fp").distinct(), Seq("fp"), "left_semi")
        .groupBy("fp").agg(sum(col("df")).as("dfb"))
        .filter(col("dfb") > 0)
    val spanDfA = ckpt(aSpan.select("fp").distinct()
      .join(spanDfAStored, Seq("fp"), "left")
      .join(spanDfNet, Seq("fp"), "left")
      .select(col("fp"),
        (coalesce(col("dfb"), lit(0L)) + coalesce(col("net"), lit(0L)))
          .as("df_new")))
    val newSpans = phase("t_new_spans") { ckpt(
      deltaSpans(spark, out, aSpan, spanDfA, cSpanIds)) }

    // screening index: per-doc digests and band rows of the upserts
    val deltaDig = ckpt(upserts
      .select(col("doc_id"), md5(col("text")).as("digest")))
    val deltaBands = ckpt(
      TextDedup.bandsOf(TextDedup.minhashSignatures(upserts)))
    // verdict surface: pure per-doc corpus-build inputs of the upserts
    val deltaVerd = ckpt(TextAnalysis.docVerdictsFrame(upserts))

    Some(Some(TextPlan(retractIds, upserts, deltaSh, dfNet, rIds, cIds,
      aStats, newPairs,
      nodes.toDF("doc_id"),
      relabeled.toDF("doc_id", "cluster_id", "cluster_size"),
      deltaSpan, spanDfNet, cSpanIds, newSpans, deltaDig, deltaBands,
      deltaVerd)))
  }

  /** Every span TOUCHING the apply set, exact — the span twin of
    * [[deltaTextPairs]]. `aSpan` holds the apply docs' (doc_id, pos,
    * fp) rows (fresh for upserts, staged for SpanMaxDf-crossing-
    * reclassified docs), `spanDfA` their fingerprints' FINAL dfs,
    * `cSpanIds` the docs whose old span rows are being retracted
    * (excluded from the base side). A new span group shares every one
    * of its fingerprints with an apply doc, and each doc's rows are
    * wholly in one side, so groups assembled from apply × (apply ∪
    * base) joins are COMPLETE — counts, min and max positions equal
    * the full rebuild's. */
  private def deltaSpans(spark: SparkSession, out: String, aSpan: DataFrame,
                         spanDfA: DataFrame, cSpanIds: DataFrame): DataFrame = {
    val haveC = !cSpanIds.isEmpty
    def minusC(df: DataFrame): DataFrame =
      if (haveC) df.join(cSpanIds, Seq("doc_id"), "left_anti") else df
    val baseIdx = minusC(TextDedup.readSpanIndex(spark, out))
    val cappedFps = spanDfA
      .filter(col("df_new") <= TextDedup.SpanMaxDf).select("fp")
    val aCapped = aSpan.join(cappedFps, "fp").select("doc_id", "pos", "fp")
    // base rows restricted to the apply frame's (capped) fingerprint
    // set: any fp shared with an apply doc is in that set, so no new
    // group loses rows; fps outside it cannot join anyway
    val baseCapped = baseIdx.join(cappedFps, "fp")
      .select("doc_id", "pos", "fp")
    def side(df: DataFrame) = df.select(col("fp"),
      struct(col("doc_id").as("d"), col("pos").as("p")).as("s"))
    val cross = side(aCapped).toDF("fp", "x")
      .join(side(baseCapped).toDF("fp", "y"), Seq("fp"))
      .select(
        when(col("x.d") < col("y.d"), col("x")).otherwise(col("y")).as("lo"),
        when(col("x.d") < col("y.d"), col("y")).otherwise(col("x")).as("hi"))
    val within = side(aCapped).toDF("fp", "x")
      .join(side(aCapped).toDF("fp", "y"), Seq("fp"))
      .filter(col("x.d") < col("y.d"))
      .select(col("x").as("lo"), col("y").as("hi"))
    TextDedup.spanGroups(
      cross.unionByName(within)
        .select(col("lo.d").as("doc_a"), col("hi.d").as("doc_b"),
          (col("lo.p") - col("hi.p")).as("offset_delta"),
          col("lo.p").as("pos_a")),
      TextDedup.SpanK, TextDedup.SpanMinRun)
  }

  /** Plan the embedding-side increment (same Option contract). */
  private def planEmb(spark: SparkSession, out: String, layout: String,
                      d: FileDelta, embNLists: Int,
                      phase: Phases): Option[Option[EmbPlan]] = {
    if (d.newEmb.isEmpty && d.chgEmb.isEmpty && d.touchedEmbRel.isEmpty)
      return Some(None)
    val (nLists, nprobe) = VectorOps.readLayoutGeometry(layout)
      .getOrElse(return None) // pre-geometry layout
    if (embNLists > 0 && embNLists != nLists) return None
    val retractIds = ckpt(
      if (d.touchedEmbRel.isEmpty) emptyIds(spark, "vec_id")
      else TextDedup.readVecFiles(spark, out)
        .filter(col("src_file").isin(d.touchedEmbRel: _*))
        .select("vec_id"))
    val upsertFiles = d.newEmb ++ d.chgEmb
    val upserts = ckpt(
      if (upsertFiles.isEmpty)
        spark.range(0).select(col("id").as("vec_id"),
          lit(null).cast("array<float>").as("embedding"),
          lit("").as("src_file"))
      else spark.read.parquet(upsertFiles.map(_.toString): _*)
        .select(col("vec_id"), col("embedding"),
          TextDedup.relFileCol.as("src_file")))
    if (!upserts.groupBy("vec_id").count().filter(col("count") > 1).isEmpty)
      return None
    if (!upserts.select("vec_id")
        .join(TextDedup.readVecFiles(spark, out).select("vec_id"),
          Seq("vec_id"), "left_semi")
        .join(retractIds, Seq("vec_id"), "left_anti").isEmpty)
      return None
    // anchors read from the live layout (no corpus scan): every anchor
    // id sits in its own list with its embedding aboard
    val live = TextDedup.readSurface(spark, out, EmbProbeLayout)
    val liveAnch = live.filter(col("vec_id") < nLists)
      .groupBy("vec_id").agg(first(col("embedding")).as("anchor"))

    // ---- ANCHOR CHURN (round-12; was a full-rebuild guard) ----
    // A changed/deleted/new vector in the anchor range moves the index
    // definition, but only a BOUNDED set of assignments with it. With
    // changed lists C (retracted ∪ upserted anchor ids), the vectors
    // whose top-nprobe can differ under the new anchor frame are
    // EXACTLY:
    //   A1: owners of a stored probe row on some c ∈ C (their ranking
    //       involved a moved/removed anchor), and
    //   A2: vectors where some NEW anchor's sim ≥ their stored
    //       nprobe-th-best sim (the displacement condition; ≥ also
    //       covers the 6dp-tie + smaller-list_id win, making this a
    //       tight superset). Every other vector's stored rows reference
    //       only unchanged anchors that it provably still prefers.
    // Both sets cost LINEAR scans (one layout pass re-scoring stored
    // rows against unchanged anchors, one |C|-anchor broadcast pass),
    // never the full N×nLists re-assignment — the affected vectors
    // then ride the normal retract-and-reapply path (rows + pairs
    // retract via tombstones, re-probe against the new anchors, delta
    // pair kernel, subgraph relabel), so incremental ≡ full rebuild
    // stays exact (DedupMaintenanceSpec pins it per churn shape).
    val anchorChangedIds = ckpt(
      retractIds.filter(col("vec_id") < nLists)
        .unionByName(upserts.filter(col("vec_id") < nLists).select("vec_id"))
        .distinct())
    val anchorChurn = !anchorChangedIds.isEmpty
    val anchors = (
      if (!anchorChurn) liveAnch
      else liveAnch.join(anchorChangedIds, Seq("vec_id"), "left_anti")
        .unionByName(upserts.filter(col("vec_id") < nLists)
          .select(col("vec_id"), col("embedding").as("anchor"))))
      .select(col("vec_id").as("list_id"), col("anchor"))
    val rIdsE = // existing non-delta vectors whose probe set may move
      if (!anchorChurn) emptyIds(spark, "vec_id")
      else phase("e_reanchor") {
        val cLists = anchorChangedIds.toDF("list_id")
        val a1 = live.join(broadcast(cLists), Seq("list_id"), "left_semi")
          .select("vec_id")
        val exclude = a1.unionByName(retractIds)
          .unionByName(upserts.select("vec_id")).distinct()
        val restRows = live.join(exclude, Seq("vec_id"), "left_anti")
        // stored rows of the rest reference only UNCHANGED anchors (a
        // row on a changed list puts its owner in A1), so re-scoring
        // them against the new frame reproduces the stored ranking
        val unchangedAnchors = anchors
          .join(broadcast(cLists), Seq("list_id"), "left_anti")
        val worstStored = restRows
          .join(broadcast(unchangedAnchors), Seq("list_id"))
          .select(col("vec_id"),
            VectorOps.probeSim(col("embedding"), col("anchor")).as("sim"))
          .groupBy("vec_id").agg(min(col("sim")).as("m"))
        val newInC = anchors.join(broadcast(cLists), Seq("list_id"), "left_semi")
        val bestNew = restRows
          .groupBy("vec_id").agg(first(col("embedding")).as("embedding"))
          .join(broadcast(newInC))
          .select(col("vec_id"),
            VectorOps.probeSim(col("embedding"), col("anchor")).as("sim"))
          .groupBy("vec_id").agg(max(col("sim")).as("mx"))
        val a2 = worstStored.join(bestNew, Seq("vec_id"))
          .filter(col("mx") >= col("m")).select("vec_id")
        ckpt(a1.unionByName(a2).distinct()
          .join(retractIds, Seq("vec_id"), "left_anti")
          .join(upserts.select("vec_id"), Seq("vec_id"), "left_anti"))
      }
    val haveReanchor = anchorChurn && !rIdsE.isEmpty
    // the APPLY frame: upserted vectors fresh, re-anchored vectors with
    // their embeddings read back from the layout (never the corpus)
    val applyFrame =
      if (!haveReanchor) upserts.select("vec_id", "embedding")
      else upserts.select("vec_id", "embedding").unionByName(
        live.join(rIdsE, Seq("vec_id"), "left_semi")
          .groupBy("vec_id").agg(first(col("embedding")).as("embedding")))
    val aProbes = phase("e_probes") { ckpt(VectorOps.probeAssignmentsFrom(
      applyFrame, anchors, nprobe)) }
    // cIds = every id whose stored layout rows and pairs retract
    val cIds = ckpt(
      if (!haveReanchor) retractIds
      else retractIds.unionByName(rIdsE).distinct())
    // append-shaped deltas skip the retraction anti-joins (no-ops that
    // would still re-shape the layout and pair scans)
    val haveRetract = !cIds.isEmpty
    val base =
      if (haveRetract) live.join(cIds, Seq("vec_id"), "left_anti")
      else live
    val newPairs = phase("e_new_pairs") { ckpt(VectorOps.pairsBetweenProbes(
      aProbes, base, VectorOps.EmbPairBuildMinCosine)) }
    val surviving =
      if (!haveRetract) TextDedup.stagedEmbPairs(spark, out)
        .select("vec_a", "vec_b")
      else TextDedup.stagedEmbPairs(spark, out)
        .join(cIds.toDF("vec_a"), Seq("vec_a"), "left_anti")
        .join(cIds.toDF("vec_b"), Seq("vec_b"), "left_anti")
        .select("vec_a", "vec_b")
    val (nodes, relabeled) = phase("e_relabel") { relabel(spark,
      TextDedup.stagedEmbClusters(spark, out)
        .toDF("id", "cluster_id", "cluster_size"),
      surviving.toDF("a", "b"), cIds.toDF("id"),
      newPairs.select(col("vec_a").as("a"), col("vec_b").as("b"))) }
    Some(Some(EmbPlan(retractIds, cIds, upserts, aProbes, newPairs,
      nodes.toDF("vec_id"),
      relabeled.toDF("vec_id", "cluster_id", "cluster_size"))))
  }

  /** Every pair TOUCHING the apply set, exact — the CDC generalization
    * of the round-10 append-only kernel. `aSh` holds the apply docs'
    * shingle rows (fresh for upserts, staged for reclassified docs),
    * `dfA` their shingles' FINAL dfs, `cIds` the docs whose old pairs
    * are being retracted (excluded from the base side: their pairs are
    * regenerated through `aSh` or gone). The key observation making
    * this delta-proportional is unchanged: a NEW pair shares ≥1
    * shingle with an apply doc, and a shared shingle is BY DEFINITION
    * in the apply doc's set — so every join against staged state is
    * first restricted to the apply frame's shingle set, and the only
    * corpus-proportional work is the column-pruned scan of the compact
    * staged index feeding that restriction. Base docs outside `cIds`
    * keep their STORED stats — valid because every doc containing a
    * class-crossing shingle was moved into the recompute set. */
  private def deltaTextPairs(spark: SparkSession, out: String,
                             aSh: DataFrame, aStats: DataFrame, dfA: DataFrame,
                             cIds: DataFrame, minJaccard: Double,
                             maxDf: Int): DataFrame = {
    // empty-set skips, same rationale as planText: the anti-joins are
    // no-ops on an append-shaped delta, and the capped-out correction
    // branch scans the staged index again for a set that is usually
    // empty (dfs ≪ maxDf on healthy corpora)
    val haveC = !cIds.isEmpty
    def minusC(df: DataFrame): DataFrame =
      if (haveC) df.join(cIds, Seq("doc_id"), "left_anti") else df
    val baseIdx = minusC(TextDedup.readShingleIndex(spark, out))
    val baseStats = minusC(TextDedup.readDocStats(spark, out))
    val rareShingles = dfA.filter(col("df_new") <= maxDf).select("shingle")
    val rareA = aSh.join(rareShingles, "shingle")
      .join(aStats, "doc_id")
      .select(col("doc_id"), col("shingle"), col("n"),
        (col("n") - col("n_rare")).as("n_common"))
    val rareBase = baseIdx.join(rareShingles, "shingle")
      .join(baseStats, "doc_id")
      .select(col("doc_id"), col("shingle"), col("n"),
        (col("n") - col("n_rare")).as("n_common"))
    // counting join, two branches: apply × base (order-normalized with
    // the per-doc stats riding in structs) and apply × apply (a < b)
    def side(df: DataFrame) = df.select(col("shingle"),
      struct(col("doc_id").as("d"), col("n"), col("n_common").as("c")).as("s"))
    val cross = side(rareA).toDF("shingle", "x")
      .join(side(rareBase).toDF("shingle", "y"), Seq("shingle"))
      .select(
        when(col("x.d") < col("y.d"), col("x")).otherwise(col("y")).as("lo"),
        when(col("x.d") < col("y.d"), col("y")).otherwise(col("x")).as("hi"))
    val within = side(rareA).toDF("shingle", "x")
      .join(side(rareA).toDF("shingle", "y"), Seq("shingle"))
      .filter(col("x.d") < col("y.d"))
      .select(col("x").as("lo"), col("y").as("hi"))
    val counts = cross.unionByName(within)
      .groupBy(col("lo.d").as("doc_a"), col("hi.d").as("doc_b"),
        col("lo.n").as("na"), col("hi.n").as("nb"),
        col("lo.c").as("ca"), col("hi.c").as("cb"))
      .agg(count(lit(1)).as("c_rare"))
    // optimistic bound + exact correction over capped-out shingles —
    // the same two steps as nearDupFromHashed, with `common` likewise
    // restricted to the apply frame's shingle set (a shared common
    // shingle is in the apply doc too)
    val ub = counts
      .withColumn("ub_c", col("c_rare") + least(col("ca"), col("cb")))
      .filter(col("ub_c") * 1.0 / (col("na") + col("nb") - col("ub_c")) >= minJaccard)
    val commonShingles = dfA.filter(col("df_new") > maxDf).select("shingle")
    val corrected =
      if (commonShingles.isEmpty)
        ub.withColumn("c", col("c_rare"))
      else {
        val commonRows = aSh.join(commonShingles, "shingle")
          .unionByName(baseIdx.join(commonShingles, "shingle"))
          .select("doc_id", "shingle")
        val corr = ub.select("doc_a", "doc_b")
          .join(commonRows.toDF("doc_a", "shingle"), Seq("doc_a"))
          .join(commonRows.toDF("doc_b", "shingle"), Seq("doc_b", "shingle"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("c_common"))
        ub.join(corr, Seq("doc_a", "doc_b"), "left")
          .withColumn("c", col("c_rare") + coalesce(col("c_common"), lit(0L)))
      }
    corrected
      .withColumn("jaccard_raw",
        col("c") * 1.0 / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard_raw") >= minJaccard)
      .select(col("doc_a"), col("doc_b"),
        floorRound(col("jaccard_raw"), 4).as("jaccard"))
  }

  /** Re-label exactly the AFFECTED components, by the cheapest exact
    * method the delta's shape allows:
    *
    * RETRACTION-FREE (pure append — `cIds` empty): new edges can only
    * MERGE components, never split them, so the CONTRACTION argument
    * is exact: map each new edge's endpoints through the base labeling
    * (an unlabeled endpoint stays itself), drop the intra-component
    * edges, and run CC on the contracted graph alone — one node per
    * affected component plus the new endpoints, DELTA-sized even when
    * the underlying components are huge. Base labels are the min id of
    * their component, so the contracted CC's min-label is the merged
    * component's true min id. Only the affected components' member
    * rows are rewritten (tombstone + append), never the table. This
    * branch is why an append increment does not pay for graph density:
    * the round-11 sf10 probe measured the subgraph form at ~2× the
    * round-10 wall time on the 2.7M-edge embedding graph (a 1% delta's
    * pairs touch most components, so "affected members ∪ their edges"
    * degenerates to nearly the whole graph), while contraction stays
    * proportional to the delta.
    *
    * WITH RETRACTIONS (updates/deletes — components may SPLIT, which
    * contraction cannot express): CC re-runs on the affected SUBGRAPH
    * — old components touching any changed id or new-pair endpoint,
    * taken whole, plus the new endpoints; edges are the live pairs
    * post-retraction plus the new pairs. The subgraph is CLOSED under
    * live edges (an edge to an outside doc would have put that doc in
    * the same old component), so the subgraph labeling equals a full
    * re-run restricted to it: merges AND splits both exact, at
    * affected-component cost. Retraction deltas touch few components
    * (the changed ids' own), so the density blow-up above does not
    * apply here.
    *
    * Returns (every node to tombstone, the replacement labeling rows)
    * — both eager, both empty when nothing is affected. */
  private def relabel(spark: SparkSession, liveClusters: DataFrame,
                      survivingPairs: DataFrame, cIds: DataFrame,
                      newPairs: DataFrame): (DataFrame, DataFrame) = {
    if (cIds.isEmpty)
      return relabelByContraction(spark, liveClusters, newPairs)
    val touched = cIds
      .unionByName(newPairs.select(col("a").as("id")))
      .unionByName(newPairs.select(col("b").as("id")))
      .distinct()
    val affectedLabels = liveClusters.join(touched, Seq("id"), "left_semi")
      .select("cluster_id").distinct()
    val members = liveClusters
      .join(affectedLabels, Seq("cluster_id"), "left_semi")
      .select("id")
    val nodes = ckpt(members.unionByName(touched).distinct())
    if (nodes.isEmpty)
      return (nodes, ckpt(nodes.select(col("id"),
        col("id").as("cluster_id"), lit(0L).as("cluster_size")).limit(0)))
    val subEdges = survivingPairs
      .join(nodes.toDF("a"), Seq("a"), "left_semi")
      .join(nodes.toDF("b"), Seq("b"), "left_semi")
      .unionByName(newPairs)
    val relabeled = ckpt(
      ConnectedComponents.clusters(spark, subEdges)
        .toDF("id", "cluster_id", "cluster_size"))
    (nodes, relabeled)
  }

  /** The merge-only fast path (see [[relabel]]): CC over the
    * CONTRACTED delta graph, then rewrite only the affected members. */
  private def relabelByContraction(spark: SparkSession,
                                   liveClusters: DataFrame,
                                   newPairs: DataFrame): (DataFrame, DataFrame) = {
    val labels = liveClusters.select(col("id"), col("cluster_id"))
    val contracted = newPairs
      .join(labels.toDF("a", "la0"), Seq("a"), "left")
      .join(labels.toDF("b", "lb0"), Seq("b"), "left")
      .select(coalesce(col("la0"), col("a")).as("la"),
        coalesce(col("lb0"), col("b")).as("lb"))
      .filter(col("la") =!= col("lb"))
    // (affected old label | new id) → merged label, delta-sized
    val remap = ckpt(ConnectedComponents.clusters(spark, contracted)
      .select(col("id").as("node"), col("cluster_id").as("newlab")))
    if (remap.isEmpty) { // every new edge landed inside one component
      val none = ckpt(emptyIds(spark, "id"))
      return (none, ckpt(none.select(col("id"),
        col("id").as("cluster_id"), lit(0L).as("cluster_size")).limit(0)))
    }
    val movedMembers = liveClusters
      .join(remap.withColumnRenamed("node", "cluster_id"), Seq("cluster_id"))
      .select(col("id"), col("newlab"))
    val newMembers = remap
      .join(liveClusters.select(col("id").as("node")), Seq("node"), "left_anti")
      .select(col("node").as("id"), col("newlab"))
    val all = movedMembers.unionByName(newMembers)
    val sizes = all.groupBy("newlab").agg(count(lit(1)).as("cluster_size"))
    val relabeled = ckpt(all.join(sizes, "newlab")
      .select(col("id"), col("newlab").as("cluster_id"), col("cluster_size")))
    (relabeled.select("id"), relabeled)
  }

  /** Fold the merge-on-read state back to a compact gen-0 layout:
    * every surface rewritten live-rows-only, tombstones truncated, the
    * generation reset — the LSM compaction step that bounds read
    * amplification after long increment chains. Identity-preserving by
    * construction (the live views are what it writes); `pending` like
    * an increment, so a crash mid-compaction degrades to a full
    * rebuild, never serves half-swapped tables. The manifest's inputs
    * are untouched — compaction changes the physical layout, not what
    * the artifacts derive from. */
  def compact(spark: SparkSession, out: String): Unit =
    TextDedup.artifactLock(out).synchronized {
      TextDedup.withArtifactFileLock(out) {
        compactLocked(spark, out)
      }
    }

  /** [[compact]]'s body, for callers ALREADY holding the artifact
    * locks (the OS file lock is not reentrant — [[update]]'s
    * auto-compaction would deadlock-or-throw re-acquiring it). */
  private def compactLocked(spark: SparkSession, out: String): Unit = {
    val found = ArtifactManifest.read(out)
      .filter(TextDedup.manifestUsable(_, out, None, TextDedup.artifactSurfaces))
    require(found.nonEmpty, s"no complete artifact set under $out to compact")
    val base = found.get
    ArtifactManifest.commit(out, base.copy(pending = true))
    // every surface becomes its live view at generation 0; tombstones
    // (the first stage) go LAST — each live view above resolves
    // against them — and the layout keeps its _GEOMETRY pin
    for (s <- TextDedup.artifactSurfaces.filter(_ != Tombstones) :+ Tombstones) {
      val geometry =
        if (s.kind == TextDedup.ProbeLayout) VectorOps.readLayoutGeometry(s.path(out))
        else None
      swapIn(out, s,
        if (s == Tombstones) TextDedup.emptyTombstones(spark)
        else TextDedup.readSurface(spark, out, s))
      for ((l, p) <- geometry) VectorOps.writeLayoutGeometry(s.path(out), l, p)
    }
    ArtifactManifest.commit(out,
      base.copy(gen = 0, tombstonesClean = true, pending = false))
    // every table was physically replaced under the same paths —
    // drop any cached listings before a reader sees them
    spark.catalog.refreshByPath(out)
  }

  /** Replace a staged table with a new frame: write beside, delete,
    * rename. NOT atomic — the caller's `pending` manifest covers the
    * window (a crash mid-swap → pending → full rebuild). A direct
    * overwrite would be worse: Spark deletes the target before the
    * (lazy) plan reads it. */
  private def swapIn(out: String, s: Surface, df: DataFrame): Unit = {
    val path = s.path(out)
    val tmp = path + "__new"
    TextDedup.writeSurface(df, s, tmp, 0, "overwrite")
    graft.sources.Layout.deleteRec(new java.io.File(path))
    java.nio.file.Files.move(new java.io.File(tmp).toPath,
      new java.io.File(path).toPath)
  }
}
