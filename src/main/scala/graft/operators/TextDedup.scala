package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import graft.functions.ChFunctions._
import graft.functions.{SimHash64, WinnowSpans}

/** Document deduplication suite over `documents`: exact (digest),
  * exact-similarity (n-gram Jaccard via inverted-index join), and the
  * probabilistic scale path (MinHash + LSH banding), plus SimHash
  * fingerprints.
  *
  * Scale design:
  *  - Exact dedup shuffles 16-byte digests, not documents.
  *  - The Jaccard path explodes word-3-gram shingles and self-joins on
  *    the shingle (an inverted index): exact — it finds every pair with
  *    jaccard > 0 — but the join fan-out is Σ c(s)² over shingle
  *    frequencies, so it's the *verification* tool and the small-scale
  *    oracle-checked truth.
  *  - MinHash+LSH is the 100 TB path: constant-size signatures
  *    (16 hashes → 4 bands), candidates only where a band collides;
  *    cost is linear in docs + collisions, independent of pairwise
  *    similarity structure. Recall vs the exact path is property-tested.
  */
object TextDedup {

  /** Exact dedup via content digest (one row per distinct content with
    * its canonical doc and multiplicity). */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("digest"))
      .agg(min(col("doc_id")).as("canonical_doc_id"), count(lit(1)).as("dup_count"))
      .orderBy("canonical_doc_id")

  /** Per-doc distinct word-3-gram shingle ARRAYS: (doc_id, shs).
    * Distinctness is within a document, so it is a per-row
    * `array_distinct` — no shuffle at all. The right form for
    * consumers that touch the shingle stream ONCE (boilerplate
    * coverage: sf100 warm 190 s → 8 s replacing the exploded
    * `.distinct()` + full-stream join-back). NOT the right form for
    * [[nearDupFrom]], which probes the frame four times: there the
    * `.distinct()` exchange doubles as a materialization every
    * downstream subtree reuses (ReusedExchange), and re-deriving the
    * explode per consumer measured 2.2x SLOWER at sf10 (63.5 s vs
    * 29.5 s) — both shapes measured, each kept where it wins. */
  private[operators] def shingleArrays(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), array_distinct(expr(
        "transform(sequence(1, size(t) - 2), i -> concat_ws(' ', t[i-1], t[i], t[i+1]))"))
        .as("shs"))

  /** Distinct word-3-gram shingles per doc: (doc_id, shingle). The
    * `.distinct()` here IS the per-doc dedup (doc_id, shingle) — and
    * its exchange is the one materialization of the exploded stream
    * that [[nearDupFrom]]'s four consumers reuse; see
    * [[shingleArrays]] for the measured trade. */
  private[operators] def shingles(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 2), i -> concat_ws(' ', t[i-1], t[i], t[i+1]))"))
        .as("shingle"))
      .distinct()

  /** Exact-verify of candidate pairs against FULL shingle sets:
    * intersection count via a (doc, shingle) join on each side, sizes,
    * Jaccard threshold. Shared by the df-capped inverted index and the
    * MinHash+LSH candidate generators — at scale, verification cost is
    * linear in (candidates × shingles of candidate docs), never in
    * corpus pairs. */
  private def verifyJaccard(cand: DataFrame, sh: DataFrame,
                            minJaccard: Double): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.toDF("doc_a", "shingle"), Seq("doc_a"))
      .join(sh.toDF("doc_b", "shingle"), Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("c"))
    inter
      .join(sizes.toDF("doc_a", "na"), Seq("doc_a"))
      .join(sizes.toDF("doc_b", "nb"), Seq("doc_b"))
      .withColumn("jaccard_raw", col("c") * 1.0 / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard_raw") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), floorRound(col("jaccard_raw"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Near-dup pairs: 3-gram Jaccard >= `minJaccard`, candidates from a
    * document-frequency-capped inverted index, verified against full
    * shingle sets.
    *
    * The cap is what makes the inverted-index join survive 100 TB: the
    * join fan-out is Σ df(s)² over shingle frequencies, and one hot
    * boilerplate shingle (df in the millions) is an unbounded
    * quadratic. Dropping shingles with df > maxDf bounds every group at
    * maxDf² while keeping recall: a pair with jaccard >= 0.5 shares
    * many shingles, and with maxDf (100) comfortably above the dup-
    * cluster size, at least one shared shingle is rare. Verification
    * then uses the UNCAPPED sets, so reported jaccard values are exact
    * (capping only candidate generation, like production dedup
    * pipelines). At the test SFs max df < maxDf, so the result is
    * bit-identical to [[nearDupPairsExact]] (asserted in
    * OperatorsSpec).
    */
  /** The near-dup suite's default df cap — ONE definition consumed by
    * every signature default AND the [[nearDupEditDistanceAuto]] route
    * gate (which must mirror [[nearDupPairs]]' default exactly: the
    * endpoint it routes calls nearDupPairs with no maxDf argument, so
    * a retune of the default silently diverging from the gate would
    * serve a staged graph built under the old cap). */
  val DefaultMaxDf = 100
  val DefaultMinJaccard = 0.5

  def nearDupPairs(spark: SparkSession, dir: String, minJaccard: Double = 0.5,
                   maxDf: Int = DefaultMaxDf): DataFrame =
    // no .cache(): identical scan subtrees reuse the shuffle exchange,
    // and a pinned cache would outlive the query in a shared session
    nearDupFrom(shingles(Tables.documents(spark, dir)), minJaccard, maxDf)

  /** The df-capped near-dup pipeline over a given (doc_id, shingle)
    * frame: ONE counting self-join over the capped (rare) inverted
    * index — fan-out bounded at maxDf² per shingle — then an exact
    * intersection correction for the capped-out (common) shingles,
    * computed only for pairs whose OPTIMISTIC jaccard upper bound
    * (every common shingle assumed shared) clears the threshold. The
    * result is the exact jaccard for every emitted pair.
    *
    * Earlier shape, measured and rejected: generate candidate pairs
    * from the capped index, then re-join each candidate against the
    * full shingle sets to count intersections — the candidate set
    * ("shares ≥1 shingle") is quadratically over-generated on a random
    * corpus, and multiplying it by per-doc shingle lists cost 4-7× the
    * single-pass counting join at sf0.1 (10 s vs ~2.5 s).
    *
    * Boundary (documented, inherent to df-capping): a pair whose EVERY
    * shared shingle is capped-out never enters the counting join —
    * that is a boilerplate cluster wider than maxDf, which digest
    * dedup (exact copies) and maxDf tuning handle. At the test SFs
    * max df < maxDf, so the output equals [[nearDupPairsExact]]
    * (asserted). The self-contained query re-derives the shingle frame
    * per consumer; at 100 TB stage it once — see [[stageShingles]] /
    * [[nearDupPairsStaged]]. */
  private[graft] def nearDupFrom(sh0: DataFrame, minJaccard: Double, maxDf: Int): DataFrame =
    // every downstream shuffle keys on the shingle, so hash it to 8
    // bytes at entry: the counting self-join, both df aggregations,
    // and the correction join then exchange fixed-width longs instead
    // of multi-word strings — roughly half the shuffle bytes of the
    // dedup pipeline. xxhash64 (codegen'd, ~free), NOT md5: jaccard
    // depends only on shingle EQUALITY, so the ORACLE keeps joining
    // the strings and still agrees exactly — it does not need to
    // reproduce the hash, and it differentially catches a collision
    // (~n²/2^65, negligible) as a count diff. An md5-low64 variant
    // was measured 20% SLOWER end-to-end at sf0.1: the digest cost is
    // paid once per re-derived scan of the shingle frame and outweighs
    // the narrower exchange on a 32-thread in-memory shuffle.
    nearDupFromHashed(
      sh0.select(col("doc_id"), xxhash64(col("shingle")).as("shingle")),
      None, minJaccard, maxDf)

  /** The same pipeline over an already-HASHED (doc_id, shingle: long)
    * frame — the staged-index entry point ([[writeDedupArtifacts]]
    * stages exactly this frame, and the incremental maintenance path
    * reads it back). `dfTable`, when given, is the staged (shingle,
    * df) document-frequency table: the pipeline then reads the compact
    * staged aggregate instead of re-aggregating the index. */
  private[graft] def nearDupFromHashed(sh: DataFrame, dfTable: Option[DataFrame],
                                       minJaccard: Double, maxDf: Int): DataFrame = {
    // set sizes and document frequencies via groupBy+join, NOT
    // count-over-window: an unbounded window is a full sort of the
    // shingle table per key, while the hash aggregate ships one long
    // per (mapper, key) partial and the join-back reuses the
    // aggregation's exchange — no sort anywhere on the corpus-sized
    // frame (the rare-side counting join below dwarfs either form at
    // test SF; at 100 TB the sort is the difference)
    val dfPerShingle = dfTable
      .map(_.select(col("shingle"), col("df").as("__df")))
      .getOrElse(sh.groupBy("shingle").agg(count(lit(1)).as("__df")))
    val marked = sh.join(dfPerShingle, "shingle")
    val nPerDoc = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val rarePerDoc = marked.filter(col("__df") <= maxDf)
      .groupBy("doc_id").agg(count(lit(1)).as("n_rare"))
    val rare = marked.filter(col("__df") <= maxDf)
      .join(nPerDoc, "doc_id")
      .join(rarePerDoc, "doc_id")
      .select(col("doc_id"), col("shingle"), col("n"),
        (col("n") - col("n_rare")).as("n_common"))
    val a = rare.toDF("doc_a", "shingle", "na", "ca")
    val b = rare.toDF("doc_b", "shingle_b", "nb", "cb")
    val counts = a.join(b,
        col("shingle") === col("shingle_b") && col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"), col("ca"), col("cb"))
      .agg(count(lit(1)).as("c_rare"))
    // optimistic bound: all capped-out shingles of the smaller side
    // intersect; pairs that still miss the threshold are exact misses
    val ub = counts
      .withColumn("ub_c", col("c_rare") + least(col("ca"), col("cb")))
      .filter(col("ub_c") * 1.0 / (col("na") + col("nb") - col("ub_c")) >= minJaccard)
    // exact correction for the surviving few: intersections among
    // capped-out shingles only
    val common = marked.filter(col("__df") > maxDf).select("doc_id", "shingle")
    val corr = ub.select("doc_a", "doc_b")
      .join(common.toDF("doc_a", "shingle"), Seq("doc_a"))
      .join(common.toDF("doc_b", "shingle"), Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("c_common"))
    ub.join(corr, Seq("doc_a", "doc_b"), "left")
      .withColumn("c", col("c_rare") + coalesce(col("c_common"), lit(0L)))
      .withColumn("jaccard_raw", col("c") * 1.0 / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard_raw") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), floorRound(col("jaccard_raw"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Materialize the distinct (doc_id, shingle) inverted index once.
    * At 100 TB this is a staging write the dedup pipeline pays a
    * single time; every consumer (df-cap candidate generation, both
    * verification joins, set sizes) then scans the compact staged
    * parquet instead of re-tokenizing the text corpus — turning the
    * near-dup query's ~8 corpus scans into reads of a table that is a
    * fraction of the corpus size (shingles, no documents). */
  def stageShingles(spark: SparkSession, dir: String, path: String): Unit =
    shingles(Tables.documents(spark, dir))
      .write.mode("overwrite").parquet(path)

  /** [[nearDupPairs]] over a staged shingle table (result-identical to
    * the self-contained form; asserted in OperatorsSpec). */
  def nearDupPairsStaged(spark: SparkSession, stagedPath: String,
                         minJaccard: Double = 0.5, maxDf: Int = DefaultMaxDf): DataFrame =
    nearDupFrom(spark.read.parquet(stagedPath), minJaccard, maxDf)

  /** How a staged surface is keyed — which fixes how it is read live,
    * appended to by an increment and rewritten by compaction. */
  sealed trait SurfaceKind
  /** Rows keyed by one id ([[Surface.id]]): a tombstone on the id kills
    * the rows OLDER than it. */
  case object Keyed extends SurfaceKind
  /** Rows keyed by two ids (the first two served columns): a tombstone
    * on EITHER endpoint kills the rows older than it. */
  case object Pair extends SurfaceKind
  /** (key, df) partials, possibly negative, summed per key at read;
    * no `gen` column, never tombstoned. */
  case object Partials extends SurfaceKind
  /** The `list_id`-partitioned probe layout, keyed like [[Keyed]] and
    * pinned by its `_GEOMETRY` file. */
  case object ProbeLayout extends SurfaceKind
  /** The shared tombstone table itself: (surface, id, gen) rows, read
    * raw. */
  case object TombstoneLog extends SurfaceKind

  /** One staged surface: its directory under the artifact dir, its
    * kind, the id column its tombstones name (for the kinds never
    * tombstoned, the key), and the columns its live reader serves. */
  final case class Surface(name: String, kind: SurfaceKind, id: String,
                           cols: Seq[String]) {
    def path(out: String): String = s"$out/$name"
  }

  val Tombstones = Surface("tombstones", TombstoneLog, "id",
    Seq("surface", "id", "gen"))
  val ShingleIndex = Surface("shingle_index", Keyed, "doc_id",
    Seq("doc_id", "shingle"))
  val ShingleDf = Surface("shingle_df", Partials, "shingle",
    Seq("shingle", "df"))
  val DocStats = Surface("doc_stats", Keyed, "doc_id",
    Seq("doc_id", "n", "n_rare"))
  val DocFiles = Surface("doc_files", Keyed, "doc_id",
    Seq("doc_id", "src_file"))
  val Pairs = Surface("pairs", Pair, "doc_id",
    Seq("doc_a", "doc_b", "jaccard"))
  val Clusters = Surface("clusters", Keyed, "doc_id",
    Seq("doc_id", "cluster_id", "cluster_size"))
  val SpanIndex = Surface("span_index", Keyed, "doc_id",
    Seq("doc_id", "pos", "fp"))
  val SpanDf = Surface("span_df", Partials, "fp", Seq("fp", "df"))
  val Spans = Surface("spans", Pair, "doc_id",
    Seq("doc_a", "doc_b", "offset_delta", "shared_fps",
      "span_start_a", "span_start_b", "span_chars"))
  val DocDigests = Surface("doc_digests", Keyed, "doc_id",
    Seq("doc_id", "digest"))
  val BandIndex = Surface("band_index", Keyed, "doc_id",
    Seq("doc_id", "band", "band_hash"))
  val DocVerdicts = Surface("doc_verdicts", Keyed, "doc_id",
    Seq("doc_id", "lang", "digest", "n_tokens", "stopword_ratio",
      "distinct_ratio", "dup_trigram_frac", "top_unigram_frac"))
  val EmbProbeLayout = Surface("emb_probe_layout", ProbeLayout, "vec_id",
    Seq("vec_id", "embedding", "list_id"))
  val VecFiles = Surface("vec_files", Keyed, "vec_id",
    Seq("vec_id", "src_file"))
  val EmbPairs = Surface("emb_pairs", Pair, "vec_id",
    Seq("vec_a", "vec_b", "cosine"))
  val EmbClusters = Surface("emb_clusters", Keyed, "vec_id",
    Seq("vec_id", "cluster_id", "cluster_size"))

  /** THE table of staged surfaces, in build order — every reader, the
    * build, the increment's writes, compaction and the manifest's
    * completeness read it. `_SUCCESS` is the completeness witness of
    * each (Spark writes it last): a skip is only honored when every
    * surface a caller reads still has one, so a /tmp reaper or manual
    * cleanup that removes staged files can never strand the consumers
    * behind a current manifest. `tombstones` is FIRST: a full rebuild
    * truncates it before any other stage, so the live readers the
    * later stages go through see exactly the raw fresh tables. */
  val artifactSurfaces: Seq[Surface] = Seq(Tombstones, ShingleIndex,
    ShingleDf, DocStats, DocFiles, Pairs, Clusters, SpanIndex, SpanDf,
    Spans, DocDigests, BandIndex, DocVerdicts, EmbProbeLayout, VecFiles,
    EmbPairs, EmbClusters)
  private[operators] def stageComplete(out: String, s: Surface): Boolean =
    new java.io.File(s.path(out), "_SUCCESS").exists()

  /** Staged maintenance state — the v4 MERGE-ON-READ format. Every
    * mutable surface is append-only on disk; row removal is expressed
    * through the shared `tombstones` table and resolved at read:
    *
    *  - every staged row (except the df partials) carries a
    *    `gen` column — the generation (the manifest's `gen`) of the
    *    full build (0) or increment (1, 2, …) that wrote it;
    *  - `tombstones` holds (surface, id, gen) rows: a tombstone kills
    *    every row of `surface` whose id matches and whose row-gen is
    *    OLDER than the tombstone's — so a retract-then-reapply inside
    *    one increment (tombstone at gen g, re-append at gen g) leaves
    *    exactly the new rows live. Pair surfaces apply the rule to
    *    EITHER endpoint. This is what turns an UPDATE or DELETE into
    *    two delta-sized appends instead of a corpus-sized rewrite —
    *    the same LSM discipline as the reference's ReplacingMergeTree
    *    (latest version wins at read; compaction reclaims later);
    *  - the df partials (shingle and span fingerprint) are possibly
    *    NEGATIVE: the full build writes base counts, an increment
    *    appends the delta's counts and the retracted docs' counts
    *    negated, and readers sum per key (net-zero keys drop out, so
    *    the summed view equals a fresh rebuild's);
    *  - the doc/vec file maps record each live id's input file — how
    *    [[DedupMaintenance]] resolves a modified/removed input file to
    *    the exact ids to retract (copy-on-write file semantics, the
    *    lakehouse update shape).
    *
    * [[DedupMaintenance.compact]] folds tombstones into a fresh gen-0
    * rewrite when the dead fraction warrants it. */
  private[graft] def readSurface(spark: SparkSession, out: String,
                                 s: Surface): DataFrame = {
    val raw = spark.read.parquet(s.path(out))
    s.kind match {
      case TombstoneLog => raw
      case Partials =>
        val Seq(key, df) = s.cols
        raw.groupBy(key).agg(sum(col(df)).as(df)).filter(col(df) > 0)
      case Keyed | Pair | ProbeLayout =>
        // a tombstone on any endpoint kills the rows older than it (for a
        // pair: retracting a doc retracts its whole pair neighborhood;
        // surviving neighborhoods are re-derived by the increment that
        // wrote the tombstone)
        val ends = if (s.kind == Pair) s.cols.take(2) else Seq(s.id)
        val tgs = ends.indices.map(i => s"__tg$i")
        val live = tombstoneMax(spark, out, s).fold(raw) { tg =>
          ends.zip(tgs).foldLeft(raw) { case (df, (end, tgCol)) =>
            df.join(tombstoneSide(out, tg.toDF(end, tgCol)), Seq(end), "left")
          }.filter(tgs.map(t => col(t).isNull || col("gen") >= col(t))
              .reduce(_ && _))
            .drop(tgs: _*)
        }
        // the layout's partition column comes back directory-inferred
        // as int
        live.select(s.cols.map(c =>
          if (c == "list_id") col(c).cast("long").as(c) else col(c)): _*)
    }
  }

  /** Write `df` as surface `s` at `path` (its own directory, or a
    * compaction's swap-in copy): every kind that carries a row
    * generation is stamped `gen`, and the probe layout is partitioned
    * by list. */
  private[operators] def writeSurface(df: DataFrame, s: Surface, path: String,
                                      gen: Int, mode: String): Unit = {
    val stamped = s.kind match {
      case Partials | TombstoneLog => df
      case _ => df.withColumn("gen", lit(gen))
    }
    val w = stamped.write.mode(mode)
    (if (s.kind == ProbeLayout) w.partitionBy("list_id") else w).parquet(path)
  }

  def readShingleIndex(spark: SparkSession, out: String): DataFrame =
    readSurface(spark, out, ShingleIndex)
  def readShingleDf(spark: SparkSession, out: String): DataFrame =
    readSurface(spark, out, ShingleDf)
  def readDocStats(spark: SparkSession, out: String): DataFrame =
    readSurface(spark, out, DocStats)
  private[graft] def readDocFiles(spark: SparkSession, out: String): DataFrame =
    readSurface(spark, out, DocFiles)
  private[graft] def readVecFiles(spark: SparkSession, out: String): DataFrame =
    readSurface(spark, out, VecFiles)
  private[graft] def readSpanIndex(spark: SparkSession, out: String): DataFrame =
    readSurface(spark, out, SpanIndex)
  private[graft] def readSpanDf(spark: SparkSession, out: String): DataFrame =
    readSurface(spark, out, SpanDf)
  private[graft] def readDocDigests(spark: SparkSession, out: String): DataFrame =
    readSurface(spark, out, DocDigests)
  private[graft] def readBandIndex(spark: SparkSession, out: String): DataFrame =
    readSurface(spark, out, BandIndex)
  private[graft] def readDocVerdicts(spark: SparkSession, out: String): DataFrame =
    readSurface(spark, out, DocVerdicts)

  /** Raw on-disk bytes of the tombstones table — the broadcast guard's
    * input. An overestimate of the grouped max-gen frame (raw rows ≥
    * grouped rows), so staying under the threshold is always safe. */
  private[graft] def tombstoneRawBytes(out: String): Long =
    surfaceDataBytes(out, Tombstones)

  /** Raw data bytes of one staged surface (recursive — the probe
    * layout nests list_id=… dirs), commit files excluded. */
  private[graft] def surfaceDataBytes(out: String, s: Surface): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      else if (f.getName.startsWith("_") || f.getName.startsWith(".")) 0L
      else f.length
    walk(new java.io.File(s.path(out)))
  }

  /** Past this many raw tombstone bytes the resolve join stops forcing
    * a broadcast (driver/broadcast-ceiling safety on long increment
    * chains) and lets the planner pick — AQE typically still
    * broadcasts far above this, but the HINT must not insist. */
  private val tombstoneBroadcastBytes: Long = 256L << 20

  /** Max tombstone gen per id for one surface, or None when the
    * surface has no tombstones at all (the common serving state —
    * fresh build, or just compacted): callers then keep the RAW scan,
    * so the zero-tombstone plan is byte-identical to pre-v4 (dynamic
    * partition pruning on the probe layout included). When the
    * manifest says `tombstones_clean` even the emptiness-probe job is
    * skipped: that job is tiny, but it ran per surface per query in
    * the zero-tombstone serving state, a measurable read tax on the
    * dedup endpoint family. */
  private def tombstoneMax(spark: SparkSession, out: String,
                           s: Surface): Option[DataFrame] = {
    if (ArtifactManifest.read(out).exists(_.tombstonesClean)) return None
    val t = spark.read.parquet(Tombstones.path(out))
      .filter(col("surface") === s.name)
    if (t.isEmpty) None
    else Some(t.groupBy("id").agg(max(col("gen")).as("__tg")))
  }

  /** The resolve join's small side, broadcast-hinted only while the
    * table is comfortably inside the driver's comfort zone. */
  private def tombstoneSide(out: String, tg: DataFrame): DataFrame =
    if (tombstoneRawBytes(out) <= tombstoneBroadcastBytes) broadcast(tg)
    else tg

  /** The empty tombstones frame (schema anchor for the table). */
  private[operators] def emptyTombstones(spark: SparkSession): DataFrame =
    spark.range(0).select(lit("").as("surface"), col("id"),
      lit(0).cast("int").as("gen"))

  /** dir-relative source file of the scanned row — the column
    * [[DedupMaintenance]] joins against the manifest's file diff.
    * The rel path starts at the table directory name, matching
    * [[inputFiles]]' entries exactly. */
  private[operators] def relFileCol: Column =
    regexp_extract(input_file_name(),
      "/((?:documents|embeddings)\\.parquet(?:/.*)?)$", 1)

  /** True when the staged artifact set under `out` is CURRENT for the
    * inputs in `dir` — the build's own skip test, exposed as the
    * READ-side routing predicate: a registered query may serve from the
    * artifact exactly when this holds (else it falls back to the
    * self-contained form — same result, just without the staged
    * speedup). The manifest must be [[manifestUsable]] for `params` and
    * `stages`, be complete, and list exactly the current input files.
    *
    * `params = None` judges the PARAM-FREE segment: the span tables,
    * the screening index (digests + bands) and the verdict surface do
    * not depend on minJaccard/maxDf, so a set built under ANY params
    * serves them. `stages` names the surfaces the route reads, so a
    * route never demands stages it doesn't touch. */
  def artifactsCurrent(dir: String, out: String,
                       params: Option[(Double, Int)] =
                         Some((DefaultMinJaccard, DefaultMaxDf)),
                       stages: Seq[Surface] = artifactSurfaces): Boolean =
    ArtifactManifest.read(out).exists(manifestCurrent(_, dir, out, params, stages))

  /** [[artifactsCurrent]] judged on a manifest the caller already read,
    * so one snapshot answers every question it asks of the set. */
  private[graft] def manifestCurrent(m: ArtifactManifest.Manifest, dir: String,
                                     out: String, params: Option[(Double, Int)],
                                     stages: Seq[Surface] = artifactSurfaces): Boolean =
    manifestUsable(m, out, params, stages) && m.complete &&
      m.inputs == inputFiles(dir)

  /** The one test of whether a manifest describes a set its caller may
    * use — the reads' currency, the increment's base, the build's
    * resume point and compaction all start from it: nothing `pending`
    * (a crashed increment or compaction may have left partial writes),
    * built under the current span constants and, when given, the
    * staging `params`, and each of `stages` listed AND still holding
    * its `_SUCCESS` (a reaper may have deleted staged files). */
  private[operators] def manifestUsable(m: ArtifactManifest.Manifest, out: String,
                                        params: Option[(Double, Int)],
                                        stages: Seq[Surface]): Boolean =
    !m.pending && m.spans == spanConstants && params.forall(_ == m.params) &&
      stages.forall(s => m.stages(s.name) && stageComplete(out, s))

  /** True when a REQUESTED embedding geometry is compatible with the
    * staged layout: `embNLists <= 0` means "whatever the build derived"
    * (always compatible — with matching input files the sqrt schedule
    * re-derives the same value); an explicit count must equal the
    * persisted `_GEOMETRY`. Checked on every skip path — embNLists is
    * deliberately NOT part of the manifest (0 and the
    * explicitly-matching value must both skip), so without this check a
    * rebuild request under a DIFFERENT explicit geometry would return
    * "skip" and silently serve a layout built under another anchor set
    * (round-11 advisory). */
  private[operators] def stagedGeometryOk(out: String, embNLists: Int): Boolean =
    embNLists <= 0 ||
      VectorOps.readLayoutGeometry(EmbProbeLayout.path(out))
        .exists(_._1 == embNLists.toLong)

  /** Write the dedup PAIR-GRAPH artifacts once — the corpus-build
    * analogue of [[VectorOps.writeIvfLayout]], and the same
    * architectural move as the reference's materialized views
    * (kits/users/pg/pipes/users_mv.pipe:19-20: precompute at ingest,
    * serve from the precomputed table). Six registered consumers
    * (clusters, pagerank, canonical pick, split-leakage audit, corpus
    * build, embedding clusters) each need the near-dup candidate
    * pipeline; self-contained they re-derive it per query — correct,
    * but at 100 TB that is the single most expensive stage run six
    * times. This stages it ONCE, one directory per entry of
    * [[artifactSurfaces]]: the text near-dup graph and its clusters,
    * the multi-probe IVF layout (partitioned by list), the embedding
    * graph derived FROM the staged layout and its clusters, plus the
    * maintenance, span, screening and verdict surfaces.
    *
    * Clusters are computed FROM the just-staged pair parquet (read
    * back, not the in-memory plan), so the CC iteration's edge scan
    * is the compact artifact — and a restart resumes from the staged
    * pairs without re-shingling the corpus. Every `*Staged` consumer
    * is asserted result-identical to its self-contained form in
    * DedupArtifactsSpec.
    *
    * Skippable, regen-proof and resumable through the set's
    * [[ArtifactManifest]]: a complete manifest whose params and input
    * files (relpath/size/mtime of the docs+embeddings parquet) match
    * means the artifacts derive from exactly these bytes, and the
    * build is skipped (returns false). Otherwise the build first
    * commits a manifest listing only the stages it keeps, then one
    * commit per finished stage (the last makes it complete) — so a
    * crash at any point leaves a manifest that never claims more than
    * landed. A crash after the pair graph landed restarts at
    * clustering, not at re-shingling (asserted in DedupArtifactsSpec).
    * A JVM-wide per-dir monitor serializes concurrent invocations (the
    * HTTP pool can run two at once; without it one request's overwrite
    * deletes parquet footers out from under the other's read).
    *
    * @return true when the artifacts were (re)built, false when they
    *         were current and the build was skipped. */
  def writeDedupArtifacts(spark: SparkSession, dir: String, out: String,
                          minJaccard: Double = DefaultMinJaccard,
                          maxDf: Int = DefaultMaxDf,
                          embNLists: Int = 0): Boolean =
    artifactLock(out).synchronized { withArtifactFileLock(out) {
      // the inputs may have been rewritten in place (copy-on-write
      // updates); a stale shared FileStatusCache entry would hand the
      // scan a pre-rewrite file length
      spark.catalog.refreshByPath(dir)
      buildLocked(spark, dir, out, minJaccard, maxDf, embNLists)
    } }

  /** The build body WITHOUT the locks — callable from a context that
    * already holds them ([[DedupMaintenance.update]] falls back to a
    * full rebuild inside its own lock scope; re-taking the OS file
    * lock from the same JVM would throw OverlappingFileLockException). */
  private[operators] def buildLocked(spark: SparkSession, dir: String, out: String,
                                     minJaccard: Double, maxDf: Int,
                                     embNLists: Int): Boolean = {
      if (artifactsCurrent(dir, out, Some((minJaccard, maxDf))) &&
          stagedGeometryOk(out, embNLists)) false
      else {
        val inputs = inputFiles(dir)
        val prev = ArtifactManifest.read(out)
        // Per-stage resume: a build killed mid-way — disk-full, spot
        // preemption — restarts at the first stage the manifest does
        // not list, so the corpus is never re-shingled for a crash in a
        // later stage, and the per-ATTEMPT disk peak is one stage's
        // spill, not the whole build's. Only a generation-0 manifest of
        // the same params and inputs, with nothing pending, lists stages
        // a rebuild may keep: an increment's partial appends or live
        // tombstones would otherwise survive into the "fresh" set, and
        // a different explicit geometry must restage every surface. A
        // listed stage whose `_SUCCESS` is gone (manual delete) reruns.
        val kept = prev.filter(m => m.gen == 0 &&
            manifestUsable(m, out, Some((minJaccard, maxDf)), Seq.empty) &&
            m.inputs == inputs && stagedGeometryOk(out, embNLists))
          .fold(Set.empty[String])(m => artifactSurfaces
            .filter(s => m.stages(s.name) && stageComplete(out, s))
            .map(_.name).toSet)
        var m = ArtifactManifest.Manifest(minJaccard, maxDf, spanConstants,
          inputs, kept, gen = 0,
          tombstonesClean = kept(Tombstones.name), pending = false,
          lastUpdate = prev.flatMap(_.lastUpdate))
        ArtifactManifest.commit(out, m)
        // Shuffle files of a finished stage live until the driver GCs
        // the ShuffleDependency (ContextCleaner); inside one long
        // multi-artifact build nothing triggers that GC, so transient
        // disk peaks at the SUM of every stage's spill instead of the
        // max — the sf100 build filled the sandbox disk exactly this
        // way (each artifact is parquet-materialized, so no exchange
        // is reusable across these boundaries anyway; on a cluster
        // this is executor shuffle-dir pressure, same failure mode).
        def reclaimShuffles(): Unit = { System.gc(); Thread.sleep(100) }
        def stage(s: Surface)(body: => Unit): Unit =
          if (!m.stages(s.name)) {
            body
            m = m.copy(stages = m.stages + s.name)
            ArtifactManifest.commit(out, m)
            reclaimShuffles()
          }
        // the common stage: `frame` lands as the surface at generation 0
        def stageFrame(s: Surface)(frame: => DataFrame): Unit =
          stage(s)(writeSurface(frame, s, s.path(out), 0, "overwrite"))
        // tombstones FIRST: a rebuild starts from an empty tombstone
        // set, so every later stage's live read is exactly its raw
        // fresh table
        stage(Tombstones) {
          writeSurface(emptyTombstones(spark), Tombstones, Tombstones.path(out),
            0, "overwrite")
          m = m.copy(tombstonesClean = true)
        }
        // maintenance state next — the pair stage then consumes the
        // staged index instead of re-tokenizing the corpus, and every
        // increment appends to these instead of rebuilding
        stageFrame(ShingleIndex) {
          shingles(graft.Tables.documents(spark, dir))
            .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
        }
        stageFrame(ShingleDf) {
          readShingleIndex(spark, out)
            .groupBy("shingle").agg(count(lit(1)).as("df"))
        }
        stageFrame(DocStats) {
          val idx = readShingleIndex(spark, out)
          idx.join(readShingleDf(spark, out), "shingle")
            .groupBy("doc_id")
            .agg(count(lit(1)).as("n"),
              sum(when(col("df") <= maxDf, 1L).otherwise(0L)).as("n_rare"))
        }
        stageFrame(DocFiles) {
          graft.Tables.documents(spark, dir)
            .select(col("doc_id"), relFileCol.as("src_file"))
        }
        stageFrame(Pairs) {
          nearDupFromHashed(readShingleIndex(spark, out),
              Some(readShingleDf(spark, out)), minJaccard, maxDf)
        }
        stageFrame(Clusters) {
          ConnectedComponents.clusters(spark,
              stagedPairs(spark, out).select("doc_a", "doc_b"))
            .toDF("doc_id", "cluster_id", "cluster_size")
        }
        // the winnowed-fingerprint SPAN surface (round-13): the same
        // stage discipline as the shingle side — a per-doc fingerprint
        // index (maintenance state), its summed-on-read df partials,
        // and the materialized pair-span table the four span consumers
        // (substring spans, span doc stats, dedup rewrite, corpus v2)
        // then serve as a parquet read instead of re-winnowing the
        // corpus per call (~183 s of the round-12 sf100 tail)
        stageFrame(SpanIndex) {
          spanIndexFrame(graft.Tables.documents(spark, dir))
        }
        stageFrame(SpanDf) {
          readSpanIndex(spark, out)
            .groupBy("fp").agg(count(lit(1)).as("df"))
        }
        stageFrame(Spans) {
          spansFromIndex(readSpanIndex(spark, out), readSpanDf(spark, out),
              SpanK, SpanMinRun, SpanMaxDf)
        }
        // the SCREENING index (round-13): content digests + MinHash
        // band buckets — the persisted index the incremental-screening
        // endpoint and the streaming screen MV probe. Both are pure
        // per-doc functions (no cross-doc coupling like dfs), so
        // maintenance is plain retract-and-reapply.
        stageFrame(DocDigests) {
          graft.Tables.documents(spark, dir)
            .select(col("doc_id"), md5(col("text")).as("digest"))
        }
        stageFrame(BandIndex) {
          bandsOf(minhashSignatures(graft.Tables.documents(spark, dir)))
        }
        // the per-doc VERDICT surface (round-14): digest, token count,
        // stopword quality, repetition metrics — everything the two
        // training-corpus builds read from text, staged once so the
        // registered corpus endpoints run corpus-scan-free. Pure
        // per-doc functions → plain retract-and-reapply maintenance.
        // NOTE stage-set EXTENSION: adding a stage does not change the
        // manifest's params or inputs, so a generation-0 set staged
        // before this surface existed extends IN PLACE — every listed
        // stage skips; only this stage runs. At
        // 100 TB that is the difference between one verdict pass and
        // re-shingling the corpus because the format grew a column.
        stageFrame(DocVerdicts) {
          graft.operators.TextAnalysis
            .docVerdictsFrame(graft.Tables.documents(spark, dir))
        }
        // the embedding pair graph derives FROM the just-staged probe
        // layout (read back, not the in-memory plan) — the corpus-sized
        // anchor assignment runs exactly once per staging, and every
        // later consumer (pairs endpoint, increment screen, clusters)
        // reads the partitioned layout instead of recomputing it
        stage(EmbProbeLayout) {
          VectorOps.writeNearDupLayout(spark, dir, EmbProbeLayout.path(out),
            nLists = embNLists, withGen = true)
        }
        stageFrame(VecFiles) {
          graft.Tables.embeddings(spark, dir)
            .select(col("vec_id"), relFileCol.as("src_file"))
        }
        stageFrame(EmbPairs) {
          VectorOps.nearDupPairsOverLayout(spark, EmbProbeLayout.path(out))
        }
        stageFrame(EmbClusters) {
          ConnectedComponents.clusters(spark,
              stagedEmbPairs(spark, out).select("vec_a", "vec_b"))
            .toDF("vec_id", "cluster_id", "cluster_size")
        }
        true
      }
  }

  // one monitor per canonical artifact path — writers serialize, the
  // map itself never grows past the handful of artifact dirs in a JVM
  private val artifactLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[operators] def artifactLock(out: String): Object =
    artifactLocks.computeIfAbsent(
      new java.io.File(out).getAbsolutePath, _ => new Object)

  /** Cross-PROCESS build serialization: the JVM monitor above only
    * serializes threads within one JVM, but the artifact dir is a
    * machine-shared path — an ApiServer JVM and a Bench/Verify JVM can
    * otherwise both see "not current" and overwrite each other's parquet
    * mid-build. A blocking OS file lock on a sibling `<out>.lock`
    * (sibling, so a rebuild can never delete its own lock file) makes
    * the second process wait, then observe the first build's
    * manifest and skip. Always taken AFTER the JVM monitor —
    * overlapping `FileChannel.lock` calls from one JVM would throw
    * OverlappingFileLockException, and the monitor guarantees only one
    * thread per JVM reaches it. */
  private[operators] def withArtifactFileLock[A](out: String)(body: => A): A = {
    import java.nio.file.StandardOpenOption.{CREATE, WRITE}
    val lockPath = new java.io.File(out + ".lock").toPath
    Option(lockPath.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val ch = java.nio.channels.FileChannel.open(lockPath, CREATE, WRITE)
    try {
      val fl = ch.lock()
      try body finally fl.release()
    } finally ch.close()
  }

  /** Input identity for the artifact build: every DATA file backing
    * the documents and embeddings tables (a `.parquet` may be a single
    * file or a Spark-written directory) as dir-RELATIVE
    * relpath/size/mtime triples — mtimes because the harness can
    * rewrite a table in place at the same size. Relative, so
    * [[DedupMaintenance.update]] can diff the manifest's stored list
    * against the current one and classify every file as unchanged /
    * NEW (an append) / MODIFIED or REMOVED (a copy-on-write update or
    * delete of the docs it carried — resolved to ids through the
    * staged `doc_files`/`vec_files` maps). Commit-machinery files
    * (`_SUCCESS`, dotfiles) are excluded: a Spark append rewrites
    * `_SUCCESS`, and counting it would misclassify a pure append as a
    * modification. */
  private[graft] def inputFiles(dir: String): Seq[ArtifactManifest.InputFile] = {
    def entries(prefix: String, p: java.io.File): Seq[ArtifactManifest.InputFile] =
      if (p.isDirectory)
        Option(p.listFiles).getOrElse(Array.empty[java.io.File])
          .sortBy(_.getName).toSeq
          .flatMap(c => entries(s"$prefix${p.getName}/", c))
      else if (p.getName.startsWith("_") || p.getName.startsWith(".")) Seq.empty
      else Seq(ArtifactManifest.InputFile(prefix + p.getName, p.length,
        p.lastModified))
    Seq("documents.parquet", "embeddings.parquet")
      .map(t => new java.io.File(dir, t))
      .flatMap(t => entries("", t))
  }

  /** The span constants the staged span surfaces are built under. */
  private[operators] def spanConstants: String =
    s"$SpanK/$SpanW/$SpanMinRun/$SpanMaxDf"

  def stagedPairs(spark: SparkSession, art: String): DataFrame =
    readSurface(spark, art, Pairs)
  def stagedClusters(spark: SparkSession, art: String): DataFrame =
    readSurface(spark, art, Clusters)
  /** Tombstone-resolved view of the staged span table — column-for-
    * column the output schema of [[substringSpans]] (modulo the
    * presentation sort). */
  def stagedSpans(spark: SparkSession, art: String): DataFrame =
    readSurface(spark, art, Spans)
  private[graft] def stagedEmbPairs(spark: SparkSession, art: String): DataFrame =
    readSurface(spark, art, EmbPairs)
  private[graft] def stagedEmbClusters(spark: SparkSession, art: String): DataFrame =
    readSurface(spark, art, EmbClusters)

  /** [[dupClusters]] served from the staged artifact — a presentation
    * sort over a parquet read; the iteration already ran at stage time. */
  def dupClustersStaged(spark: SparkSession, art: String): DataFrame =
    stagedClusters(spark, art).orderBy("cluster_id", "doc_id")

  /** [[dupGraphPagerank]] over the staged pair graph. */
  def dupGraphPagerankStaged(spark: SparkSession, art: String,
                             iters: Int = 3): DataFrame =
    ConnectedComponents.pagerank(spark,
      stagedPairs(spark, art).select("doc_a", "doc_b"), iters)

  /** [[canonicalSelect]] over staged clusters. */
  def canonicalSelectStaged(spark: SparkSession, dir: String,
                            art: String): DataFrame =
    canonicalFrom(spark, dir, stagedClusters(spark, art))

  /** [[splitLeakageAudit]] over staged pairs. */
  def splitLeakageStaged(spark: SparkSession, dir: String,
                         art: String): DataFrame =
    splitLeakageFrom(spark, dir, stagedPairs(spark, art))

  /** Auto-routed [[dupClusters]]: serves the STAGED clusters when the
    * artifact set is current for `dir` (a presentation sort over a
    * parquet read — the CC iteration already ran at stage time), else
    * computes the self-contained form. Result-identical either way
    * (DedupArtifactsSpec asserts staged ≡ self-contained, and the
    * route choice is asserted on the plan's input files) — the same
    * treatment [[VectorOps.nearDupPairsAuto]] gives the embedding
    * twin, extended to the four text-side consumers whose recompute
    * was the most expensive hot path in every bench (and the plan
    * whose shuffle spill ended the round-11 sf100 sweep).
    *
    * Param gates: `minJaccard`/`maxDf` route through
    * [[artifactsCurrent]]'s params — an artifact built under
    * different staging params never serves. `maxRounds` must be the
    * build-time default: the staged clusters were converged under it,
    * and a caller asking for FEWER rounds wants the (possibly
    * unconverged) self-contained semantics, not a converged cache. */
  def dupClustersAuto(spark: SparkSession, dir: String, art: String,
                      minJaccard: Double = 0.5, maxDf: Int = DefaultMaxDf,
                      maxRounds: Int = 64): DataFrame =
    if (maxRounds == 64 && artifactsCurrent(dir, art, Some((minJaccard, maxDf))))
      dupClustersStaged(spark, art)
    else dupClusters(spark, dir, maxRounds)

  /** Auto-routed [[dupGraphPagerank]]: the pair GRAPH comes from the
    * staged artifact when current; the rank iteration itself always
    * runs (it is iteration-count-parameterized and cheap relative to
    * rebuilding the graph), so `iters` does not gate the route. */
  def dupGraphPagerankAuto(spark: SparkSession, dir: String, art: String,
                           iters: Int = 3, minJaccard: Double = 0.5,
                           maxDf: Int = DefaultMaxDf): DataFrame =
    if (artifactsCurrent(dir, art, Some((minJaccard, maxDf))))
      dupGraphPagerankStaged(spark, art, iters)
    else dupGraphPagerank(spark, dir, iters)

  /** Auto-routed [[canonicalSelect]]: staged clusters when current
    * (the only corpus touch left is the quality projection), else the
    * self-contained pipeline. */
  def canonicalSelectAuto(spark: SparkSession, dir: String, art: String,
                          maxRounds: Int = 64): DataFrame =
    if (maxRounds == 64 && artifactsCurrent(dir, art))
      canonicalSelectStaged(spark, dir, art)
    else canonicalSelect(spark, dir, maxRounds)

  /** Auto-routed [[splitLeakageAudit]]: staged pairs when current,
    * else the self-contained pipeline. */
  def splitLeakageAuto(spark: SparkSession, dir: String, art: String,
                       minJaccard: Double = 0.5, maxDf: Int = DefaultMaxDf): DataFrame =
    if (artifactsCurrent(dir, art, Some((minJaccard, maxDf))))
      splitLeakageStaged(spark, dir, art)
    else splitLeakageAudit(spark, dir, minJaccard, maxDf)

  /** Auto-routed [[nearDupPairs]]: the staged pair table IS this
    * query's output (the artifact build runs the identical pipeline
    * and stores its result), so a current artifact serves it as a
    * presentation sort over a parquet read — the text twin of
    * [[VectorOps.nearDupPairsAuto]], which has routed the embedding
    * endpoint since round 11. minJaccard/maxDf gate through the
    * manifest like every text route. */
  def nearDupPairsAuto(spark: SparkSession, dir: String, art: String,
                       minJaccard: Double = 0.5, maxDf: Int = DefaultMaxDf): DataFrame =
    if (artifactsCurrent(dir, art, Some((minJaccard, maxDf))))
      stagedPairs(spark, art).orderBy("doc_a", "doc_b")
    else nearDupPairs(spark, dir, minJaccard, maxDf)

  /** Auto-routed [[nearDupEditDistance]]: the pair frame comes from
    * the staged graph when current (the levenshtein kernel itself
    * always runs — it is the query's own semantics, pair-bounded and
    * cheap relative to rebuilding the pair graph), else the
    * self-contained pipeline. The endpoint calls [[nearDupPairs]]
    * under the DEFAULT maxDf, so the route gates on it too. */
  def nearDupEditDistanceAuto(spark: SparkSession, dir: String, art: String,
                              minJaccard: Double = 0.5): DataFrame =
    if (artifactsCurrent(dir, art, Some((minJaccard, DefaultMaxDf))))
      nearDupEditDistanceFrom(spark, dir, stagedPairs(spark, art))
    else nearDupEditDistance(spark, dir, minJaccard)

  /** Auto-routed [[substringSpans]]: the staged span table IS this
    * query's output (the artifact build runs the identical winnow →
    * df-cap → fingerprint-join pipeline and stores its result), so a
    * current artifact serves it as a presentation sort over a parquet
    * read. The route gates on the build-time span params — a caller
    * asking for a different k/w/minRun/maxDf wants a pipeline the
    * staged table was not built under, and falls back. The artifact
    * gate is the param-free [[artifactsCurrent]]: the span tables
    * don't depend on the minJaccard/maxDf STAGING params, so a set
    * built under non-default ones serves spans all the same. */
  def substringSpansAuto(spark: SparkSession, dir: String, art: String,
                         k: Int = SpanK, w: Int = SpanW,
                         minRun: Int = SpanMinRun,
                         maxDf: Int = SpanMaxDf): DataFrame =
    if (k == SpanK && w == SpanW && minRun == SpanMinRun &&
        maxDf == SpanMaxDf &&
        artifactsCurrent(dir, art, None, Seq(Tombstones, Spans)))
      stagedSpans(spark, art).orderBy("doc_a", "doc_b", "offset_delta")
    else substringSpans(spark, dir, k, w, minRun, maxDf)

  /** Auto-routed [[spanDocStats]]: the span frame comes from the
    * staged table when current; the per-doc rollup itself always runs
    * (it is parameterized by `longSpanChars` and tiny relative to the
    * span pipeline, so the threshold does not gate the route). */
  def spanDocStatsAuto(spark: SparkSession, dir: String, art: String,
                       longSpanChars: Int = 40): DataFrame =
    if (artifactsCurrent(dir, art, None, Seq(Tombstones, Spans)))
      spanDocStatsFrom(stagedSpans(spark, art), longSpanChars)
        .orderBy("doc_id")
    else spanDocStats(spark, dir, longSpanChars)

  /** Auto-routed [[dedupRewrite]] — same contract: staged span frame
    * when current, always-run surgery tail. */
  def dedupRewriteAuto(spark: SparkSession, dir: String, art: String,
                       longSpanChars: Int = 40): DataFrame =
    if (artifactsCurrent(dir, art, None, Seq(Tombstones, Spans)))
      dedupRewriteFrom(spark, dir, stagedSpans(spark, art), longSpanChars)
    else dedupRewrite(spark, dir, longSpanChars)

  /** Per-cluster summary OVER the staged artifacts — the registered
    * face of the staged topology (the one query that both writes and
    * consumes the artifact, so the driver's oracle gate covers the
    * whole staged path): for every duplicate cluster, its size, the
    * quality-argmax canonical member ([[canonicalFrom]] semantics) and
    * the pagerank hub (highest rank_units, doc_id tiebreak) — the two
    * competing keep-this-one signals side by side. All graph work reads
    * the compact staged parquet; the only corpus touch is the quality
    * projection. */
  def dedupArtifactSummary(spark: SparkSession, dir: String,
                           art: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = stagedClusters(spark, art)
    val canon = canonicalFrom(spark, dir, clusters)
    val hub = clusters
      .join(dupGraphPagerankStaged(spark, art)
        .select(col("doc_id"), col("rank_units")), "doc_id")
      .withColumn("__rn", row_number().over(
        Window.partitionBy("cluster_id")
          .orderBy(col("rank_units").desc, col("doc_id"))))
      .filter(col("__rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("hub_doc"),
        col("rank_units").as("hub_rank_units"))
    canon.join(hub, "cluster_id")
      .select(col("cluster_id"), col("cluster_size"), col("canonical_doc"),
        col("canonical_quality"), col("hub_doc"), col("hub_rank_units"))
      .orderBy("cluster_id")
  }

  /** The uncapped all-pairs truth (spec-only; NOT a registered
    * endpoint): inverted-index join without the df cap, with set sizes
    * riding along on each shingle row via a doc_id window. Exact — it
    * finds every pair with jaccard > 0 — but the fan-out is unbounded,
    * so it exists to verify the scale paths at small SF. */
  def nearDupPairsExact(spark: SparkSession, dir: String,
                        minJaccard: Double = 0.5): DataFrame =
    nearDupExactFrom(shingles(Tables.documents(spark, dir)), minJaccard)

  /** The uncapped truth over a given (doc_id, shingle) frame — the
    * comparison target for [[nearDupFrom]]'s df-cap correction branch
    * in tests with synthetic boilerplate corpora. */
  private[graft] def nearDupExactFrom(shFrame: DataFrame,
                                          minJaccard: Double): DataFrame = {
    val sh = shFrame
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
    val a = sh.toDF("doc_a", "shingle", "na")
    val b = sh.toDF("doc_b", "shingle_b", "nb")
    val inter = a.join(b,
        col("shingle") === col("shingle_b") && col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("c"))
    inter
      .withColumn("jaccard_raw", col("c") * 1.0 / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard_raw") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), floorRound(col("jaccard_raw"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  private val NumHashes = graft.functions.OracleHash.Lanes
  private val Bands = 4 // 4 rows per band

  /** MinHash signatures: k seeded minima per doc ([[graft.functions.OracleHash]]
    * family — md5-low64, reproducible in the DuckDB oracle), aggregated
    * over exploded shingles.
    *
    * Deliberately the exploded groupBy form, NOT a per-row
    * array_min(transform(...)) chain: higher-order-function lambdas are
    * interpreted per element while the exploded projection hashes inside
    * whole-stage codegen (~3× faster measured), and the groupBy's
    * map-side partial min() means the exchange moves only k longs per
    * (doc, mapper) — the shuffle is already near-zero at any scale. */
  private[operators] def minhashSignatures(docs: DataFrame): DataFrame = {
    import graft.functions.OracleHash
    val digests = OracleHash.digests32(col("shingle"))
    val staged = shingles(docs).select(
      col("doc_id") +: digests.indices.map(g => digests(g).as(s"m$g")): _*)
    val mins = (0 until NumHashes).map(j =>
      min(OracleHash.lane32(col(s"m${j / OracleHash.LanesPerDigest}"), j)).as(s"h$j"))
    staged.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** LSH banding of a signature frame: (doc_id, band, band_hash) — docs
    * agreeing on all rows of any band land in the same bucket. */
  private[operators] def bandsOf(sig: DataFrame): DataFrame = {
    val rowsPerBand = NumHashes / Bands
    val bandCols = (0 until Bands).map { b =>
      val hs = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      struct(lit(b).as("band"),
        graft.functions.OracleHash.combine(hs).as("band_hash"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.band_hash").as("band_hash"))
  }

  /** MinHash signature/band table as a queryable endpoint. */
  def minhashBands(spark: SparkSession, dir: String): DataFrame =
    bandsOf(minhashSignatures(Tables.documents(spark, dir)))
      .orderBy("doc_id", "band")

  /** Per-row MinHash band signature: array of (band, band_hash)
    * structs, value-identical to the exploded-groupBy batch path but
    * computed with NO shuffle — the form a stateless streaming MV
    * needs (per-document work bounded by document length; the batch
    * path's groupBy is the faster choice for full-corpus scans, the
    * per-row form is the only choice inside a streaming projection).
    * Equality with the batch path asserted in StreamingSpec. */
  def minhashBandsPerRow(textCol: Column): Column = {
    val t = split(textCol, " ")
    val sh = array_distinct(transform(
      sequence(lit(1), size(t) - 2),
      i => concat_ws(" ", element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))))
    // stage the shared digests ONCE per shingle (a struct per element):
    // interpreted HOF lambdas get no codegen CSE, so 16 seeded32 calls
    // would compute 16 md5s per shingle where 4 distinct digests exist
    // — the same sharing the batch path gets from its digests32
    // projection
    import graft.functions.OracleHash
    val digested = transform(sh, s => struct(
      OracleHash.digests32(s).zipWithIndex
        .map { case (d, g) => d.as(s"m$g") }: _*))
    val mins = (0 until NumHashes).map(j =>
      array_min(transform(digested, h =>
        OracleHash.lane32(h(s"m${j / OracleHash.LanesPerDigest}"), j))))
    val rowsPerBand = NumHashes / Bands
    val bands = array((0 until Bands).map { b =>
      val hs = (0 until rowsPerBand).map(r => mins(b * rowsPerBand + r))
      struct(lit(b).as("band"),
        graft.functions.OracleHash.combine(hs).as("band_hash"))
    }: _*)
    // guard INSIDE the helper: <3 tokens makes sequence(1, size-2)
    // descend ([1,0]) and element_at(t, 0) throw — one malformed row
    // in a streaming MV would kill the whole query. Short docs yield
    // empty bands, mirroring the batch path's size>=3 filter (no row).
    when(size(t) >= 3, bands)
      .otherwise(array().cast("array<struct<band:int,band_hash:bigint>>"))
  }

  /** MinHash+LSH candidate pairs with exact-Jaccard verification — the
    * scale path: bucket-join on (band, band_hash), then verify only the
    * candidates. Same output shape as nearDupPairs; recall is
    * probabilistic (property-tested against the exact path).
    *
    * `maxBucket` is the HOT-BUCKET guard for adversarial corpora
    * (round-13 verdict #7): mass-duplicated boilerplate puts thousands
    * of docs into ONE (band, band_hash) bucket and the self-join goes
    * quadratic in it. With a cap, only the bucket's `maxBucket` LOWEST
    * doc_ids act as join ANCHORS (left side); every bucket member
    * still pairs with the bucket's minimum id, so the bucket stays one
    * connected component and downstream CLUSTER MEMBERSHIP is
    * preserved (property-tested on a pathological fixture) — what the
    * cap drops is anchor-to-anchor edges beyond the star, i.e. PAIR
    * recall inside a bucket, never cluster reachability (caveat: a
    * star edge individually below `minJaccard` can still cut
    * verified-graph connectivity; on boilerplate floods — the case the
    * cap exists for — members are near-identical and every star edge
    * verifies). The dropped candidate count is logged so a capped run
    * is never silent truncation. The registered endpoint runs
    * UNCAPPED — the cap is the explicit 100 TB dial. */
  def minhashLshPairs(spark: SparkSession, dir: String,
                      minJaccard: Double = 0.5,
                      maxBucket: Int = Int.MaxValue): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bands = bandsOf(minhashSignatures(docs))
    val cand = capBucketAnchors(bands, maxBucket, "lsh").as("x").join(bands.as("y"),
        col("x.band") === col("y.band") &&
        col("x.band_hash") === col("y.band_hash") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(cand, shingles(docs), minJaccard)
  }

  /** The shared hot-bucket guard of every band-bucket candidate join
    * (self-contained AND staged — round-14 verdict #2 closed the
    * asymmetry where only the recompute path had the dial): keep the
    * `maxBucket` LOWEST doc_ids of each (band, band_hash) bucket as
    * join ANCHORS, log the drop so a capped run is never silent
    * truncation. In a SELF-join every bucket member still pairs with
    * the bucket minimum (the star), so cluster membership survives; in
    * the screening join the capped side is the EXISTING corpus, so
    * every incoming doc still probes each bucket's lowest — canonical
    * attribution — members. Uncapped (the default) is the identity. */
  private def capBucketAnchors(bands: DataFrame, maxBucket: Int,
                               tag: String): DataFrame =
    if (maxBucket == Int.MaxValue) bands
    else {
      import org.apache.spark.sql.expressions.Window
      // 1-row accounting aggregate — parameter-bounded driver collect
      val dropped = bands
        .groupBy("band", "band_hash").agg(count(lit(1)).as("n"))
        .filter(col("n") > maxBucket)
        .agg(count(lit(1)), sum(col("n") - maxBucket)).collect()(0)
      System.err.println(s"[$tag] maxBucket=$maxBucket: " +
        s"${dropped.getLong(0)} hot buckets, " +
        s"${Option(dropped.get(1)).getOrElse(0L)} anchor rows dropped")
      bands.withColumn("__rk", row_number().over(
          Window.partitionBy("band", "band_hash").orderBy("doc_id")))
        .filter(col("__rk") <= maxBucket).drop("__rk")
    }

  /** [[minhashLshPairs]] served from the staged screening index — zero
    * corpus scans: the band table IS `bandsOf(minhashSignatures(docs))`
    * (the build stages exactly that frame) and verification runs over
    * the staged hashed shingle index (value-identical to the string
    * form — the equivalence the staged pair table and the screening
    * route already rest on). What this removes at scale is the
    * dominant CPU of the self-contained form: re-shingling the corpus
    * and recomputing 16 minhash lanes over every shingle, per call.
    * `maxBucket` is the same hot-bucket dial as the self-contained
    * form's ([[capBucketAnchors]]) — it shapes candidate generation at
    * READ time over the staged band table, so the DEFAULT serve has
    * the adversarial-corpus guard too (round-14 verdict #2). */
  def minhashLshPairsStaged(spark: SparkSession, art: String,
                            minJaccard: Double = 0.5,
                            maxBucket: Int = Int.MaxValue): DataFrame = {
    val bands = readBandIndex(spark, art)
    val cand = capBucketAnchors(bands, maxBucket, "lsh-staged").as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") &&
        col("x.band_hash") === col("y.band_hash") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(cand, readShingleIndex(spark, art), minJaccard)
  }

  /** Auto-routed [[minhashLshPairs]]: staged band/shingle index when
    * the param-free artifact segment is current, else the
    * self-contained form. BOTH `minJaccard` (a verification threshold)
    * and `maxBucket` (an anchor cap over the band table) are read-time
    * parameters over either frame — the staged tables don't depend on
    * them — so neither gates the route. */
  def minhashLshPairsAuto(spark: SparkSession, dir: String, art: String,
                          minJaccard: Double = 0.5,
                          maxBucket: Int = Int.MaxValue): DataFrame =
    if (artifactsCurrent(dir, art, None,
        Seq(Tombstones, BandIndex, ShingleIndex)))
      minhashLshPairsStaged(spark, art, minJaccard, maxBucket)
    else minhashLshPairs(spark, dir, minJaccard, maxBucket)

  /** Incremental screening dedup — the PRODUCTION shape of dedup at
    * 100 TB: an append never re-dedups the corpus against itself; a
    * persisted index of the EXISTING corpus (content digests +
    * MinHash band buckets) is probed by the increment alone. Here the
    * increment is every doc_id ≡ 0 (mod 10) — a deterministic 10%
    * stand-in for "today's crawl" that the oracle reproduces — and
    * each incoming doc gets a verdict: `exact_dup` (its digest is in
    * the index), `near_dup` (a band-bucket candidate verified at
    * 3-gram Jaccard ≥ minJaccard), else `novel`, with the canonical
    * matched existing doc and the verified similarity.
    *
    * Scale: index cost is amortized (built once, extended per append
    * — digests and band rows are both append-only); screening cost is
    * |increment| digest lookups + band-bucket equi-joins + Jaccard
    * verification of candidates only. Nothing is ever corpus ×
    * corpus, and the increment-side frames are a day's data, not the
    * archive.
    *
    * `maxBucket` caps the EXISTING side of the band-bucket join
    * ([[capBucketAnchors]]): on a boilerplate flood one bucket holds
    * thousands of existing docs and every incoming doc in it would
    * verify against all of them. Capped, each incoming doc probes the
    * bucket's `maxBucket` lowest — canonical-attribution — existing
    * ids, so every incoming doc still gets a verdict; what a cap can
    * change is WHICH near-match is attributed when a higher-id
    * existing doc had a strictly higher jaccard. Uncapped default. */
  def screenIncrement(spark: SparkSession, dir: String,
                      minJaccard: Double = 0.5,
                      maxBucket: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val incoming = docs.filter(col("doc_id") % 10 === 0)
    val existing = docs.filter(col("doc_id") % 10 =!= 0)
    val exIdx = existing.groupBy(md5(col("text")).as("digest"))
      .agg(min(col("doc_id")).as("exact_match"))
    val exact = incoming.select(col("doc_id"), md5(col("text")).as("digest"))
      .join(exIdx, Seq("digest"), "left")
      .select(col("doc_id"), col("exact_match"))
    // exact dups never reach the output's near-dup columns (verdict
    // precedence nulls their jaccard and exact_match wins the
    // coalesce), so their band candidates are verification work with
    // no observable result — prune them BEFORE the Jaccard kernel.
    // At sf100 the exact-dup fraction of the increment is the direct
    // saving on the 42.6 s verification residual (round-13 verdict #5).
    val exactIds = exact.filter(col("exact_match").isNotNull)
      .select("doc_id")
    val cand = bandsOf(minhashSignatures(incoming))
      .join(exactIds, Seq("doc_id"), "left_anti").as("x")
      .join(capBucketAnchors(bandsOf(minhashSignatures(existing)),
          maxBucket, "screen").as("y"),
        col("x.band") === col("y.band") &&
        col("x.band_hash") === col("y.band_hash"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    screenVerdict(exact, verifyJaccard(cand, shingles(docs), minJaccard))
  }

  /** [[screenIncrement]] served ENTIRELY from the staged artifact set
    * — zero corpus scans: digests and band buckets come from the
    * staged screening index, and the exact-Jaccard verification runs
    * over the staged shingle index (hashed shingles — value-identical
    * to the string form, the same equivalence the staged pair table
    * already rests on). Result-identical to the self-contained form:
    * same digest rule, same band candidates, same verification —
    * including the existing-side `maxBucket` anchor cap (the staged
    * form is the DEFAULT serve, so it carries the same
    * adversarial-corpus dial; round-14 verdict #2). */
  def screenIncrementStaged(spark: SparkSession, art: String,
                            minJaccard: Double = 0.5,
                            maxBucket: Int = Int.MaxValue): DataFrame = {
    val dig = readDocDigests(spark, art)
    val exIdx = dig.filter(col("doc_id") % 10 =!= 0)
      .groupBy("digest").agg(min(col("doc_id")).as("exact_match"))
    val exact = dig.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("digest"))
      .join(exIdx, Seq("digest"), "left")
      .select(col("doc_id"), col("exact_match"))
    val bands = readBandIndex(spark, art)
    // same exact-dup candidate prune as the self-contained form (their
    // jaccard is nulled by the verdict tail — verification would be
    // unobservable work)
    val exactIds = exact.filter(col("exact_match").isNotNull)
      .select("doc_id")
    val cand = bands.filter(col("doc_id") % 10 === 0)
      .join(exactIds, Seq("doc_id"), "left_anti").as("x")
      .join(capBucketAnchors(bands.filter(col("doc_id") % 10 =!= 0),
          maxBucket, "screen-staged").as("y"),
        col("x.band") === col("y.band") &&
        col("x.band_hash") === col("y.band_hash"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    screenVerdict(exact,
      verifyJaccard(cand, readShingleIndex(spark, art), minJaccard))
  }

  /** Auto-routed [[screenIncrement]]: staged screening index when the
    * artifact set is current, self-contained otherwise. minJaccard (a
    * verification threshold) and maxBucket (an existing-side anchor
    * cap) are both applied at read over either frame, so neither gates
    * the route. */
  def screenIncrementAuto(spark: SparkSession, dir: String, art: String,
                          minJaccard: Double = 0.5,
                          maxBucket: Int = Int.MaxValue): DataFrame =
    if (artifactsCurrent(dir, art, None,
        Seq(Tombstones, DocDigests, BandIndex, ShingleIndex)))
      screenIncrementStaged(spark, art, minJaccard, maxBucket)
    else screenIncrement(spark, dir, minJaccard, maxBucket)

  /** The shared verdict tail of the two screening forms: best verified
    * match per incoming doc (highest rounded jaccard, lowest existing
    * id on ties — the canonical attribution), exact-dup precedence. */
  private def screenVerdict(exact: DataFrame, verified: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val near = verified
      .withColumn("__rn", row_number().over(
        Window.partitionBy("doc_a").orderBy(col("jaccard").desc, col("doc_b"))))
      .filter(col("__rn") === 1)
      .select(col("doc_a").as("doc_id"), col("doc_b").as("near_match"),
        col("jaccard"))
    exact.join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, "exact_dup")
          .when(col("near_match").isNotNull, "near_dup")
          .otherwise("novel").as("verdict"),
        coalesce(col("exact_match"), col("near_match")).as("matched_doc"),
        when(col("exact_match").isNull, col("jaccard")).as("jaccard"))
      .orderBy("doc_id")
  }

  /** Screen an ARBITRARY (doc_id, text) frame against the STAGED dedup
    * artifacts — the text analogue of
    * [[VectorOps.screenAgainstLayout]], and the batch kernel behind
    * [[graft.streaming.CdcStream.startDocScreenMv]]: each incoming doc
    * is shingled, its candidates come from the staged inverted index
    * restricted to the doc's own (rare-classified) shingles, and the
    * best exact-Jaccard match decides `near_dup` vs `novel`, with the
    * matched existing doc and the verified similarity.
    *
    * Batch-split invariance (what makes it a valid streaming MV): a
    * doc's verdict depends only on (doc, staged state) — rare/common
    * classification uses the STORED dfs alone (an unseen shingle has
    * df 0 → rare), never the arriving batch's counts — so N
    * micro-batches equal one batch call over their union (asserted in
    * StreamingSpec). Consistency of the ub/correction split: the base
    * docs' stored (n, n_rare) were computed under the SAME stored
    * classification, so per-side common counts line up exactly.
    *
    * A re-ingested doc (its doc_id already staged) never matches
    * itself — same self-exclusion as the vector screen.
    *
    * Scale: candidate fan-out is bounded by maxDf per incoming rare
    * shingle; the staged index is scanned once, column-pruned,
    * restricted to the batch's shingle set; nothing is ever
    * corpus × corpus, and the incoming side is a micro-batch. */
  def screenDocsAgainstArtifacts(spark: SparkSession, incoming: DataFrame,
                                 art: String, minJaccard: Double = 0.5,
                                 maxDf: Int = DefaultMaxDf): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inSh = shingles(incoming)
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
    // stored df per incoming shingle (0 when unseen) — the shared
    // classification both sides of the counting join agree on
    val dfIn = inSh.select("shingle").distinct()
      .join(readShingleDf(spark, art).toDF("shingle", "dfb"),
        Seq("shingle"), "left")
      .select(col("shingle"), coalesce(col("dfb"), lit(0L)).as("dfb"))
    val inStats = inSh.join(dfIn, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("dfb") <= maxDf, 1L).otherwise(0L)).as("n_rare"))
    val rareShingles = dfIn.filter(col("dfb") <= maxDf).select("shingle")
    val rareIn = inSh.join(rareShingles, "shingle")
      .join(inStats, "doc_id")
      .select(col("doc_id").as("in_doc"), col("shingle"), col("n").as("na"),
        (col("n") - col("n_rare")).as("ca"))
    val baseIdx = readShingleIndex(spark, art)
    val baseStats = readDocStats(spark, art)
    val rareBase = baseIdx.join(rareShingles, "shingle")
      .join(baseStats, "doc_id")
      .select(col("doc_id").as("base_doc"), col("shingle"), col("n").as("nb"),
        (col("n") - col("n_rare")).as("cb"))
    val counts = rareIn.join(rareBase, Seq("shingle"))
      .filter(col("in_doc") =!= col("base_doc"))
      .groupBy("in_doc", "base_doc", "na", "nb", "ca", "cb")
      .agg(count(lit(1)).as("c_rare"))
    val ub = counts
      .withColumn("ub_c", col("c_rare") + least(col("ca"), col("cb")))
      .filter(col("ub_c") * 1.0 / (col("na") + col("nb") - col("ub_c")) >= minJaccard)
    val commonShingles = dfIn.filter(col("dfb") > maxDf).select("shingle")
    // using-joins put the key column FIRST — normalize to (doc_id,
    // shingle) before the positional rename (same order contract as
    // the rare-side joins above), else ids and hashes swap.
    val corr = ub.select("in_doc", "base_doc")
      .join(inSh.join(commonShingles, "shingle")
        .select("doc_id", "shingle")
        .toDF("in_doc", "shingle"), Seq("in_doc"))
      .join(baseIdx.join(commonShingles, "shingle")
        .select("doc_id", "shingle")
        .toDF("base_doc", "shingle"), Seq("base_doc", "shingle"))
      .groupBy("in_doc", "base_doc").agg(count(lit(1)).as("c_common"))
    val best = ub.join(corr, Seq("in_doc", "base_doc"), "left")
      .withColumn("c", col("c_rare") + coalesce(col("c_common"), lit(0L)))
      .withColumn("jaccard_raw",
        col("c") * 1.0 / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard_raw") >= minJaccard)
      .select(col("in_doc"), col("base_doc"),
        floorRound(col("jaccard_raw"), 4).as("jaccard"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("in_doc")
          .orderBy(col("jaccard").desc, col("base_doc"))))
      .filter(col("__rn") === 1)
      .select(col("in_doc").as("doc_id"), col("base_doc").as("matched_doc"),
        col("jaccard"))
    incoming.select("doc_id")
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("matched_doc").isNotNull, "near_dup")
          .otherwise("novel").as("verdict"),
        col("matched_doc"), col("jaccard"))
      .orderBy("doc_id")
  }

  /** Duplicate clusters: connected components over the near-dup pair
    * graph (3-gram Jaccard >= 0.5), one row per clustered doc with the
    * component's canonical label (min doc_id) and size — what a dedup
    * pipeline actually consumes ("keep the canonical doc per cluster"),
    * one step past emitting raw pairs. The clustering core (iterative
    * min-label propagation with graph-sized parallelism) lives in
    * [[ConnectedComponents]], shared with the embedding dedup path. */
  def dupClusters(spark: SparkSession, dir: String,
                  maxRounds: Int = 64): DataFrame =
    ConnectedComponents.clusters(spark,
        nearDupPairs(spark, dir).select("doc_a", "doc_b"), maxRounds)
      .toDF("doc_id", "cluster_id", "cluster_size")
      .orderBy("cluster_id", "doc_id")

  /** Duplication-hub centrality: [[ConnectedComponents.pagerank]] over
    * the near-dup pair graph. High-rank docs sit at the center of many
    * overlapping near-dup neighborhoods — template/boilerplate sources
    * worth inspecting (and an alternative centrality-based canonical
    * pick to [[canonicalSelect]]'s quality argmax). */
  def dupGraphPagerank(spark: SparkSession, dir: String,
                       iters: Int = 3): DataFrame =
    ConnectedComponents.pagerank(spark,
      nearDupPairs(spark, dir).select("doc_a", "doc_b"), iters)

  /** Exact-substring span detection — the scalable form of
    * suffix-array substring dedup (the "dedup repeated spans, not just
    * whole documents" step of corpus cleaning): positional winnowing
    * fingerprints ([[graft.functions.WinnowSpans]]) joined on
    * fingerprint, then grouped by (pair, POSITION OFFSET). A run of
    * `minRun`+ fingerprints at one constant offset is a contiguous
    * shared substring (winnowing guarantees a shared fingerprint per
    * k+w−1 chars of any shared span; offset consistency kills
    * coincidental single-fingerprint collisions). Output: one row per
    * (pair, offset) span with its fingerprint count, both start
    * positions, and the covered char width.
    *
    * Scale: the same inverted-index discipline as the near-dup suite —
    * fingerprints df-capped (boilerplate spans bounded at maxDf² join
    * fan-out), the join is a hash equi-join on the fingerprint, and
    * the group key (doc_a, doc_b, delta) arrives pre-shuffled by the
    * join's own partitioning. No suffix array, no global sort of the
    * corpus — the 100 TB path the suffix-automaton literature's
    * single-node tools can't take. */
  /** Span-detection defaults — ONE definition consumed by the public
    * endpoint, the frame form, and every composite, so retuning
    * cannot desynchronize them (the oracle text documents the same
    * numbers). */
  val SpanK = 8
  val SpanW = 16
  val SpanMinRun = 3
  val SpanMaxDf = 100

  def substringSpans(spark: SparkSession, dir: String, k: Int = SpanK,
                     w: Int = SpanW, minRun: Int = SpanMinRun,
                     maxDf: Int = SpanMaxDf): DataFrame =
    substringSpansFrame(spark, dir, k, w, minRun, maxDf)
      .orderBy("doc_a", "doc_b", "offset_delta")

  /** [[substringSpans]] without the presentation sort — the form
    * composites consume (a global sort of an intermediate is a wasted
    * range-exchange; the optimizer does not always eliminate it under
    * a downstream aggregation). */
  private[operators] def substringSpansFrame(
      spark: SparkSession, dir: String, k: Int = SpanK, w: Int = SpanW,
      minRun: Int = SpanMinRun, maxDf: Int = SpanMaxDf): DataFrame = {
    val sp = spanIndexFrame(Tables.documents(spark, dir), k, w)
    val dfPerFp = sp.groupBy("fp").agg(count(lit(1)).as("df"))
    spansFromIndex(sp, dfPerFp, k, minRun, maxDf)
  }

  /** The winnowed fingerprint index of a document frame — one row per
    * selected (doc, position, fingerprint). This is the per-document
    * HALF of the span pipeline (embarrassingly parallel, no shuffle),
    * factored out so the artifact build stages it once and increments
    * re-run it over delta rows only. */
  private[graft] def spanIndexFrame(docs: DataFrame, k: Int = SpanK,
                                   w: Int = SpanW): DataFrame =
    docs
      .select(col("doc_id"),
        explode(column(WinnowSpans(expression(col("text")), k, w))).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.fp").as("fp"))

  /** The pair half of the span pipeline, over ANY (doc_id, pos, fp)
    * index and its (fp, df) frequency table — consumed by the
    * self-contained form above, the artifact build's `spans` stage,
    * and (restricted to the delta) the incremental maintenance kernel.
    * df-cap via aggregate + join-back, not count-over-window — same
    * no-sort-on-the-wide-frame rule as nearDupFrom. Column order pinned
    * by the select: the USING join puts the key first, and the
    * positional toDF renames below must see (doc_id, pos, fp). */
  private[operators] def spansFromIndex(sp: DataFrame, dfPerFp: DataFrame,
                                        k: Int, minRun: Int,
                                        maxDf: Int): DataFrame = {
    val capped = sp.join(dfPerFp.filter(col("df") <= maxDf).select("fp"), "fp")
      .select("doc_id", "pos", "fp")
    val a = capped.toDF("doc_a", "pos_a", "fp")
    val b = capped.toDF("doc_b", "pos_b", "fp")
    spanGroups(a.join(b, Seq("fp")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("pos_a") - col("pos_b")).as("offset_delta"), col("pos_a")),
      k, minRun)
  }

  /** The span-group aggregation shared by the full kernel and the
    * incremental one: input rows are (doc_a < doc_b, offset_delta,
    * pos_a) fingerprint matches; groups of >= minRun matches at one
    * offset delta are reported as spans. */
  private[operators] def spanGroups(matches: DataFrame, k: Int,
                                    minRun: Int): DataFrame =
    matches
      .groupBy(col("doc_a"), col("doc_b"), col("offset_delta"))
      .agg(count(lit(1)).as("shared_fps"),
        min(col("pos_a")).as("span_start_a"),
        max(col("pos_a")).as("span_last_a"))
      .filter(col("shared_fps") >= minRun)
      .select(col("doc_a"), col("doc_b"), col("offset_delta"), col("shared_fps"),
        col("span_start_a"),
        (col("span_start_a") - col("offset_delta")).as("span_start_b"),
        (col("span_last_a") - col("span_start_a") + k).as("span_chars"))

  /** Per-document rollup of [[substringSpans]]: how much of each doc
    * is duplicated elsewhere — span count, distinct partner docs, the
    * widest shared span, and the "has a long duplicated span" verdict
    * (>= `longSpanChars`) that substring-dedup pipelines act on
    * (trim the span or drop the doc). One extra tiny aggregation over
    * the span table; the heavy lift is shared with the span endpoint. */
  def spanDocStats(spark: SparkSession, dir: String,
                   longSpanChars: Int = 40): DataFrame =
    spanDocStatsFrame(spark, dir, longSpanChars).orderBy("doc_id")

  /** [[spanDocStats]] without the presentation sort (composite form). */
  private[graft] def spanDocStatsFrame(
      spark: SparkSession, dir: String, longSpanChars: Int = 40): DataFrame =
    spanDocStatsFrom(substringSpansFrame(spark, dir), longSpanChars)

  /** The per-doc rollup over ANY span frame — self-contained or
    * staged; the routing seam. */
  private[graft] def spanDocStatsFrom(spans: DataFrame,
                                      longSpanChars: Int): DataFrame = {
    // both directions from ONE pass over the span table (explode, not
    // a self-union: a union of two projections of the same subtree
    // re-runs the whole span pipeline twice)
    val u = spans
      .select(explode(array(
        struct(col("doc_a").as("doc_id"), col("doc_b").as("partner"),
          col("span_chars")),
        struct(col("doc_b").as("doc_id"), col("doc_a").as("partner"),
          col("span_chars")))).as("u"))
      .select(col("u.doc_id"), col("u.partner"), col("u.span_chars"))
    u.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        countDistinct(col("partner")).as("n_partners"),
        max(col("span_chars")).as("max_span_chars"))
      .withColumn("has_long_dup", col("max_span_chars") >= longSpanChars)
  }

  /** SimHash: 64-bit similarity-preserving fingerprint. Entirely per-row
    * (token hash → per-bit ±1 vote → sign), zero shuffle; near-dup
    * detection then compares fingerprints by hamming distance.
    * The vote matrix runs in the native [[graft.functions.SimHash64]]
    * expression — one compiled loop per row instead of 64 interpreted
    * lambda invocations per token (bit-identical to the HOF chain,
    * asserted in ChFunctionsSpec). */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        column(SimHash64(expression(expr("array_distinct(split(text, ' '))"))))
          .as("simhash"))
      .orderBy("doc_id")
  }
  /** The substring-dedup REWRITE step — from verdicts to cleaned text:
    * every document that shares a long span (>= `longSpanChars`) with a
    * LOWER-id partner loses its widest such span (lower id is the
    * canonical owner, same convention as every dedup here); the cut is
    * pure string surgery on the span offsets. One row per document,
    * text unchanged for the innocent — the output is a drop-in
    * replacement corpus.
    *
    * Scale: the span pipeline is the cost (df-capped fingerprint join);
    * the widest-cut choice is a ranking window over the LOSING spans
    * only (≪ corpus), and the surgery is a codegen'd projection under
    * a broadcast-size join back to the corpus. */
  def dedupRewrite(spark: SparkSession, dir: String,
                   longSpanChars: Int = 40): DataFrame =
    dedupRewriteFrom(spark, dir, substringSpansFrame(spark, dir),
      longSpanChars)

  /** The rewrite surgery over ANY span frame — the routing seam. */
  private[graft] def dedupRewriteFrom(spark: SparkSession, dir: String,
                                      spans: DataFrame,
                                      longSpanChars: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val losing = spans
      .filter(col("span_chars") >= longSpanChars)
      .select(col("doc_b").as("doc_id"),
        col("span_start_b").as("cut_start"), col("span_chars"))
      .distinct()
    val widest = losing
      .withColumn("__rn", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("span_chars").desc, col("cut_start"))))
      .filter(col("__rn") === 1).drop("__rn")
    Tables.documents(spark, dir)
      .join(widest, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("cut_start").isNull, col("text"))
          .otherwise(concat(
            col("text").substr(lit(1), col("cut_start")),
            col("text").substr(col("cut_start") + col("span_chars") + 1,
              length(col("text")))))
          .as("text"),
        col("cut_start"), col("span_chars"),
        col("cut_start").isNotNull.as("was_cut"))
      .orderBy("doc_id")
  }
  /** Edit-distance enrichment of the near-dup pairs: absolute and
    * length-normalized Levenshtein distance for every Jaccard-verified
    * pair — the character-level second opinion dedup reviews use when
    * deciding cut vs keep (shingle Jaccard is order-insensitive;
    * edit distance catches reorderings). Deliberately ONLY over the
    * already-verified pairs: Levenshtein is O(len²) per pair, so at
    * scale it rides on the candidate pipeline's output (tiny), never
    * the corpus. */
  def nearDupEditDistance(spark: SparkSession, dir: String,
                          minJaccard: Double = 0.5): DataFrame =
    nearDupEditDistanceFrom(spark, dir, nearDupPairs(spark, dir, minJaccard))

  /** The edit-distance kernel over any (doc_a, doc_b, jaccard) pair
    * frame — shared by the self-contained and staged forms so they
    * cannot drift. */
  private[operators] def nearDupEditDistanceFrom(spark: SparkSession, dir: String,
                                                 pairs: DataFrame): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    // the O(len²) kernel runs ONCE per pair: distance materializes in an
    // inner projection and the ratio derives from the column — writing
    // levenshtein twice relies on codegen CSE that the 17 s bench tail
    // suggested was not happening
    pairs
      .join(docs.toDF("doc_a", "text_a"), Seq("doc_a"))
      .join(docs.toDF("doc_b", "text_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        levenshtein(col("text_a"), col("text_b")).as("edit_distance"),
        greatest(length(col("text_a")), length(col("text_b"))).as("__maxlen"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"), col("edit_distance"),
        floorRound(col("edit_distance") * 1.0 / col("__maxlen"), 4)
          .as("edit_ratio"))
      .orderBy("doc_a", "doc_b")
  }

  /** Split-leakage audit — the eval-integrity check every training
    * pipeline needs: near-duplicate pairs whose members landed in
    * DIFFERENT train/val/test splits ([[TextAnalysis.splitAssign]]'s
    * content-digest split). A near-dup of a training document sitting
    * in the test split silently inflates eval scores; this surfaces
    * exactly those pairs (exact duplicates can't leak — identical text
    * hashes to the same split bucket — so every emitted row is a
    * NON-identical near-dup straddling splits, the dangerous kind).
    * Scale: the pair frame is already candidate-bounded; the two split
    * lookups are id→split projections of the corpus (no text moves),
    * joined on the pair ids. */
  /** Quality-aware canonical selection: for every duplicate cluster
    * ([[dupClusters]]), the member to KEEP — highest stopword-ratio
    * quality, doc_id tiebreak — rather than the structural min-id the
    * cluster label uses. This is the curation decision real dedup
    * pipelines make (keep the best copy, not the first-crawled copy);
    * ranking on the ROUNDED 4dp quality keeps the argmax
    * engine-reproducible. Scale: clusters and the id→quality projection
    * join on doc_id (no text moves past the scan); the ranking window
    * shuffles cluster-member rows — the dup subset, ≪ corpus. */
  def canonicalSelect(spark: SparkSession, dir: String,
                      maxRounds: Int = 64): DataFrame =
    canonicalFrom(spark, dir, dupClusters(spark, dir, maxRounds))

  /** The canonical-pick kernel over any (doc_id, cluster_id,
    * cluster_size) frame — shared by the self-contained and staged
    * forms so they cannot drift. */
  private[operators] def canonicalFrom(spark: SparkSession, dir: String,
                                       clusters: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val quality = Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.stopwordRatio(col("text")).as("q"))
    val w = Window.partitionBy("cluster_id").orderBy(col("q").desc, col("doc_id"))
    clusters
      .filter(col("cluster_size") > 1)
      .join(quality, "doc_id")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("canonical_doc"),
        col("q").as("canonical_quality"), col("cluster_size"))
      .orderBy("cluster_id")
  }

  def splitLeakageAudit(spark: SparkSession, dir: String,
                        minJaccard: Double = 0.5, maxDf: Int = DefaultMaxDf): DataFrame =
    splitLeakageFrom(spark, dir, nearDupPairs(spark, dir, minJaccard, maxDf))

  /** The leakage-audit kernel over any (doc_a, doc_b, jaccard) pair
    * frame — shared by the self-contained and staged forms. */
  private[operators] def splitLeakageFrom(spark: SparkSession, dir: String,
                                          pairs: DataFrame): DataFrame = {
    val splits = Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.splitOf(col("text")).as("split"))
    pairs
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
      .filter(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        col("split_a"), col("split_b"))
      .orderBy("doc_a", "doc_b")
  }
}
