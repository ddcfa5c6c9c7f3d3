package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Training-mix construction over `documents`: deterministic stratified
  * sampling and sequence packing — the steps between "cleaned corpus"
  * and "training batches" in a large-scale training-data pipeline.
  *
  * Both operators are deterministic functions of row CONTENT, never of
  * partitioning, seeds, or visit order: re-runs, repartitions, and
  * incremental appends reproduce (and extend) prior decisions — the
  * property that makes the outputs cacheable/resumable at 100 TB and
  * lets the DuckDB oracle check them bit-for-bit.
  */
object TrainingMix {

  /** Keep thresholds as 4-hex-digit strings: a doc survives when the
    * first 4 md5 hex chars of its id string are lexicographically
    * below the stratum threshold (rate × 0x10000 rendered as hex).
    * Pure string compare on lowercase hex — identical in every engine;
    * no float hash, no engine-specific hash function. */
  private val EnThreshold = "8000" // 0x8000 / 0x10000 = 50%
  private val RestThreshold = "3333" // 0x3333 / 0x10000 ≈ 20%

  /** Deterministic stratified sample of the corpus: `en` kept at 50%,
    * every other language at 20%, each surviving row carrying its
    * inverse-rate weight for downstream weighted aggregation.
    *
    * Scale: per-row hash + filter — zero shuffles (the trailing sort is
    * the endpoint's presentation contract); sampling a 100 TB corpus is
    * one codegen'd scan with the filter applied before any wide plan. */
  /** The sampled corpus with its key and weight, full row retained —
    * shared by the sample endpoint and the weighted-aggregation
    * consumer so the keep rule can't drift between them. */
  private def sampledDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("sample_key", substring(md5(col("doc_id").cast("string")), 1, 4))
      .filter(col("sample_key") <
        when(col("lang") === "en", EnThreshold).otherwise(RestThreshold))
      .withColumn("weight",
        when(col("lang") === "en", lit(2.0)).otherwise(lit(5.0)))

  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    sampledDocs(spark, dir)
      .select("doc_id", "lang", "source", "sample_key", "weight")
      .orderBy("doc_id")

  /** Horvitz-Thompson corpus estimates from the sample: per language,
    * the inverse-rate weights blow the sampled counts back up to
    * corpus-scale estimates (docs, tokens). The weights are exact
    * integers (2, 5), so every sum is integer arithmetic — associative,
    * partition-order-invariant, engine-identical — and downstream mix
    * planning can budget tokens per language from the sample alone.
    * Scale: sampling filter then one tiny groupBy(lang). */
  def sampleWeightedStats(spark: SparkSession, dir: String): DataFrame =
    sampledDocs(spark, dir)
      .select(col("lang"), col("weight").cast("long").as("w"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"),
        sum(col("w")).as("est_docs"),
        sum(col("w") * col("n_tokens")).as("est_tokens"))
      .orderBy("lang")

  /** Sequence packing: assign each document to a fixed-token-budget
    * training pack using concat-then-chunk semantics — documents are
    * conceptually concatenated in doc_id order within a stratum and cut
    * every `budget` tokens, so a doc's pack is `tokens_before / budget`
    * (a doc straddling a boundary belongs to the pack it starts in).
    *
    * Scale: the running sum is a window per (lang, shard) where shard =
    * doc_id % nShards — packing is embarrassingly parallel across
    * shards, so no stratum needs a global sort; widen nShards with the
    * cluster. One shuffle on the (lang, shard) key, then codegen'd
    * window arithmetic. */
  /** The full training-corpus build as ONE declarative plan — the
    * pipeline a data team actually ships, composed from the registered
    * operators so each stage's semantics stay individually verified:
    *
    *   quality filter (stopword ratio >= min)
    *     → exact dedup (canonical = min doc_id per content digest,
    *       within the quality-surviving set)
    *       → near-dup dedup (drop every non-canonical member of a
    *         [[TextDedup.dupClusters]] cluster; clusters come from the
    *         FULL corpus, so a cluster whose canonical was
    *         quality-dropped still sheds its duplicates)
    *         → md5 train/val/test split → token-budget packing
    *
    * Scale: EVERYTHING downstream stages need from the text — the
    * quality signal, the content digest, the split bucket (a function
    * of the digest), the token count — is computed in ONE projection
    * at the scan, so every shuffle in the pipeline (digest-canonical
    * window, cluster join, packing window) carries doc_ids, 32-char
    * digests, and counts — never document text. At 100 TB that is the
    * difference between exchanging ~1% of the corpus bytes and
    * exchanging the corpus twice. The cluster table is data-dependent
    * and unbounded — duplicate-cluster membership routinely covers
    * 30-50% of a web corpus — so it joins un-hinted on doc_id and AQE
    * broadcasts only when it measures small. */
  def buildCorpus(spark: SparkSession, dir: String, budget: Int = 256,
                  nShards: Int = 4, minStopwordRatio: Double = 0.03): DataFrame =
    buildCorpusFrom(spark, dir, TextDedup.dupClusters(spark, dir),
      budget, nShards, minStopwordRatio)

  /** [[buildCorpus]] served ENTIRELY from the staged artifact set —
    * zero corpus scans (round-14): the quality/digest/token slim frame
    * comes from the staged `doc_verdicts` surface (the thresholdable
    * per-doc metrics — [[TextAnalysis.docVerdictsFrame]]) and the
    * near-dup clusters from the staged cluster table. The corpus build
    * is then windows + joins over two compact staged parquet reads;
    * `minStopwordRatio` stays a read-time parameter because the
    * surface stores the RATIO, not a keep flag. */
  def buildCorpusStaged(spark: SparkSession, dir: String, art: String,
                        budget: Int = 256, nShards: Int = 4,
                        minStopwordRatio: Double = 0.03): DataFrame =
    corpusV1Tail(
      slimFromVerdicts(TextDedup.readDocVerdicts(spark, art), minStopwordRatio),
      TextDedup.dupClustersStaged(spark, art), budget, nShards)

  /** The staged verdict surface reduced to the slim frame both corpus
    * tails consume: the stored metrics ARE [[slimDocs]]' values (same
    * expressions at stage time, 4dp-floored doubles, md5 strings), so
    * filtering them at read is value-identical to recomputing from
    * text. */
  private def slimFromVerdicts(verdicts: DataFrame,
                               minStopwordRatio: Double): DataFrame =
    verdicts
      .filter(col("stopword_ratio") >= minStopwordRatio)
      .select(col("doc_id"), col("lang"), col("digest").as("__digest"),
        col("n_tokens"),
        TextAnalysis.splitOfDigest(col("digest")).as("split"))

  /** Auto-routed [[buildCorpus]]: the cluster frame comes from the
    * staged artifact when current ([[TextDedup.dupClustersAuto]]'s
    * gate — the build stages clusters under the default maxRounds this
    * endpoint asks for), else re-derived self-contained. Only the
    * cluster INPUT routes: budget/nShards/minStopwordRatio parameterize
    * the always-run corpus tail, which consumes either frame
    * identically (staged ≡ self-contained is asserted in
    * DedupArtifactsSpec), so they do not gate. */
  def buildCorpusAuto(spark: SparkSession, dir: String, art: String,
                      budget: Int = 256, nShards: Int = 4,
                      minStopwordRatio: Double = 0.03): DataFrame =
    if (TextDedup.artifactsCurrent(dir, art))
      buildCorpusStaged(spark, dir, art, budget, nShards, minStopwordRatio)
    else buildCorpus(spark, dir, budget, nShards, minStopwordRatio)

  private def buildCorpusFrom(spark: SparkSession, dir: String,
                              clustersFull: DataFrame, budget: Int,
                              nShards: Int, minStopwordRatio: Double): DataFrame =
    corpusV1Tail(
      slimDocs(spark, dir)
        .filter(col("__quality") >= minStopwordRatio).drop("__quality"),
      clustersFull, budget, nShards)

  /** The shared v1 tail: exact-dedup canonical, near-dup cluster drop,
    * split + pack — ONE definition so the self-contained and
    * verdict-staged forms cannot drift. `slimQ` is the
    * quality-surviving slim frame (doc_id, lang, __digest, n_tokens,
    * split). */
  private def corpusV1Tail(slimQ: DataFrame, clustersFull: DataFrame,
                           budget: Int, nShards: Int): DataFrame = {
    val clusters = clustersFull.select("doc_id", "cluster_id")
    val kept = exactCanon(slimQ).join(clusters, Seq("doc_id"), "left")
      .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
    splitAndPack(kept, budget, nShards)
  }

  /** The one projection that touches `text`: every per-document signal
    * the corpus builds consume, reduced to fixed-width columns at the
    * scan. The split bucket reuses the digest (same md5) instead of
    * re-hashing, and the quality ratio rides along so the filter needs
    * no second pass over text. */
  private def slimDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        md5(col("text")).as("__digest"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        TextAnalysis.stopwordRatio(col("text")).as("__quality"))
      .withColumn("split", TextAnalysis.splitOfDigest(col("__digest")))

  /** Exact dedup on the slim frame: canonical = min doc_id per content
    * digest. The window shuffles (doc_id, lang, digest, counts) only. */
  private def exactCanon(slim: DataFrame): DataFrame =
    slim
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__digest").orderBy("doc_id")))
      .filter(col("__rn") === 1).drop("__rn", "__digest")

  /** The shared tail of both corpus builds: sharding and running-sum
    * packing over the pre-computed (split, lang, n_tokens) columns —
    * ONE definition so the two pipeline variants cannot drift in their
    * output stage. */
  /** Running-sum packing: tokens admitted BEFORE each doc within its
    * partition, and the pack that prefix lands in. `div`, not
    * float division — tokens_before and budget are exact integers,
    * and the double form misassigns the boundary pack once a
    * partition's prefix exceeds ~2^52/budget tokens (inside this
    * code's own 100 TB envelope). ONE definition for both corpus
    * builds and [[packSequences]] so the packing arithmetic cannot
    * drift. */
  private def runningPack(df: DataFrame, partitionCols: Seq[String],
                          budget: Int): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("tokens_before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .withColumn("pack_id", expr(s"tokens_before div $budget"))
  }

  private def splitAndPack(kept: DataFrame, budget: Int, nShards: Int): DataFrame =
    runningPack(
        kept.withColumn("shard", pmod(col("doc_id"), lit(nShards)).cast("int")),
        Seq("split", "lang", "shard"), budget)
      .select("doc_id", "lang", "split", "shard", "n_tokens", "pack_id")
      .orderBy("doc_id")

  /** Corpus build v2 — the same ship-a-training-corpus pipeline with
    * the round-4 quality tooling swapped in:
    *
    *   Gopher repetition verdict (keep)
    *     → substring-dedup verdict (drop docs with a 40+-char span
    *       shared with another doc — [[TextDedup.spanDocStats]];
    *       docs with no spans pass)
    *       → exact dedup (canonical = min doc_id per content digest)
    *         → md5 split → token-budget packing (shared tail).
    *
    * Still ONE declarative plan: Catalyst fuses the filter joins, and
    * each stage's semantics stay individually verified by its own
    * oracled endpoint. */
  def buildCorpusV2(spark: SparkSession, dir: String,
                    budget: Int = 256, nShards: Int = 4): DataFrame =
    buildCorpusV2From(spark, dir,
      TextDedup.spanDocStatsFrame(spark, dir), budget, nShards)

  /** Auto-routed [[buildCorpusV2]] — fully corpus-scan-free when the
    * staged artifact serves (round-14, verdict #2): the substring-dedup
    * verdict comes from the STAGED span table AND the
    * repetition/digest/token slim frame from the STAGED `doc_verdicts`
    * surface, so the routed plan reads ONLY compact staged parquet —
    * the sf100 decomposition found the fused plan's unaccounted ~65 s
    * was exactly the two corpus re-reads (repetition explode + slim
    * projection) this surface staged away. Every input is param-free
    * (span constants pinned by the gate, repetition thresholds applied
    * at read over stored metrics), so the route gates on the
    * PARAM-FREE manifest segment — an artifact built under
    * non-default minJaccard/maxDf serves it all the same.
    * budget/nShards parameterize the always-run tail and do not gate. */
  def buildCorpusV2Auto(spark: SparkSession, dir: String, art: String,
                        budget: Int = 256, nShards: Int = 4): DataFrame =
    if (TextDedup.artifactsCurrent(dir, art, None,
        Seq(TextDedup.Tombstones, TextDedup.Spans, TextDedup.DocVerdicts)))
      corpusV2Tail(
        slimRepFromVerdicts(TextDedup.readDocVerdicts(spark, art)),
        TextDedup.spanDocStatsFrom(TextDedup.stagedSpans(spark, art), 40),
        budget, nShards)
    else buildCorpusV2(spark, dir, budget, nShards)

  /** The staged verdict surface reduced to v2's repetition-surviving
    * slim frame: the keep rule re-evaluates [[TextAnalysis]]'s
    * thresholds over the STORED 4dp metrics — identical comparisons on
    * identical values, and a doc with null metrics (none in practice —
    * the surface left-joins) fails the comparison exactly as the
    * self-contained inner join drops it. */
  private def slimRepFromVerdicts(verdicts: DataFrame): DataFrame =
    verdicts
      .filter(col("top_unigram_frac") <= TextAnalysis.MaxTopUnigramFrac &&
        col("dup_trigram_frac") <= TextAnalysis.MaxDupTrigramFrac)
      .select(col("doc_id"), col("lang"), col("digest").as("__digest"),
        col("n_tokens"),
        TextAnalysis.splitOfDigest(col("digest")).as("split"))

  private def buildCorpusV2From(spark: SparkSession, dir: String,
                                spanStats: DataFrame, budget: Int,
                                nShards: Int): DataFrame = {
    val rep = TextAnalysis.repetitionFrame(spark, dir)
      .select(col("doc_id"), col("keep"))
    val slimRep = slimDocs(spark, dir).drop("__quality")
      .join(rep, "doc_id").filter(col("keep")).drop("keep")
    corpusV2Tail(slimRep, spanStats, budget, nShards)
  }

  /** The shared v2 tail: substring-dedup drop, exact-dedup canonical,
    * split + pack — ONE definition for the self-contained and staged
    * forms. `slimRep` is the repetition-surviving slim frame. */
  private def corpusV2Tail(slimRep: DataFrame, spanStats: DataFrame,
                           budget: Int, nShards: Int): DataFrame = {
    val spans = spanStats.select(col("doc_id"), col("has_long_dup"))
    val quality = slimRep
      .join(spans, Seq("doc_id"), "left")
      .filter(col("has_long_dup").isNull || !col("has_long_dup"))
      .drop("has_long_dup")
    splitAndPack(exactCanon(quality), budget, nShards)
  }

  def packSequences(spark: SparkSession, dir: String,
                    budget: Int = 256, nShards: Int = 4): DataFrame =
    runningPack(
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("lang"),
            pmod(col("doc_id"), lit(nShards)).cast("int").as("shard"),
            size(split(col("text"), " ")).cast("long").as("n_tokens")),
        Seq("lang", "shard"), budget)
      .select("doc_id", "lang", "shard", "n_tokens", "tokens_before", "pack_id")
      .orderBy("doc_id")
  /** Deterministic k-per-group sample: the `k` docs of every source
    * whose md5(doc_id) ranks lowest — a bottom-k sketch whose "random"
    * order is a pure function of row content, so re-runs and
    * repartitions reproduce the selection exactly and a second engine
    * can reproduce it bit-for-bit. Under appends the sketch stays a
    * uniform sample but its MEMBERSHIP can change: a new doc with a
    * smaller rank key enters the bottom k and evicts one previously
    * selected (bottom-k is not append-extending).
    *
    * Scale: one shuffle on source + a ranking window; for very hot
    * groups the same rank key works with a per-partition top-k
    * pre-cut (TakeOrdered shape) since the md5 order is global. */
  def samplePerSource(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(col("rank_key"), col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("rank_key", md5(col("doc_id").cast("string")))
      .withColumn("rank_in_source", row_number().over(w))
      .filter(col("rank_in_source") <= k)
      .select("source", "rank_in_source", "doc_id", "lang", "n_chars")
      .orderBy("source", "rank_in_source")
  }
  /** Temperature-scaled source mixing — the multi-source corpus
    * balancing step (sample sources ∝ share^T with T<1 so low-resource
    * sources are boosted relative to dominant dumps): per-source
    * sampling probability p_s = budget·√n_s / Σ√n / n_s capped at 1
    * (T = 0.5 — √ specifically, because IEEE sqrt is correctly rounded
    * in every engine while general pow is not, which is what lets the
    * DuckDB oracle reproduce the selection bit-for-bit), and a doc is
    * selected when its md5-uniform u(doc_id) < p_s — the same
    * deterministic-uniform trick as the KMV sketch, so re-runs,
    * repartitions, and the second engine agree exactly. Σ√n sums as
    * floor(√n·10⁶) LONGS, not doubles: integer addition is
    * associative, so the total is identical under ANY partial-
    * aggregation order — a raw double sum would be order-dependent in
    * the last ulp, and a doc whose u sits within that ulp of p_s
    * would flip between engines.
    *
    * Scale: one tiny per-source aggregate joined back (AQE
    * broadcasts), then a stateless per-row filter — no corpus shuffle
    * at all. */
  def temperatureMix(spark: SparkSession, dir: String,
                     budget: Int = 300): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val perSource = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
    val sumSqrt = perSource.agg(
      (sum(floor(sqrt(col("n_s")) * 1e6).cast("long")) / 1e6).as("sum_sqrt"))
    docs
      .join(perSource, "source")
      .crossJoin(broadcast(sumSqrt))
      .withColumn("p_s", least(lit(1.0),
        lit(budget.toDouble) * sqrt(col("n_s")) / col("sum_sqrt") / col("n_s")))
      .withColumn("u",
        (graft.functions.OracleHash.low64(col("doc_id").cast("string"))
          .cast("double") + lit(9.223372036854776e18)) / lit(1.8446744073709552e19))
      .filter(col("u") < col("p_s"))
      .select(col("doc_id"), col("source"), col("lang"),
        graft.functions.ChFunctions.floorRound(col("p_s"), 6).as("sample_prob"))
      .orderBy("doc_id")
  }

  /** Token-budget corpus selection: fill a token budget with the
    * highest-quality documents — the "give me the best 10B tokens"
    * curation primitive. NOT a global sort: quality is discretized
    * into integer buckets ((n_stopwords · 100) div n_tokens — pure
    * integer, no float boundary), per-bucket token totals (≤ 101 rows)
    * decide which buckets fit the budget wholly (`bulk` tier), and
    * only the ONE straddling bucket is ordered internally (quality
    * desc, doc_id) to greedily fill the remainder (`boundary` tier) —
    * the quantile-threshold + boundary-refinement shape that selects
    * from 100 TB with one small aggregate, one broadcast of 101 rows,
    * and one per-bucket window over a single bucket's docs, never a
    * corpus-wide sort.
    *
    * Greedy rule (both tiers, both engines): a doc is in while the
    * tokens admitted BEFORE it are under budget — the straddler is
    * included, like [[packSequences]]' concat-then-chunk. */
  def budgetSelect(spark: SparkSession, dir: String,
                   budget: Long = 10000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        TextAnalysis.stopwordCount.as("__nstop"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("__ntok"),
        TextAnalysis.stopwordRatio(col("text")).as("quality"))
      .withColumn("bucket", expr("CAST((__nstop * 100) div __ntok AS INT)"))
    // ≤ 101 rows (percentage buckets), but consumed via the broadcast
    // join by BOTH the bulk and boundary branches — unmaterialized,
    // each branch re-expanded the corpus-scoring scan under the bucket
    // aggregate (round-15: one of the plan's three corpus scans)
    val buckets = scored.groupBy("bucket").agg(sum("n_tokens").as("btok"))
      .withColumn("tokens_above", coalesce(sum("btok").over(
        Window.orderBy(col("bucket").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .localCheckpoint(false)
    val tagged = scored
      .join(broadcast(buckets.select("bucket", "btok", "tokens_above")), "bucket")
    val bulk = tagged
      .filter(col("tokens_above") + col("btok") <= budget)
      .withColumn("tier", lit("bulk"))
    val boundary = tagged
      .filter(col("tokens_above") < budget && col("tokens_above") + col("btok") > budget)
      .withColumn("__run", coalesce(sum("n_tokens").over(
        Window.partitionBy("bucket").orderBy(col("quality").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("tokens_above") + col("__run") < budget)
      .withColumn("tier", lit("boundary"))
    val cols = Seq("doc_id", "bucket", "quality", "n_tokens", "tier")
    bulk.select(cols.map(col): _*)
      .union(boundary.select(cols.map(col): _*))
      .orderBy("doc_id")
  }

  /** Diversity-capped global top-k: the best `k` documents by quality
    * with at most `perSource` from any one source — the curation rule
    * that stops one crawler dump from monopolizing a premium data
    * budget. Two ranking passes: per-source capping (one shuffle on
    * source) shrinks the corpus to ≤ perSource·|sources| rows, and the
    * global ranking then runs on that tiny frame — the single-partition
    * global window is deliberately AFTER the cap, never on the corpus. */
  def topQualityDiverse(spark: SparkSession, dir: String,
                        k: Int = 50, perSource: Int = 5): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"),
        TextAnalysis.stopwordRatio(col("text")).as("quality"))
    val bySource = Window.partitionBy("source")
      .orderBy(col("quality").desc, col("doc_id"))
    val global = Window.orderBy(col("quality").desc, col("doc_id"))
    scored
      .withColumn("rank_in_source", row_number().over(bySource))
      .filter(col("rank_in_source") <= perSource)
      .withColumn("global_rank", row_number().over(global))
      .filter(col("global_rank") <= k)
      .select("global_rank", "doc_id", "source", "lang", "quality", "rank_in_source")
      .orderBy("global_rank")
  }

  /** Importance-resampling weights in the DSIR shape (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * hash word-bigram features into a small bucket space, estimate a
    * target distribution from an in-domain subset (here: the corpus's
    * own high-quality band, stopword ratio ≥ 0.08), weight each doc by
    * how much more its features look like the target than the raw pool,
    * and select the top `pct`% per source.
    *
    * Determinism contract: the likelihood ratio is an INTEGER-unit
    * proxy — per bucket `w_b = ((t_b+1)·10000) div (r_b+1)` (add-one
    * smoothed), per doc the plain sum of its buckets' w_b (associative
    * long addition, any partial-agg order agrees) — instead of the
    * paper's log-ratio, which would hang cross-engine equality on
    * transcendental ulps. Monotone in the same direction per bucket,
    * and exactly reproducible in the DuckDB oracle.
    *
    * Scale: one bigram shuffle with map-side combine onto `nBuckets`
    * rows; the bucket→weight table is broadcast (256 rows); the per-doc
    * sum is one shuffle on doc_id; the per-source selection window
    * ranks within sources only. The hashed-feature trick is the whole
    * point at 100 TB: the "model" is nBuckets longs, not a vocabulary. */
  def dsirWeights(spark: SparkSession, dir: String,
                  nBuckets: Int = 256, pct: Int = 20): DataFrame = {
    import graft.functions.OracleHash
    val d = Tables.documents(spark, dir)
    val base = d.select(
      col("doc_id"), col("source"),
      (TextAnalysis.stopwordRatio(col("text")) >= 0.08).as("is_target"),
      split(col("text"), " ").as("t"))
    val grams = base.filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("is_target"),
        explode(expr(
          "transform(sequence(1, size(t) - 1), i -> concat_ws(' ', t[i-1], t[i]))"))
          .as("ngram"))
      .withColumn("bucket", pmod(OracleHash.low64(col("ngram")), lit(nBuckets)))
    val stats = grams.groupBy("bucket")
      .agg(
        count(lit(1)).as("r_b"),
        sum(when(col("is_target"), 1L).otherwise(0L)).as("t_b"))
      .withColumn("w_b", expr("((t_b + 1) * 10000) div (r_b + 1)"))
    val scored = grams
      .join(broadcast(stats.select("bucket", "w_b")), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum(col("w_b")).as("score"))
      .withColumn("score_per_feat", expr("score div n_feats"))
    val out = d.select(col("doc_id"), col("source"))
      .join(scored, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_feats", "score", "score_per_feat"))
    out
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(col("score_per_feat").desc, col("doc_id"))))
      .withColumn("n_src", count(lit(1)).over(Window.partitionBy("source")))
      .withColumn("selected", col("rn") * 100 <= lit(pct) * col("n_src"))
      .drop("rn", "n_src")
      .orderBy("doc_id")
  }
}
