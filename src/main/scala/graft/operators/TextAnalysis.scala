package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import graft.functions.ChFunctions._
import graft.functions.WinnowFingerprints

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: token statistics, quality scoring, language-ID
  * heuristics, and content fingerprinting.
  *
  * Everything is built from codegen'd string expressions and higher-order
  * array functions — per-row compute with NO shuffle except the final
  * presentation sort, so these scale linearly with the scan: the shape
  * you want when scoring 100 TB of text.
  */
object TextAnalysis {

  /** Whitespace token count via length arithmetic (identical formula in
    * the DuckDB oracle — robust to engine-specific split semantics). */
  private[operators] def tokenCount(c: org.apache.spark.sql.Column) =
    length(c) - length(regexp_replace(c, " ", "")) + 1

  /** Stopword hits over the whitespace tokens of the `text` column
    * (the expr names the column literally — callers must select the
    * text under that name, as every quality consumer here does). ONE
    * definition of the stopword set: [[stopwordRatio]] and
    * TrainingMix.budgetSelect's integer bucket both derive from it,
    * so the ratio and the bucket can never disagree on what counts
    * as a stopword. */
  private[operators] def stopwordCount: org.apache.spark.sql.Column =
    expr("CAST(size(filter(split(text, ' '), x -> x IN ('the', 'a'))) AS BIGINT)")

  /** Per-doc token statistics: whitespace tokens, a BPE-ish subword
    * estimate (letter-run regex count + chars/4 blend — the standard
    * fast proxy when the real tokenizer is too hot for a scan), char
    * counts, average token length. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        col("n_chars"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        regexp_count(col("text"), lit("[a-z]+")).cast("long").as("n_word_runs"),
        ceil(length(col("text")) / 4.0).cast("long").as("n_bpe_est"),
        floorRound(length(regexp_replace(col("text"), " ", "")).cast("double")
          / tokenCount(col("text")), 4).as("avg_token_len"))
      .orderBy("doc_id")

  /** The quality signal shared by the scoring endpoint and the corpus
    * builder — one definition so a threshold change can't drift. */
  private[operators] def stopwordRatio(text: org.apache.spark.sql.Column) =
    floorRound(stopwordCount.cast("double") / tokenCount(text), 4)

  /** The md5-bucket split rule shared by splitAssign and the corpus
    * builders (80/10/10 at thresholds 'cd'/'e6'). The digest overload
    * is the ONE place the thresholds live: the corpus builds already
    * carry `md5(text)` for exact-dedup, so they derive the split from
    * that column instead of re-hashing — both call sites stay in
    * lockstep by construction. */
  private[operators] def splitOfDigest(digest: org.apache.spark.sql.Column) = {
    val bucket = substring(digest, 1, 2)
    when(bucket < "cd", "train").when(bucket < "e6", "val").otherwise("test")
  }

  private[operators] def splitOf(text: org.apache.spark.sql.Column) =
    splitOfDigest(md5(text))

  /** Quality scoring: stopword ratio, vowel ratio, length band — the
    * length/punct/stopword-ratio family used to filter web corpora. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        col("lang"),
        expr("size(filter(split(text, ' '), x -> x IN ('the', 'a')))")
          .cast("long").as("n_stopwords"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        (length(col("text")) - length(regexp_replace(col("text"), "[aeiou]", "")))
          .cast("long").as("n_vowels"),
        stopwordRatio(col("text")).as("stopword_ratio"))
      .withColumn("quality_band",
        when(col("stopword_ratio") >= 0.08, "high")
          .when(col("stopword_ratio") >= 0.03, "mid")
          .otherwise("low"))
      .orderBy("doc_id")

  /** Language-ID heuristic: character-n-gram + marker-token scoring
    * (the profile-counting shape of real langid — char bigram 'th' and
    * trigram 'the' frequencies plus stopword tokens; markers chosen for
    * the synthetic corpus). Deterministic and replicated verbatim in
    * the oracle. */
  def langId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"), col("lang"),
        expr("size(filter(split(text, ' '), x -> x IN ('the', 'a')))")
          .cast("long").as("en_markers"),
        // char-n-gram counts by length arithmetic (replace is exact)
        ((length(col("text")) - length(regexp_replace(col("text"), "th", ""))) / 2)
          .cast("long").as("ngram_th"),
        ((length(col("text")) - length(regexp_replace(col("text"), "the", ""))) / 3)
          .cast("long").as("ngram_the"),
        tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("lang_pred",
        when(col("en_markers") * 20 >= col("n_tokens") && col("ngram_th") > 0, "en")
          .when(col("en_markers") + col("ngram_the") > 0, "en_maybe")
          .otherwise("und"))
      .orderBy("doc_id")

  /** Rolling-hash chunk fingerprints (winnowing): a polynomial rolling
    * hash over every k-char window, then the minimum hash of each
    * w-window of those (the winnowing guarantee: any shared substring of
    * length >= k+w-1 yields a shared fingerprint) — the content-defined
    * chunking used for partial-overlap dedup, where digests only catch
    * exact duplicates. Entirely per-row; the fingerprint explosion is
    * the only row growth. */
  def rollingFingerprints(spark: SparkSession, dir: String,
                          k: Int = 8, w: Int = 16): DataFrame = {
    // native compiled loop (graft.functions.WinnowFingerprints);
    // bit-identical to the HOF chain
    //   array_distinct(transform(seq, i -> array_min(slice(rolling, i, w))))
    // but ~50× faster — HOF lambdas evaluate interpreted per element
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(column(WinnowFingerprints(expression(col("text")), k, w)))
          .as("fingerprint"))
      .orderBy("doc_id", "fingerprint")
  }

  /** Train/eval contamination check — decontamination, the step a
    * training pipeline runs before shipping an eval set: every
    * (eval doc, train doc) pair sharing >= `minShared` winnowing
    * fingerprints, i.e. sharing substrings of length >= k+w-1 chars
    * (the winnowing guarantee). Built entirely from already-verified
    * parts: [[rollingFingerprints]] and the [[splitOf]] rule.
    *
    * Scale: the fingerprint join is an inverted index, so the same
    * hot-key discipline as shingle near-dup applies — fingerprints in
    * more than `maxDf` docs (boilerplate substrings) are dropped from
    * candidate generation, bounding join fan-out at maxDf² per
    * fingerprint. */
  def contaminationCheck(spark: SparkSession, dir: String,
                         minShared: Int = 2, maxDf: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val splits = Tables.documents(spark, dir)
      .select(col("doc_id"), splitOf(col("text")).as("split"))
    val capped = rollingFingerprints(spark, dir)
      .join(splits, "doc_id")
      .withColumn("__df", count(lit(1)).over(Window.partitionBy("fingerprint")))
      .filter(col("__df") <= maxDf)
      .drop("__df")
    val train = capped.filter(col("split") === "train")
      .select(col("doc_id").as("train_doc_id"), col("fingerprint"))
    val heldOut = capped.filter(col("split") =!= "train")
      .select(col("doc_id").as("eval_doc_id"), col("split"), col("fingerprint"))
    heldOut.join(train, "fingerprint")
      .groupBy("eval_doc_id", "split", "train_doc_id")
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
      .orderBy("eval_doc_id", "train_doc_id")
  }

  /** Content fingerprinting: normalized digest for exact-dup detection at
    * scale (dedup on the 16-byte digest, never on the raw text — the
    * shuffle moves digests, not documents). */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        md5(col("text")).as("digest"),
        sha2(col("text"), 256).as("digest_sha256"),
        length(col("text")).cast("long").as("text_len"))
      .orderBy("doc_id")

  /** Token-window chunking: split each document into fixed-size token
    * windows with overlap (`chunkTokens`=32, `stride`=24 → 8-token
    * overlap) — the unit-of-training preparation step every LLM corpus
    * pipeline runs before tokenization. EVERY token lands in at least
    * one chunk: the chunk count is ceil((n - chunk)/stride) + 1 (via
    * integer arithmetic valid in any engine), so the last window is a
    * partial chunk covering the tail rather than the tail being
    * silently dropped. Per-row explode, no shuffle; row growth is
    * bounded by tokens/stride. */
  def chunks(spark: SparkSession, dir: String,
             chunkTokens: Int = 32, stride: Int = 24): DataFrame = {
    // ceil((n - chunk)/stride) = (n - chunk + stride - 1) div stride
    val lastIdx =
      s"greatest((size(t) - ${chunkTokens - stride + 1}) div $stride, 0)"
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, $lastIdx)," +
          s" i -> slice(t, i * $stride + 1, $chunkTokens))")))
      .select(
        col("doc_id"),
        col("pos").as("chunk_id"),
        (col("pos") * stride + 1).as("chunk_start"),
        size(col("col")).as("n_tokens"),
        concat_ws(" ", col("col")).as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Deterministic train/val/test assignment by content digest: the
    * first md5 hex byte buckets each document 0x00–0xff, split
    * 80/10/10 at 0xcd/0xe6 by plain string comparison (identical in
    * any engine, stable under re-partitioning and re-runs — the
    * property a reproducible corpus split needs; doc-id splits break
    * the moment ids are reassigned). */
  def splitAssign(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        substring(md5(col("text")), 1, 2).as("bucket_hex"),
        splitOf(col("text")).as("split"))
      .orderBy("doc_id")

  /** Gopher-style repetition filters: the per-document repetition
    * metrics (distinct-token ratio, most-frequent-unigram fraction,
    * duplicate-3-gram fraction) and the keep/drop verdict a web-corpus
    * quality pass computes before training. Thresholds follow the
    * published heuristics' shape (flag documents dominated by one token
    * or by repeated n-gram spans), tuned to this corpus's profile so
    * both verdicts occur at every SF.
    *
    * Scale: distinct-ratio and dup-3-gram fraction are per-row array
    * arithmetic inside the scan; the top-unigram fraction needs true
    * per-(doc, term) counts, which is ONE shuffle with map-side
    * combine (the exchange carries per-mapper partial counts, not
    * token instances), re-joined to the per-row metrics on the same
    * doc_id key. */
  /** Repetition thresholds — one definition for the endpoint, the
    * frame form, and the composites (mirrored in the oracle text). */
  val MaxTopUnigramFrac = 0.15
  val MaxDupTrigramFrac = 0.02

  def repetitionFilters(spark: SparkSession, dir: String,
                        maxTopUnigramFrac: Double = MaxTopUnigramFrac,
                        maxDupTrigramFrac: Double = MaxDupTrigramFrac): DataFrame =
    repetitionFrame(spark, dir, maxTopUnigramFrac, maxDupTrigramFrac)
      .orderBy("doc_id")

  /** [[repetitionFilters]] without the presentation sort — the form
    * the corpus-build composite consumes.
    *
    * Every metric comes from exploded codegen'd AGGREGATIONS, not
    * per-row higher-order-function chains: HOF lambdas evaluate
    * interpreted, and — worse — Catalyst's projection collapse INLINES
    * an aliased HOF expression into every downstream use site, so a
    * mere `filter(keep)` re-evaluated the whole trigram transform per
    * row (measured 0.4 s → 10 s on the composite consumer). With
    * aggregation-derived columns, `keep` is a comparison of two
    * aggregated doubles wherever it flows. */
  private[graft] def repetitionFrame(
      spark: SparkSession, dir: String,
      maxTopUnigramFrac: Double = MaxTopUnigramFrac,
      maxDupTrigramFrac: Double = MaxDupTrigramFrac): DataFrame =
    repetitionFrameFrom(Tables.documents(spark, dir),
      maxTopUnigramFrac, maxDupTrigramFrac)

  /** [[repetitionFrame]] over an ARBITRARY (doc_id, text) frame — the
    * kernel the staged `doc_verdicts` surface builds from (full corpus
    * at stage time, the upsert delta during maintenance). */
  private[graft] def repetitionFrameFrom(
      docs0: DataFrame,
      maxTopUnigramFrac: Double = MaxTopUnigramFrac,
      maxDupTrigramFrac: Double = MaxDupTrigramFrac): DataFrame = {
    val docs = docs0
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    // distinct-token ratio + top-unigram fraction from one token explode
    val tokStats = docs
      .select(col("doc_id"), size(col("t")).as("n"), explode(col("t")).as("w"))
      .groupBy("doc_id", "n", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "n")
      .agg(count(lit(1)).as("n_distinct"), max(col("c")).as("maxc"))
      .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
        floorRound(col("n_distinct").cast("double") / col("n"), 4).as("distinct_ratio"),
        floorRound(col("maxc").cast("double") / col("n"), 4).as("top_unigram_frac"))
    // duplicate-trigram fraction from one shingle explode
    val gramStats = docs.filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 2), i -> concat_ws(' ', t[i-1], t[i], t[i+1]))"))
        .as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("total"), count(lit(1)).as("n_dist"))
      .select(col("doc_id"),
        floorRound((col("total") - col("n_dist")).cast("double") / col("total"), 4)
          .as("dup_trigram_frac"))
    tokStats.join(gramStats, Seq("doc_id"), "left")
      .withColumn("dup_trigram_frac", coalesce(col("dup_trigram_frac"), lit(0.0)))
      .withColumn("keep",
        col("top_unigram_frac") <= maxTopUnigramFrac &&
          col("dup_trigram_frac") <= maxDupTrigramFrac)
      .select("doc_id", "n_tokens", "distinct_ratio", "dup_trigram_frac",
        "top_unigram_frac", "keep")
  }

  /** The per-document VERDICT projection the corpus builds consume —
    * one row per doc carrying every text-derived signal
    * [[graft.operators.TrainingMix]]'s two pipelines need: content
    * digest (exact-dedup canonical + split bucket), token count
    * (packing), stopword quality (v1's filter), and the three
    * repetition metrics (v2's Gopher verdict). All are PURE per-doc
    * functions of text — no corpus-level coupling like dfs — so the
    * staged `doc_verdicts` surface maintains by plain
    * retract-and-reapply, and THRESHOLDS stay read-time parameters:
    * the surface stores the metrics, never a keep flag, so an artifact
    * built once serves any quality/repetition threshold. Metrics are
    * 4dp-floored doubles ([[graft.functions.ChFunctions.floorRound]])
    * — deterministic, parquet-round-trip-exact, so the staged read is
    * value-identical to recomputing from text. Repetition metrics join
    * LEFT so the surface covers EVERY doc (v1 reads docs the
    * repetition explode might not emit); a doc with null metrics fails
    * v2's keep comparison exactly as the self-contained inner join
    * drops it. */
  private[graft] def docVerdictsFrame(docs: DataFrame): DataFrame =
    docs
      // a corpus without `lang` could always stage dedup artifacts —
      // the verdict stage must not add that requirement (the corpus
      // BUILDS need lang and fail on such data either way, staged or
      // self-contained; the dedup surfaces never did)
      .select(col("doc_id"),
        (if (docs.columns.contains("lang")) col("lang")
         else lit("")).as("lang"),
        md5(col("text")).as("digest"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        stopwordRatio(col("text")).as("stopword_ratio"))
      .join(repetitionFrameFrom(docs)
          .select("doc_id", "distinct_ratio", "dup_trigram_frac",
            "top_unigram_frac"),
        Seq("doc_id"), "left")

  /** Per-document boilerplate coverage: the fraction of a document's
    * distinct 3-gram shingles that are corpus-wide boilerplate
    * (document frequency > `maxDf`) — the line-dedup analogue for a
    * corpus without line structure, and the audit view of the same df
    * cap the near-dup candidate generator applies. A document flagged
    * here is mostly template text; C4-style cleaning drops or
    * truncates it.
    *
    * Documents with fewer than 3 tokens have no shingles and no row —
    * same domain as the near-dup pipeline.
    *
    * Scale: the df computation is one shuffle of the (distinct)
    * shingle table — the inverted index the dedup suite already
    * stages once at 100 TB ([[TextDedup.stageShingles]]) — then a
    * per-doc count aggregation on the doc_id key. */
  def boilerplateCoverage(spark: SparkSession, dir: String, maxDf: Int = 5): DataFrame = {
    // Three shapes measured here, worst to best at scale:
    //  - count-over-window df: sorts the whole inverted index per
    //    shingle partition (11.8x for 10x data at the r8 sf10 gate);
    //  - agg + join the df frame back onto the FULL shingle stream:
    //    sort-free, but the corpus-sized exploded stream crosses the
    //    wire twice more (join probe + final doc_id agg) — 11x for
    //    3.3x data at the sf100 gate, pure shuffle spill;
    //  - this one: n_shingles is just size(shs) (no aggregation at
    //    all), and only the shingles that ARE boilerplate (df > maxDf
    //    — a set bounded by corpus template mass, tiny on clean data)
    //    join back, so the full stream is shuffled exactly once, as
    //    map-side-combined df partials. SHUFFLE_HASH on the filtered
    //    df side: no sort if it stays big; AQE upgrades it to a
    //    broadcast join when it is runtime-small (the common case).
    val arr = TextDedup.shingleArrays(Tables.documents(spark, dir))
    val sh = arr.select(col("doc_id"), explode(col("shs")).as("shingle"))
    val boiler = sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf)
    val nBoiler = sh.join(boiler.hint("shuffle_hash"), "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("n_boilerplate"))
    arr.select(col("doc_id"), size(col("shs")).cast("long").as("n_shingles"))
      .join(nBoiler, Seq("doc_id"), "left")
      .withColumn("n_boilerplate", coalesce(col("n_boilerplate"), lit(0L)))
      .withColumn("boilerplate_frac",
        floorRound(col("n_boilerplate").cast("double") / col("n_shingles"), 4))
      .withColumn("flagged", col("n_boilerplate") > 0)
      .orderBy("doc_id")
  }

  /** N-gram language-model quality score: each document scored by the
    * mean smoothed conditional bigram probability under a model built
    * from the corpus itself — the KenLM-perplexity-filter shape
    * (score low = the document's word transitions are unlike the
    * corpus), with the arithmetic made engine-exact:
    *
    *  - per-bigram term: (c(w1 w2) + 1) / (c(w1) + V)  (add-one
    *    smoothing) — one IEEE double division, exact-rounded,
    *  - each term floor-scaled to 1e-9 units as a LONG before
    *    summing, so the per-doc sum is integer arithmetic —
    *    associative, partition-order-invariant, identical on any
    *    engine (no log/exp: transcendentals differ in the last ulp
    *    across libms, the hash gate's enemy),
    *  - final score = units / (m · 1e9), floor-rounded.
    *
    * Scale: unigram and bigram counts are map-side-combined count
    * shuffles over the token stream (the vocabulary is orders of
    * magnitude smaller than the corpus); instance scoring joins on the
    * bigram key; one last doc_id aggregation. Documents with < 2
    * tokens have no bigrams and no row. */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    val bi = docs.filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS w1, t[i] AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    // uni feeds TWO consumers (the score join and the vocab count);
    // unmaterialized, each re-expands the corpus token scan — the
    // vocab count alone cost a full explode pass (round-15). The
    // checkpointed frame is VOCABULARY-bounded, not corpus-bounded.
    val uni = docs.select(explode(col("t")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
      .localCheckpoint(false)
    val big = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    // SHUFFLE_HASH on the count sides. Un-hinted, the planner
    // broadcasts them below the threshold and flips to SortMergeJoin
    // past it (the sf10 gate measured the flip: 14.5-19.6x for 10x
    // data), paying a full sort of the bigram INSTANCE stream per
    // join. The hint pins the scale-correct plan at every SF: the
    // instance stream is hash-shuffled but NEVER sorted, and the
    // per-partition hash build is the count table — vocabulary-sized,
    // orders of magnitude under the instances.
    bi.join(big.hint("shuffle_hash"), Seq("w1", "w2"))
      .join(uni.hint("shuffle_hash"), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        floor((col("c2") + lit(1.0).cast("double")) / (col("c1") + col("v")) * 1e9)
          .cast("long").as("term_units"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        floorRound(sum(col("term_units")) / (count(lit(1)) * 1e9), 6).as("lm_score"))
      .orderBy("doc_id")
  }

  /** Corpus-level top-k bigrams by total occurrence count — the exact
    * heavy-hitter query (vocabulary building, contamination checks).
    * Map-side partial counts shuffle one row per (mapper, ngram);
    * the top-k is TakeOrderedAndProject (per-partition top-k, then a
    * driver merge of k·partitions rows — never a global sort of the
    * ngram table). */
  /** BPE tokenizer training, first merge step: adjacent-character-pair
    * frequencies over the corpus vocabulary, weighted by word
    * frequency — the statistic byte-pair-encoding training computes to
    * pick each merge (the top row IS the first merge).
    *
    * Scale: the classic two-stage trick that makes BPE training
    * feasible on a 100 TB corpus — the first groupBy collapses the
    * corpus to its VOCABULARY (word, freq) with map-side combine, and
    * the pair explosion runs over distinct words only (orders of
    * magnitude smaller than the corpus; repeated words are counted by
    * weight, not re-scanned). Pair extraction is explode(sequence) +
    * substr — all codegen'd, no interpreted lambda. */
  def bpeMergeCandidates(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    words
      .select(col("freq"), col("word"),
        explode(sequence(lit(1), length(col("word")) - 1)).as("i"))
      .select(col("word").substr(col("i"), lit(2)).as("pair"), col("freq"))
      .groupBy("pair").agg(sum(col("freq")).as("pair_freq"))
      .orderBy(col("pair_freq").desc, col("pair"))
      .limit(k)
  }

  /** BPE ENCODING — apply the k ranked merges [[bpeMergeCandidates]]
    * mines to the whole corpus, emitting per-doc token statistics and
    * an md5 digest of the full encoded string (so the oracle verifies
    * every token boundary, not just the counts).
    *
    * Representation: the doc is "spatialized" — every letter becomes
    * `~c ` (marker + char + space), so `the cat` reads
    * `~t ~h ~e  ~c ~a ~t `. A merge of pair `ab` is then the plain
    * string replace `~a ~b ` → `~ab `: the leading `~` anchors a token
    * START (a token whose text merely ends in `a` cannot false-match),
    * the trailing space anchors the second token's END, and the double
    * space left between words makes cross-word merges impossible
    * without any per-word bookkeeping. `replace` is leftmost
    * non-overlapping in both Java and DuckDB, which IS the BPE
    * left-to-right application order, so `aaaa` under merge `aa`
    * becomes `[aa][aa]`, not `[aa][a][a]`. Merges apply in mined rank
    * order (freq desc, pair asc) via a single `aggregate` fold.
    *
    * This is one-shot BPE (rank the first iteration's pair statistics,
    * apply as a batch) rather than re-mining after every merge — the
    * standard cheap approximation; earlier merges still shadow later
    * overlapping ones exactly as in sequential application.
    *
    * Scale: the merge table is k rows (one bounded broadcast); the
    * encode itself is a pure per-row projection — regexp spatialize +
    * k replaces + md5, all inside whole-stage codegen, zero shuffles
    * before the presentation sort. Unlike a vocab-join design
    * (distinct words → encode → join back), nothing corpus-sized is
    * ever shuffled: the only acceptable shape for tokenizing 100 TB. */
  def bpeEncode(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val merges = bpeMergeCandidates(spark, dir, k)
      .agg(expr(
        "transform(array_sort(collect_list(struct(-pair_freq AS nf, pair))), x -> x.pair)")
        .as("ms"))
    Tables.documents(spark, dir)
      .crossJoin(broadcast(merges))
      .withColumn("enc", expr(
        """aggregate(ms, regexp_replace(text, '([a-z])', '~$1 '),
          |  (s, m) -> replace(s,
          |    concat('~', substr(m, 1, 1), ' ~', substr(m, 2, 1), ' '),
          |    concat('~', m, ' ')))""".stripMargin))
      .withColumn("n_chars",
        length(regexp_replace(col("text"), " ", "")).cast("int"))
      .withColumn("n_tokens",
        (length(col("enc")) - length(regexp_replace(col("enc"), "~", ""))).cast("int"))
      .select(
        col("doc_id"),
        expr("cast(size(filter(split(text, ' '), w -> w != '')) as int)").as("n_words"),
        col("n_chars"),
        col("n_tokens"),
        md5(col("enc")).as("enc_digest"),
        floorRound(col("n_chars").cast("double") / col("n_tokens"), 6)
          .as("chars_per_token"))
      .orderBy("doc_id")
  }

  def topBigrams(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    Tables.documents(spark, dir)
      .select(split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t) - 1), i -> concat_ws(' ', t[i-1], t[i]))"))
        .as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram"))
      .limit(k)

  /** Top-k distinguishing terms per document by inverse-document-
    * frequency weight: tf × (N+1)/(df+1). The weight is the RATIONAL
    * idf form, not log-idf, deliberately: every operation (integer
    * counts, one multiply, one divide) is IEEE-exact-rounded and thus
    * bit-identical across engines, where transcendental log
    * implementations may differ in the last ulp — the determinism the
    * hash-based correctness gate requires. Ranking uses the raw double
    * (deterministic), term-asc tie-break; the reported weight is
    * floor-rounded for display.
    *
    * Scale: tf is one shuffle on (doc, term) with map-side combine.
    * The df table is the VOCABULARY — it grows with the corpus
    * (billions of terms at web scale), so tf ⋈ df stays an un-hinted
    * equi-join on `term` (both sides already shuffle-keyed on it); AQE
    * broadcasts when df is genuinely small. Only the 1-row corpus
    * count is forced broadcast. Per-doc top-k is a bounded window
    * over each doc's own terms. */
  def topTermsPerDoc(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val terms = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = terms.distinct().groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("weight_raw").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("weight_raw",
        col("tf") * (col("n_docs") + lit(1.0)) / (col("df") + lit(1.0)))
      .withColumn("term_rank", row_number().over(w))
      .filter(col("term_rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        floorRound(col("weight_raw"), 6).as("weight"), col("term_rank"))
      .orderBy("doc_id", "term_rank")
  }
  /** CCNet-style quality buckets: tercile split of every language's
    * documents by LM score ([[lmScore]] — higher = more predictable
    * text), labelling each doc head / middle / tail. The standard
    * corpus-curation move (keep head, sample middle, drop tail),
    * here per language so low-resource languages aren't judged on the
    * dominant language's scale. Deterministic: the ntile order ties
    * on doc_id, and lm_score itself is integer-unit arithmetic.
    * Scale: the score pipeline's joins, then ONE shuffle on lang for
    * the ranking window (docs with <2 tokens have no bigrams, hence
    * no score, and are excluded like in lmScore). */
  def lmBuckets(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang")
      .orderBy(col("lm_score").desc, col("doc_id"))
    lmScore(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "lang"), "doc_id")
      .withColumn("tercile", ntile(3).over(w))
      .select(col("doc_id"), col("lang"), col("lm_score"),
        when(col("tercile") === 1, "head")
          .when(col("tercile") === 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  /** Sparse TF-IDF cosine document-pair similarity — the sparse-vector
    * complement to the corpus's other similarity families: MinHash/
    * Jaccard measures SET overlap (term identity only), BM25 scores a
    * QUERY against docs, dense ANN needs a trained embedding; TF-IDF
    * cosine weighs shared vocabulary by rarity with no model at all,
    * the classic first pass for topical near-dup mining.
    *
    * Determinism discipline (the exactSum idea lifted to vectors): all
    * weights are INTEGER UNITS, so dot products and squared norms are
    * exact Long sums — partition-order-invariant in Spark and
    * bit-identical in the DuckDB oracle. wu = min(tf, 255) ·
    * min(floor(((n_docs+1)/(df+1))·100 + 0.5), 100000): sublinear tf
    * saturation (BM25-style — a term repeated 10k times is topical
    * evidence, not 10k× the evidence) times a clamped RATIONAL idf
    * (no ln — transcendental libm results aren't specified bitwise
    * across engines; the rational (N+1)/(df+1) ranks identically).
    * The caps also bound the arithmetic: wu ≤ 2.55e7, wu² ≤ 6.6e14,
    * so a doc needs >10⁴ distinct rare terms before a Long norm could
    * overflow — and cosine itself (dot / (√na·√nb)) is exactly-rounded
    * IEEE ops on exact integers, identical everywhere.
    *
    * Scale shape: ONE df-capped inverted-index self-join (fan-out ≤
    * maxDf² per term — the nearDupPairs bound), term keys pre-hashed
    * to 8-byte longs for the exchanges (equality-only role, same
    * argument as nearDupFrom). Terms with df > maxDf are EXCLUDED from
    * weights and norms alike — by construction they carry the lowest
    * idf mass, and dropping them on both sides keeps the operator
    * single-pass (no correction join) and the oracle exact. */
  def tfidfPairs(spark: SparkSession, dir: String, minCos: Double = 0.6,
                 maxDf: Int = 100): DataFrame =
    tfidfPairsFrom(Tables.documents(spark, dir), minCos, maxDf)

  private[graft] def tfidfPairsFrom(docs: DataFrame, minCos: Double,
                                    maxDf: Int): DataFrame = {
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // hash terms AT THE EXPLODE: every downstream role (tf group, df
    // group, the join and the index self-join) is equality-only, so all
    // corpus-sized exchanges carry fixed-width longs, never strings —
    // the nearDupFrom argument; the oracle keeps joining the strings
    // and differentially catches a (~2⁻⁶⁴) collision as a value diff
    val tf = docs
      .select(col("doc_id"),
        explode(split(col("text"), " ")).as("term_s"))
      .select(col("doc_id"), xxhash64(col("term_s")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = tf.join(dft, "term").filter(col("df") <= maxDf)
      .crossJoin(broadcast(nDocs))
      .withColumn("wu",
        least(col("tf"), lit(255L)) *
          least(floor((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0)) * 100 + 0.5)
            .cast("long"), lit(100000L)))
      .select(col("doc_id"), col("term"), col("wu"))
    val norms = w.groupBy("doc_id").agg(sum(col("wu") * col("wu")).as("norm2"))
    val dots = w.as("a")
      .join(w.as("b"),
        col("a.term") === col("b.term") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(sum(col("a.wu") * col("b.wu")).as("dot"))
    dots
      .join(norms.select(col("doc_id").as("doc_a"), col("norm2").as("na2")), "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("norm2").as("nb2")), "doc_b")
      .withColumn("cos_raw",
        col("dot").cast("double") /
          (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))))
      .filter(col("cos_raw") >= minCos)
      .select(col("doc_a"), col("doc_b"),
        floorRound(col("cos_raw"), 4).as("cosine"))
      .orderBy("doc_a", "doc_b")
  }

  /** Top-k sparse-TF-IDF neighbors per document — the retrieval view of
    * [[tfidfPairs]]: symmetrize the (doc_a < doc_b) pair frame and keep
    * each document's k most-similar neighbors. Ranking uses the ROUNDED
    * cosine (the published value) with neighbor-id tiebreak, so the
    * cut is reproducible in any engine regardless of sub-ulp cosine
    * differences that 4dp rounding erases. Scale: the pair frame is
    * already threshold-pruned; the window shuffles pairs (ids +
    * doubles), never text. */
  def tfidfNeighbors(spark: SparkSession, dir: String, k: Int = 3,
                     minCos: Double = 0.3, maxDf: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = tfidfPairsFrom(Tables.documents(spark, dir), minCos, maxDf)
    val sym = pairs
      .select(col("doc_a").as("doc_id"), col("doc_b").as("neighbor"), col("cosine"))
      .unionAll(pairs
        .select(col("doc_b").as("doc_id"), col("doc_a").as("neighbor"), col("cosine")))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("cosine").desc, col("neighbor"))
    sym.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("neighbor"), col("cosine"))
      .orderBy("doc_id", "rank")
  }

  /** Topical document clusters WITHOUT an embedding model: connected
    * components over the [[tfidfPairs]] graph — docs sharing enough
    * rare weighted vocabulary land in one component. The model-free
    * counterpart of [[VectorOps.dupClusters]] (embedding CC) and the
    * topical counterpart of [[TextDedup.dupClusters]] (verbatim-overlap
    * CC); reuses the same checkpointed min-label propagation, so the
    * scale argument is unchanged (edge list ≪ corpus, rounds =
    * component diameter). */
  def topicClusters(spark: SparkSession, dir: String, minCos: Double = 0.6,
                    maxDf: Int = 100, maxRounds: Int = 64): DataFrame =
    ConnectedComponents.clusters(spark,
        tfidfPairs(spark, dir, minCos, maxDf).select("doc_a", "doc_b"), maxRounds)
      .toDF("doc_id", "cluster_id", "cluster_size")
      .orderBy("cluster_id", "doc_id")

  /** Domain-shift audit: χ² divergence of each source's term
    * distribution from the corpus distribution — the curation signal
    * for "this dump's vocabulary doesn't look like the rest of the
    * data" (tokenizer drift, boilerplate dumps, wrong-language
    * batches). χ²(p‖q) = Σ_t (p_t − q_t)²/q_t over the corpus vocab;
    * deliberately χ² and not KL: every step is counts, one subtract,
    * one square, one divide — no transcendental log whose last-ulp
    * behavior could differ between engines, so the gate verifies the
    * divergence hash-for-hash. Terms absent from a source contribute
    * q_t exactly; that whole tail folds into ONE closed-form value
    * (N − Σ_{t∈s} C_t)/N — no anti-join against the vocabulary.
    * Per-term contributions floor to 1e-9 units and sum as longs
    * (associative → partial-agg order free). The c·N and C·N_s cross
    * products stay in longs (exact up to ~3e9 tokens per shard; a
    * 100 TB deployment runs this per-shard and merges the unit sums,
    * which the integer lanes make a plain +).
    *
    * Scale: ONE map-side-combined shuffle of the token stream to
    * (source, term); everything after runs on vocabulary-sized frames
    * (per-term corpus counts re-aggregated from that frame, not the
    * stream). Per-source totals broadcast (sources are bounded); the
    * 1-row corpus total broadcasts; the divergence sum is a second
    * shuffle of the (source, term) frame only. */
  def sourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    val st = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("c"))
    val ct = st.groupBy("term").agg(sum(col("c")).as("ct"))
    val ns = st.groupBy("source")
      .agg(sum(col("c")).as("ns"), count(lit(1)).as("n_terms"))
    val n = ct.agg(sum(col("ct")).as("n"))
    val d = col("c") * col("n") - col("ct") * col("ns")
    val contrib = (d.cast("double") * d.cast("double")) /
      ((col("ns").cast("double") * col("ns")) *
        (col("n").cast("double") * col("ct")))
    val present = st.join(ct, "term")
      .join(broadcast(ns), "source").crossJoin(broadcast(n))
      .groupBy("source")
      .agg(sum(floor(contrib * lit(1e9) + lit(0.5)).cast("long"))
          .as("present_units"),
        sum(col("ct")).as("cs"))
    present.join(broadcast(ns), "source").crossJoin(broadcast(n))
      .select(col("source"), col("n_terms"), col("ns").as("n_tokens"),
        ((col("present_units") +
          floor((col("n") - col("cs")).cast("double") * lit(1e9) / col("n")
            + lit(0.5)).cast("long")) / lit(1e9)).as("chi2"))
      .orderBy("source")
  }
}
