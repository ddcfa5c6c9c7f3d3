package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up generator for the empirical headroom check: builds a
  * `factor`× copy of an sf directory whose DUPLICATE STRUCTURE matches
  * the original per replica, so the dedup/clustering/corpus plans are
  * measured against 10× the data with the same per-document workload —
  * not against a pathological corpus where every doc suddenly has
  * `factor` twins.
  *
  *   - documents: replica k applies an INJECTIVE word map (suffix every
  *     non-stopword token with `~k`). A bijection on tokens maps shingle
  *     sets bijectively, so within-replica Jaccard — and therefore the
  *     near-dup pair graph and its connected components — is preserved
  *     EXACTLY; across replicas the only shared shingles are all-stopword
  *     3-grams (negligible), so replicas don't near-dup each other. The
  *     two quality stopwords ('the', 'a') keep their surface form so
  *     stopword-ratio quality filters see the same corpus profile.
  *   - embeddings: replica k applies a deterministic sign-flip isometry
  *     (negate dimension i when hash(i,k) is odd). Sign flips are exact
  *     in IEEE floats and cancel in within-replica dot products, so every
  *     within-replica cosine is preserved BIT-FOR-BIT (pair graph, CC,
  *     and k-means geometry identical per replica); cross-replica cosines
  *     collapse toward 0 under the pseudo-random sign disagreement.
  *   - orders/lineitem: replica k shifts the order key by k·10⁸ (line
  *     and order rows stay consistent); dim references are unchanged, so
  *     dim joins see `factor`× the probe rows — the shape that stresses
  *     the join strategy.
  *   - all other tables copy through unchanged.
  *
  * Usage: `runMain graft.tools.GenScale <srcSfDir> <outDir> [factor]`.
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    // Session writes µs timestamps, so replicated events round-trip with
    // the same logical type Tables.events scans from the harness data
    val spark = graft.Session(src)

    def replicas(base: DataFrame, mk: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(k => mk(base, k)).reduce(_ unionAll _)

    val docs = spark.read.parquet(s"$src/documents.parquet")
    replicas(docs, (d, k) =>
      d.select(
        (col("doc_id") + lit(k.toLong * 10000000L)).as("doc_id"),
        (if (k == 0) col("text")
         else array_join(transform(split(col("text"), " "),
           w => when(w.isin("the", "a"), w).otherwise(concat(w, lit(s"~$k")))), " "))
          .as("text"),
        col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long")))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    replicas(emb, (e, k) =>
      e.select(
        (col("vec_id") + lit(k.toLong * 10000000L)).as("vec_id"),
        (if (k == 0) col("embedding")
         else expr(s"transform(embedding, (x, i) -> IF(pmod(hash(i, $k), 2) = 0, x, -x))"))
          .as("embedding"),
        col("label")))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val orders = spark.read.parquet(s"$src/orders.parquet")
    replicas(orders, (o, k) =>
      o.withColumn("o_orderkey", col("o_orderkey") + lit(k.toLong * 100000000L)))
      .write.mode("overwrite").parquet(s"$out/orders.parquet")

    val lineitem = spark.read.parquet(s"$src/lineitem.parquet")
    replicas(lineitem, (l, k) =>
      l.withColumn("l_orderkey", col("l_orderkey") + lit(k.toLong * 100000000L)))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // events: replica k shifts the entity key and the event id — each
    // user's history replicates VERBATIM (same per-user event sequence,
    // same (ts, event_id) relative order), so per-user window /
    // sessionization / dedup workloads see factor× the users with
    // identical per-user work, and the wall-clock span stays fixed —
    // event density scales, which is how real traffic grows. Shifts are
    // disjoint ranges (ids observed ≪ 10⁸/10¹²), so replicas never
    // collide on either key.
    val events = spark.read.parquet(s"$src/events.parquet")
    replicas(events, (e, k) =>
      e.withColumn("user_id", col("user_id") + lit(k.toLong * 100000000L))
        .withColumn("event_id", col("event_id") + lit(k.toLong * 1000000000000L)))
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")

    println(s"GENSCALE wrote $out at ${factor}x of $src")
    spark.stop()
  }
}
