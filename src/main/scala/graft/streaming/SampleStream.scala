package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.Sampling

/** Cross-batch bottom-k sampling — a uniform corpus sample maintained
  * as the corpus STREAMS in, with a k-row state: the streaming face of
  * [[Sampling.bottomK]], next to [[CountMinStream]] (counts),
  * [[BloomStream]] (membership), and [[HeavyHitterStream]] (frequent
  * items) — the fourth bounded-state answer a 100 TB pipeline keeps
  * about an unbounded stream, here "show me k uniformly-drawn
  * documents of everything so far" (eval slices, eyeball checks,
  * drift probes) without ever re-scanning the corpus.
  *
  * The state law is [[PackingStream]]'s generation protocol; the merge
  * is the bottom-k merge law (bottomK(A ∪ B) = bottomK(bottomK(A) ∪
  * bottomK(B))): per batch, union the committed ≤ k sample rows with
  * the batch's ranked docs, dedup by key, keep the k smallest — one
  * distributed top-k job, state never rides through the driver (the
  * only pin is the 1-row batch count). Because ranks are deterministic
  * content hashes, the key dedup makes the sample EXACTLY
  * bottomK(distinct keys ever seen) — at-least-once redelivery
  * cannot bias it (same doc ⇒ same rank ⇒ one survivor), a property
  * no RNG reservoir has. The replay guard still protects the meta
  * row's seen-count accounting: replay of the high-water batch skips,
  * stale batch ids throw.
  *
  * (k, salt) are committed with the state and validated every batch —
  * merging ranks drawn under different salts breaks uniformity
  * silently, so a mismatch refuses loudly.
  */
object SampleStream {

  /** State rows: one META row (`key` null — docs-seen upper bound,
    * high-water batch id, k, salt) plus the ≤ k sample rows
    * (key, text, rnk).
    */
  private val stateSchema = StructType(Seq(
    StructField("key", LongType), StructField("text", StringType),
    StructField("rnk", LongType), StructField("total", LongType),
    StructField("batch_id", LongType), StructField("k", LongType),
    StructField("salt", StringType)))

  private val store = new GenStore.Folded("sample", stateSchema, 3,
      Some("key"))(r =>
    (r.getLong(3), r.getLong(4), r.getLong(5).toInt, r.getString(6)))

  /** The committed meta under `stateDir`: (total, high-water batch_id,
    * k, salt); `None` = fresh stream.
    */
  def readMeta(spark: SparkSession, stateDir: String)
      : Option[(Long, Long, Int, String)] = store.meta(spark, stateDir)

  /** The committed sample (key, text, rnk) — ≤ k rows by
    * construction; empty for a fresh dir.
    */
  def sample(spark: SparkSession, stateDir: String): DataFrame =
    store.rows(spark, stateDir)

  /** (k, salt) are committed with the state: ranks drawn under another
    * salt or truncation depth must not merge.
    */
  private def checkDraw(what: String, stateDir: String, k: Int,
      salt: String)(m: (Long, Long, Int, String)): Unit = {
    val (_, _, pk, ps) = m
    if (pk != k || ps != salt) throw new IllegalStateException(
      s"$what state at $stateDir was drawn at k=$pk salt=$ps; this " +
        s"pipeline runs k=$k salt=$salt — merging ranks across salts " +
        "(or truncation depths) silently breaks uniformity, refusing")
  }

  /** The committed sample READ AS A KMV SYNOPSIS — a cross-batch
    * distinct-count estimate for free: the state is, by the merge law,
    * bottomK over the distinct keys EVER seen, ranked by the exact
    * hash [[graft.operators.Kmv]] signs with (both are
    * [[Sampling.rank]]'s md5-parity hexHash60 over "salt:key"), so it
    * IS Beyer et al.'s synopsis and two reads fall out of one
    * aggregate over the ≤ k state rows: below k the sample HOLDS every
    * distinct key ever seen (the count is EXACT — where the meta
    * row's `total` is only an upper bound, because overlapping batches
    * double-count there); at k the basic estimator (k−1)·2⁶⁰/h₍k₎
    * applies. Pinned spec-side to equal
    * `Kmv.distinctEstimate(Kmv.signature(union of arrivals))` exactly
    * — same hash, same arithmetic, deterministically. This is the
    * streamed face of q_rel10h next to [[HllStream]]: HLL keeps 4 KB
    * registers and an engine-specific estimate; this keeps k sample
    * rows the pipeline ALREADY maintains and an exactly-replayable
    * one. Returns 0.0 for a fresh stream.
    */
  def kmvDistinctEstimate(spark: SparkSession, stateDir: String): Double =
    readMeta(spark, stateDir) match {
      case None => 0.0
      case Some((_, _, k, _)) =>
        val r = sample(spark, stateDir)
          .agg(count(lit(1)).as("n"), max(col("rnk")).as("h_k"))
          .head()
        val n = r.getLong(0)
        if (n < k) n.toDouble
        else (k - 1).toDouble * graft.operators.Kmv.Scale /
          r.getLong(1).toDouble
    }

  // ------------------------------------------------------------------
  // KEYED form — STRATIFIED streamed sampling: one independent exact
  // bottom-k sample PER STRATUM (domain, language, label…) as
  // committed state, ≤ strata·k rows — the balanced-mixture primitive
  // ("k uniform docs per domain over everything the stream has ever
  // carried") that a global sample cannot give a skewed corpus, where
  // the head domain would crowd out every tail domain. The merge is
  // the same bottom-k law applied per stratum (one window job); ranks
  // are the same content hashes, so per-stratum redelivery immunity
  // and the per-stratum KMV distinct-count read ([[estimateBy]] —
  // "distinct docs per domain", exact below k) fall out unchanged.
  // The stratum is part of document identity here: the same doc_id
  // delivered under two strata samples independently in both (the
  // batch operator's own semantics when run per stratum).
  // ------------------------------------------------------------------

  private val keyedSchema = StructType(Seq(
    StructField("stratum", StringType),
    StructField("key", LongType), StructField("text", StringType),
    StructField("rnk", LongType), StructField("total", LongType),
    StructField("batch_id", LongType), StructField("k", LongType),
    StructField("salt", StringType)))

  private val keyedStore = new GenStore.Folded("stratified sample",
      keyedSchema, 4, Some("key"))(r =>
    (r.getLong(4), r.getLong(5), r.getLong(6).toInt, r.getString(7)))

  /** Committed keyed meta: (total bound, high-water batch_id, k,
    * salt); `None` = fresh stream.
    */
  def readKeyedMeta(spark: SparkSession, stateDir: String)
      : Option[(Long, Long, Int, String)] = keyedStore.meta(spark, stateDir)

  /** The committed stratified sample (stratum, key, text, rnk) —
    * ≤ strata·k rows by construction; empty for a fresh dir.
    */
  def stratifiedSample(spark: SparkSession, stateDir: String): DataFrame =
    keyedStore.rows(spark, stateDir)

  /** Per-stratum KMV distinct-count estimates off the committed
    * stratified state — (stratum, n_sample, est): exact below k (the
    * sample holds every distinct key the stratum ever carried), the
    * Beyer et al. basic estimator at k. One grouped aggregate over the
    * ≤ strata·k state rows; empty for a fresh stream.
    */
  def estimateBy(spark: SparkSession, stateDir: String): DataFrame =
    readKeyedMeta(spark, stateDir) match {
      case None =>
        import spark.implicits._
        Seq.empty[(String, Long, Double)].toDF("stratum", "n_sample", "est")
      case Some((_, _, k, _)) =>
        stratifiedSample(spark, stateDir)
          .groupBy("stratum")
          .agg(count(lit(1)).as("n_sample"), max(col("rnk")).as("h_k"))
          .select(col("stratum"), col("n_sample"),
            when(col("n_sample") < k, col("n_sample").cast("double"))
              .otherwise(lit((k - 1).toDouble * graft.operators.Kmv.Scale) /
                col("h_k").cast("double")).as("est"))
    }

  /** One foreachBatch handler over batches carrying (`stratum`,
    * `doc_id`, `text`) — the stratified [[pipeline]] with the
    * identical replay/stale/(k, salt) discipline. Null doc_id rows
    * are dropped (a null key has no rank AND would collide with the
    * meta discriminator); a null stratum is a legal group.
    */
  def pipelineBy(stateDir: String, k: Int = 100, salt: String = "smp",
      onBatch: (Long, Long) => Unit = (_, _) => ())
      : (DataFrame, Long) => Unit = {
    require(k > 0, s"sample size must be positive, got k=$k")
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val total = keyedStore.step(spark, stateDir, batchId)(
        check = checkDraw("stratified sample", stateDir, k, salt),
        replay = _._1) { (prior, gen) =>
        val ranked = batch.where(col("doc_id").isNotNull)
          .select(col("stratum").cast("string").as("stratum"),
            col("doc_id").as("key"), col("text"),
            Sampling.rank(col("doc_id"), salt).as("rnk"))
        // (stratum, doc)-seen bound: a 1-row pin.
        val bTotal = ranked.select("stratum", "key").distinct()
          .agg(count(lit(1))).head().getLong(0)
        val total = prior.map(_._1).getOrElse(0L) + bTotal
        // The bottom-k merge law PER STRATUM: dedup on (stratum,
        // key) — same doc ⇒ same rank ⇒ one survivor per stratum —
        // then one rank window partitioned by stratum. <= strata·k
        // rows out.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("stratum").orderBy(col("rnk"), col("key"))
        gen.writeWithMeta(stratifiedSample(spark, stateDir)
            .unionByName(ranked)
            .dropDuplicates("stratum", "key")
            .withColumn("smp_rn", row_number().over(w))
            .where(col("smp_rn") <= k)
            .drop("smp_rn"),
          total, batchId, k.toLong, salt)
        total
      }
      onBatch(batchId, total)
    }
  }

  /** One foreachBatch handler over batches carrying (`doc_id`, `text`).
    * `onBatch(batchId, total)` fires after the commit (or replay skip)
    * with the docs-seen bound now in force.
    */
  def pipeline(stateDir: String, k: Int = 100, salt: String = "smp",
      onBatch: (Long, Long) => Unit = (_, _) => ())
      : (DataFrame, Long) => Unit = {
    require(k > 0, s"sample size must be positive, got k=$k")
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val total = store.step(spark, stateDir, batchId)(
        check = checkDraw("sample", stateDir, k, salt),
        replay = _._1) { (prior, gen) =>
        val ranked = batch.select(col("doc_id").as("key"), col("text"),
          Sampling.rank(col("doc_id"), salt).as("rnk"))
        // Docs-seen bound: a 1-row pin (batch distinct keys; batches
        // may overlap so the running sum is an upper bound).
        val bTotal = ranked.select("key").distinct()
          .agg(count(lit(1))).head().getLong(0)
        val total = prior.map(_._1).getOrElse(0L) + bTotal
        // The bottom-k merge law, distributed: <= k + batch rows in,
        // <= k out. Key dedup first — same doc always carries the
        // same rank, so redelivery collapses to one survivor.
        gen.writeWithMeta(sample(spark, stateDir)
            .unionByName(ranked)
            .dropDuplicates("key")
            .orderBy(col("rnk"), col("key"))
            .limit(k),
          total, batchId, k.toLong, salt)
        total
      }
      onBatch(batchId, total)
    }
  }
}
