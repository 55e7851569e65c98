package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.operators.Sampling

/** Cross-batch WEIGHTED bottom-k sampling — [[SampleStream]]'s law
  * with [[Sampling.weightedBottomK]]'s Efraimidis–Spirakis keys: a
  * token-mass-proportional document sample maintained as the corpus
  * streams in, with a k-row state. The uniform stream answers "show
  * me k documents drawn uniformly"; this one answers the question a
  * training-data inspector actually asks — "show me k documents drawn
  * the way the TOKENIZER sees the corpus" (inclusion ∝ token count),
  * without re-scanning anything.
  *
  * The exactness argument is the same as the uniform stream's, and it
  * is worth spelling out why it survives weighting: the ES key
  * −ln(u)/w is a pure function of the ROW (content-hash draw + the
  * row's own weight), so bottom-k by key is mergeable over any
  * partition of the stream into batches, and key-dedup collapses
  * at-least-once redelivery to one survivor (same doc ⇒ same draw,
  * same weight ⇒ same key). The state after any batch prefix is
  * EXACTLY weightedBottomK(distinct docs ever seen) — no RNG
  * reservoir state, no approximation drift across batches.
  *
  * (k, salt) are committed and validated; keys are stored 6dp-rounded
  * (the operator's cross-engine discipline), so the state is also
  * bit-comparable to the batch operator's output. Replay of the
  * high-water batch skips (meta accounting), stale ids throw.
  */
object WeightedSampleStream {

  /** State rows: one META row (`key` null — docs-seen upper bound,
    * high-water batch id, k, salt) plus the ≤ k sample rows
    * (key, text, w, rnk).
    */
  private val stateSchema = StructType(Seq(
    StructField("key", LongType), StructField("text", StringType),
    StructField("w", LongType), StructField("rnk", DoubleType),
    StructField("total", LongType), StructField("batch_id", LongType),
    StructField("k", LongType), StructField("salt", StringType)))

  private val store = new GenStore.Folded("weighted-sample", stateSchema,
      4, Some("key"))(r =>
    (r.getLong(4), r.getLong(5), r.getLong(6).toInt, r.getString(7)))

  /** The committed meta under `stateDir`: (total, high-water batch_id,
    * k, salt); `None` = fresh stream.
    */
  def readMeta(spark: SparkSession, stateDir: String)
      : Option[(Long, Long, Int, String)] = store.meta(spark, stateDir)

  /** The committed sample (key, text, w, rnk) — ≤ k rows by
    * construction; empty for a fresh dir.
    */
  def sample(spark: SparkSession, stateDir: String): DataFrame =
    store.rows(spark, stateDir)

  /** One foreachBatch handler over batches carrying (`doc_id`, `text`);
    * the weight is the whitespace token count of `text` (the q_ml23
    * meter). `onBatch(batchId, total)` fires after the commit (or
    * replay skip) with the docs-seen bound now in force.
    */
  def pipeline(stateDir: String, k: Int = 100, salt: String = "wsmp",
      onBatch: (Long, Long) => Unit = (_, _) => ())
      : (DataFrame, Long) => Unit = {
    require(k > 0, s"sample size must be positive, got k=$k")
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val total = store.step(spark, stateDir, batchId)(
        check = { case (_, _, pk, ps) =>
          if (pk != k || ps != salt) throw new IllegalStateException(
            s"weighted-sample state at $stateDir was drawn at k=$pk " +
              s"salt=$ps; this pipeline runs k=$k salt=$salt — merging " +
              "keys across salts (or truncation depths) silently breaks " +
              "the inclusion law, refusing")
        },
        replay = _._1) { (prior, gen) =>
        // Rank the batch with the OPERATOR's own key arithmetic
        // (weightedBottomK over just this batch — <= k rows out),
        // then merge under the bottom-k law.
        val ranked = Sampling.weightedBottomK(
            batch.select(col("doc_id"),
              col("text"),
              graft.functions.TextFunctions.tokenCount(col("text")).as("w")),
            "doc_id", "w", k, salt)
          .select(col("doc_id").as("key"), col("text"), col("w"),
            col("wr_key").as("rnk"))
        val bTotal = batch.select("doc_id").distinct()
          .agg(count(lit(1))).head().getLong(0)
        val total = prior.map(_._1).getOrElse(0L) + bTotal
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
