package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.analytics.AdvancedQueries

/** Cross-batch cohort retention — the streamed face of q_adv9
  * ([[AdvancedQueries.cohortRetention]]): "cohort users by first-seen
  * week and show each cohort's weekly retention, over everything the
  * stream has ever carried" as a live read off bounded committed
  * state.
  *
  * The state design IS the operator: one table of DISTINCT
  * (user_id, week) activity pairs. Everything else derives —
  * cohort = min(week) per user, cohort sizes, the active matrix —
  * so the state is the matrix's own information content and nothing
  * more. Three properties fall out:
  *
  *  - **Idempotent merge** (union-distinct, like [[BloomStream]]'s
  *    bits and [[SampleStream]]'s ranks): at-least-once redelivery
  *    cannot inflate any cell — the property no additive counter
  *    has, and why exact retention is safe on a kappa pipeline.
  *  - **Retroactive cohort reassignment for free**: if a user's
  *    EARLIEST activity arrives late (out-of-order weeks across
  *    batches), cohort = min over the state moves them — and their
  *    whole row of the matrix — to the correct cohort at the next
  *    read. A design that committed (cohort, offset) COUNTS could
  *    never reassign; this is why the state keeps pairs, not cells.
  *  - **Honest bound**: ≤ users · active-weeks rows — per-entity
  *    state like [[StreamingDedup]]'s signature store, linear in
  *    DISTINCT users (not events), compact on disk (two longs/row).
  *    The bounded-but-approximate alternative (per-cell HLL) cannot
  *    reassign cohorts and is strictly less informative; exact
  *    retention needs exactly this much state.
  *
  * Per batch: one distinct over the batch's (user, week) pairs, one
  * distributed union-distinct merge with the committed state — the
  * exchange carries (long, long) pairs, never events. Driver pins:
  * the 1-row meta read and the 1-row batch count. Replay discipline
  * (family contract, uniform even though the merge is idempotent —
  * the guard protects the meta row's exact pair accounting): replay
  * of the high-water batch skips, stale throws; the week grain is
  * committed µs-scaled and validated (pairs bucketed on different
  * grains must not merge).
  *
  * State WRITE sizing: unlike the sketch stores (CMS d·w cells, Bloom
  * m/64 words, DDSketch buckets — all tiny by construction), this
  * store is linear in DISTINCT users, so the rewrite is hash-
  * partitioned on `user_id` into ⌈pairs / targetRowsPerFile⌉ files
  * (the [[StreamingDedup]] per-entity precedent — a `coalesce(1)`
  * here would funnel the matrix's whole information content through
  * ONE task per batch, the single-core bottleneck the operator
  * exists to avoid). The file count derives from the COMMITTED total
  * (the meta pin), so sizing costs no extra action; at the default
  * 4M pairs/file (two longs/row → ~30 MB parquet) a 10⁸-user year
  * is ~hundreds of ordinary files, each written by its own task.
  * Null guard: rows with null `user_id` or `ts_us` are dropped
  * BEFORE the merge — a null user pair would otherwise collide with
  * the meta row's user_id-is-null discriminator and brick every
  * later [[readMeta]] (and a null week is not activity).
  */
object CohortStream {

  /** State rows: one META row (`user_id` null — distinct-pair total,
    * high-water batch id, week grain µs) plus one row per distinct
    * (user_id, week) pair.
    */
  private val stateSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("week", LongType),
    StructField("total", LongType), StructField("batch_id", LongType),
    StructField("week_us", LongType)))

  private val store = new GenStore.Folded("cohort", stateSchema, 2,
      Some("user_id"))(m => (m.getLong(2), m.getLong(3), m.getLong(4)))

  /** The committed meta under `stateDir`: (distinctPairs, high-water
    * batch_id, weekUs); `None` = fresh stream.
    */
  def readMeta(spark: SparkSession, stateDir: String)
      : Option[(Long, Long, Long)] = store.meta(spark, stateDir)

  /** The committed distinct (user_id, week) pairs; empty for a fresh
    * dir.
    */
  def pairs(spark: SparkSession, stateDir: String): DataFrame =
    store.rows(spark, stateDir)

  /** One foreachBatch handler over batches carrying (`user_id`,
    * `ts_us`). `onBatch(batchId, distinctPairs)` fires after the
    * commit (or replay skip).
    */
  def pipeline(stateDir: String, weekUs: Long = 604800000000L,
      onBatch: (Long, Long) => Unit = (_, _) => (),
      targetRowsPerFile: Long = 4000000L)
      : (DataFrame, Long) => Unit = {
    require(weekUs > 0, s"week grain must be positive, got $weekUs µs")
    require(targetRowsPerFile > 0,
      s"targetRowsPerFile must be positive, got $targetRowsPerFile")
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val total = store.step(spark, stateDir, batchId)(
        check = { case (_, _, pw) =>
          if (pw != weekUs) throw new IllegalStateException(
            s"cohort state at $stateDir is bucketed at week=$pw µs; this " +
              s"pipeline runs week=$weekUs µs — two grains cannot merge, " +
              "refusing")
        },
        replay = _._1) { (prior, gen) =>
        val bPairs = batch
          .where(col("user_id").isNotNull && col("ts_us").isNotNull)
          .select(col("user_id"),
            expr(s"ts_us div $weekUs").as("week")).distinct()
        // Hash-partitioned rewrite: file count from the COMMITTED
        // total (last batch's pin — a one-batch lag in sizing, never
        // an extra action), each file written by its own task.
        val nFiles = math.max(1L, (prior.map(_._1).getOrElse(0L) +
          targetRowsPerFile - 1) / targetRowsPerFile).toInt
        // Idempotent distributed merge: union-distinct of (long,
        // long) pairs. <= users·weeks rows out.
        gen.write(pairs(spark, stateDir).unionByName(bPairs).distinct())(
          _.repartition(nFiles, col("user_id")))
        // Exact distinct-pair total — a metadata count over the
        // written pair files (the merge executes ONCE: the old
        // count-then-write form re-derived the union-distinct for
        // the write action).
        val total = gen.written
        gen.appendMeta(total, batchId, weekUs)
        total
      }
      onBatch(batchId, total)
    }
  }

  /** The live retention matrix — [[AdvancedQueries.cohortMatrix]]
    * (the batch operator's own core, shared code) over the committed
    * pairs: (cohort_week, week_offset, n_active, cohort_size,
    * retention) for everything the stream has ever carried, with any
    * late-arriving first weeks already reassigned.
    */
  def retention(spark: SparkSession, stateDir: String): DataFrame =
    AdvancedQueries.cohortMatrix(pairs(spark, stateDir))
}
