package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.analytics.AdvancedQueries

/** [[CohortStream]]'s distinct-pair store in the copy-on-write layout
  * ([[CowStore]]) — the second adopter, and the one the layout was
  * really built for: the cohort store is the board's store linear in
  * DISTINCT users, so its full-state rewrite is the family's largest
  * per-batch write bill. The union-distinct merge algebra, retroactive
  * cohort reassignment, replay/stale/grain guards and meta accounting
  * are [[CohortStream]]'s unchanged; what changes is the IO law:
  *
  *  - pairs bucket on pmod(xxhash64(user_id), B) — a user's whole
  *    activity history colocates, so a weekly batch of active users
  *    touches ~min(activeUsers, B) buckets and the merge
  *    union-distincts ONLY those buckets' committed pairs against the
  *    batch (pruned explicit-path reads, the CowStore discipline);
  *  - a generation writes only its touched bucket dirs; every
  *    `compactEvery`-th generation rewrites all buckets and drops its
  *    predecessors (retained gens ≤ compactEvery);
  *  - the exact pair total folds incrementally: total′ = total +
  *    (merged − prior) over the SAME touched scope, two pruned
  *    metadata counts — never a full-state count;
  *  - [[pairsAt]] time-travels to any retained generation (the
  *    week-grain pair log as of batch g), back to the compaction
  *    horizon.
  *
  * The live retention matrix read is unchanged code
  * ([[AdvancedQueries.cohortMatrix]]) over [[pairs]].
  */
object CowCohortStream {

  /** State rows: one META row (`user_id` null, `bucket`=-1 — pair
    * total, high-water batch id, week grain µs, bucket count) plus one
    * row per distinct (user_id, week) pair in its bucket partition.
    */
  private val stateSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("week", LongType),
    StructField("total", LongType), StructField("batch_id", LongType),
    StructField("week_us", LongType), StructField("n_buckets", LongType),
    StructField("bucket", IntegerType)))

  private val dataCols = Seq("user_id", "week")

  private val store = new GenStore.Folded("cow-cohort", stateSchema, 2, None,
      bucketed = true)(m =>
    (m.getLong(2), m.getLong(3), m.getLong(4), m.getLong(5)))

  /** Committed meta: (distinctPairs, high-water batch_id, weekUs,
    * n_buckets); `None` = fresh.
    */
  def readMeta(spark: SparkSession, stateDir: String)
      : Option[(Long, Long, Long, Long)] = store.meta(spark, stateDir)

  /** The committed distinct (user_id, week) pairs; empty for a fresh
    * dir. Bytes read ∝ live pairs, never ∝ history.
    */
  def pairs(spark: SparkSession, stateDir: String): DataFrame = {
    val gens = GenStore.committed(spark, stateDir)
    if (gens.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType(stateSchema.take(2)))
    else pairsAt(spark, stateDir, gens.max)
  }

  /** Time-travel read: the pair log exactly as of committed generation
    * `asOf`; valid back to the compaction horizon, refused below it.
    */
  def pairsAt(spark: SparkSession, stateDir: String, asOf: Long)
      : DataFrame = {
    val gens = GenStore.committed(spark, stateDir)
    require(gens.nonEmpty, s"no committed generation under $stateDir")
    require(gens.contains(asOf),
      s"generation $asOf is not readable at $stateDir: committed range is " +
        s"[${gens.min}, ${gens.max}] (generations below the compaction " +
        "horizon were dropped)")
    CowStore.readBuckets(spark, stateDir, gens.filter(_ <= asOf), None,
        stateSchema, dataCols)
      .drop("bucket")
  }

  /** The live retention matrix — shared batch code over the committed
    * pairs, with late-arriving first weeks already reassigned.
    */
  def retention(spark: SparkSession, stateDir: String): DataFrame =
    AdvancedQueries.cohortMatrix(pairs(spark, stateDir))

  /** One foreachBatch handler over batches carrying (`user_id`,
    * `ts_us`). `onBatch(batchId, distinctPairs)` fires after the
    * commit (or replay skip).
    */
  def pipeline(stateDir: String, weekUs: Long = 604800000000L,
      buckets: Int = 64, compactEvery: Long = 16,
      onBatch: (Long, Long) => Unit = (_, _) => (),
      zOrderOn: Option[ZOrder] = None)
      : (DataFrame, Long) => Unit = {
    require(weekUs > 0, s"week grain must be positive, got $weekUs µs")
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(compactEvery > 0,
      s"compactEvery must be positive, got $compactEvery")
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val total = store.step(spark, stateDir, batchId, compactEvery)(
        check = { case (_, _, pw, nb) =>
          if (pw != weekUs) throw new IllegalStateException(
            s"cow-cohort state at $stateDir is bucketed at week=$pw µs; " +
              s"this pipeline runs week=$weekUs µs — two grains cannot " +
              "merge, refusing")
          if (nb != buckets) throw new IllegalStateException(
            s"cow-cohort state at $stateDir is hashed $nb ways; this " +
              s"pipeline runs $buckets — the layouts cannot merge, refusing")
        },
        replay = _._1) { (prior, gen) =>
        val bPairs = batch
          .where(col("user_id").isNotNull && col("ts_us").isNotNull)
          .select(col("user_id").cast("long").as("user_id"),
            expr(s"cast(ts_us as bigint) div $weekUs").as("week"))
          .distinct()
          .withColumn("bucket", CowStore.bucketOf(buckets, col("user_id")))
          .localCheckpoint()
        val touched = bPairs.select("bucket").distinct()
          .collect().map(_.getInt(0)).toSet
        val priorSel =
          if (gen.prior.isEmpty || (touched.isEmpty && !gen.compacting))
            CowStore.emptyData(spark, stateSchema, dataCols)
          else CowStore.readBuckets(spark, stateDir, gen.prior,
            if (gen.compacting) None else Some(touched),
            stateSchema, dataCols)
        val priorCnt = priorSel.count()
        // Idempotent union-distinct over the touched scope only;
        // compaction generations optionally z-order each rewritten
        // bucket.
        gen.writeBuckets(priorSel.unionByName(bPairs).distinct(),
          if (gen.compacting) zOrderOn else None)
        // Incremental exact total: written − prior over the SAME
        // scope (touched buckets, or all on a compaction gen) —
        // two pruned metadata counts, never a full-state count.
        val total = prior.map(_._1).getOrElse(0L) + (gen.written - priorCnt)
        gen.appendMeta(total, batchId, weekUs, buckets.toLong)
        total
      }
      onBatch(batchId, total)
    }
  }
}
