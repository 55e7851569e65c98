package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType}

import graft.operators.Profile

/** Cross-batch dataset profiling — the streamed face of q_rel31
  * ([[graft.operators.Profile]]): the per-column snapshot gate (row/
  * null counts, min/max, distinct estimate) maintained continuously
  * over everything the stream has ever carried, served live off
  * ≤ columns rows of committed state.
  *
  * THE STATE LAW — one store, three merge algebras, each exact under
  * its own discipline:
  *
  *  - **additive counters** (n, n_null): exact under the family's
  *    replay guards (the [[CountMinStream]] law — redelivery is the
  *    one thing addition can't absorb, so replay of the high-water
  *    batch skips and stale batches throw);
  *  - **min/max lattice**: idempotent AND associative — redelivery
  *    and re-ordering are both free (the [[UpsertStream]] algebra);
  *  - **HLL register-max** (the distinct estimate): idempotent union
  *    over DataSketches sketches — the committed sketch is the exact
  *    union FOLD of the per-batch sketches, with lgK committed and
  *    validated. The honest caveat (sharpening the [[HllStream]]
  *    law, pinned in the spec): the engine's union keeps the HIP
  *    accumulator when fed sparse coupon inputs but drops it for
  *    dense ones, so two different SLICINGS of the same rows can
  *    estimate ±1 apart near the sparse/dense boundary — the state
  *    guarantee is fold-exactness and the lgK error envelope, not
  *    slicing-invariance of the last digit.
  *
  * Values enter the sketch and the lattice in [[Profile]]'s CANONICAL
  * domain (numerics as HALF_UP micro longs, timestamps as epoch-µs,
  * strings as themselves), so the streamed profile counts distincts
  * in exactly the domain the batch profile serializes — and min/max
  * merge as longs/strings, never as formatted text.
  *
  * Per batch: ONE aggregate pass over the batch (all columns' counts,
  * lattice values and sketches in one partial+final job — the
  * [[Profile]] shape), a 1-row explode to per-column rows, and a
  * ≤ 2·columns-row grouped merge with the committed state. The
  * column list and kinds are committed as a signature and validated
  * — a store profiling (a: long, b: str) must not merge a batch
  * shaped (a: str). State is ≤ columns rows (sketch-family bound —
  * the coalesce(1) write adjudication applies).
  */
object ProfileStream {

  /** State rows: one META row (`column_name` null — row total,
    * high-water batch id, lgK, the col:kind signature) plus one row
    * per profiled column.
    */
  private val stateSchema = StructType(Seq(
    StructField("column_name", StringType), StructField("kind", StringType),
    StructField("n", LongType), StructField("n_null", LongType),
    StructField("min_l", LongType), StructField("max_l", LongType),
    StructField("min_s", StringType), StructField("max_s", StringType),
    StructField("sk", BinaryType),
    StructField("total", LongType), StructField("batch_id", LongType),
    StructField("lgk", LongType), StructField("sig", StringType)))

  private val store = new GenStore.Folded("profile", stateSchema, 9,
      Some("column_name"))(m =>
    (m.getLong(9), m.getLong(10), m.getLong(11), m.getString(12)))

  /** The committed meta under `stateDir`: (rowsEver, high-water
    * batch_id, lgK, signature); `None` = fresh stream.
    */
  def readMeta(spark: SparkSession, stateDir: String)
      : Option[(Long, Long, Long, String)] = store.meta(spark, stateDir)

  /** The committed per-column state rows; empty for a fresh dir. */
  def columnsState(spark: SparkSession, stateDir: String): DataFrame =
    store.rows(spark, stateDir)

  /** One foreachBatch handler profiling `cols` of each batch.
    * `onBatch(batchId, rowsEver)` fires after the commit (or replay
    * skip).
    */
  def pipeline(stateDir: String, cols: Seq[String], lgK: Int = 12,
      onBatch: (Long, Long) => Unit = (_, _) => ())
      : (DataFrame, Long) => Unit = {
    require(cols.nonEmpty, "profile stream needs at least one column")
    require(lgK >= 4 && lgK <= 21, s"lgK out of the engine's range: $lgK")
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val bad = cols.filterNot(batch.columns.contains)
      require(bad.isEmpty,
        s"profile stream: batch lacks column(s): ${bad.mkString(", ")}")
      val kinds = cols.map(c => c -> Profile.kindOf(batch.schema(c).dataType))
      val sig = kinds.map { case (c, k) => s"$c:$k" }.mkString(",")
      val total = store.step(spark, stateDir, batchId)(
        check = { case (_, _, plg, psig) =>
          if (psig != sig) throw new IllegalStateException(
            s"profile state at $stateDir tracks [$psig]; this batch is " +
              s"shaped [$sig] — profiles of different shapes cannot merge")
          if (plg != lgK) throw new IllegalStateException(
            s"profile state at $stateDir sketches at lgK=$plg, pipeline " +
              s"runs lgK=$lgK — mixed-precision sketches must not merge")
        },
        replay = _._1) { (_, gen) =>
        val aggs = kinds.flatMap { case (c, k) =>
          val v = Profile.canon(col(c), batch.schema(c).dataType)
          Seq(count(col(c)).as(s"__cnt_$c"),
            min(v).as(s"__min_$c"), max(v).as(s"__max_$c"),
            hll_sketch_agg(v, lit(lgK)).as(s"__sk_$c"))
        }
        val one = batch.agg(count(lit(1)).as("__n"), aggs: _*)
        val perCol = array(kinds.map { case (c, k) =>
          struct(lit(c).as("column_name"), lit(k).as("kind"),
            col("__n").as("n"),
            (col("__n") - col(s"__cnt_$c")).as("n_null"),
            (if (k == "long") col(s"__min_$c")
             else lit(null).cast("long")).as("min_l"),
            (if (k == "long") col(s"__max_$c")
             else lit(null).cast("long")).as("max_l"),
            (if (k == "str") col(s"__min_$c")
             else lit(null).cast("string")).as("min_s"),
            (if (k == "str") col(s"__max_$c")
             else lit(null).cast("string")).as("max_s"),
            col(s"__sk_$c").as("sk"))
        }: _*)
        val bRows = one.select(explode(perCol).as("p")).select("p.*")
        gen.write(columnsState(spark, stateDir).unionByName(bRows)
          .groupBy("column_name", "kind")
          .agg(sum("n").as("n"), sum("n_null").as("n_null"),
            min("min_l").as("min_l"), max("max_l").as("max_l"),
            min("min_s").as("min_s"), max("max_s").as("max_s"),
            hll_union_agg(col("sk")).as("sk")))(_.coalesce(1))
        // Row total from the committed per-column n (every column
        // counts all rows) — bounded read, no second batch action.
        val nRow = spark.read.schema(stateSchema).parquet(gen.dir)
          .where(col("column_name").isNotNull)
          .agg(max("n")).head()
        val total = if (nRow.isNullAt(0)) 0L else nRow.getLong(0)
        gen.appendMeta(total, batchId, lgK.toLong, sig)
        total
      }
      onBatch(batchId, total)
    }
  }

  /** The live profile — [[Profile.approxProfile]]'s output shape over
    * everything the stream has carried: a projection of the committed
    * state with the distinct estimate read off each column's sketch
    * (an all-null column estimates 0) and min/max serialized from the
    * canonical domain.
    */
  def profile(spark: SparkSession, stateDir: String): DataFrame =
    columnsState(spark, stateDir)
      .select(col("column_name"), col("n").as("n_rows"), col("n_null"),
        when(col("sk").isNull, lit(0L))
          .otherwise(hll_sketch_estimate(col("sk")))
          .as("n_distinct_est"),
        coalesce(col("min_l").cast("string"), col("min_s")).as("min_str"),
        coalesce(col("max_l").cast("string"), col("max_s")).as("max_str"))
      .orderBy("column_name")
}
