package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.schema.{Schemas, SensorReading}

/** Streaming semantics (SURVEY.md §2.5): at-least-once dedup (STR-2),
  * event-time hourly windows with watermark/late data (STR-3/5), driven
  * through MemoryStream.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def reading(ts: String, count: Long, temp: Double = 30.0): SensorReading =
    SensorReading("raspberrypi", Timestamp.valueOf(ts), 50.0, temp, 1012.0,
      0.0, 0.0, 0.0, count)

  test("SRC-1: 1 Hz synthetic sensor stream runs micro-batches; wire round-trip keeps the sensor schema") {
    // The reference's sampling loop at its own rate (1 row/s). Three
    // non-empty micro-batches land in a memory sink; the rows must carry
    // the declared sensor schema, survive parseWire(toWire(_)) at the
    // wire's second granularity, and number the publish counter 0, 1, 2…
    // in event-time order with no gap or repeat.
    import org.apache.spark.sql.functions.{col, date_trunc}
    val sensor = SensorPipeline.syntheticSensorStream(spark)
    val q = sensor.writeStream.format("memory").queryName("src1_out")
      .outputMode("append").start()
    try {
      val deadline = System.nanoTime() + 60L * 1000000000L
      def nonEmptyBatches = q.recentProgress.count(_.numInputRows > 0)
      while (nonEmptyBatches < 3 && System.nanoTime() < deadline) Thread.sleep(200)
      assert(nonEmptyBatches >= 3, s"3 non-empty micro-batches within 60 s: ${q.recentProgress.toSeq}")
    } finally q.stop()
    def typed(s: org.apache.spark.sql.types.StructType) = s.fields.toSeq.map(f => (f.name, f.dataType))
    val raw = spark.table("src1_out")
    assert(typed(raw.schema) == typed(Schemas.sensor))
    val wire = SensorPipeline.parseWire(SensorPipeline.toWire(raw))
    assert(typed(wire.schema) == typed(Schemas.sensor))
    val expected = raw.withColumn("timestamp", date_trunc("second", col("timestamp")))
    assert(wire.exceptAll(expected).isEmpty && expected.exceptAll(wire).isEmpty,
      "parseWire(toWire(_)) returns the generated rows, timestamps at second granularity")
    val counts = raw.orderBy("timestamp").collect().map(_.getAs[Long]("count")).toSeq
    assert(counts.size >= 3 && counts == counts.indices.map(_.toLong),
      s"count increases by one per sample in event-time order: $counts")
  }

  test("STR-2: watermarked dropDuplicates makes at-least-once effectively-once") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SensorReading]
    val deduped = SensorPipeline.dedupStream(mem.toDF())
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      mem.addData(
        reading("2022-07-14 15:00:01", 1),
        reading("2022-07-14 15:00:01", 1), // QoS1 redelivery
        reading("2022-07-14 15:00:02", 2))
      q.processAllAvailable()
      mem.addData(reading("2022-07-14 15:00:02", 2)) // redelivery across batches
      q.processAllAvailable()
      val counts = spark.table("dedup_out").collect().map(_.getAs[Long]("count")).sorted
      assert(counts.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("STR-3/5: event-time hourly window aggregates; late row beyond watermark dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SensorReading]
    val agg = SensorPipeline.hourlyWindowedAgg(mem.toDF(), watermark = "10 minutes")
    val q = agg.writeStream.format("memory").queryName("hourly_out")
      .outputMode("append").start()
    try {
      mem.addData(
        reading("2022-07-14 15:00:00", 1, temp = 30.0), // exactly on the hour
        reading("2022-07-14 15:30:00", 2, temp = 34.0),
        reading("2022-07-14 16:05:00", 3, temp = 40.0))
      q.processAllAvailable()
      // advance watermark far past 16:00 so the 15:00 window finalizes
      mem.addData(reading("2022-07-14 18:00:00", 4, temp = 20.0))
      q.processAllAvailable()
      // this row is hours late — beyond the watermark, must be dropped
      mem.addData(reading("2022-07-14 15:45:00", 5, temp = 99.0))
      q.processAllAvailable()
      mem.addData(reading("2022-07-14 19:00:00", 6, temp = 20.0))
      q.processAllAvailable()
      val rows = spark.table("hourly_out").collect()
        .map(r => r.getAs[String]("hour") -> (r.getAs[Double]("avg_temperature"), r.getAs[Long]("n")))
        .toMap
      assert(rows("2022-07-14-15") == ((32.0, 2L)), "on-the-hour row in 15:00 bucket, late row dropped")
      assert(rows("2022-07-14-16")._2 == 1L)
    } finally q.stop()
  }

  test("SRC-5/SNK-2: fan-out writes two independent sinks; hourly partition dirs appear") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SensorReading]
    val out1 = Files.createTempDirectory("graft-sink1")
    val out2 = Files.createTempDirectory("graft-sink2")
    val cp1 = Files.createTempDirectory("graft-cp1")
    val cp2 = Files.createTempDirectory("graft-cp2")
    mem.addData(
      reading("2022-07-14 15:00:01", 1),
      reading("2022-07-14 16:00:01", 2))
    val (q1, q2) = SensorPipeline.fanOut(mem.toDF(),
      s => SensorPipeline.hourlyPartitionedWriter(s, out1.toString, cp1.toString),
      s => s.writeStream.format("parquet").option("path", out2.toString)
        .option("checkpointLocation", cp2.toString).trigger(Trigger.AvailableNow()))
    try {
      q1.awaitTermination(60000); q2.awaitTermination(60000)
      val hourDirs = Files.list(out1).toArray.map(_.toString)
        .filter(_.contains("hour=")).sorted
      assert(hourDirs.exists(_.endsWith("hour=2022-07-14-15")))
      assert(hourDirs.exists(_.endsWith("hour=2022-07-14-16")))
      assert(spark.read.parquet(out2.toString).count() == 2)
    } finally { q1.stop(); q2.stop() }
  }

  test("stream-stream interval join: matches prior-window records per device, state bounded by watermark") {
    implicit val sqlCtx = spark.sqlContext
    val lmem = MemoryStream[SensorReading]
    val rmem = MemoryStream[SensorReading]
    val joined = SensorPipeline.streamStreamJoin(
      lmem.toDF(), rmem.toDF(), withinSeconds = 60)
      .select($"count", $"r_count")
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      rmem.addData(
        reading("2022-07-14 15:00:00", 100),
        reading("2022-07-14 15:02:00", 101))
      lmem.addData(
        reading("2022-07-14 15:00:30", 1), // matches r 100 (30s before)
        reading("2022-07-14 15:02:30", 2), // matches r 101 (30s before); r 100 is 150s before → out of window
        reading("2022-07-14 15:10:00", 3)) // nothing within 60s before
      q.processAllAvailable()
      // advance both watermarks so results finalize
      lmem.addData(reading("2022-07-14 16:00:00", 9))
      rmem.addData(reading("2022-07-14 16:00:00", 999))
      q.processAllAvailable()
      val pairs = spark.table("ssj_out").collect()
        .map(r => (r.getAs[Long]("count"), r.getAs[Long]("r_count"))).toSet
      assert(pairs.contains((1L, 100L)) && pairs.contains((2L, 101L)), s"got $pairs")
      assert(!pairs.contains((2L, 100L)), "out-of-window pair excluded")
      assert(!pairs.exists(_._1 == 3L), "no match for isolated record")
      // LATE DATA: with both watermarks at ~16:00, a 15:00:30 left row
      // (would match r 100 if on time) arrives an hour late — dropped,
      // no new output row.
      val before = spark.table("ssj_out").count()
      lmem.addData(reading("2022-07-14 15:00:30", 4))
      q.processAllAvailable()
      assert(spark.table("ssj_out").count() == before,
        "late row behind the watermark must be dropped")
      val latePairs = spark.table("ssj_out").collect()
        .map(r => (r.getAs[Long]("count"), r.getAs[Long]("r_count"))).toSet
      assert(!latePairs.exists(_._1 == 4L), s"late row produced output: $latePairs")
      // STATE CLEANUP: the 15:00-15:10 join state is behind both
      // watermarks and must have been evicted. The invariant asserted
      // is EVICTION HAPPENED — strictly fewer state rows than the 7
      // on-time rows ingested (5 from 15:00-15:10 + 2 watermark
      // advancers) — not an exact buffered count, which couples the
      // test to state-store bookkeeping internals that shift across
      // Spark versions and micro-batch scheduling.
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows < 7,
        s"join state not evicted by the watermarks: $stateRows rows buffered")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join: unmatched left emits null-padded once its window closes; matches stay inner-identical") {
    implicit val sqlCtx = spark.sqlContext
    val lmem = MemoryStream[SensorReading]
    val rmem = MemoryStream[SensorReading]
    val joined = SensorPipeline.streamStreamJoin(
      lmem.toDF(), rmem.toDF(), withinSeconds = 60, joinType = "leftOuter")
      .select($"count", $"r_count")
    val q = joined.writeStream.format("memory").queryName("ssj_outer")
      .outputMode("append").start()
    try {
      rmem.addData(reading("2022-07-14 15:00:00", 100))
      lmem.addData(
        reading("2022-07-14 15:00:30", 1), // matches r 100
        reading("2022-07-14 15:10:00", 3)) // no right record in its window
      q.processAllAvailable()
      // The unmatched row CANNOT emit yet: a matching right record could
      // still arrive until both watermarks pass its interval.
      val early = spark.table("ssj_outer").collect()
        .map(r => (r.getAs[Long]("count"), Option(r.getAs[Any]("r_count")))).toSet
      assert(!early.exists(p => p._1 == 3L && p._2.isEmpty),
        s"outer row emitted before its window closed: $early")
      // Advance both watermarks far past 15:10 -> the unmatched left row
      // finalizes as a null-padded emission, exactly once.
      lmem.addData(reading("2022-07-14 16:00:00", 9))
      rmem.addData(reading("2022-07-14 16:00:00", 999))
      q.processAllAvailable()
      lmem.addData(reading("2022-07-14 16:30:00", 10))
      rmem.addData(reading("2022-07-14 16:30:00", 998))
      q.processAllAvailable()
      val rows = spark.table("ssj_outer").collect()
        .map(r => (r.getAs[Long]("count"), Option(r.getAs[Any]("r_count"))))
      assert(rows.count(p => p._1 == 3L && p._2.isEmpty) == 1,
        s"unmatched left must null-pad exactly once: ${rows.toSeq}")
      assert(rows.toSet.contains((1L, Some(100L))),
        s"matched pair identical to the inner form: ${rows.toSeq}")
    } finally q.stop()
  }

  test("pluggable WireSource: FileWire drives the same parse + fan-out path") {
    // The kappa claim as a test: wire frames written by toWire (the
    // producer's JSON) land as files; ingest(FileWire) must yield the
    // same parsed records through the SAME parseWire/fanOut code any
    // broker source would feed.
    val wireDir = Files.createTempDirectory("graft-wire")
    val cp1 = Files.createTempDirectory("graft-wcp1")
    val cp2 = Files.createTempDirectory("graft-wcp2")
    val out2 = Files.createTempDirectory("graft-wout2")
    val batch = Seq(
      reading("2022-07-14 15:00:01", 1, temp = 30.0),
      reading("2022-07-14 15:00:02", 2, temp = 31.0),
      reading("2022-07-14 16:00:03", 3, temp = 32.0)).toDF()
    SensorPipeline.toWire(batch).write.mode("overwrite").text(wireDir.toString)
    val parsed = SensorPipeline.ingest(spark,
      SensorPipeline.FileWire(wireDir.toString, maxFilesPerTrigger = Some(1)))
    val (q1, q2) = SensorPipeline.fanOut(parsed,
      s => s.writeStream.format("memory").queryName("wire_out1")
        .option("checkpointLocation", cp1.toString).outputMode("append"),
      s => s.writeStream.format("parquet").option("path", out2.toString)
        .option("checkpointLocation", cp2.toString).trigger(Trigger.AvailableNow()))
    try {
      q1.processAllAvailable(); q2.awaitTermination(60000)
      val got = spark.table("wire_out1").collect()
        .map(r => (r.getAs[Long]("count"), r.getAs[Double]("temperature"),
          r.getAs[Timestamp]("timestamp").toString)).sortBy(_._1)
      assert(got.toSeq == Seq(
        (1L, 30.0, "2022-07-14 15:00:01.0"),
        (2L, 31.0, "2022-07-14 15:00:02.0"),
        (3L, 32.0, "2022-07-14 16:00:03.0")), s"parsed fan-out leg 1: ${got.toSeq}")
      assert(spark.read.parquet(out2.toString).count() == 3, "fan-out leg 2 complete")
    } finally { q1.stop(); q2.stop() }
  }

  test("KafkaWire wiring reaches Spark's kafka source resolution") {
    // The broker connector is not bundled in this environment, so the
    // furthest the wiring can go is Spark's data-source lookup: the
    // failure must be the MISSING CONNECTOR, not a wiring error. With
    // spark-sql-kafka-0-10 on the classpath the same descriptor runs.
    val ex = intercept[Exception] {
      SensorPipeline.wireStream(spark,
        SensorPipeline.KafkaWire("broker:9092", "sensor-wire",
          maxOffsetsPerTrigger = Some(1000L)))
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(m => m.toLowerCase.contains("kafka")),
      s"expected the kafka-connector lookup failure, got: ${ex.getMessage}")
  }

  test("dead-letter split: malformed wire frames quarantined, good ones parse") {
    val good = Seq(
      reading("2022-07-14 15:00:01", 1, temp = 30.0),
      reading("2022-07-14 15:00:02", 2, temp = 31.0)).toDF()
    val frames = SensorPipeline.toWire(good)
      .union(Seq("not json at all", """{"client_id": null}""", """{"humidity": 50.0}""")
        .toDF("value"))
    val (parsed, dead) = SensorPipeline.parseWireOrDeadLetter(frames)
    assert(parsed.collect().map(_.getAs[Long]("count")).sorted.toSeq == Seq(1L, 2L))
    val rejects = dead.collect().map(_.getString(0))
    assert(rejects.length == 3, s"all malformed frames quarantined: ${rejects.toSeq}")
    assert(rejects.contains("not json at all"), "raw frame preserved for replay")
  }

  test("stream-static enrichment: readings join the broadcast device registry") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("raspberrypi", "lab-3", "rev-b"), ("other", "lab-9", "rev-a"))
      .toDF("client_id", "site", "hw_rev")
    val mem = MemoryStream[SensorReading]
    val q = SensorPipeline.enrich(mem.toDF(), dim)
      .select($"count", $"site", $"hw_rev")
      .writeStream.format("memory").queryName("enrich_out").outputMode("append").start()
    try {
      mem.addData(reading("2022-07-14 15:00:01", 1), reading("2022-07-14 15:00:02", 2))
      q.processAllAvailable()
      val rows = spark.table("enrich_out").collect()
        .map(r => (r.getAs[Long]("count"), r.getAs[String]("site"), r.getAs[String]("hw_rev")))
      assert(rows.toSet == Set((1L, "lab-3", "rev-b"), (2L, "lab-3", "rev-b")), rows.toSeq.toString)
    } finally q.stop()
  }

  test("streaming compactor: micro-batches land small files, threshold triggers compaction") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SensorReading]
    val logs = Files.createTempDirectory("graft-slogs")
    val out = Files.createTempDirectory("graft-sout")
    val cp = Files.createTempDirectory("graft-scp")
    val state = new graft.operators.Compaction.CounterState
    import graft.schema.Schemas
    val q = mem.toDF().writeStream
      .option("checkpointLocation", cp.toString)
      .foreachBatch(graft.operators.Compaction.streamingCompactorBatch(
        state, logs.toString, out.toString, Schemas.sensor, threshold = 2) _)
      .start()
    try {
      mem.addData(reading("2022-07-14 15:00:01", 1))
      q.processAllAvailable()
      mem.addData(reading("2022-07-14 15:00:02", 2))
      q.processAllAvailable()
      val compacted = Files.list(out).toArray.map(_.toString)
      assert(compacted.nonEmpty, "compaction triggered at threshold")
      assert(state.get == 0L)
    } finally q.stop()
  }

  test("curation stream: cross-batch content dedup + quality gate, late dup dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val good = (0 until 12).map(i => s"tok$i").mkString(" ") // 12 distinct tokens
    val short = "too short"                                   // < 8 tokens
    val loop = Seq.fill(12)("spam").mkString(" ")             // uniq ratio 1/12
    def at(s: String) = Timestamp.valueOf(s)
    val curated = CurationStream.curationStream(
      mem.toDF().toDF("doc_id", "text", "ts"))
    val q = curated.writeStream.format("memory").queryName("curated_out")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, good, at("2024-01-01 10:00:00")),
        (2L, good, at("2024-01-01 10:00:05")), // same content, same batch
        (3L, short, at("2024-01-01 10:00:10")),
        (4L, loop, at("2024-01-01 10:00:15")))
      q.processAllAvailable()
      mem.addData((5L, good, at("2024-01-01 10:05:00"))) // cross-batch dup
      q.processAllAvailable()
      val ids = spark.table("curated_out").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L),
        s"only the first good doc survives dedup + gate: ${ids.mkString(",")}")
      // The bounded-state trade, pinned: advance the watermark far past
      // the first arrivals so their fingerprints are EVICTED, then
      // replay the same content — it is re-admitted (state follows the
      // watermark window, not all time; exact all-time dedup is the
      // documented sink-index join variant instead).
      mem.addData((6L, (0 until 9).map(i => s"adv$i").mkString(" "),
        at("2024-01-01 12:00:00"))) // watermark advancer, itself kept
      q.processAllAvailable()
      mem.addData((7L, good, at("2024-01-01 12:00:05"))) // beyond-window dup
      q.processAllAvailable()
      val after = spark.table("curated_out").collect().map(_.getLong(0)).sorted
      assert(after.toSeq == Seq(1L, 6L, 7L),
        s"post-eviction replay must be re-admitted: ${after.mkString(",")}")
    } finally q.stop()
  }

  test("pqDriftMonitor: per-batch drift rows land; shifted batch trips retrain") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    def vecs(ids: Range, f: (Int, Int) => Float) =
      ids.map(id => (id.toLong, Seq.tabulate(8)(d => f(id, d))))
    // PQ artifact trained on the base distribution.
    val base = vecs(0 until 48, (id, d) => 0.1f * ((id + d) % 13) - 0.5f)
      .toDF("vec_id", "embedding")
    val cb = graft.operators.Similarity.trainPqCodebooks(base, m = 2, ksub = 4,
      iters = 2, trainN = 64, dim = 8)
    val codes = graft.operators.Similarity.pqEncode(base, cb, m = 2, dim = 8)
      .select("vec_id", "sub", "code")
    val sink = Files.createTempDirectory("graft-driftsink").toString
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = mem.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch(IndexMaintenance.pqDriftMonitor(codes, cb, sink,
        m = 2, dim = 8))
      .start()
    try {
      // Batch of the same distribution, then a shifted batch.
      mem.addData(vecs(100 until 148, (id, d) => 0.1f * ((id + d) % 13) - 0.5f): _*)
      q.processAllAvailable()
      mem.addData(vecs(200 until 248,
        (id, d) => if ((id + d) % 2 == 0) 5.0f else -5.0f): _*)
      q.processAllAvailable()
      val rows = spark.read.parquet(sink)
        .orderBy("batch_id")
        .collect().map(r => (r.getAs[Long]("n_rows"), r.getAs[Long]("retrain")))
      assert(rows.length == 2, s"one monitor row per batch: ${rows.toSeq}")
      assert(rows(0) == ((48L, 0L)), s"same-distribution batch quiet: ${rows.toSeq}")
      assert(rows(1) == ((48L, 1L)), s"shifted batch must trip retrain: ${rows.toSeq}")
    } finally q.stop()
  }

  test("int8DriftMonitor: baseline computed once, shifted batch trips retrain") {
    implicit val sqlCtx = spark.sqlContext
    def vecs(ids: Range, f: (Int, Int) => Float) =
      ids.map(id => (id.toLong, Seq.tabulate(8)(d => f(id, d))))
    val base = vecs(0 until 48, (id, d) => 0.1f * ((id + d) % 13) - 0.5f)
      .toDF("vec_id", "embedding")
    val cents = graft.operators.Similarity.trainCentroids(base, nCentroids = 4,
      iters = 2, trainN = 64, seedPlanes = 4, dim = 8)
    val grid = graft.operators.Similarity.int8Stats(base, dim = 8)
    val index = graft.operators.Similarity.int8IndexWith(base, grid, cents)
    val sink = Files.createTempDirectory("graft-i8driftsink").toString
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = mem.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch(IndexMaintenance.int8DriftMonitor(index, grid, cents, sink))
      .start()
    try {
      mem.addData(vecs(100 until 112, (id, d) => 0.1f * ((id + d) % 13) - 0.5f): _*)
      q.processAllAvailable()
      mem.addData(vecs(200 until 212,
        (id, d) => if ((id + d) % 2 == 0) 5.0f else -5.0f): _*)
      q.processAllAvailable()
      val rows = spark.read.parquet(sink).orderBy("batch_id")
        .collect().map(r => (r.getAs[Long]("n_rows"), r.getAs[Long]("retrain")))
      assert(rows.toSeq == Seq((12L, 0L), (12L, 1L)),
        s"quiet then loud: ${rows.toSeq}")
    } finally q.stop()
  }

  test("int8AppendPipeline: streamed append ≡ batch encode-union; drift vs pre-append baseline") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    implicit val sqlCtx = spark.sqlContext
    def vecs(ids: Seq[Int], f: (Int, Int) => Float) =
      ids.map(id => (id.toLong, Seq.tabulate(8)(d => f(id, d))))
    val sameDist = (id: Int, d: Int) => 0.1f * ((id + d) % 13) - 0.5f
    val shifted = (id: Int, d: Int) => if ((id + d) % 2 == 0) 5.0f else -5.0f
    val base = vecs(0 until 48, sameDist).toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(base, nCentroids = 4,
      iters = 2, trainN = 64, seedPlanes = 4, dim = 8)
    val grid = Similarity.int8Stats(base, dim = 8)
    val index0 = Similarity.int8IndexWith(base, grid, cents)
    val indexDir = Files.createTempDirectory("graft-i8appidx").toString
    val sink = Files.createTempDirectory("graft-i8appsink").toString
    index0.write.mode("overwrite").parquet(indexDir)
    // Batch 1: same distribution. Batch 2: shifted, PLUS a late arrival
    // (id 99 — below batch 1's id range, arriving a batch later).
    val b1 = vecs(100 until 112, sameDist)
    val b2 = vecs(200 until 212, shifted) ++ vecs(Seq(99), sameDist)
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = mem.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch(IndexMaintenance.int8AppendPipeline(indexDir, grid,
        cents, sink))
      .start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // The stored artifact after both batches must be EXACTLY what one
    // batch append of the union would build (fixed quantizer → encode
    // is per-row deterministic; order-free as a row set).
    def rowSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("cid"),
        r.getAs[Array[Byte]]("qcode").toSeq)).toSet
    val streamed = rowSet(spark.read.parquet(indexDir))
    val batchUnion = rowSet(Similarity.appendToInt8Index(
      (b1 ++ b2).toDF("vec_id", "embedding"), index0, grid, cents))
    assert(streamed.size == 48 + 12 + 13, s"no dup/lost rows: ${streamed.size}")
    assert(streamed == batchUnion, "streamed artifact ≡ batch append of the union")
    // Drift rows: quiet batch then the shifted one trips retrain; and
    // batch 2's numbers equal the BATCH drift against the ORIGINAL
    // index — batch 1's append must not have moved the baseline.
    val rows = spark.read.parquet(sink).orderBy("batch_id").collect()
    assert(rows.map(r => (r.getAs[Long]("n_rows"), r.getAs[Long]("retrain")))
      .toSeq == Seq((12L, 0L), (13L, 1L)),
      s"quiet then loud: ${rows.toSeq}")
    val batchDrift = Similarity.indexDrift(b2.toDF("vec_id", "embedding"),
      index0, grid, cents).head()
    assert(rows(1).getAs[Double]("fit_new") == batchDrift.getAs[Double]("fit_new") &&
      rows(1).getAs[Double]("drift") == batchDrift.getAs[Double]("drift"),
      s"batch-2 drift measured against the pre-append baseline: " +
        s"${rows(1)} vs $batchDrift")
  }

  test("pqAppendPipeline: streamed append ≡ batch encode-union; drift vs pre-append histogram") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    implicit val sqlCtx = spark.sqlContext
    def vecs(ids: Seq[Int], f: (Int, Int) => Float) =
      ids.map(id => (id.toLong, Seq.tabulate(8)(d => f(id, d))))
    val sameDist = (id: Int, d: Int) => 0.1f * ((id + d) % 13) - 0.5f
    val shifted = (id: Int, d: Int) => if ((id + d) % 2 == 0) 5.0f else -5.0f
    val base = vecs(0 until 48, sameDist).toDF("vec_id", "embedding")
    val cb = Similarity.trainPqCodebooks(base, m = 2, ksub = 4,
      iters = 2, trainN = 64, dim = 8)
    val codes0 = Similarity.pqEncode(base, cb, m = 2, dim = 8)
      .select("vec_id", "sub", "code")
    val codesDir = Files.createTempDirectory("graft-pqappidx").toString
    val sink = Files.createTempDirectory("graft-pqappsink").toString
    codes0.write.mode("overwrite").parquet(codesDir)
    val b1 = vecs(100 until 148, sameDist)
    val b2 = vecs(200 until 248, shifted) ++ vecs(Seq(99), sameDist)
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = mem.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch(IndexMaintenance.pqAppendPipeline(codesDir, cb, sink,
        m = 2, dim = 8))
      .start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def rowSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub"),
        r.getAs[Int]("code"))).toSet
    val streamed = rowSet(spark.read.parquet(codesDir))
    val batchUnion = rowSet(Similarity.appendToPqIndex(
      (b1 ++ b2).toDF("vec_id", "embedding"), codes0, cb, m = 2, dim = 8))
    assert(streamed.size == (48 + 48 + 49) * 2, s"m rows per vec: ${streamed.size}")
    assert(streamed == batchUnion, "streamed artifact ≡ batch append of the union")
    val rows = spark.read.parquet(sink).orderBy("batch_id").collect()
    assert(rows.map(r => (r.getAs[Long]("n_rows"), r.getAs[Long]("retrain")))
      .toSeq == Seq((48L, 0L), (49L, 1L)),
      s"quiet then loud: ${rows.toSeq}")
    // Batch 2's tv_max equals the batch drift against the ORIGINAL code
    // table — batch 1's append must not have moved the histogram.
    val batchDrift = Similarity.pqDrift(b2.toDF("vec_id", "embedding"),
      codes0, cb, m = 2, dim = 8).head()
    assert(rows(1).getAs[Double]("tv_max") == batchDrift.getAs[Double]("tv_max"),
      s"batch-2 drift vs pre-append histogram: ${rows(1)} vs $batchDrift")
  }

  test("ivfPqAppendPipeline: streamed append ≡ batch assign+encode union; " +
      "cell-usage drift vs the pre-append histogram") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    implicit val sqlCtx = spark.sqlContext
    def vecs(ids: Seq[Int], f: (Int, Int) => Float) =
      ids.map(id => (id.toLong, Seq.tabulate(8)(d => f(id, d))))
    val sameDist = (id: Int, d: Int) => 0.1f * ((id + d) % 13) - 0.5f
    val shifted = (id: Int, d: Int) => if ((id + d) % 2 == 0) 5.0f else -5.0f
    val base = vecs(0 until 48, sameDist).toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(base, nCentroids = 4,
      iters = 2, trainN = 64, seedPlanes = 4, dim = 8)
    val cb = Similarity.trainPqCodebooks(base, m = 2, ksub = 4,
      iters = 2, trainN = 64, dim = 8)
    def assignEncode(df: org.apache.spark.sql.DataFrame) =
      Similarity.pqEncode(df, cb, m = 2, dim = 8)
        .select("vec_id", "sub", "code")
        .join(Similarity.ivfCellAssign(df, cents), "vec_id")
    val codes0 = assignEncode(base)
    val codesDir = Files.createTempDirectory("graft-ivfpqappidx").toString
    val sink = Files.createTempDirectory("graft-ivfpqappsink").toString
    codes0.write.mode("overwrite").parquet(codesDir)
    val b1 = vecs(100 until 148, sameDist)
    val b2 = vecs(200 until 248, shifted)
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = mem.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch(IndexMaintenance.ivfPqAppendPipeline(codesDir, cents, cb,
        sink, m = 2, dim = 8))
      .start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // Fixed quantizers → streamed artifact ≡ one batch assign+encode of
    // the union appended to the seed.
    def rowSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub"),
        r.getAs[Int]("code"), r.getAs[Long]("cell"))).toSet
    assert(rowSet(spark.read.parquet(codesDir)) ==
      rowSet(codes0.union(assignEncode(
        (b1 ++ b2).toDF("vec_id", "embedding")))),
      "streamed artifact ≡ batch assign+encode of the union")
    // Drift rows: the steady-state batch stays quiet, the shifted batch
    // trips, and BOTH tv values equal the direct formula against the
    // ORIGINAL histogram — batch 1's append must not have moved it.
    def tvVs(batch: Seq[(Long, Seq[Float])]): Double = {
      val bc = Similarity.ivfCellAssign(
          batch.toDF("vec_id", "embedding"), cents)
        .groupBy("cell").agg(count(lit(1)).as("n_new"))
      val ic = codes0.select("vec_id", "cell").distinct()
        .groupBy("cell").agg(count(lit(1)).as("n_idx"))
      bc.join(ic, Seq("cell"), "full_outer")
        .na.fill(0L, Seq("n_new", "n_idx"))
        .agg(sum(abs(col("n_new") / lit(48.0) - col("n_idx") / lit(48.0))) / 2.0)
        .head().getDouble(0)
    }
    val rows = spark.read.parquet(sink).orderBy("batch_id").collect()
      .map(r => (r.getAs[Long]("n_rows"), r.getAs[Double]("tv_cell"),
        r.getAs[Long]("retrain"))).toSeq
    assert(rows.map(_._1) == Seq(48L, 48L))
    assert(rows(0)._2 == tvVs(b1) && rows(1)._2 == tvVs(b2),
      s"tv vs the pre-append histogram: $rows vs ${tvVs(b1)}/${tvVs(b2)}")
    assert(rows(0)._3 == 0L && rows(1)._3 == 1L,
      s"steady quiet, shifted loud: $rows")
    // The seal refuses a different-valued quantizer pair on re-open.
    val other = vecs(0 until 48, (id, d) => 0.1f * ((id + d + 7) % 13) - 0.5f)
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalStateException] {
      IndexMaintenance.ivfPqAppendPipeline(codesDir,
        Similarity.trainCentroids(other, nCentroids = 4, iters = 2,
          trainN = 64, seedPlanes = 4, dim = 8),
        cb, sink, m = 2, dim = 8)
    }
    assert(e.getMessage.contains("quantizerDigest"), e.getMessage)
  }

  test("int8RebuildingPipeline: shift trips retrain, rebuild swaps the generation, drift returns quiet") {
    import graft.operators.Similarity
    def vecs(ids: Seq[Int], f: (Int, Int) => Float) =
      ids.map(id => (id.toLong, Seq.tabulate(8)(d => f(id, d))))
    val sameDist = (id: Int, d: Int) => 0.1f * ((id + d) % 13) - 0.5f
    val shifted = (id: Int, d: Int) => if ((id + d) % 2 == 0) 5.0f else -5.0f
    val root = Files.createTempDirectory("graft-i8gen").toString
    val sink = Files.createTempDirectory("graft-i8gensink").toString
    IndexMaintenance.initInt8Store(spark, root,
      vecs(0 until 48, sameDist).toDF("vec_id", "embedding"),
      nCentroids = 4, lloydIters = 2, trainN = 64, seedPlanes = 4, dim = 8)
    assert(IndexMaintenance.latestGen(spark, root) == 0L)
    var rebuilds = Vector.empty[(Long, Long)]
    val fn = IndexMaintenance.int8RebuildingPipeline(spark, root, sink,
      nCentroids = 4, lloydIters = 2, trainN = 64, seedPlanes = 4, dim = 8,
      onRebuild = (b, g) => rebuilds :+= ((b, g)))
    // Quiet batch on gen 0 → shifted batch trips retrain and REBUILDS →
    // a post-rebuild batch of the steady-state mix (5:1 base:shifted,
    // the store's own proportions after the rebuild) measures QUIET
    // against the retrained baseline — the closed loop end to end.
    fn(vecs(100 until 112, sameDist).toDF("vec_id", "embedding"), 0L)
    fn(vecs(200 until 212, shifted).toDF("vec_id", "embedding"), 1L)
    val b3 = vecs(300 until 330, sameDist) ++ vecs(400 until 406, shifted)
    fn(b3.toDF("vec_id", "embedding"), 2L)
    val rows = spark.read.parquet(sink).orderBy("batch_id").collect()
      .map(r => (r.getAs[Long]("n_rows"), r.getAs[Long]("retrain"),
        r.getAs[Long]("gen"))).toSeq
    assert(rows == Seq((12L, 0L, 0L), (12L, 1L, 0L), (36L, 0L, 1L)),
      s"quiet → trip → rebuilt-quiet: $rows")
    assert(rebuilds == Vector((1L, 1L)), s"one rebuild, at the trip: $rebuilds")
    assert(IndexMaintenance.latestGen(spark, root) == 1L)
    // The vector log holds every arrival; the gen-1 artifact is the
    // rebuild (72 rows re-encoded) plus batch 3's append (36) — and
    // equals one batch encode of the whole log on the gen-1 quantizer
    // (fixed-quantizer append ≡ encode-union).
    assert(spark.read.parquet(s"$root/vectors").count() == 48 + 12 + 12 + 36)
    val grid1 = spark.read.parquet(s"$root/gen-1/grid")
    val cents1 = spark.read.parquet(s"$root/gen-1/centroids")
    def rowSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("cid"),
        r.getAs[Array[Byte]]("qcode").toSeq)).toSet
    assert(rowSet(spark.read.parquet(s"$root/gen-1/codes")) ==
      rowSet(Similarity.int8Encode(spark.read.parquet(s"$root/vectors"),
        grid1, cents1)),
      "gen-1 artifact ≡ one encode of the full log on the gen-1 quantizer")
  }

  test("int8ServingPipeline: batches serve the committed generation and follow a swap") {
    import graft.operators.Similarity
    def vecs(ids: Seq[Int], f: (Int, Int) => Float) =
      ids.map(id => (id.toLong, Seq.tabulate(8)(d => f(id, d))))
    val sameDist = (id: Int, d: Int) => 0.1f * ((id + d) % 13) - 0.5f
    val shifted = (id: Int, d: Int) => if ((id + d) % 2 == 0) 5.0f else -5.0f
    val root = Files.createTempDirectory("graft-i8serve").toString
    val sink = Files.createTempDirectory("graft-i8servesink").toString
    IndexMaintenance.initInt8Store(spark, root,
      vecs(0 until 48, sameDist).toDF("vec_id", "embedding"),
      nCentroids = 4, lloydIters = 2, trainN = 64, seedPlanes = 4, dim = 8)
    var served = Vector.empty[(Long, Long, Set[(Long, Long, Long)])]
    val serve = IndexMaintenance.int8ServingPipeline(spark, root,
      k = 3, rerankDepth = 6, nProbe = 4, nCentroids = 4, dim = 8,
      onResult = (b, g, df) => served :+=
        ((b, g, df.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getAs[Long]("rank"))).toSet)))
    val queries = vecs(Seq(1000, 1001, 1002), sameDist)
      .toDF("vec_id", "embedding")
    // Differential: the streamed serve of batch 0 must equal a direct
    // batch read of the gen-0 artifacts.
    def batchServe(gen: Long): Set[(Long, Long, Long)] =
      Similarity.queryInt8Index(queries,
          spark.read.parquet(s"$root/gen-$gen/codes"),
          spark.read.parquet(s"$root/gen-$gen/grid"),
          spark.read.parquet(s"$root/gen-$gen/centroids"),
          spark.read.parquet(s"$root/vectors").dropDuplicates("vec_id"),
          k = 3, rerankDepth = 6, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getAs[Long]("rank"))).toSet
    serve(queries, 0L)
    assert(served.head._2 == 0L, "first batch serves generation 0")
    assert(served.head._3 == batchServe(0L),
      "streamed serve ≡ batch read of the committed artifacts")
    assert(served.head._3.nonEmpty)
    // A rebuild swaps the generation underneath the server...
    val fn = IndexMaintenance.int8RebuildingPipeline(spark, root, sink,
      nCentroids = 4, lloydIters = 2, trainN = 64, seedPlanes = 4, dim = 8)
    fn(vecs(200 until 224, shifted).toDF("vec_id", "embedding"), 0L)
    assert(IndexMaintenance.latestGen(spark, root) == 1L,
      "planted shift must trip an inline rebuild")
    // ...and the next served batch re-pins ONCE and reflects both the
    // new quantizer and the appended vectors.
    serve(queries, 1L)
    val after = served(1)
    assert(after._2 == 1L, "second batch serves the swapped generation")
    assert(after._3 == batchServe(1L))
    // A query from the shifted distribution must find the vectors the
    // rebuild ingested — proof the server reads the NEW generation's
    // codes, not a stale pin.
    val shiftedQ = vecs(Seq(2000, 2001), shifted).toDF("vec_id", "embedding")
    serve(shiftedQ, 2L)
    assert(served(2)._3.map(_._2).exists(id => id >= 200L && id < 224L),
      "appended (shifted) vectors are servable after the swap")
    // Legacy FLAT code layout (a store written before cell
    // partitioning): the serve must fall back to the unpruned scan
    // with identical results — layout is an optimization, never a
    // correctness gate.
    val flat = spark.read.parquet(s"$root/gen-1/codes").drop("pcid")
      .localCheckpoint()
    flat.write.mode("overwrite").parquet(s"$root/gen-1/codes")
    serve(queries, 3L)
    assert(served(3)._3 == served(1)._3,
      "flat-layout serve ≡ partitioned-layout serve")
  }

  test("filtered serve: predicate threads the candidate stage; full probe == brute force over the filtered corpus") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    def vecs(ids: Seq[Int], f: (Int, Int) => Float) =
      ids.map(id => (id.toLong, Seq.tabulate(8)(d => f(id, d))))
    val sameDist = (id: Int, d: Int) => 0.1f * ((id + d) % 13) - 0.5f
    val root = Files.createTempDirectory("graft-i8filt").toString
    val corpus = vecs(0 until 64, sameDist).toDF("vec_id", "embedding")
    IndexMaintenance.initInt8Store(spark, root, corpus,
      nCentroids = 4, lloydIters = 2, trainN = 64, seedPlanes = 4, dim = 8)
    val queries = vecs(Seq(1000, 1001, 1002), sameDist)
      .toDF("vec_id", "embedding")
    // the predicate: even vec_ids only (selectivity 0.5)
    val allowed = corpus.where(col("vec_id") % 2 === 0).select("vec_id")
    var got: Set[(Long, Long, Long)] = Set.empty
    val serve = IndexMaintenance.int8ServingPipeline(spark, root,
      k = 3, rerankDepth = 64, nProbe = 4, nCentroids = 4, dim = 8,
      onResult = (_, _, df) => got =
        df.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getAs[Long]("rank"))).toSet,
      filter = Some(allowed))
    serve(queries, 0L)
    // full probe + full re-rank depth: the filtered serve must EQUAL
    // brute-force top-k over the predicate-filtered corpus (the
    // pre-filter branch's truth in q_sim18's audit)
    val truth = Similarity.bruteForceTopK(queries,
        corpus.where(col("vec_id") % 2 === 0), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Long]("rank"))).toSet
    assert(got == truth, "filtered serve != brute force over filtered corpus")
    assert(got.nonEmpty && got.forall(_._2 % 2 == 0),
      "a served neighbor violates the predicate")
    // pre-filter fills ALL k slots with matches at a selective
    // predicate; post-filtering the unfiltered serve cannot
    var unfiltered: Set[(Long, Long, Long)] = Set.empty
    val serveAll = IndexMaintenance.int8ServingPipeline(spark, root,
      k = 3, rerankDepth = 6, nProbe = 2, nCentroids = 4, dim = 8,
      onResult = (_, _, df) => unfiltered =
        df.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getAs[Long]("rank"))).toSet)
    serveAll(queries, 0L)
    val postFilter = unfiltered.filter(_._2 % 2 == 0)
    var preShallow: Set[(Long, Long, Long)] = Set.empty
    val servePre = IndexMaintenance.int8ServingPipeline(spark, root,
      k = 3, rerankDepth = 6, nProbe = 2, nCentroids = 4, dim = 8,
      onResult = (_, _, df) => preShallow =
        df.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getAs[Long]("rank"))).toSet,
      filter = Some(allowed))
    servePre(queries, 0L)
    assert(preShallow.size == 9,
      s"pre-filter must fill 3 slots x 3 queries, got ${preShallow.size}")
    assert(postFilter.size < preShallow.size,
      "post-filter kept as many matches as pre-filter at equal depth — " +
        "the q_sim18 law should separate them")
  }

  test("pqRebuildingPipeline: shift trips retrain, codebooks rebuild, drift returns quiet") {
    import graft.operators.Similarity
    def vecs(ids: Seq[Int], f: (Int, Int) => Float) =
      ids.map(id => (id.toLong, Seq.tabulate(8)(d => f(id, d))))
    val sameDist = (id: Int, d: Int) => 0.1f * ((id + d) % 13) - 0.5f
    val shifted = (id: Int, d: Int) => if ((id + d) % 2 == 0) 5.0f else -5.0f
    val root = Files.createTempDirectory("graft-pqgen").toString
    val sink = Files.createTempDirectory("graft-pqgensink").toString
    IndexMaintenance.initPqStore(spark, root,
      vecs(0 until 48, sameDist).toDF("vec_id", "embedding"),
      m = 2, ksub = 4, iters = 2, trainN = 64, dim = 8)
    var rebuilds = Vector.empty[(Long, Long)]
    val fn = IndexMaintenance.pqRebuildingPipeline(spark, root, sink,
      m = 2, ksub = 4, iters = 2, trainN = 64, dim = 8,
      onRebuild = (b, g) => rebuilds :+= ((b, g)))
    // PQ drift is a USAGE-MIX signal, so post-rebuild quiet means: the
    // steady-state arrival mix — which now includes the shifted
    // population the rebuild indexed (2:1 base:shifted) — no longer
    // diverges from the stored histogram.
    fn(vecs(100 until 148, sameDist).toDF("vec_id", "embedding"), 0L)
    fn(vecs(200 until 248, shifted).toDF("vec_id", "embedding"), 1L)
    val b3 = vecs(300 until 332, sameDist) ++ vecs(400 until 416, shifted)
    fn(b3.toDF("vec_id", "embedding"), 2L)
    val rows = spark.read.parquet(sink).orderBy("batch_id").collect()
      .map(r => (r.getAs[Long]("n_rows"), r.getAs[Long]("retrain"),
        r.getAs[Long]("gen"))).toSeq
    assert(rows == Seq((48L, 0L, 0L), (48L, 1L, 0L), (48L, 0L, 1L)),
      s"quiet → trip → rebuilt-quiet: $rows")
    assert(rebuilds == Vector((1L, 1L)) &&
      IndexMaintenance.latestGen(spark, root) == 1L)
    // gen-1 codes ≡ one encode of the full log on the gen-1 codebooks.
    val cb1 = spark.read.parquet(s"$root/gen-1/codebooks")
    def rowSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub"),
        r.getAs[Int]("code"))).toSet
    assert(rowSet(spark.read.parquet(s"$root/gen-1/codes")) ==
      rowSet(Similarity.pqEncode(spark.read.parquet(s"$root/vectors"), cb1,
          m = 2, dim = 8).select("vec_id", "sub", "code")),
      "gen-1 artifact ≡ one encode of the full log on the gen-1 codebooks")
  }

  test("ivfPqRebuildingPipeline: cell-usage shift trips retrain, both quantizers rebuild, drift returns quiet") {
    import graft.operators.Similarity
    def vecs(ids: Seq[Int], f: (Int, Int) => Float) =
      ids.map(id => (id.toLong, Seq.tabulate(8)(d => f(id, d))))
    val sameDist = (id: Int, d: Int) => 0.1f * ((id + d) % 13) - 0.5f
    val shifted = (id: Int, d: Int) => if ((id + d) % 2 == 0) 5.0f else -5.0f
    val root = Files.createTempDirectory("graft-ivfpqgen").toString
    val sink = Files.createTempDirectory("graft-ivfpqgensink").toString
    IndexMaintenance.initIvfPqStore(spark, root,
      vecs(0 until 48, sameDist).toDF("vec_id", "embedding"),
      nCentroids = 4, m = 2, ksub = 4, lloydIters = 2, trainN = 64,
      seedPlanes = 4, dim = 8)
    assert(IndexMaintenance.latestGen(spark, root) == 0L)
    var rebuilds = Vector.empty[(Long, Long)]
    val fn = IndexMaintenance.ivfPqRebuildingPipeline(spark, root, sink,
      nCentroids = 4, m = 2, ksub = 4, lloydIters = 2, trainN = 64,
      seedPlanes = 4, dim = 8,
      onRebuild = (b, g) => rebuilds :+= ((b, g)))
    // tv_cell is a USAGE-MIX signal (the pq tier's posture): quiet on
    // the steady-state mix, loud on the shifted population, and — after
    // the rebuild indexes that population (2:1 base:shifted) — quiet
    // again on a batch of the now-indexed proportions.
    fn(vecs(100 until 148, sameDist).toDF("vec_id", "embedding"), 0L)
    fn(vecs(200 until 248, shifted).toDF("vec_id", "embedding"), 1L)
    val b3 = vecs(300 until 332, sameDist) ++ vecs(400 until 416, shifted)
    fn(b3.toDF("vec_id", "embedding"), 2L)
    val rows = spark.read.parquet(sink).orderBy("batch_id").collect()
      .map(r => (r.getAs[Long]("n_rows"), r.getAs[Long]("retrain"),
        r.getAs[Long]("gen"))).toSeq
    assert(rows == Seq((48L, 0L, 0L), (48L, 1L, 0L), (48L, 0L, 1L)),
      s"quiet → trip → rebuilt-quiet: $rows")
    assert(rebuilds == Vector((1L, 1L)) &&
      IndexMaintenance.latestGen(spark, root) == 1L)
    // gen-1 codes ≡ one assign+encode of the full log on BOTH gen-1
    // quantizers — the composite artifact stays consistent through the
    // rebuild.
    val cents1 = spark.read.parquet(s"$root/gen-1/centroids")
    val cb1 = spark.read.parquet(s"$root/gen-1/codebooks")
    val log = spark.read.parquet(s"$root/vectors")
    def rowSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub"),
        r.getAs[Int]("code"), r.getAs[Long]("cell"))).toSet
    assert(rowSet(spark.read.parquet(s"$root/gen-1/codes")) ==
      rowSet(Similarity.pqEncode(log, cb1, m = 2, dim = 8)
        .select("vec_id", "sub", "code")
        .join(Similarity.ivfCellAssign(log, cents1), "vec_id")),
      "gen-1 artifact ≡ one assign+encode of the full log on the gen-1 quantizers")
  }

  test("ivfPqServingPipeline: batches serve the committed composite artifact and follow a swap") {
    import graft.operators.Similarity
    def vecs(ids: Seq[Int], f: (Int, Int) => Float) =
      ids.map(id => (id.toLong, Seq.tabulate(8)(d => f(id, d))))
    val sameDist = (id: Int, d: Int) => 0.1f * ((id + d) % 13) - 0.5f
    val shifted = (id: Int, d: Int) => if ((id + d) % 2 == 0) 5.0f else -5.0f
    val root = Files.createTempDirectory("graft-ivfpqserve").toString
    val sink = Files.createTempDirectory("graft-ivfpqservesink").toString
    IndexMaintenance.initIvfPqStore(spark, root,
      vecs(0 until 48, sameDist).toDF("vec_id", "embedding"),
      nCentroids = 4, m = 2, ksub = 4, lloydIters = 2, trainN = 64,
      seedPlanes = 4, dim = 8)
    var served = Vector.empty[(Long, Long, Set[(Long, Long, Long)])]
    val serve = IndexMaintenance.ivfPqServingPipeline(spark, root,
      k = 3, rerankDepth = 6, nProbe = 4, nCentroids = 4, m = 2, ksub = 4,
      dim = 8,
      onResult = (b, g, df) => served :+=
        ((b, g, df.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getAs[Long]("rank"))).toSet)))
    val queries = vecs(Seq(1000, 1001, 1002), sameDist)
      .toDF("vec_id", "embedding")
    def batchServe(gen: Long): Set[(Long, Long, Long)] =
      Similarity.queryIvfPqIndex(queries,
          spark.read.parquet(s"$root/gen-$gen/codes"),
          spark.read.parquet(s"$root/gen-$gen/centroids"),
          spark.read.parquet(s"$root/gen-$gen/codebooks"),
          spark.read.parquet(s"$root/vectors").dropDuplicates("vec_id"),
          k = 3, rerankDepth = 6, nProbe = 4, m = 2, dim = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getAs[Long]("rank"))).toSet
    serve(queries, 0L)
    assert(served.head._2 == 0L, "first batch serves generation 0")
    assert(served.head._3 == batchServe(0L),
      "streamed serve ≡ batch read of the committed artifacts")
    assert(served.head._3.nonEmpty)
    // A cell-usage-tripped rebuild swaps both quantizers underneath...
    val fn = IndexMaintenance.ivfPqRebuildingPipeline(spark, root, sink,
      nCentroids = 4, m = 2, ksub = 4, lloydIters = 2, trainN = 64,
      seedPlanes = 4, dim = 8)
    fn(vecs(200 until 248, shifted).toDF("vec_id", "embedding"), 0L)
    assert(IndexMaintenance.latestGen(spark, root) == 1L,
      "planted usage shift must trip an inline rebuild")
    // ...and the server re-pins once and serves the new generation.
    serve(queries, 1L)
    assert(served(1)._2 == 1L && served(1)._3 == batchServe(1L))
    val shiftedQ = vecs(Seq(2000, 2001), shifted).toDF("vec_id", "embedding")
    serve(shiftedQ, 2L)
    assert(served(2)._3.map(_._2).exists(id => id >= 200L && id < 248L),
      "vectors ingested by the rebuild are servable after the swap")
  }

  test("generation stores: a mismatched shape fails loudly at pipeline construction") {
    // StreamingDedupSpec's manifest law for the IndexMaintenance
    // stores: `dim`/`nCentroids` (int8) and `dim`/`m`/`ksub` (PQ) are
    // STRUCTURAL — a reconstruction with different values would
    // mis-encode appends and train wrongly shaped generations — while
    // training knobs (lloydIters/iters/trainN) are semantic retunes.
    def vecs(ids: Seq[Int]) = ids.map(id =>
      (id.toLong, Seq.tabulate(8)(d => 0.1f * ((id + d) % 13) - 0.5f)))
    val root = Files.createTempDirectory("graft-i8man").toString
    val sink = Files.createTempDirectory("graft-i8mansink").toString
    IndexMaintenance.initInt8Store(spark, root,
      vecs(0 until 48).toDF("vec_id", "embedding"),
      nCentroids = 4, lloydIters = 2, trainN = 64, seedPlanes = 4, dim = 8)
    val e = intercept[IllegalStateException] {
      IndexMaintenance.int8RebuildingPipeline(spark, root, sink,
        nCentroids = 8, lloydIters = 2, trainN = 64, seedPlanes = 4, dim = 8)
    }
    assert(e.getMessage.contains("nCentroids"), e.getMessage)
    val e2 = intercept[IllegalStateException] {
      IndexMaintenance.int8RebuildingPipeline(spark, root, sink,
        nCentroids = 4, lloydIters = 2, trainN = 64, seedPlanes = 4, dim = 16)
    }
    assert(e2.getMessage.contains("dim"), e2.getMessage)
    // An unmanifested root refuses construction outright.
    intercept[IllegalStateException] {
      IndexMaintenance.int8RebuildingPipeline(spark,
        Files.createTempDirectory("graft-i8bare").toString, sink,
        nCentroids = 4, dim = 8)
    }
    // Matching shape constructs; retuned TRAINING knobs are legal.
    IndexMaintenance.int8RebuildingPipeline(spark, root, sink,
      nCentroids = 4, lloydIters = 5, trainN = 128, seedPlanes = 4, dim = 8)
    // Re-init over a LIVE store refuses — the old committed generation
    // would stay authoritative under new parameters.
    val e3 = intercept[IllegalStateException] {
      IndexMaintenance.initInt8Store(spark, root,
        vecs(0 until 8).toDF("vec_id", "embedding"), nCentroids = 4, dim = 8)
    }
    assert(e3.getMessage.contains("re-init"), e3.getMessage)
    // The PQ store mirrors all three refusals.
    val proot = Files.createTempDirectory("graft-pqman").toString
    IndexMaintenance.initPqStore(spark, proot,
      vecs(0 until 48).toDF("vec_id", "embedding"),
      m = 2, ksub = 4, iters = 2, trainN = 64, dim = 8)
    val e4 = intercept[IllegalStateException] {
      IndexMaintenance.pqRebuildingPipeline(spark, proot, sink,
        m = 4, ksub = 4, dim = 8)
    }
    assert(e4.getMessage.contains("m:"), e4.getMessage)
    val e5 = intercept[IllegalStateException] {
      IndexMaintenance.pqRebuildingPipeline(spark, proot, sink,
        m = 2, ksub = 8, dim = 8)
    }
    assert(e5.getMessage.contains("ksub"), e5.getMessage)
    IndexMaintenance.pqRebuildingPipeline(spark, proot, sink,
      m = 2, ksub = 4, iters = 5, trainN = 128, dim = 8)
    // The IVF-PQ store mirrors the refusals on its composite shape
    // (nCentroids AND m are structural); retuned training knobs legal.
    val iroot = Files.createTempDirectory("graft-ivfpqman").toString
    IndexMaintenance.initIvfPqStore(spark, iroot,
      vecs(0 until 48).toDF("vec_id", "embedding"),
      nCentroids = 4, m = 2, ksub = 4, lloydIters = 2, trainN = 64,
      seedPlanes = 4, dim = 8)
    val e6 = intercept[IllegalStateException] {
      IndexMaintenance.ivfPqRebuildingPipeline(spark, iroot, sink,
        nCentroids = 8, m = 2, ksub = 4, dim = 8)
    }
    assert(e6.getMessage.contains("nCentroids"), e6.getMessage)
    val e7 = intercept[IllegalStateException] {
      IndexMaintenance.ivfPqRebuildingPipeline(spark, iroot, sink,
        nCentroids = 4, m = 4, ksub = 4, dim = 8)
    }
    assert(e7.getMessage.contains("m:"), e7.getMessage)
    IndexMaintenance.ivfPqRebuildingPipeline(spark, iroot, sink,
      nCentroids = 4, m = 2, ksub = 4, lloydIters = 5, trainN = 128,
      seedPlanes = 4, dim = 8)
    // codesLayout is structural too: a store whose manifest records a
    // different (or absent — pre-layout era) codes layout refuses at
    // construction, BEFORE an append could mix flat and partitioned
    // files in one codes dir (Spark partition discovery rejects the
    // mix, and the corruption would be silent at write time).
    StoreManifest.write(spark, root, Seq(
      "kind" -> "int8-vector-store", "dim" -> "8",
      "nCentroids" -> "4", "codesLayout" -> "flat"))
    val e8 = intercept[IllegalStateException] {
      IndexMaintenance.int8RebuildingPipeline(spark, root, sink,
        nCentroids = 4, lloydIters = 2, trainN = 64, seedPlanes = 4, dim = 8)
    }
    assert(e8.getMessage.contains("codesLayout"), e8.getMessage)
    StoreManifest.write(spark, root, Seq(
      "kind" -> "int8-vector-store", "dim" -> "8", "nCentroids" -> "4"))
    val e9 = intercept[IllegalStateException] {
      IndexMaintenance.int8RebuildingPipeline(spark, root, sink,
        nCentroids = 4, lloydIters = 2, trainN = 64, seedPlanes = 4, dim = 8)
    }
    assert(e9.getMessage.contains("codesLayout") &&
      e9.getMessage.contains("<absent>"), e9.getMessage)
  }

  test("append artifacts self-seal: a different quantizer refuses reconstruction") {
    import graft.operators.Similarity
    def vecs(ids: Seq[Int], salt: Int = 0) = ids.map(id =>
      (id.toLong, Seq.tabulate(8)(d => 0.1f * ((id + d + salt) % 13) - 0.5f)))
    val base = vecs(0 until 48).toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(base, nCentroids = 4,
      iters = 2, trainN = 64, seedPlanes = 4, dim = 8)
    val grid = Similarity.int8Stats(base, dim = 8)
    val indexDir = Files.createTempDirectory("graft-i8seal").toString
    val sink = Files.createTempDirectory("graft-i8sealsink").toString
    Similarity.int8IndexWith(base, grid, cents)
      .write.mode("overwrite").parquet(indexDir)
    // First construction SEALS the bare artifact (shape + quantizer
    // value digest); an identical reconstruction passes.
    IndexMaintenance.int8AppendPipeline(indexDir, grid, cents, sink)
    IndexMaintenance.int8AppendPipeline(indexDir, grid, cents, sink)
    // A same-shaped but different-VALUED quantizer (trained on shifted
    // data — the mismatch shape params alone cannot see) refuses.
    val other = vecs(0 until 48, salt = 7).toDF("vec_id", "embedding")
    val cents2 = Similarity.trainCentroids(other, nCentroids = 4,
      iters = 2, trainN = 64, seedPlanes = 4, dim = 8)
    val e = intercept[IllegalStateException] {
      IndexMaintenance.int8AppendPipeline(indexDir,
        Similarity.int8Stats(other, dim = 8), cents2, sink)
    }
    assert(e.getMessage.contains("quantizerDigest"), e.getMessage)
    // And the parquet read of the sealed dir still works — the marker
    // is bookkeeping (`_`-prefixed), invisible to the scan.
    assert(spark.read.parquet(indexDir).count() == 48)
    // PQ tier: same seal, same refusal.
    val cb = Similarity.trainPqCodebooks(base, m = 2, ksub = 4,
      iters = 2, trainN = 64, dim = 8)
    val codesDir = Files.createTempDirectory("graft-pqseal").toString
    Similarity.pqEncode(base, cb, m = 2, dim = 8)
      .select("vec_id", "sub", "code")
      .write.mode("overwrite").parquet(codesDir)
    IndexMaintenance.pqAppendPipeline(codesDir, cb, sink, m = 2, dim = 8)
    val cb2 = Similarity.trainPqCodebooks(other, m = 2, ksub = 4,
      iters = 2, trainN = 64, dim = 8)
    val e2 = intercept[IllegalStateException] {
      IndexMaintenance.pqAppendPipeline(codesDir, cb2, sink, m = 2, dim = 8)
    }
    assert(e2.getMessage.contains("quantizerDigest"), e2.getMessage)
    assert(spark.read.parquet(codesDir).count() == 48 * 2)
  }

  test("int8 rebuild pins the COMMITTED artifact: one training pass over the vector log") {
    // ADVICE r9 #2: the rebuild used to re-execute the int8Stats/
    // trainCentroids plans for its pins AFTER writeInt8Gen had already
    // run them — training twice per rebuild, with committed-codes /
    // pinned-quantizer consistency resting on plan determinism. Now the
    // pins read the committed parquet, so the vector log is scanned
    // exactly twice outside the memoized training (the grid pass and
    // the re-encode pass): counted here as FileSourceScan nodes over
    // the store's vectors path across every execution of the
    // rebuild-triggering batch. The old re-derivation shape counted 4.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    def vecs(ids: Seq[Int], f: (Int, Int) => Float) =
      ids.map(id => (id.toLong, Seq.tabulate(8)(d => f(id, d))))
    val sameDist = (id: Int, d: Int) => 0.1f * ((id + d) % 13) - 0.5f
    val shifted = (id: Int, d: Int) => if ((id + d) % 2 == 0) 5.0f else -5.0f
    val root = Files.createTempDirectory("graft-i8once").toString
    val sink = Files.createTempDirectory("graft-i8oncesink").toString
    IndexMaintenance.initInt8Store(spark, root,
      vecs(0 until 48, sameDist).toDF("vec_id", "embedding"),
      nCentroids = 4, lloydIters = 2, trainN = 64, seedPlanes = 4, dim = 8)
    val fn = IndexMaintenance.int8RebuildingPipeline(spark, root, sink,
      nCentroids = 4, lloydIters = 2, trainN = 64, seedPlanes = 4, dim = 8)
    fn(vecs(100 until 112, sameDist).toDF("vec_id", "embedding"), 0L)
    val vecPath = s"$root/vectors"
    def countScans(p: SparkPlan): Int = {
      val self = p match {
        case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(vecPath)) => 1
        case _ => 0
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      self + kids.map(countScans).sum
    }
    val scans = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        scans.addAndGet(countScans(qe.executedPlan))
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      fn(vecs(200 until 212, shifted).toDF("vec_id", "embedding"), 1L) // trips retrain
      // The listener bus is asynchronous — wait for the count to settle.
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      var last = -1
      while (System.nanoTime() < deadline && scans.get() != last) {
        last = scans.get(); Thread.sleep(300)
      }
    } finally spark.listenerManager.unregister(listener)
    assert(IndexMaintenance.latestGen(spark, root) == 1L, "rebuild committed")
    assert(scans.get() == 2,
      s"expected exactly 2 vector-log scan nodes during the rebuild batch " +
        s"(grid pass + re-encode; training reads its memoized sample, pins " +
        s"read the committed parquet) — got ${scans.get()}")
    // Consistency is structural, not coincidental: the committed codes
    // equal one encode of the deduped log on the COMMITTED quantizer.
    import graft.operators.Similarity
    def rowSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("cid"),
        r.getAs[Array[Byte]]("qcode").toSeq)).toSet
    assert(rowSet(spark.read.parquet(s"$root/gen-1/codes")) ==
      rowSet(Similarity.int8Encode(
        spark.read.parquet(s"$root/vectors").dropDuplicates("vec_id"),
        spark.read.parquet(s"$root/gen-1/grid"),
        spark.read.parquet(s"$root/gen-1/centroids"))),
      "gen-1 codes ≡ encode on the committed gen-1 quantizer")
  }

  test("rebuild store: an uncommitted generation dir is ignored by latestGen") {
    import graft.operators.Similarity
    def vecs(ids: Seq[Int]) = ids.map(id =>
      (id.toLong, Seq.tabulate(8)(d => 0.1f * ((id + d) % 13) - 0.5f)))
    val root = Files.createTempDirectory("graft-i8orphan").toString
    IndexMaintenance.initInt8Store(spark, root,
      vecs(0 until 48).toDF("vec_id", "embedding"),
      nCentroids = 4, lloydIters = 2, trainN = 64, seedPlanes = 4, dim = 8)
    // A rebuild that died before its COMMITTED marker: partial dirs
    // exist, no marker — readers must keep resolving gen 0.
    vecs(0 until 4).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$root/gen-1/codes")
    assert(IndexMaintenance.latestGen(spark, root) == 0L,
      "crash-orphaned generation must not be resolvable")
  }

  test("full curation funnel stream ≡ batch survivors (dedup → decontam → sample)") {
    import org.apache.spark.sql.functions._
    import graft.functions.{TextFunctions => TF}
    implicit val sqlCtx = spark.sqlContext
    def at(s: String) = Timestamp.valueOf(s)
    // A bench doc (NOT fed to the stream — it is the contamination
    // source) and a corpus with: a clean high-quality doc, a doc
    // containing one of the bench doc's 8-grams, a spam doc (lowest
    // quality ⇒ p = 0 ⇒ always sampled out), a second clean doc, and a
    // cross-batch duplicate of doc 1 (min-id copy arrives first).
    val benchText = (0 until 9).map(i => s"bench$i").mkString(" ")
    val benchGrams = benchText.split(" ").sliding(8).map(_.mkString(" ")).toSet
    val docA = (0 until 12).map(i => s"alpha$i").mkString(" ")
    val docB = "xx " + benchText.split(" ").take(8).mkString(" ") + " yy"
    val docC = Seq.fill(12)("spam").mkString(" ")
    val docD = (0 until 12).map(i => s"delta$i").mkString(" ")
    val corpus = Seq(
      (1L, docA, at("2024-01-01 10:00:00")),
      (2L, docB, at("2024-01-01 10:00:05")),
      (3L, docC, at("2024-01-01 10:00:10")),
      (4L, docD, at("2024-01-01 10:00:15")),
      (5L, docA, at("2024-01-01 10:05:00"))) // cross-batch dup of doc 1
    // Batch side — the q_ml9 stages over the same docs: min-id dedup,
    // broadcast-gram decontamination, temperature sample with extrema
    // taken over the clean set.
    val static = corpus.toDF("doc_id", "text", "ts")
    val keep = static.groupBy(TF.fingerprintMd5(col("text")).as("fp"))
      .agg(min("doc_id").as("doc_id"))
    val deduped = static.join(keep.select("doc_id"), Seq("doc_id"), "left_semi")
    val contaminatedIds = deduped
      .select(col("doc_id"), explode(TF.shingles(col("text"), 8)).as("gram"))
      .join(broadcast(benchGrams.toSeq.toDF("gram")), "gram")
      .select("doc_id").distinct()
    val clean = deduped.join(contaminatedIds, Seq("doc_id"), "left_anti")
      .withColumn("q", TF.qualityScore(col("text")))
      .withColumn("u", round(TF.hexHash60(col("text")).cast("double") /
        lit(1152921504606846976.0), 6))
    val Array(qMin, qMax) = clean.agg(min("q"), max("q")).collect()(0)
      .toSeq.map(_.asInstanceOf[Double]).toArray
    val batchSurvivors = clean
      .where(col("u") < round(pow((col("q") - qMin) / (qMax - qMin), 0.5), 6))
      .collect().map(_.getLong(0)).toSet
    assert(!batchSurvivors.contains(2L), "contaminated doc dropped in batch")
    assert(!batchSurvivors.contains(3L), "qmin doc has p = 0, always sampled out")
    assert(!batchSurvivors.contains(5L), "non-min dup dropped in batch")
    assert(batchSurvivors.nonEmpty, "funnel must keep something")
    // Stream side — same docs in id order across two micro-batches (the
    // dup arrives late but inside the watermark), pinned to the batch
    // run's calibration.
    val mem = MemoryStream[(Long, String, Timestamp)]
    val funnel = CurationStream.curationFunnelStream(
      mem.toDF().toDF("doc_id", "text", "ts"), benchGrams, qMin, qMax)
    val q = funnel.writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    try {
      mem.addData(corpus(0), corpus(1), corpus(2))
      q.processAllAvailable()
      mem.addData(corpus(3), corpus(4))
      q.processAllAvailable()
      val streamed = spark.table("funnel_out").collect().map(_.getLong(0)).toSet
      assert(streamed == batchSurvivors,
        s"stream ≡ batch: stream=${streamed.toSeq.sorted} batch=${batchSurvivors.toSeq.sorted}")
    } finally q.stop()
  }

  test("curationFunnelStream: quality outside the pinned calibration clamps, never NaN-keeps") {
    // A streamed doc can score OUTSIDE [qMin, qMax] (batch never can —
    // its extrema come from the corpus it scores). Unclamped,
    // q < qMin makes (q−qMin)/(qMax−qMin) negative, pow(neg, 0.5) NaN,
    // and Spark's NaN ordering turns `u < NaN` TRUE — the worst
    // out-of-calibration docs would always be KEPT. The clamp must send
    // q < qMin to p = 0 (always dropped) and q > qMax to p = 1 (kept).
    import org.apache.spark.sql.functions._
    import graft.functions.{TextFunctions => TF}
    def at(s: String) = Timestamp.valueOf(s)
    val docLow = Seq.fill(12)("spam").mkString(" ")            // repetitive → low q
    val docHigh = (0 until 12).map(i => s"word$i").mkString(" ") // diverse → high q
    val Array(qLow, qHigh) = Seq(docLow, docHigh).toDF("text")
      .select(TF.qualityScore(col("text"))).collect().map(_.getDouble(0))
    assert(qLow < qHigh, s"planted quality gap: $qLow vs $qHigh")
    val uHigh = Seq(docHigh).toDF("text")
      .select(round(TF.hexHash60(col("text")).cast("double") /
        lit(1152921504606846976.0), 6)).head().getDouble(0)
    assert(uHigh < 1.0, s"p = 1 must beat the high doc's draw: u = $uHigh")
    // Pin calibration STRICTLY INSIDE the gap: both docs are out of range.
    val qMin = qLow + 0.6 * (qHigh - qLow)
    val qMax = qLow + 0.7 * (qHigh - qLow)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val funnel = CurationStream.curationFunnelStream(
      mem.toDF().toDF("doc_id", "text", "ts"), Set.empty, qMin, qMax)
    val q = funnel.writeStream.format("memory").queryName("funnel_clamp")
      .outputMode("append").start()
    try {
      mem.addData((1L, docLow, at("2024-01-01 10:00:00")),
        (2L, docHigh, at("2024-01-01 10:00:05")))
      q.processAllAvailable()
      val streamed = spark.table("funnel_clamp").collect().map(_.getLong(0)).toSet
      assert(streamed == Set(2L),
        s"below-qMin dropped (p=0), above-qMax kept (p=1): got $streamed")
    } finally q.stop()
  }
}
