package graft.streaming

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path

import graft.SparkSpec
import graft.operators.Similarity

/** The OFF-PATH rebuild protocol ([[IndexMaintenance]], `async = true`)
  * — the 100 TB availability stance: a corpus-scale retrain runs on a
  * daemon thread over a frozen file-list snapshot while micro-batches
  * keep appending to the current generation, and the first batch after
  * the build finishes performs the swap (staged catch-up encode →
  * COMMITTED → re-pin → reap staging).
  *
  * Every test drives the foreachBatch function directly (the inline
  * rebuild tests' posture — deterministic, single stream thread) and
  * uses the protocol's own `rebuildGate` hook to hold the build window
  * open: the gate runs in the builder thread before any read, so
  * "batches arriving mid-build" is a latch, not a sleep.
  */
class AsyncRebuildSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(ids: Seq[Int], f: (Int, Int) => Float) =
    ids.map(id => (id.toLong, Seq.tabulate(8)(d => f(id, d))))
  private val sameDist = (id: Int, d: Int) => 0.1f * ((id + d) % 13) - 0.5f
  private val shifted = (id: Int, d: Int) => if ((id + d) % 2 == 0) 5.0f else -5.0f

  private def fs(path: String) = GenStore.fs(spark, path)
  private def exists(path: String) = fs(path).exists(new Path(path))

  test("int8 async rebuild: appends continue on gen N during the build; " +
      "swap encodes the staged window once and commits atomically") {
    val root = Files.createTempDirectory("graft-i8async").toString
    val sink = Files.createTempDirectory("graft-i8asyncsink").toString
    IndexMaintenance.initInt8Store(spark, root,
      vecs(0 until 48, sameDist).toDF("vec_id", "embedding"),
      nCentroids = 4, lloydIters = 2, trainN = 64, seedPlanes = 4, dim = 8)
    val started = new CountDownLatch(1)
    val hold = new CountDownLatch(1)
    var rebuilds = Vector.empty[(Long, Long)]
    val fn = IndexMaintenance.int8RebuildingPipeline(spark, root, sink,
      nCentroids = 4, lloydIters = 2, trainN = 64, seedPlanes = 4, dim = 8,
      onRebuild = (b, g) => rebuilds :+= ((b, g)),
      async = true,
      rebuildGate = () => { started.countDown(); hold.await() })
    // Quiet batch on gen 0, then a shifted batch that trips retrain and
    // SUBMITS the off-path build (its own rows are in the snapshot —
    // they were logged before submission).
    fn(vecs(100 until 112, sameDist).toDF("vec_id", "embedding"), 0L)
    fn(vecs(200 until 212, shifted).toDF("vec_id", "embedding"), 1L)
    assert(started.await(60, TimeUnit.SECONDS), "builder never reached the gate")
    // BUILD WINDOW (held open by the gate): a batch of 6 fresh vectors
    // plus a RE-SENT vec_id 205 (already in the snapshot via batch 1 —
    // the at-least-once replay the swap's anti-join must not encode
    // twice). It must land on gen 0 and also park in staging.
    val windowBatch = vecs(500 until 506, shifted) ++ vecs(Seq(205), shifted)
    fn(windowBatch.toDF("vec_id", "embedding"), 2L)
    assert(IndexMaintenance.latestGen(spark, root) == 0L,
      "mid-build, readers must still resolve gen 0")
    val staging = s"$root/gen-1/pending-vectors"
    assert(spark.read.parquet(staging).count() == 7,
      "build-window arrivals parked in staging")
    assert(rebuilds.isEmpty, "no swap while the build window is open")
    // Release the build; the next batch (a fresh probe) performs the
    // swap before it is processed, so it lands on gen 1. Built-flag
    // publication is asynchronous — probe until the swap happens.
    hold.countDown()
    var probeId = 600
    var batchId = 3L
    val deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
    while (IndexMaintenance.latestGen(spark, root) == 0L &&
        System.nanoTime() < deadline) {
      fn(vecs(Seq(probeId), sameDist).toDF("vec_id", "embedding"), batchId)
      probeId += 1; batchId += 1
      Thread.sleep(100)
    }
    assert(IndexMaintenance.latestGen(spark, root) == 1L, "swap committed")
    assert(rebuilds.map(_._2) == Vector(1L), s"one swap, to gen 1: $rebuilds")
    assert(!exists(staging), "staging reaped after the swap")
    // Batches 0-2 (pre-swap) measured and appended on gen 0; the
    // swap-triggering probe and everything after it on gen 1.
    val genByBatch = spark.read.parquet(sink).collect()
      .map(r => r.getAs[Long]("batch_id") -> r.getAs[Long]("gen")).toMap
    assert(Seq(0L, 1L, 2L).forall(genByBatch(_) == 0L),
      s"pre-swap batches on gen 0: $genByBatch")
    assert(genByBatch(rebuilds.head._1) == 1L,
      s"the swap batch lands on gen 1: $genByBatch")
    // The async ≡ inline differential: gen-1 codes must equal ONE
    // encode of the deduped full vector log on the committed gen-1
    // quantizer — exactly the invariant the inline rebuild test pins.
    // Snapshot rows, staged catch-up (minus the anti-joined replay of
    // 205), and post-swap appends all collapse into it.
    def rowSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("cid"),
        r.getAs[Array[Byte]]("qcode").toSeq)).toSet
    val gen1 = spark.read.parquet(s"$root/gen-1/codes")
    assert(rowSet(gen1) ==
      rowSet(Similarity.int8Encode(
        spark.read.parquet(s"$root/vectors").dropDuplicates("vec_id"),
        spark.read.parquet(s"$root/gen-1/grid"),
        spark.read.parquet(s"$root/gen-1/centroids"))),
      "gen-1 codes ≡ one encode of the deduped log on the gen-1 quantizer")
    assert(gen1.where("neighbor_id = 205").count() == 1,
      "a vec_id re-sent during the build window is encoded exactly once")
  }

  test("int8 async rebuild: a failed build surfaces via onBuildError with " +
      "its orphan reaped, and the drift signal re-submits to completion") {
    val root = Files.createTempDirectory("graft-i8asyncfail").toString
    val sink = Files.createTempDirectory("graft-i8asyncfailsink").toString
    IndexMaintenance.initInt8Store(spark, root,
      vecs(0 until 48, sameDist).toDF("vec_id", "embedding"),
      nCentroids = 4, lloydIters = 2, trainN = 64, seedPlanes = 4, dim = 8)
    // The gate fails the FIRST build attempt and passes every later one
    // — the self-healing path: surface → reap → re-submit → swap.
    val attempts = new AtomicInteger(0)
    var surfaced = Vector.empty[(Long, String)]
    var orphanGoneAtSurface = false
    val fn = IndexMaintenance.int8RebuildingPipeline(spark, root, sink,
      nCentroids = 4, lloydIters = 2, trainN = 64, seedPlanes = 4, dim = 8,
      async = true,
      rebuildGate = () =>
        if (attempts.incrementAndGet() == 1)
          throw new RuntimeException("planted build failure"),
      onBuildError = (b, e) => {
        // The failure branch reaps the orphan target dir BEFORE
        // surfacing — observed from inside the hook, where the ordering
        // is deterministic.
        orphanGoneAtSurface = !exists(s"$root/gen-1")
        surfaced :+= ((b, e.getMessage))
      })
    fn(vecs(100 until 112, sameDist).toDF("vec_id", "embedding"), 0L)
    // Shifted batches: the first submits (and the builder dies on the
    // planted gate failure); a later one surfaces the error on the
    // stream thread, re-submits, and — the gate now passing — the build
    // completes and a still-later batch swaps.
    var probeId = 200
    var batchId = 1L
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (IndexMaintenance.latestGen(spark, root) == 0L &&
        System.nanoTime() < deadline) {
      fn(vecs(probeId until (probeId + 12), shifted)
        .toDF("vec_id", "embedding"), batchId)
      probeId += 12; batchId += 1
      Thread.sleep(100)
    }
    assert(surfaced.nonEmpty, "the planted failure surfaced on the stream thread")
    assert(surfaced.head._2 == "planted build failure", surfaced.toString)
    assert(orphanGoneAtSurface,
      "the failed build's orphan gen dir was reaped before surfacing")
    assert(attempts.get() >= 2, "the drift signal re-submitted after the failure")
    assert(IndexMaintenance.latestGen(spark, root) == 1L,
      "the re-submitted build completed and swapped")
  }

  test("async rebuild: crash orphans above the committed frontier are " +
      "reaped at pipeline construction") {
    val root = Files.createTempDirectory("graft-i8asyncorph").toString
    val sink = Files.createTempDirectory("graft-i8asyncorphsink").toString
    IndexMaintenance.initInt8Store(spark, root,
      vecs(0 until 48, sameDist).toDF("vec_id", "embedding"),
      nCentroids = 4, lloydIters = 2, trainN = 64, seedPlanes = 4, dim = 8)
    // A build that died before its COMMITTED marker: partial artifact
    // plus a staging dir with parked arrivals — resolvable by no
    // reader, but holding disk until something reaps it.
    vecs(0 until 4, sameDist).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$root/gen-1/codes")
    vecs(900 until 904, sameDist).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$root/gen-1/pending-vectors")
    assert(IndexMaintenance.latestGen(spark, root) == 0L)
    val fn = IndexMaintenance.int8RebuildingPipeline(spark, root, sink,
      nCentroids = 4, lloydIters = 2, trainN = 64, seedPlanes = 4, dim = 8,
      async = true)
    assert(!exists(s"$root/gen-1"),
      "construction reaps the uncommitted orphan (staging included)")
    // The reconstructed pipeline still appends cleanly on gen 0.
    fn(vecs(100 until 112, sameDist).toDF("vec_id", "embedding"), 0L)
    assert(IndexMaintenance.latestGen(spark, root) == 0L)
    assert(spark.read.parquet(s"$root/gen-0/codes").count() == 48 + 12)
  }

  test("pq async rebuild: a staging dir left under a COMMITTED generation " +
      "(crash between the swap's commit and its staging delete) is reaped " +
      "at construction") {
    val root = Files.createTempDirectory("graft-pqasyncstaged").toString
    val sink = Files.createTempDirectory("graft-pqasyncstagedsink").toString
    IndexMaintenance.initPqStore(spark, root,
      vecs(0 until 48, sameDist).toDF("vec_id", "embedding"),
      m = 2, ksub = 4, iters = 2, trainN = 64, dim = 8)
    // The swap folds staged rows into the codes BEFORE its commit, so a
    // leftover staging dir under the committed generation is garbage.
    vecs(900 until 904, sameDist).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$root/gen-0/pending-vectors")
    val fn = IndexMaintenance.pqRebuildingPipeline(spark, root, sink,
      m = 2, ksub = 4, iters = 2, trainN = 64, dim = 8, async = true)
    assert(!exists(s"$root/gen-0/pending-vectors"),
      "construction reaps the committed generation's staging dir")
    // A quiet batch adds exactly its own m codes per vector to gen 0.
    fn(vecs(100 until 148, sameDist).toDF("vec_id", "embedding"), 0L)
    assert(IndexMaintenance.latestGen(spark, root) == 0L)
    val codes = spark.read.parquet(s"$root/gen-0/codes")
    assert(codes.count() == (48 + 48) * 2)
    assert(codes.where("vec_id >= 900").count() == 0,
      "no staged row leaks into the codes")
  }

  test("int8 async rebuild under the streaming engine: the closed loop " +
      "converges end-to-end with natural build timing") {
    // The latch-gated tests above prove the protocol deterministically;
    // this leg drives the SAME pipeline through writeStream.foreachBatch
    // with the build running at its own pace — the micro-batch engine's
    // thread is the single writer the protocol assumes. Only the first
    // build runs; tail re-submissions park on a never-released latch
    // (daemon threads — reaped at JVM exit before starting any job).
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = Files.createTempDirectory("graft-i8asyncstream").toString
    val sink = Files.createTempDirectory("graft-i8asyncstreamsink").toString
    IndexMaintenance.initInt8Store(spark, root,
      vecs(0 until 48, sameDist).toDF("vec_id", "embedding"),
      nCentroids = 4, lloydIters = 2, trainN = 64, seedPlanes = 4, dim = 8)
    val parked = new CountDownLatch(1)
    val attempt = new AtomicInteger(0)
    var rebuilds = Vector.empty[(Long, Long)]
    val fn = IndexMaintenance.int8RebuildingPipeline(spark, root, sink,
      nCentroids = 4, lloydIters = 2, trainN = 64, seedPlanes = 4, dim = 8,
      onRebuild = (b, g) => rebuilds :+= ((b, g)),
      async = true,
      rebuildGate = () => if (attempt.incrementAndGet() > 1) parked.await())
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = mem.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch(fn).start()
    try {
      mem.addData(vecs(100 until 112, sameDist): _*)
      q.processAllAvailable()
      // Shifted batches trip retrain; the submitted build races the
      // stream at natural speed — keep feeding until the swap lands.
      var id = 200
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (IndexMaintenance.latestGen(spark, root) == 0L &&
          System.nanoTime() < deadline) {
        mem.addData(vecs(id until (id + 12), shifted): _*)
        q.processAllAvailable()
        id += 12
      }
    } finally q.stop()
    assert(IndexMaintenance.latestGen(spark, root) == 1L, "swap committed")
    assert(rebuilds.map(_._2) == Vector(1L), s"one swap, to gen 1: $rebuilds")
    assert(!exists(s"$root/gen-1/pending-vectors"), "staging reaped")
    // The full differential still holds under engine-driven batching:
    // every arrival (snapshot, build-window staging, post-swap appends)
    // collapses into one encode of the deduped log on the committed
    // gen-1 quantizer.
    def rowSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("cid"),
        r.getAs[Array[Byte]]("qcode").toSeq)).toSet
    assert(rowSet(spark.read.parquet(s"$root/gen-1/codes")) ==
      rowSet(Similarity.int8Encode(
        spark.read.parquet(s"$root/vectors").dropDuplicates("vec_id"),
        spark.read.parquet(s"$root/gen-1/grid"),
        spark.read.parquet(s"$root/gen-1/centroids"))),
      "gen-1 codes ≡ one encode of the deduped log on the gen-1 quantizer")
  }

  test("pq async rebuild: build-window staging, anti-joined catch-up, " +
      "atomic swap — the int8 protocol on the PQ tier") {
    val root = Files.createTempDirectory("graft-pqasync").toString
    val sink = Files.createTempDirectory("graft-pqasyncsink").toString
    IndexMaintenance.initPqStore(spark, root,
      vecs(0 until 48, sameDist).toDF("vec_id", "embedding"),
      m = 2, ksub = 4, iters = 2, trainN = 64, dim = 8)
    val started = new CountDownLatch(1)
    val hold = new CountDownLatch(1)
    var rebuilds = Vector.empty[(Long, Long)]
    val fn = IndexMaintenance.pqRebuildingPipeline(spark, root, sink,
      m = 2, ksub = 4, iters = 2, trainN = 64, dim = 8,
      onRebuild = (b, g) => rebuilds :+= ((b, g)),
      async = true,
      rebuildGate = () => { started.countDown(); hold.await() })
    fn(vecs(100 until 148, sameDist).toDF("vec_id", "embedding"), 0L)
    fn(vecs(200 until 248, shifted).toDF("vec_id", "embedding"), 1L)
    assert(started.await(60, TimeUnit.SECONDS), "builder never reached the gate")
    // Build window: fresh vectors plus a re-sent vec_id 210 (in the
    // snapshot via batch 1).
    val windowBatch = vecs(500 until 506, shifted) ++ vecs(Seq(210), shifted)
    fn(windowBatch.toDF("vec_id", "embedding"), 2L)
    assert(IndexMaintenance.latestGen(spark, root) == 0L)
    assert(spark.read.parquet(s"$root/gen-1/pending-vectors").count() == 7)
    hold.countDown()
    var probeId = 600
    var batchId = 3L
    val deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
    while (IndexMaintenance.latestGen(spark, root) == 0L &&
        System.nanoTime() < deadline) {
      fn(vecs(Seq(probeId), sameDist).toDF("vec_id", "embedding"), batchId)
      probeId += 1; batchId += 1
      Thread.sleep(100)
    }
    assert(IndexMaintenance.latestGen(spark, root) == 1L, "swap committed")
    assert(rebuilds.map(_._2) == Vector(1L), s"one swap, to gen 1: $rebuilds")
    assert(!exists(s"$root/gen-1/pending-vectors"), "staging reaped")
    def rowSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub"),
        r.getAs[Int]("code"))).toSet
    val gen1 = spark.read.parquet(s"$root/gen-1/codes")
    assert(rowSet(gen1) ==
      rowSet(Similarity.pqEncode(
          spark.read.parquet(s"$root/vectors").dropDuplicates("vec_id"),
          spark.read.parquet(s"$root/gen-1/codebooks"), m = 2, dim = 8)
        .select("vec_id", "sub", "code")),
      "gen-1 codes ≡ one encode of the deduped log on the gen-1 codebooks")
    assert(gen1.where("vec_id = 210").count() == 2,
      "a re-sent vec_id carries exactly m sub-codes — encoded once")
  }

  test("ivf-pq async rebuild: build-window staging, anti-joined catch-up, " +
      "atomic swap — the protocol on the composite serving tier") {
    val root = Files.createTempDirectory("graft-ivfpqasync").toString
    val sink = Files.createTempDirectory("graft-ivfpqasyncsink").toString
    IndexMaintenance.initIvfPqStore(spark, root,
      vecs(0 until 48, sameDist).toDF("vec_id", "embedding"),
      nCentroids = 4, m = 2, ksub = 4, lloydIters = 2, trainN = 64,
      seedPlanes = 4, dim = 8)
    val started = new CountDownLatch(1)
    val hold = new CountDownLatch(1)
    var rebuilds = Vector.empty[(Long, Long)]
    val fn = IndexMaintenance.ivfPqRebuildingPipeline(spark, root, sink,
      nCentroids = 4, m = 2, ksub = 4, lloydIters = 2, trainN = 64,
      seedPlanes = 4, dim = 8,
      onRebuild = (b, g) => rebuilds :+= ((b, g)),
      async = true,
      rebuildGate = () => { started.countDown(); hold.await() })
    fn(vecs(100 until 148, sameDist).toDF("vec_id", "embedding"), 0L)
    fn(vecs(200 until 248, shifted).toDF("vec_id", "embedding"), 1L)
    assert(started.await(60, TimeUnit.SECONDS), "builder never reached the gate")
    // Build window: fresh vectors plus a re-sent vec_id 210 (in the
    // snapshot via batch 1 — the replay the anti-join must not encode
    // twice).
    val windowBatch = vecs(500 until 506, shifted) ++ vecs(Seq(210), shifted)
    fn(windowBatch.toDF("vec_id", "embedding"), 2L)
    assert(IndexMaintenance.latestGen(spark, root) == 0L,
      "mid-build, readers must still resolve gen 0")
    assert(spark.read.parquet(s"$root/gen-1/pending-vectors").count() == 7)
    assert(rebuilds.isEmpty, "no swap while the build window is open")
    hold.countDown()
    var probeId = 600
    var batchId = 3L
    val deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
    while (IndexMaintenance.latestGen(spark, root) == 0L &&
        System.nanoTime() < deadline) {
      fn(vecs(Seq(probeId), sameDist).toDF("vec_id", "embedding"), batchId)
      probeId += 1; batchId += 1
      Thread.sleep(100)
    }
    assert(IndexMaintenance.latestGen(spark, root) == 1L, "swap committed")
    assert(rebuilds.map(_._2) == Vector(1L), s"one swap, to gen 1: $rebuilds")
    assert(!exists(s"$root/gen-1/pending-vectors"), "staging reaped")
    // Async ≡ inline: gen-1 codes equal one assign+encode of the
    // deduped log on BOTH committed gen-1 quantizers — snapshot rows,
    // anti-joined staged catch-up, and post-swap appends all collapse
    // into it.
    val cents1 = spark.read.parquet(s"$root/gen-1/centroids")
    val cb1 = spark.read.parquet(s"$root/gen-1/codebooks")
    val dedupLog = spark.read.parquet(s"$root/vectors")
      .dropDuplicates("vec_id")
    def rowSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub"),
        r.getAs[Int]("code"), r.getAs[Long]("cell"))).toSet
    val gen1 = spark.read.parquet(s"$root/gen-1/codes")
    assert(rowSet(gen1) ==
      rowSet(Similarity.pqEncode(dedupLog, cb1, m = 2, dim = 8)
        .select("vec_id", "sub", "code")
        .join(Similarity.ivfCellAssign(dedupLog, cents1), "vec_id")),
      "gen-1 codes ≡ one assign+encode of the deduped log on the gen-1 quantizers")
    assert(gen1.where("vec_id = 210").count() == 2,
      "a re-sent vec_id carries exactly m (sub, code, cell) rows — encoded once")
  }

  test("ivf-pq async rebuild under the streaming engine: the closed loop " +
      "converges end-to-end with natural build timing") {
    // The int8 engine-driven leg's mirror for the composite tier: the
    // latch-gated test above proves the protocol deterministically;
    // this one drives the SAME pipeline through writeStream.foreachBatch
    // with the build racing the stream at its own pace. Only the first
    // build runs; tail re-submissions park on a never-released latch.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = Files.createTempDirectory("graft-ivfpqasyncstream").toString
    val sink = Files.createTempDirectory("graft-ivfpqasyncstreamsink").toString
    IndexMaintenance.initIvfPqStore(spark, root,
      vecs(0 until 48, sameDist).toDF("vec_id", "embedding"),
      nCentroids = 4, m = 2, ksub = 4, lloydIters = 2, trainN = 64,
      seedPlanes = 4, dim = 8)
    val parked = new CountDownLatch(1)
    val attempt = new AtomicInteger(0)
    var rebuilds = Vector.empty[(Long, Long)]
    val fn = IndexMaintenance.ivfPqRebuildingPipeline(spark, root, sink,
      nCentroids = 4, m = 2, ksub = 4, lloydIters = 2, trainN = 64,
      seedPlanes = 4, dim = 8,
      onRebuild = (b, g) => rebuilds :+= ((b, g)),
      async = true,
      rebuildGate = () => if (attempt.incrementAndGet() > 1) parked.await())
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = mem.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch(fn).start()
    try {
      mem.addData(vecs(100 until 148, sameDist): _*)
      q.processAllAvailable()
      var id = 200
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (IndexMaintenance.latestGen(spark, root) == 0L &&
          System.nanoTime() < deadline) {
        mem.addData(vecs(id until (id + 48), shifted): _*)
        q.processAllAvailable()
        id += 48
      }
    } finally q.stop()
    assert(IndexMaintenance.latestGen(spark, root) == 1L, "swap committed")
    assert(rebuilds.map(_._2) == Vector(1L), s"one swap, to gen 1: $rebuilds")
    assert(!exists(s"$root/gen-1/pending-vectors"), "staging reaped")
    // The full differential under engine-driven batching: every arrival
    // collapses into one assign+encode of the deduped log on the
    // committed gen-1 quantizer pair.
    val cents1 = spark.read.parquet(s"$root/gen-1/centroids")
    val cb1 = spark.read.parquet(s"$root/gen-1/codebooks")
    val dedupLog = spark.read.parquet(s"$root/vectors")
      .dropDuplicates("vec_id")
    def rowSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub"),
        r.getAs[Int]("code"), r.getAs[Long]("cell"))).toSet
    assert(rowSet(spark.read.parquet(s"$root/gen-1/codes")) ==
      rowSet(Similarity.pqEncode(dedupLog, cb1, m = 2, dim = 8)
        .select("vec_id", "sub", "code")
        .join(Similarity.ivfCellAssign(dedupLog, cents1), "vec_id")),
      "gen-1 codes ≡ one assign+encode of the deduped log on the gen-1 quantizers")
  }
}
