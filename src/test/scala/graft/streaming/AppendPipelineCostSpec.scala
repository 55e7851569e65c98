package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.operators.Similarity

/** Construction-cost pin for the append pipelines — the round-11 bench
  * regression turned invariant: `sealOrCheck` used to re-execute the
  * CALLER's quantizer plan (in the bench path, a training DAG) once per
  * digest collect plus once per shape field, and every batch encode
  * re-executed it again (q_sim9_pq_append 2.8×, SCALE.md round-12
  * A/B). The pipelines now pin the quantizer rows exactly once; this
  * spec counts FileSourceScan nodes over the quantizer's parquet paths
  * and pins construction = one scan per quantizer table, batches = zero.
  */
class AppendPipelineCostSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(ids: Seq[Int]) = ids.map(id =>
    (id.toLong, Seq.tabulate(8)(d => 0.1f * ((id + d) % 13) - 0.5f)))

  /** Count FileSourceScan nodes over `path` in every plan the listener
    * observes (StreamingSpec's "one training pass" machinery).
    */
  private class ScanCounter(path: String) extends QueryExecutionListener {
    val scans = new java.util.concurrent.atomic.AtomicInteger(0)
    private def count(p: SparkPlan): Int = {
      val self = p match {
        case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(path)) => 1
        case _ => 0
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      self + kids.map(count).sum
    }
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = scans.addAndGet(count(qe.executedPlan))
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
    def settled(): Int = {
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      var last = -1
      while (System.nanoTime() < deadline && scans.get() != last) {
        last = scans.get(); Thread.sleep(300)
      }
      scans.get()
    }
  }

  test("int8AppendPipeline: quantizer plan executes once at construction, " +
      "never per batch") {
    val base = vecs(0 until 48).toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(base, nCentroids = 4,
      iters = 2, trainN = 64, seedPlanes = 4, dim = 8)
    val grid = Similarity.int8Stats(base, dim = 8)
    val qdir = Files.createTempDirectory("graft-i8cost-q").toString
    grid.write.parquet(s"$qdir/grid")
    cents.write.parquet(s"$qdir/centroids")
    val indexDir = Files.createTempDirectory("graft-i8cost-idx").toString
    val sink = Files.createTempDirectory("graft-i8cost-sink").toString
    Similarity.int8IndexWith(base,
        spark.read.parquet(s"$qdir/grid"),
        spark.read.parquet(s"$qdir/centroids"))
      .write.mode("overwrite").parquet(indexDir)
    val counter = new ScanCounter(qdir)
    drainListenerBus()
    spark.listenerManager.register(counter)
    val fn =
      try {
        val f = IndexMaintenance.int8AppendPipeline(indexDir,
          spark.read.parquet(s"$qdir/grid"),
          spark.read.parquet(s"$qdir/centroids"), sink)
        assert(counter.settled() == 2,
          s"construction scans each quantizer table exactly once (the pin " +
            s"collect); seal + baseline reuse the pinned rows — got " +
            s"${counter.scans.get()}")
        f
      } finally spark.listenerManager.unregister(counter)
    val counter2 = new ScanCounter(qdir)
    drainListenerBus()
    spark.listenerManager.register(counter2)
    try {
      fn(vecs(100 until 112).toDF("vec_id", "embedding"), 0L)
      fn(vecs(200 until 212).toDF("vec_id", "embedding"), 1L)
      assert(counter2.settled() == 0,
        s"batches encode on the pinned LOCAL relations — zero quantizer " +
          s"re-scans, got ${counter2.scans.get()}")
    } finally spark.listenerManager.unregister(counter2)
    assert(spark.read.parquet(indexDir).count() == 48 + 24)
  }

  test("seal digest is canonical: column order and row order do not " +
      "change the quantizer's identity") {
    // The digest claims to identify the quantizer's VALUES, not the
    // plan that produced them — so re-opening a sealed artifact with
    // the same quantizer presented in a different column order (or a
    // plan that returns rows in a different order) must PASS the seal
    // check, while a different-valued quantizer still refuses
    // (StreamingSpec "append artifacts self-seal" pins the refusal).
    import org.apache.spark.sql.functions.col
    val base = vecs(0 until 48).toDF("vec_id", "embedding")
    val cb = Similarity.trainPqCodebooks(base, m = 2, ksub = 4,
      iters = 2, trainN = 64, dim = 8)
    val codesDir = Files.createTempDirectory("graft-pqcanon-idx").toString
    val sink = Files.createTempDirectory("graft-pqcanon-sink").toString
    Similarity.pqEncode(base, cb, m = 2, dim = 8)
      .select("vec_id", "sub", "code")
      .write.mode("overwrite").parquet(codesDir)
    IndexMaintenance.pqAppendPipeline(codesDir, cb, sink, m = 2, dim = 8)
    val reordered = cb.select(cb.columns.reverse.map(col).toIndexedSeq: _*)
    val shuffled = cb.orderBy(col("cid").desc, col("sub").desc)
    IndexMaintenance.pqAppendPipeline(codesDir, reordered, sink, m = 2, dim = 8)
    IndexMaintenance.pqAppendPipeline(codesDir, shuffled, sink, m = 2, dim = 8)
  }

  test("pqAppendPipeline: codebook plan executes once at construction, " +
      "never per batch") {
    val base = vecs(0 until 48).toDF("vec_id", "embedding")
    val cb = Similarity.trainPqCodebooks(base, m = 2, ksub = 4,
      iters = 2, trainN = 64, dim = 8)
    val qdir = Files.createTempDirectory("graft-pqcost-q").toString
    cb.write.parquet(s"$qdir/codebooks")
    val codesDir = Files.createTempDirectory("graft-pqcost-idx").toString
    val sink = Files.createTempDirectory("graft-pqcost-sink").toString
    Similarity.pqEncode(base, spark.read.parquet(s"$qdir/codebooks"),
        m = 2, dim = 8)
      .select("vec_id", "sub", "code")
      .write.mode("overwrite").parquet(codesDir)
    val counter = new ScanCounter(qdir)
    drainListenerBus()
    spark.listenerManager.register(counter)
    val fn =
      try {
        val f = IndexMaintenance.pqAppendPipeline(codesDir,
          spark.read.parquet(s"$qdir/codebooks"), sink, m = 2, dim = 8)
        assert(counter.settled() == 1,
          s"construction scans the codebooks exactly once — got " +
            s"${counter.scans.get()}")
        f
      } finally spark.listenerManager.unregister(counter)
    val counter2 = new ScanCounter(qdir)
    drainListenerBus()
    spark.listenerManager.register(counter2)
    try {
      fn(vecs(100 until 112).toDF("vec_id", "embedding"), 0L)
      fn(vecs(200 until 212).toDF("vec_id", "embedding"), 1L)
      assert(counter2.settled() == 0,
        s"batches encode on the pinned LOCAL relation — zero codebook " +
          s"re-scans, got ${counter2.scans.get()}")
    } finally spark.listenerManager.unregister(counter2)
    assert(spark.read.parquet(codesDir).count() == (48 + 24) * 2)
  }
}
