package graft.streaming

import java.nio.file.Files

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The generation-directory protocol's listing hygiene: every lister
  * tolerates stray non-numeric `gen-*` names (a hand-made `gen-tmp`, an
  * editor backup) — ignoring them rather than crashing pipeline
  * construction with NumberFormatException — while numeric generations
  * keep their committed/uncommitted semantics. Plus the folded-store
  * step's two crash windows, on one flat and one bucketed store.
  */
class GenStoreSpec extends SparkSpec {

  test("stray non-numeric gen-* directories are ignored by every lister") {
    val root = Files.createTempDirectory("graft-genstore").toString
    val hfs = GenStore.fs(spark, root)
    def mkdir(name: String): Unit =
      hfs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/$name"))
    mkdir("gen-0"); GenStore.commit(spark, root, 0L)
    mkdir("gen-2") // uncommitted orphan above the frontier
    mkdir("gen-tmp"); mkdir("gen-"); mkdir("gen-1x") // strays
    assert(GenStore.committed(spark, root) == Seq(0L))
    assert(GenStore.latest(spark, root) == 0L)
    // dropUncommittedAbove reaps the numeric orphan, leaves the strays.
    GenStore.dropUncommittedAbove(spark, root, 0L)
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(s"$root/gen-2")))
    assert(hfs.exists(new org.apache.hadoop.fs.Path(s"$root/gen-tmp")))
    // dropBelow: numeric predecessors go, strays stay.
    mkdir("gen-3"); GenStore.commit(spark, root, 3L)
    GenStore.dropBelow(spark, root, 3L)
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(s"$root/gen-0")))
    assert(hfs.exists(new org.apache.hadoop.fs.Path(s"$root/gen-tmp")))
    assert(GenStore.committed(spark, root) == Seq(3L))
  }

  // ------------------------------------------- folded-store crash windows

  private def tmp(tag: String) =
    Files.createTempDirectory(s"graft-crash-$tag").toString

  /** Junk where an uncommitted gen-N would be — a writer that died
    * before its COMMITTED marker: an unreadable data file (in a data
    * bucket and the meta partition too, for the bucketed layout).
    */
  private def plantOrphan(root: String, gen: Long, dirs: Seq[String]): Unit = {
    val hfs = GenStore.fs(spark, root)
    dirs.foreach { d =>
      val out = hfs.create(new Path(s"${GenStore.dir(root, gen)}$d/part-junk.parquet"))
      out.write("not parquet".getBytes("UTF-8"))
      out.close()
    }
  }

  /** Restore a copy of gen-N taken before gen-(N+1) committed — the
    * state a writer leaves when it dies between commit and dropBelow.
    */
  private def keepUndropped(root: String, gen: Long)(commitNext: => Unit): Unit = {
    val hfs = GenStore.fs(spark, root)
    val saved = new Path(s"$root-saved-gen-$gen")
    FileUtil.copy(hfs, new Path(GenStore.dir(root, gen)), hfs, saved, false,
      spark.sparkContext.hadoopConfiguration)
    commitNext
    assert(!hfs.exists(new Path(GenStore.dir(root, gen))), "commit dropped gen")
    FileUtil.copy(hfs, saved, hfs, new Path(GenStore.dir(root, gen)), true,
      spark.sparkContext.hadoopConfiguration)
    assert(GenStore.committed(spark, root) == Seq(gen, gen + 1))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def cmBatch(texts: String*): DataFrame = {
    import spark.implicits._
    texts.toDF("text")
  }

  private def cowBatch(rs: (Long, String, Long, Long, Double)*): DataFrame = {
    import spark.implicits._
    rs.toDF("user_id", "event_type", "ts_us", "event_id", "value")
  }

  private val cm0 = Seq("a b c", "a a")
  private val cm1 = Seq("b c d", "d")
  private val cow0 = Seq((1L, "view", 10L, 1L, 1.0), (2L, "click", 11L, 2L, 2.0))
  private val cow1 = Seq((1L, "view", 20L, 3L, 3.0), (3L, "buy", 21L, 4L, 4.0))

  test("flat store: an uncommitted orphan above the frontier is overwritten by the next batch") {
    val clean = tmp("cm-clean")
    val fn = CountMinStream.pipeline(clean, d = 2, w = 16)
    fn(cmBatch(cm0: _*), 0L); fn(cmBatch(cm1: _*), 1L)
    val crashed = tmp("cm-orphan")
    val fc = CountMinStream.pipeline(crashed, d = 2, w = 16)
    fc(cmBatch(cm0: _*), 0L)
    plantOrphan(crashed, 1L, Seq(""))
    assert(CountMinStream.readMeta(spark, crashed).map(_._2).contains(0L),
      "readers ignore the uncommitted orphan")
    fc(cmBatch(cm1: _*), 1L)
    assert(CountMinStream.readMeta(spark, crashed) ==
      CountMinStream.readMeta(spark, clean))
    assert(rows(CountMinStream.cells(spark, crashed)) ==
      rows(CountMinStream.cells(spark, clean)))
  }

  test("flat store: a replay after commit but before dropBelow is skipped") {
    val root = tmp("cm-undropped")
    var emitted = Seq.empty[(Long, Long)]
    val fn = CountMinStream.pipeline(root, d = 2, w = 16,
      onBatch = (b, t) => emitted :+= ((b, t)))
    fn(cmBatch(cm0: _*), 0L)
    keepUndropped(root, 0L)(fn(cmBatch(cm1: _*), 1L))
    val meta = CountMinStream.readMeta(spark, root)
    val cells = rows(CountMinStream.cells(spark, root))
    fn(cmBatch(cm1: _*), 1L)
    assert(CountMinStream.readMeta(spark, root) == meta)
    assert(rows(CountMinStream.cells(spark, root)) == cells)
    assert(GenStore.committed(spark, root) == Seq(0L, 1L), "replay wrote nothing")
    assert(emitted.last == emitted(emitted.size - 2), "replay re-emits the total")
  }

  test("bucketed store: an uncommitted orphan above the frontier is overwritten by the next batch") {
    val clean = tmp("cow-clean")
    val fn = CowUpsertStream.pipeline(clean, buckets = 4)
    fn(cowBatch(cow0: _*), 0L); fn(cowBatch(cow1: _*), 1L)
    val crashed = tmp("cow-orphan")
    val fc = CowUpsertStream.pipeline(crashed, buckets = 4)
    fc(cowBatch(cow0: _*), 0L)
    plantOrphan(crashed, 1L, Seq("/bucket=-1", "/bucket=3"))
    fc(cowBatch(cow1: _*), 1L)
    assert(CowUpsertStream.readMeta(spark, crashed) ==
      CowUpsertStream.readMeta(spark, clean))
    assert(rows(CowUpsertStream.latest(spark, crashed)) ==
      rows(CowUpsertStream.latest(spark, clean)))
  }

  test("bucketed store: a replay after a compacting commit but before dropBelow is skipped") {
    val root = tmp("cow-undropped")
    val fn = CowUpsertStream.pipeline(root, buckets = 4, compactEvery = 1)
    fn(cowBatch(cow0: _*), 0L)
    keepUndropped(root, 0L)(fn(cowBatch(cow1: _*), 1L))
    val meta = CowUpsertStream.readMeta(spark, root)
    val latest = rows(CowUpsertStream.latest(spark, root))
    fn(cowBatch(cow1: _*), 1L)
    assert(CowUpsertStream.readMeta(spark, root) == meta)
    assert(rows(CowUpsertStream.latest(spark, root)) == latest)
    assert(GenStore.committed(spark, root) == Seq(0L, 1L), "replay wrote nothing")
  }
}
