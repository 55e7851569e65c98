package graft.operators

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The round-21 artifact-store byte budget (VERDICT r20 #7): a capped
  * store must evict cold artifacts LRU-first, never hand out a deleted
  * path (eviction drops the mapping before the files; a re-request
  * rebuilds into a FRESH directory), never evict the entry just built,
  * and honor the idle grace gate (the staging-sweep age-gate trade).
  */
class ArtifactStoreSpec extends SparkSpec {
  import spark.implicits._

  private val capProp = "spark.graft.art.max.bytes"
  private val graceProp = "spark.graft.art.evict.grace.ms"

  private def make(tag: String): DataFrame =
    Similarity.storeCachedKeyed("spectest", Seq(spark, tag),
      Seq((tag, 1L), (tag, 2L)).toDF("k", "v"))

  private def dirOf(df: DataFrame): java.io.File =
    new java.io.File(new java.net.URI(df.inputFiles.head)).getParentFile

  private def rows(df: DataFrame): Set[(String, Long)] =
    df.collect().map(r => (r.getString(0), r.getLong(1))).toSet

  test("invalidated entries stay evictable: their bytes and files are reclaimed") {
    val (oldCap, oldGrace) = (sys.props.get(capProp), sys.props.get(graceProp))
    try {
      System.setProperty(capProp, "1") // 1 byte: always over budget
      System.setProperty(graceProp, "0")
      def evicted = Similarity.memoStats.get("art:evicted").map(_._2).getOrElse(0L)
      val x = make("inv-x")
      val dirX = dirOf(x)
      assert(dirX.exists)
      // Invalidation makes x unreachable; it must not make it unevictable
      // (its bytes would hold the store over the cap for good).
      Similarity.invalidateArtifacts("inv-x")
      val before = evicted
      make("inv-y")
      assert(!dirX.exists, s"an invalidated entry must be reclaimed: $dirX")
      assert(evicted > before, "the reclaim counts as an eviction")
      val x2 = make("inv-x")
      val dirX2 = dirOf(x2)
      assert(rows(x2) == Set(("inv-x", 1L), ("inv-x", 2L)))
      assert(dirX2.exists && dirX2 != dirX,
        s"an invalidated key rebuilds into a fresh dir: $dirX2 vs $dirX")
    } finally {
      oldCap match {
        case Some(v) => System.setProperty(capProp, v)
        case None => System.clearProperty(capProp)
      }
      oldGrace match {
        case Some(v) => System.setProperty(graceProp, v)
        case None => System.clearProperty(graceProp)
      }
    }
  }

  test("capped store: LRU eviction, deleted paths never served, graced entries survive") {
    val (oldCap, oldGrace) = (sys.props.get(capProp), sys.props.get(graceProp))
    try {
      System.setProperty(capProp, "1") // 1 byte: always over budget
      System.setProperty(graceProp, "0")
      val a = make("a")
      val dirA = dirOf(a)
      assert(rows(a) == Set(("a", 1L), ("a", 2L)))
      assert(dirA.exists, "just-built entry must never be evicted")
      // Building b exceeds the cap; a (idle, grace 0) is the LRU victim.
      val b = make("b")
      val dirB = dirOf(b)
      assert(rows(b) == Set(("b", 1L), ("b", 2L)))
      assert(dirB.exists, "just-built entry must never be evicted")
      assert(!dirA.exists, s"cold artifact must be reclaimed: $dirA")
      // Re-request of the evicted key: REBUILDS into a fresh directory
      // with the same content — never the deleted path.
      val a2 = make("a")
      val dirA2 = dirOf(a2)
      assert(rows(a2) == Set(("a", 1L), ("a", 2L)))
      assert(dirA2.exists && dirA2 != dirA,
        s"rebuild must land in a fresh dir: $dirA2 vs $dirA")
      // Grace gate: with a long idle grace, a fresh (just-served) entry
      // survives a subsequent over-budget build.
      System.setProperty(graceProp, (10L * 60 * 1000).toString)
      val c = make("c")
      val dirC = dirOf(c)
      make("d")
      assert(dirC.exists,
        "an entry inside the idle grace window must not be evicted")
    } finally {
      oldCap match {
        case Some(v) => System.setProperty(capProp, v)
        case None => System.clearProperty(capProp)
      }
      oldGrace match {
        case Some(v) => System.setProperty(graceProp, v)
        case None => System.clearProperty(graceProp)
      }
    }
  }
}
