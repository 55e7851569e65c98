package graft.tools

import graft.SparkEntry

/** Dev tool: print the formatted physical plan for one query (or all).
  * Usage: runMain graft.tools.Explain <sfDir> [queryName ...]
  * Used to audit broadcast/pushdown/codegen per SURVEY.md §4 before bench.
  * Names are resolved before any Spark session starts: an unknown name
  * prints its candidates to stderr and exits 2.
  */
object Explain {

  /** Each of `names` that is not a key of `known`, paired with its
    * candidates: the keys it is a whole-segment prefix of (`q_agg1` →
    * `q_agg1_hourly_avg`, not `q_agg10_ewma`), else the keys it is any
    * prefix of, else every key. Sorted; empty when every name resolves.
    */
  def unresolved(names: Seq[String],
      known: Iterable[String]): Seq[(String, Seq[String])] = {
    val keys = known.toSeq.sorted
    names.filterNot(keys.contains).map { n =>
      n -> Seq(keys.filter(_.startsWith(n + "_")),
        keys.filter(_.startsWith(n))).find(_.nonEmpty).getOrElse(keys)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val bad = unresolved(names, SparkEntry.queries.keys)
    if (bad.nonEmpty) {
      bad.foreach { case (n, near) =>
        System.err.println(s"unknown query '$n' — " +
          (if (near.forall(_.startsWith(n))) "did you mean: " else "known: ") +
          near.mkString(" "))
      }
      sys.exit(2)
    }
    // Engine session (AQE on) — audited plans must be the plans the
    // engine actually runs.
    val spark = graft.Engine.localSession(4, "graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
