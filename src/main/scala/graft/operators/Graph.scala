package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Generic iterative graph dataflow over pair tables — the weighted
  * companion to [[Dedup.dupClusters]]'s min-label propagation. Inputs
  * are the same near-dup pair graphs the DD family emits; at 100 TB the
  * pair graph is the small verified-candidate output, so whole-graph
  * iteration is cheap relative to the corpus passes that produced it.
  */
object Graph {

  /** Per-node triangle counts over an undirected pair graph — the
    * density signal that separates genuine duplicate FAMILIES (near-dup
    * clusters are triangle-rich: pairwise-similar members) from chance
    * LSH collisions (isolated edges close no triangles). Input pairs
    * must be canonical (`aCol` < `bCol`, distinct — as every DD pair
    * emitter produces). All-integer arithmetic — no cross-engine float
    * surface at all; output counts are identical for any orientation.
    *
    * Orientation is by DEGREE, not id (round 7): edges point from the
    * (deg, id)-smaller endpoint to the larger, wedges are pairs of
    * out-edges, and the closing edge is necessarily oriented too —
    * each triangle found exactly once from its smallest corner. Under
    * id ordering the wedge self-join costs Σ deg² and concentrates at
    * hub nodes (a template doc near-dup to thousands); degree ordering
    * bounds every node's OUT-degree by O(√m), so the wedge count drops
    * to Σ outdeg² = O(m^1.5) worst case and the hub's wedges are
    * spread across its (low-degree) neighbors — the standard
    * compact-forward enumeration, and exactly the skew mitigation
    * SCALE.md's graph section calls for. Cost: one degree aggregate +
    * two broadcast-or-shuffle joins to attach orientation keys, then
    * the wedge self-join + semi-join closure + explode-aggregate.
    * The edge list is referenced ~5 times and AQE does not reuse
    * repeated pipeline subtrees at runtime ([[pageRank]]'s note) —
    * callers with an expensive pair pipeline materialize it first
    * (`pairs.localCheckpoint()`, as q_adv8 does).
    */
  def triangleCounts(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b"): DataFrame = {
    val e = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
    val deg = e.select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // Total order ≺ = (degree, id); ka/kb are the sortable struct keys.
    val keyed = e
      .join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
      .select(struct(col("da").as("d"), col("a").as("n")).as("ka"),
        struct(col("db").as("d"), col("b").as("n")).as("kb"))
    val oriented = keyed.select(
      when(col("ka") < col("kb"), col("ka")).otherwise(col("kb")).as("src"),
      when(col("ka") < col("kb"), col("kb")).otherwise(col("ka")).as("dst"))
    // Wedges from a common smallest corner; k1 ≺ k2 makes each unordered
    // wedge appear once, and (k1, k2) — if an edge — is oriented k1→k2.
    val wedges = oriented.select(col("src"), col("dst").as("k1"))
      .join(oriented.select(col("src").as("src2"), col("dst").as("k2")),
        col("src") === col("src2") && col("k1") < col("k2"))
      .select(col("src"), col("k1"), col("k2"))
    val tris = wedges.join(
      oriented.select(col("src").as("cs"), col("dst").as("cd")),
      col("k1") === col("cs") && col("k2") === col("cd"), "left_semi")
    tris
      .select(explode(array(col("src.n"), col("k1.n"), col("k2.n"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** The shared rank-iteration pieces over a symmetrized weighted edge
    * table (src, dst, w): the 1/N init and one propagation round.
    * `weightCol = None` in [[symmetrize]] degenerates to the classic
    * uniform split (w ≡ 1.0, so wsum is the degree and rank·w/wsum is
    * exactly rank/deg — multiplication by 1.0 is an fp identity, so the
    * unweighted results are bit-identical to a count-based degree).
    */
  private final case class RankParts(step: DataFrame => DataFrame, init: DataFrame)

  private def symmetrize(pairs: DataFrame, aCol: String, bCol: String,
      weightCol: Option[String]): DataFrame = {
    val w = weightCol.map(col).getOrElse(lit(1.0))
    pairs.select(col(aCol).as("src"), col(bCol).as("dst"), w.as("w"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst"), w.as("w")))
  }

  /** Prepare the symmetrized edge table for the rank rounds (round 21,
    * VERDICT #3): repartition ONCE on the join key `src`, attach the
    * per-src weight total as a partition-local window over that same
    * partitioning (replacing the separate degree aggregate each round
    * re-joined — sum order differs from the hash aggregate's shuffle
    * arrival order, which the per-round 9dp rank rounding absorbs by
    * the same cross-engine argument the oracles rely on; the
    * unweighted case sums exact 1.0s, order-free), and cut lineage so
    * every round's edge-side join reads the SAME hash(src)-partitioned
    * RDD instead of re-executing union + exchange per round. The
    * checkpoint is LAZY — no extra job barrier; the first consuming
    * action ([[nodeTable]]'s count) materializes it. MEASURED LIMIT: a
    * checkpointed LogicalRDD reports UnknownPartitioning under AQE
    * (verified in the round-21 plan dumps), so the per-round joins
    * still re-exchange the (now in-memory, wsum-carrying) edge rows —
    * the win is the deduped upstream + the deg join folded away, not
    * exchange elimination; co-partitioning the rounds would need a
    * persist, whose CacheManager entry has no deterministic
    * harness-side release (see ScratchCheckpoints).
    */
  private def prepared(sym: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("src")
    graft.util.ScratchCheckpoints.register(
      sym.repartition(col("src"))
        .withColumn("wsum", sum("w").over(w))
        .localCheckpoint(eager = false))
  }

  /** `symW` carries (src, dst, w, wsum) (see [[prepared]]) — the degree
    * table is folded into the edge rows, `nodes` is the materialized
    * node table and `n` its count pinned as a driver scalar (a bounded
    * pin, [[graft.operators.Similarity.probedCells]]'s class), so a
    * round is ONE ranks join + ONE contribution aggregate + the node
    * left join — the per-round `count(*)` aggregate + its crossJoin
    * broadcast (2 extra stages × iters) are gone, and the rank formula
    * embeds `(1−d)/n` as a literal (identical IEEE ops on the same
    * values — bit-equal to the column form).
    */
  private def rankParts(symW: DataFrame, nodes: DataFrame, n: Double,
      damping: Double): RankParts = {
    val init = nodes.select(col("node"), lit(1.0 / n).as("rank"))
    def step(ranks: DataFrame): DataFrame = {
      val contrib = symW
        .join(ranks.select(col("node").as("src"), col("rank")), Seq("src"))
        .select(col("dst").as("node"),
          // wsum = 0 (a node whose edges are ALL zero-weight) would make
          // rank·w/wsum = 0/0 = NaN and poison every reachable node's
          // rank; such a node dangles instead — it keeps receiving rank
          // but distributes none, matching the doc contract that a
          // zero-weight edge contributes nothing.
          when(col("wsum") > 0, col("rank") * col("w") / col("wsum"))
            .otherwise(lit(0.0)).as("c"))
        .groupBy("node").agg(sum("c").as("s"))
      nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          round(lit((1.0 - damping) / n)
            + lit(damping) * coalesce(col("s"), lit(0.0)), 9).as("rank"))
    }
    RankParts(step, init)
  }

  /** Materialized (node table, node count) off a prepared edge table —
    * shared by [[pageRank]] and [[pageRankUntil]]. The distinct runs
    * once instead of per round-reference, and the count is the one
    * bounded driver action both variants were already paying for
    * (pageRankUntil per round; pageRank via the per-round re-aggregated
    * crossJoin broadcast this replaces).
    */
  private def nodeTable(symW: DataFrame): (DataFrame, Double) = {
    val nodes = graft.util.ScratchCheckpoints.register(
      symW.select(col("src").as("node")).distinct().localCheckpoint())
    (nodes, nodes.count().toDouble)
  }

  /** PageRank with a FIXED iteration count over an undirected pair
    * graph (symmetrized internally; every node therefore has out-degree
    * ≥ 1, so there is no dangling-mass term). Returns (`node`, `rank`)
    * for every node in ≥ 1 pair.
    *
    * EAGER AT CALL TIME, then lazy: [[nodeTable]] runs a
    * `localCheckpoint` of the distinct node set plus its `count`
    * before this returns — two jobs over the prepared edges, paid by
    * the caller even if the result is never consumed. Everything after
    * it (degree table, `iters` unrolled join+aggregate rounds, final
    * projection) is one declarative composition with no further driver
    * action; with `iters` fixed there is no convergence count. The
    * checkpointed node table is registered with
    * [[graft.util.ScratchCheckpoints]]. The edge list is referenced
    * 2 + 2·iters times; callers whose pair PIPELINE is expensive must
    * materialize it first (`pairs.localCheckpoint()`, as q_adv7 does):
    * static planning dedups the identical subtrees via ReusedExchange,
    * but measured under an AQE session the runtime stage graph does
    * NOT reuse them (GraphProbe round 7: 215 exchanges, 0 reused — the
    * upstream MinHash pipeline re-executed per reference; the
    * checkpointed edge list halved q_adv7, 3.0 → 1.45 s at sf0.1).
    * Over a cheap edge source the lazy form stays fine. Plan depth
    * grows LINEARLY in `iters` (each round references the previous
    * ranks once — no pointer-jump self-join doubling), so no lineage
    * cap is needed at the shipped iteration counts; unknown-diameter
    * graphs use [[pageRankUntil]], which persists the edges and
    * truncates lineage built in.
    *
    * Optional `weightCol`: edges carry a similarity weight (the DD pair
    * graphs emit jaccard/cosine), and a node splits its rank among
    * neighbors PROPORTIONALLY to edge weight (rank·w/Σw) instead of
    * uniformly — near-identical documents then reinforce each other's
    * centrality more than borderline collisions, so the top ranks are
    * the template cores rather than the best-connected nodes. Weights
    * must be ≥ 0 (a zero-weight edge still counts a node into the
    * graph but contributes nothing; a node whose edges are ALL
    * zero-weight dangles — it receives rank but distributes none —
    * rather than emitting 0/0 = NaN into the contribution sum).
    *
    * Cross-engine determinism (the q_adv7/q_adv7b oracles unroll the
    * identical rounds in SQL): per-round ranks are rounded to 9dp —
    * neighbor-sum addition order differs between engines at ~1e-16
    * while rank mass sits at ≥ 1e-6, so the rounding absorbs it round
    * by round instead of letting it compound across iterations.
    */
  def pageRank(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", damping: Double = 0.85,
      iters: Int = 5, weightCol: Option[String] = None): DataFrame = {
    require(iters >= 1, s"pageRank needs iters >= 1, got $iters")
    val symW = prepared(symmetrize(pairs, aCol, bCol, weightCol))
    val (nodes, n) = nodeTable(symW)
    val parts = rankParts(symW, nodes, n, damping)
    (1 to iters).foldLeft(parts.init)((ranks, _) => parts.step(ranks))
  }

  /** PageRank to CONVERGENCE — for pair graphs whose diameter/mixing is
    * unknown, where guessing a fixed `iters` either wastes rounds or
    * under-converges. Iterates until the max per-node rank change of a
    * round is ≤ `eps` (the per-round 9dp rounding makes exact fixpoints
    * reachable, so eps down to 1e-9 terminates) or `maxIters` is hit,
    * whichever first.
    *
    * Fully eager: like [[pageRank]] it materializes the node table
    * (`localCheckpoint` + `count`) at call time, and each round then
    * ends in a driver-side scalar action (the convergence max), so the
    * returned frame is already computed. This adopts
    * [[Dedup.dupClusters]]'s lineage discipline wholesale: edges and
    * weight totals are persisted once (re-read every round — without it
    * each round would re-run the whole upstream pair pipeline as a
    * separate job), every generation ends in a LAZY `localCheckpoint`
    * that the convergence aggregate materializes (plan depth stays one
    * generation, not O(iters)), and the superseded generation's
    * checkpoint blocks are unpersisted deterministically as soon as the
    * new one is materialized — the one-generation executor-storage
    * bound, not ContextCleaner-eventual.
    *
    * `onIter(iter, maxDelta)` is the diagnostic hook (GraphProbe /
    * SCALE.md); default no-op.
    */
  def pageRankUntil(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", damping: Double = 0.85,
      eps: Double = 1e-6, maxIters: Int = 100,
      weightCol: Option[String] = None,
      onIter: (Int, Double) => Unit = (_, _) => ()): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    require(maxIters >= 1, s"pageRankUntil needs maxIters >= 1, got $maxIters")
    require(eps >= 0.0, s"pageRankUntil needs eps >= 0, got $eps")
    // Persist the PREPARED edges (symmetrized + repartitioned on src +
    // wsum attached, the rankParts contract): every round's join and
    // the node/init tables all read the cache, so the upstream pair
    // pipeline runs exactly once despite the per-round driver actions.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("src")
    val sym = symmetrize(pairs, aCol, bCol, weightCol)
      .repartition(col("src"))
      .withColumn("wsum", sum("w").over(w))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (nodes, n) = nodeTable(sym)
      val parts = rankParts(sym, nodes, n, damping)
      var ranks = parts.init
      var ranksCheckpointed = false
      def freeGeneration(gen: DataFrame): Unit =
        if (ranksCheckpointed)
          gen.queryExecution.analyzed.collectFirst {
            case lr: org.apache.spark.sql.execution.LogicalRDD =>
              lr.rdd.unpersist(blocking = false)
          }
      var iter = 0
      var converged = false
      while (!converged && iter < maxIters) {
        val next = parts.step(ranks).localCheckpoint(eager = false)
        // max over ZERO rows (an empty pair graph) aggregates to null;
        // default it to 0.0 so the empty graph converges immediately and
        // returns an empty frame — the same result the fixed-iteration
        // pageRank produces for the same input — instead of throwing.
        val delta = Option(next
          .join(ranks.select(col("node"), col("rank").as("old")), Seq("node"))
          .agg(max(abs(col("rank") - col("old")))).head().get(0))
          .map(_.asInstanceOf[Double]).getOrElse(0.0)
        freeGeneration(ranks)
        ranks = next
        ranksCheckpointed = true
        converged = delta <= eps
        iter += 1
        onIter(iter, delta)
      }
      ranks
    } finally sym.unpersist(blocking = false)
  }
}
