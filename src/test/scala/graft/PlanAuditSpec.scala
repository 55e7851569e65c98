package graft

import graft.SparkSpec

/** Regression guards for the physical-plan claims the scale design makes
  * (SURVEY.md §4): pushdown reaches the scan, dims broadcast, top-k
  * compiles to TakeOrderedAndProject, band join stays a hash join. A
  * refactor that silently degrades a plan shape fails here, not in a
  * 100 TB deployment.
  */
class PlanAuditSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  /** Set session confs for the body, restoring prior values after —
    * leaked confs from one test silently change every later test's
    * environment.
    */
  private def withConfs(confs: (String, String)*)(body: => Unit): Unit = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q_rel1: filters pushed to the parquet scan, columns pruned") {
    val p = plan("q_rel1_scan_filter")
    assert(p.contains("PushedFilters: [IsNotNull"), p.take(500))
    assert(!p.contains("l_tax"), "untouched columns pruned from ReadSchema")
  }

  test("q_rel4: both dimension joins broadcast") {
    val p = plan("q_rel4_join_broadcast")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, p.take(500))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_rel14: top-k compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan("q_rel14_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(500))
  }

  test("q_adv11: per-user aggregate reuses the session aggregate's user_id partitioning (one data exchange)") {
    val p = plan("q_adv11_session_stats")
    // One hashpartitioning exchange for the session window; the second
    // grouped aggregate must NOT re-shuffle (its keys contain user_id).
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 data exchange, got $hashEx:\n${p.take(800)}")
  }

  test("q_adv13: all three attribution windows share the user_id exchange (join-free enrichment)") {
    val p = plan("q_adv13_attribution")
    // hashpartitioning(user_id) satisfies the (user_id, session_id)
    // clustering of the first_value window — no re-shuffle between the
    // session flag, the running id and the session first-touch; the
    // only other hash exchange feeds the <= |event types| aggregate.
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 2, s"expected user exchange + agg exchange, got $hashEx:\n${p.take(900)}")
    assert(!p.contains("Join"), "session attributes reach events without a join")
  }

  test("q_rel32: both SCD-2 window passes share ONE exchange and ONE sort") {
    val p = plan("q_rel32_scd2")
    // The change filter preserves (user_id, event_type) partitioning AND
    // the (ts_us, event_id) order, so the lead/version window after it
    // must reuse the lag/rn window's exchange and sort — the only other
    // exchange is the output rangepartitioning.
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 data exchange, got $hashEx:\n${p.take(800)}")
    assert("Window ".r.findAllIn(p).size == 2, p.take(800))
    val sorts = "Sort \\[".r.findAllIn(p).size
    assert(sorts == 2, s"expected window sort + output sort only, got $sorts")
  }

  test("q_rel33: the two-snapshot diff fuses to ONE partial+final aggregate — zero joins, cutoff pushed to the scan") {
    val p = plan("q_rel33_snapshot_diff")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 data exchange, got $hashEx:\n${p.take(800)}")
    assert(!p.contains("Join"), "no snapshot is materialized, no join runs")
    assert(p.contains("partial_max"), "conditional argmax combines map-side")
    assert(p.contains("LessThanOrEqual(l_shipdate"),
      "the t2 cutoff prunes the log slice at the parquet scan")
  }

  test("q_rel35: dwell rides the shared SCD-2 exchange; the corpus max broadcasts; share windows over the bounded aggregate") {
    val p = plan("q_rel35_scd2_dwell")
    // Exchange 1: the (user_id, event_type) history build (shared by
    // both scd2 windows, the q_rel32 pin); exchange 2: the
    // (event_type, tier) aggregate; exchange 3: the share window's
    // event_type clustering over <= types·tiers rows — bounded however
    // large the corpus. The 1-row corpus max joins as a broadcast
    // nested loop, never a shuffle.
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 3, s"expected 3 data exchanges, got $hashEx:\n${p.take(900)}")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the corpus-max close must broadcast")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_adv14: both scenario sketches are partial+final; candidate pricing joins against a BROADCAST sketch; no cartesian") {
    val p = plan("q_adv14_salt_decision")
    assert(p.contains("BroadcastHashJoin"),
      "CountMin.estimates must broadcast the d·w cell table")
    assert(!p.contains("SortMergeJoin"), "no corpus-scale shuffle join")
    assert(!p.contains("CartesianProduct"),
      "the 1-row est/truth/total closes must broadcast, never cartesian")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "sketch cells combine map-side")
  }

  test("q_adv14b: partial salting — only flagged keys' build rows replicate; hot flag broadcasts") {
    import org.apache.spark.sql.functions._
    val p = plan("q_adv14b_salted_join")
    assert(p.contains("Generate explode"),
      "build-side replication is an explode over the salt array")
    assert(p.contains("BroadcastHashJoin"),
      "the hot-key flag joins as a broadcast, never a shuffle")
    // The cost law itself: build inflation = |hot build rows|·salts,
    // not |build|·salts. Recompute the replicated build relation the
    // operator constructs and count it against the closed form.
    val ev = graft.sources.Tables.events(spark, dir)
    val fact = ev.select(
      when(pmod(col("event_id"), lit(10L)) < 3, lit("hot"))
        .otherwise(pmod(col("event_id"), lit(997L)).cast("string"))
        .as("item"))
    val dim = fact.distinct()
    val salts = 8
    val hot = Seq("hot").toDF("item")
    val replicated = dim
      .join(broadcast(hot.withColumn("__hot", lit(true))), Seq("item"),
        "left")
      .withColumn("__salt", explode(
        when(coalesce(col("__hot"), lit(false)),
          array((0 until salts).map(s => lit(s.toLong)): _*))
          .otherwise(array(lit(0L)))))
      .count()
    assert(replicated == dim.count() + (salts - 1),
      "exactly ONE flagged key replicates ×salts; every cold key " +
        "stays single")
  }

  test("q_agg12: regr_* aggregates run partial+final around one exchange (moments map-side)") {
    val p = plan("q_agg12_regression")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 exchange, got $hashEx:\n${p.take(800)}")
    assert("partial_regr_slope|partial_sum|HashAggregate".r.findFirstIn(p).isDefined)
  }

  test("q_adv12: two-level sweep line — the only single-partition window runs over the BOUNDED hour totals") {
    val p = plan("q_adv12_concurrency")
    // Change-point running sums partition by hour (parallel); the one
    // SinglePartition exchange feeds the ≤ hours-row offset window,
    // never the change points themselves.
    val single = "Exchange SinglePartition".r.findAllIn(p).size
    assert(single == 1, s"one bounded offset window, got $single:\n${p.take(800)}")
    assert(p.contains("hashpartitioning(hour"),
      "within-hour sums must partition by hour")
  }

  test("q_rel31: the exact profile is ONE pass — one scan, one Expand, one exchange") {
    val p = plan("q_rel31_profile")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"profile must scan once:\n${p.take(800)}")
    assert("Expand".r.findAllIn(p).size == 1,
      "the multi-distinct rewrite is one Expand (the documented price)")
  }

  test("q_adv1: broadcast cust into orders, ONE orderkey shuffle, top-k without global sort") {
    // Round-7 bench flagged a 1.6× median move on q_adv1 with no code
    // change; this pins the plan shape so any future move must be
    // environmental, not a silent plan regression. The intended shape:
    // customer broadcasts into orders, the reduced orders side meets
    // lineitem on a single orderkey exchange, and the top-10 compiles
    // to TakeOrderedAndProject.
    val p = plan("q_adv1_shipping_priority")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1,
      "customer must broadcast into orders: " + p.take(500))
    assert(p.contains("TakeOrderedAndProject"),
      "limit 10 must not be a global sort: " + p.take(500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(500))
    // One shuffle for the orderkey join + one for the final aggregate's
    // grouping — nothing else (a third data exchange would mean the
    // broadcast reduction stopped firing).
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2,
      s"expected <= 2 hash exchanges (orderkey join + group-by), got $exchanges:\n" +
        p.take(1200))
  }

  test("q_adv6: band join is a hash join with the range as residual, never nested-loop cartesian") {
    val p = plan("q_adv6_range_join")
    assert(!p.contains("CartesianProduct"), p.take(500))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "equi keys must survive in the join (BNLJ = the quadratic degradation): " + p.take(500))
  }

  test("q_agg1: aggregation is partial+final (two HashAggregates around one exchange)") {
    val p = plan("q_agg1_hourly_avg")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(500))
  }

  test("custom codegen expression compiles (no janino fallback) in a cosine projection") {
    import org.apache.spark.sql.functions._
    import graft.functions.{VectorFunctions => VF}
    // Two dots + norms in ONE projection — the exact shape that broke
    // codegen before locals were freshName'd. CODEGEN_ONLY makes a
    // janino compile failure THROW instead of silently falling back to
    // interpreted eval (which would produce identical values and hide
    // the regression).
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val embs = graft.sources.Tables.embeddings(spark, dir).limit(10)
      val out = embs.select(
        (VF.dot(col("embedding"), col("embedding")) +
          VF.normSq(col("embedding"))).as("x")).collect()
      assert(out.forall(!_.isNullAt(0)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("StringShingles compiles under CODEGEN_ONLY (no janino fallback)") {
    import org.apache.spark.sql.functions._
    import graft.functions.{TextFunctions => TF}
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      // Two shingle expressions in one projection — the multi-instance
      // scope that would collide without fresh codegen locals.
      val out = graft.sources.Tables.documents(spark, dir).limit(10)
        .select(size(TF.shingles(col("text"), 3)).as("a"),
          size(TF.shingles(col("text"), 2)).as("b")).collect()
      assert(out.forall(r => r.getInt(0) > 0 && r.getInt(1) > 0))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("q_dd5: signature build is map-side (no Window, no signature aggregate)") {
    val p = plan("q_dd5_minhash_lsh")
    assert(!p.contains("Window"), "the lead-window form is gone: " + p.take(500))
    // Round 3: the signature+banding is ONE native generator expression
    // (MinHashBands) — the only aggregates left are the candidate
    // distinct's partial+final pair.
    assert(p.contains("minhash_bands") || p.contains("MinHashBands"),
      "native fused signature expression must feed the generator: " + p.take(800))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(500))
  }

  test("q_sim3: training is served from the artifact store and corpus cell assignment is agg-argmax, not a window") {
    val p = plan("q_sim3_ivf")
    // round 19: the trained table is a store-cached parquet artifact
    // (pid-scoped graft_artifacts scratch), not an in-memory persist —
    // the plan must READ it, never re-run Lloyd (whose spherical-mean
    // re-centering would show as extra aggregates over the sample).
    assert(p.contains("graft_artifacts"),
      "trained centroids must come from the store-cached artifact: " + p.take(800))
    // Windows survive only on small inputs by design (seed ranking,
    // query-side nProbe ranking, final re-rank — the latter two
    // partition by query_id). The corpus-side rank-1 cell assignment is
    // an agg argmax; a regression back to a window sort (the
    // full-shuffle-and-sort shape at 100 TB) would show as a window
    // partitioned by neighbor_id.
    assert(!p.contains("windowspecdefinition(neighbor_id"),
      "corpus cell assignment must be the agg argmax, not a window over neighbor_id")
  }

  test("q_sim5: int8 path keeps the agg-argmax assignment and the native quant expressions") {
    val p = plan("q_sim5_ivf_int8")
    assert(p.contains("graft_artifacts"),
      "trained centroids must come from the store-cached artifact: " + p.take(800))
    assert(!p.contains("windowspecdefinition(neighbor_id"),
      "int8 cell assignment must stay the agg argmax, not a window over neighbor_id")
    assert(p.contains("quantize_int8"),
      "corpus must be encoded by the native QuantizeInt8 expression: " + p.take(800))
    assert(p.contains("int8_recon"),
      "candidate ranking must read Int8Recon midpoints: " + p.take(800))
  }

  test("q_sim14: int8 mining reads trained centroids from the artifact store; corpus cells stay the agg argmax") {
    val p = plan("q_sim14_hard_negatives_ann")
    assert(p.contains("graft_artifacts") && p.contains("/trained_"),
      "trained centroids must come from the store-cached artifact: " + p.take(800))
    assert(!p.contains("windowspecdefinition(neighbor_id"),
      "corpus cell assignment must stay the agg argmax, not a window over neighbor_id")
  }

  test("q_sim18: the filtered audit reads trained centroids from the artifact store; corpus cells stay the agg argmax") {
    // The centroids feed the checkpointed candidate join, so the final
    // plan shows only the truth artifact; the training itself must be a
    // store hit on a rebuild, never a second Lloyd run.
    plan("q_sim18_filtered_ann")
    def trained = graft.operators.Similarity.memoStats.getOrElse("art:trained", (0L, 0L))
    val (hits0, misses0) = trained
    val p = plan("q_sim18_filtered_ann")
    val (hits1, misses1) = trained
    assert(hits1 > hits0 && misses1 == misses0,
      s"trained centroids must be served from the artifact store: ($hits0, $misses0) -> ($hits1, $misses1)")
    assert(p.contains("graft_artifacts"),
      "ground truth must come from the store-cached artifact: " + p.take(800))
    assert(!p.contains("windowspecdefinition(neighbor_id"),
      "corpus cell assignment must stay the agg argmax, not a window over neighbor_id")
  }

  test("QuantizeInt8 + Int8Recon compile under CODEGEN_ONLY (no janino fallback)") {
    import org.apache.spark.sql.functions._
    import graft.functions.{QuantExpressions => QE}
    import spark.implicits._
    withConfs("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      // TWO quantize+recon chains in ONE projection — the codegen scope
      // that would collide without fresh generated locals.
      val df = Seq((Seq(0.1f, 0.9f), Seq(0.4f, 0.6f))).toDF("a", "b")
        .withColumn("lo", typedLit(Seq(0.0, 0.0)))
        .withColumn("hi", typedLit(Seq(1.0, 1.0)))
      val row = df.select(
        QE.int8Recon(QE.quantizeInt8(col("a"), col("lo"), col("hi")),
          col("lo"), col("hi")).as("ra"),
        QE.int8Recon(QE.quantizeInt8(col("b"), col("lo"), col("hi")),
          col("lo"), col("hi")).as("rb")).head()
      val ra = row.getAs[scala.collection.Seq[Double]]("ra")
      assert(math.abs(ra(0) - 25.5 / 256.0) < 1e-12, s"recon mismatch: $ra")
    }
  }

  test("q_txt11/q_txt12: ranking queries keep top-k + pre-aggregation term filter") {
    // TF-IDF's final top-25 must be TakeOrderedAndProject (no global
    // sort of the (doc, term) table), and BM25's query-term predicate
    // must run BEFORE the (doc, term) aggregate — a filter that drifts
    // above the agg would aggregate the full vocabulary to discard
    // 99.99% of it at 100 TB.
    assert(plan("q_txt11_tfidf").contains("TakeOrderedAndProject"))
    val p = plan("q_txt12_bm25")
    assert(p.contains("TakeOrderedAndProject"), p.take(500))
    // The IN filter surviving as a Filter node (not folded away, not
    // dropped by a refactor that aggregates first and filters the
    // vocab-sized result after) is visible as the literal IN list.
    assert(p.contains("IN (hash,join,vector)"),
      "query-term IN filter must survive in the plan: " + p.take(800))
  }

  test("q_adv7/7b/8: graph ops read a checkpointed edge list, not the pipeline") {
    // pageRank references the pair graph 2 + 2*iters times. Static
    // planning dedups the subtrees via ReusedExchange, but under AQE
    // the runtime stage graph does NOT reuse them (GraphProbe round 7:
    // 215 exchanges, 0 reused — the MinHash pipeline re-executed per
    // reference, 2x the query time). So the pair graph is MATERIALIZED
    // ONCE — since round 13 as the memoized pair-index table
    // (Dedup.nearDupPairsMemo: persisted + shared across the nine
    // pair-graph queries), previously a per-query localCheckpoint — and
    // this audit pins the shape: every pair-graph reference is a cache
    // scan; the documents parquet scan (the expensive pipeline head)
    // must not appear AT ALL in the pagerank plan.
    for (q <- Seq("q_adv7_pagerank", "q_adv7b_pagerank_weighted",
        "q_adv8_triangles")) {
      val p = plan(q)
      assert(p.contains("InMemoryTableScan") || p.contains("Scan ExistingRDD"),
        s"$q must read the materialized pair graph: " + p.take(600))
      assert(!p.contains("Scan parquet"),
        s"$q must never re-run the pair pipeline per reference: " + p.take(600))
    }
  }

  test("q_ml7: benchmark gram side broadcasts; corpus side never does") {
    val p = plan("q_ml7_ngram_contamination")
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    assert(!p.contains("SortMergeJoin"),
      "the tiny benchmark-gram table must broadcast: " + p.take(500))
  }

  test("q_rel27: correlated EXISTS/NOT EXISTS decorrelate to semi + anti joins") {
    val p = plan("q_rel27_exists_subquery")
    assert(p.contains("LeftSemi"), "EXISTS must decorrelate to a semi join: " + p.take(500))
    assert(p.contains("LeftAnti"), "NOT EXISTS must decorrelate to an anti join: " + p.take(500))
    assert(!p.contains("CartesianProduct"), p.take(500))
  }

  test("q_rel25: the global-average threshold is broadcast, not a shuffle join") {
    val p = plan("q_rel25_having")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(500))
    assert(!p.contains("CartesianProduct"), p.take(500))
  }

  test("q_ml3: both stratum windows reuse ONE exchange (same partition key)") {
    val p = plan("q_ml3_stratified_sample")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges: " + p.take(800))
  }

  test("q_sim10: serve path reads memoized artifacts; every ranking window is per-query") {
    // The IVF×PQ serving composition's scale claims (Similarity.ivfPqTopK):
    // the corpus-wide build passes (cells, codes, centroids, codebooks)
    // are memoized artifacts — the serve plan must read them from cache,
    // not re-run the trainings — and every row_number window must
    // partition by query_id (probe rank, ADC rank, final re-rank: three,
    // each bounded per query). A window creeping onto a corpus key
    // (vec_id/neighbor_id) is the full-shuffle-and-sort shape that
    // round 3 removed from the cell assignment; this pins it out of the
    // whole composition.
    val p = plan("q_sim10_ivfpq_serve")
    assert(!p.contains("CartesianProduct"), p.take(500))
    assert(p.contains("InMemoryTableScan"),
      "cells/codes/trainings must be served from the memoized tables: " + p.take(600))
    assert(!p.contains("windowspecdefinition(vec_id") &&
      !p.contains("windowspecdefinition(neighbor_id"),
      "no ranking window may partition by a corpus key — corpus-side " +
        "assignment is the agg argmax, candidate ranks are per-query")
    val qWindows = "windowspecdefinition\\(query_id".r.findAllIn(p).size
    assert(qWindows == 3,
      s"expected exactly the probe/ADC/re-rank per-query windows, got $qWindows")
  }

  test("q_ml6: ONE flagged corpus pass, checkpointed purge set, single-aggregate funnel") {
    // The round-8 rewrite's cost model: the funnel reads documents
    // exactly TWICE (the canonical-min-id aggregate + the single
    // flagged pass whose conditional sums emit every stage) instead of
    // re-executing per-stage branches; the near-dup purge side enters
    // as the store-cached cluster labels (round 20: the closure is a
    // graft_artifacts parquet read, built once per pair plan), never
    // re-running the MinHash pair pipeline or the fixpoint per
    // reference; and the seven stage rows come out of one partial+final
    // aggregate over a SinglePartition exchange, not seven scans.
    val p = plan("q_ml6_curation_funnel")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(500))
    val scans = "testdata".r.findAllIn(p).size
    assert(scans == 2,
      s"documents must be scanned exactly twice (canonical agg + flagged pass), got $scans:\n" +
        p.take(1200))
    assert(p.contains("graft_artifacts"),
      "purge labels must come from the store-cached closure artifact: " + p.take(600))
    assert(p.contains("Exchange SinglePartition"),
      "the stage rows must collapse into one global conditional-sum aggregate: " + p.take(600))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 3,
      s"expected <= 3 hash exchanges (canonical agg + outer-join sides), got $exchanges:\n" +
        p.take(1200))
  }

  test("q_ml13: one corpus shuffle on the domain key; budget joins as a 1-row broadcast") {
    // The mixture construction's scale shape: token counts are map-side
    // on the scan, the greedy prefix is ONE shuffle (hash by source →
    // in-partition sort → running-sum window), the per-domain groupBy
    // REUSES that partitioning (partial+final with no intervening
    // exchange), and the budget scalars enter as a broadcast 1-row
    // cross join — never a data-sized nested loop. Exchange census:
    // corpus window (1) + the budget countDistinct's two-phase (1 hash
    // + 1 single-partition) + the ~n_sources output sort's range.
    val p = plan("q_ml13_mixture")
    assert(!p.contains("CartesianProduct"), p.take(500))
    val windows = "windowspecdefinition\\(source".r.findAllIn(p).size
    assert(windows == 1,
      s"exactly one running-sum window partitioned by source, got $windows")
    val hashEx = "Exchange hashpartitioning\\(source".r.findAllIn(p).size
    assert(hashEx == 2,
      s"one corpus shuffle + one distinct-agg shuffle on source, got $hashEx:\n" +
        p.take(1200))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1 &&
      p.contains("BroadcastExchange"),
      "the two-scalar budget must broadcast into the corpus side: " + p.take(800))
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // Spark's InjectRuntimeFilter: a selective filter on one side of a
    // shuffle join builds a bloom filter that pre-prunes the other
    // side's scan — at 100 TB this is the difference between shuffling
    // the whole fact table and shuffling the ~matching fraction. The
    // application-side size threshold defaults to 10 GB (never fires at
    // test scale), so it is lowered here; broadcast is disabled so the
    // join actually shuffles.
    withConfs(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      import org.apache.spark.sql.functions._
      val li = graft.sources.Tables.lineitem(spark, dir)
      val ords = graft.sources.Tables.orders(spark, dir)
        .where(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(ords, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("might_contain") || p.contains("bloom_filter"),
        "expected a runtime bloom filter on the fact side: " + p.take(1200))
    }
  }

  test("AQE splits a skewed join partition (OptimizeSkewedJoin fires)") {
    // The skew stance for fact-fact joins (SCALE.md): AQE detects an
    // oversized shuffle partition and splits it. Forced low thresholds
    // make the mechanism observable at test scale; the assertion is on
    // the executed plan's skew marker, not timing.
    import org.apache.spark.sql.functions._
    withConfs(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "10KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "10KB",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // 90% of left rows share one key; right is uniform.
      val left = spark.range(200000)
        .select(when(col("id") % 10 =!= 0, 7L).otherwise(col("id")).as("k"),
          col("id").as("v"))
      val right = spark.range(1000)
        .select(pmod(col("id"), lit(50L)).as("k"), col("id").as("w"))
      val joined = left.join(right, "k")
      // Drive THIS frame's AdaptiveSparkPlanExec to completion (count()
      // or a write would plan a separate query and leave it unfinalized).
      val qe = joined.queryExecution
      qe.executedPlan.execute().count()
      val p = qe.executedPlan.toString
      assert(p.contains("isSkew=true") || p.contains("skewed"),
        "expected a skew-split SMJ in the final adaptive plan: " + p.take(1200))
    }
  }

  test("dynamic partition pruning: a dim filter prunes fact partitions at runtime") {
    // The 100 TB layout partitions facts by time/day (SNK-2); a filtered
    // dim join must then read only matching partitions. Locally: write a
    // day-partitioned fact, join a filtered dim on the partition key, and
    // require a DPP subquery filter on the scan.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    try {
      withConfs(
        "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "10000") {
        (0 until 5000).map(i => (i.toLong, i % 10, i * 1.5))
          .toDF("id", "day", "v")
          .write.partitionBy("day").mode("overwrite").parquet(s"$base/fact")
        // The dim must be a real scan with a surviving Filter: a local
        // relation constant-folds the predicate away and the planner then
        // sees no selective filter to prune with.
        Seq((0, "keep"), (1, "keep"), (7, "drop")).toDF("day_key", "tag")
          .write.mode("overwrite").parquet(s"$base/dim")
        val dim = spark.read.parquet(s"$base/dim")
        val fact = spark.read.parquet(s"$base/fact")
        val joined = fact.join(dim.where(col("tag") === "keep"),
          col("day") === col("day_key"))
        val p = joined.queryExecution.executedPlan.toString
        assert(p.contains("dynamicpruning") || p.contains("DynamicPruning"),
          "partition scan must carry a runtime DPP filter: " + p.take(800))
        assert(joined.count() == 1000, "two of ten day-partitions survive")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("q_txt14: subword tokenization is one scan, zero joins, vocab never shuffles") {
    // The merge-table apply's scale claim: tokenization is map-side
    // arithmetic fused into the scan (the vocab rides the expression's
    // references array — never a join, never a broadcast), so the only
    // exchanges are the per-doc aggregate's shuffle and the output
    // sort's range partitioning.
    val p = plan("q_txt14_subword_tokens")
    assert(p.contains("subword_token_count"),
      "the native expression must be in the plan: " + p.take(600))
    assert(!p.contains("Join"), "no join anywhere: " + p.take(600))
    assert(!p.contains("BroadcastExchange"),
      "the vocab must not broadcast: " + p.take(600))
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"documents scanned exactly once, got $scans")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1,
      s"one per-doc aggregate shuffle, got $hashEx:\n" + p.take(1000))
  }

  test("q_ml14: subword-metered packing runs the meter in ONE corpus pass") {
    // The packing plan references its counted (doc_id, n) table four
    // times (max-id pass + three bucketing consumers); lazy, each
    // reference re-scanned the corpus and re-ran the meter — this pin
    // caught exactly that under the subword meter. The operator now
    // checkpoints the counted projection eagerly (16 bytes/row), so the
    // meter runs in the ONE materialization pass and the final plan's
    // leaves are all ExistingRDD scans of it — zero parquet re-scans,
    // no cartesian.
    val p = plan("q_ml14_subword_packing")
    assert(p.contains("Scan ExistingRDD"),
      "consumers must read the checkpointed counted table: " + p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(500))
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 0,
      s"the corpus is scanned only in the checkpoint pass, got $scans re-scans:\n" +
        p.take(1000))
    // The bucket-offset running sum is the only global window; it runs
    // over `buckets` rows, not the corpus (the two-level prefix sum).
    val windows = "Window".r.findAllIn(p).size
    assert(windows >= 1, "the prefix-sum windows must be present")
  }

  test("q_ml15: the benchmark side broadcasts; the corpus never shuffles for the probe") {
    // Semantic decontamination's scale shape: bench suites are tiny, so
    // the cosine probe is a broadcast nested-loop over the corpus scan
    // (the embedding analog of q_ml7's broadcast gram join) — never a
    // shuffle join, never an unbroadcast cartesian.
    val p = plan("q_ml15_semantic_contamination")
    assert(p.contains("BroadcastNestedLoopJoin") && p.contains("BroadcastExchange"),
      "bench must broadcast into the corpus pass: " + p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "no unbroadcast corpus join: " + p.take(500))
  }

  test("q_dd10: gram count is partial+final; ONE doc_id exchange feeds windows and both span aggregates") {
    // The substring dedup's scale shape: the duplicated-hash side is a
    // grouped count (the exchange carries (hash, partial count), never
    // the raw gram stream), the flagged join is a hash join (no
    // nested-loop fallback), and the island window's doc_id exchange is
    // REUSED by the (doc_id, island) span aggregate and the per-doc
    // collect (doc_id is a subset of both grouping keys — zero further
    // hash exchanges above the window).
    val p = plan("q_dd10_substring_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(600))
    assert(p.contains("partial_count"),
      "gram dedup must be a partial+final count on h: " + p.take(600))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 2,
      s"exactly the gram-count exchange + the doc_id window exchange, " +
        s"got $hashEx:\n" + p.take(1200))
    val windows = "windowspecdefinition\\(doc_id".r.findAllIn(p).size
    assert(windows >= 1 && "Window".r.findAllIn(p).size <= 3,
      "island merge runs per-doc windows only: " + p.take(800))
  }

  test("q_ml18: the learned-BPE meter runs in the ONE counted pass, like q_ml14") {
    // Same contract as the q_ml14 pin, under the learned meter: the
    // chained-replace token count (a scalar, no join) executes only in
    // the packing operator's counted-projection checkpoint; the final
    // plan reads ExistingRDD leaves only.
    val p = plan("q_ml18_bpe_packing")
    assert(p.contains("Scan ExistingRDD") && !p.contains("CartesianProduct"),
      p.take(600))
    assert("FileScan parquet".r.findAllIn(p).size == 0,
      "the corpus is scanned only in the checkpoint pass: " + p.take(1000))
  }

  test("q_txt16: all three consumers read the scored checkpoint; thresholds broadcast") {
    // The bucketing's scale shape: the LM scoring runs ONCE (eager
    // localCheckpoint at construction) — the sample window, the
    // tertile aggregate, and the final bucket aggregate are all
    // ExistingRDD consumers; the only Window runs over the filtered
    // SAMPLE; the 2-scalar threshold row reaches the corpus as a
    // broadcast, never a shuffle.
    val p = plan("q_txt16_lm_buckets")
    assert(!p.contains("Scan parquet"),
      "no corpus re-scan past the checkpoint: " + p.take(800))
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 3,
      "sample, tertile, and bucket consumers all read the checkpoint: " + p.take(800))
    assert("Window".r.findAllIn(p).size == 1,
      "exactly the sample ranking window: " + p.take(800))
    assert(p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "threshold row broadcasts: " + p.take(600))
  }

  test("q_ml9: ONE flagged corpus pass; stage rows come from a single conditional-sum aggregate") {
    // The round-20 rewrite (q_ml6's round-8 cost model applied to the
    // v2 funnel): the stage-union form re-executed each stage's
    // upstream per branch (~9 document scans per run, 36 scan nodes in
    // the plan). Now the corpus is read exactly FOUR times total — the
    // canonical-min-id aggregate, the bench gram side, the
    // contamination explode, and the single flagged pass — the flag
    // table is checkpointed (the extrema sub-aggregate and the final
    // aggregate both read it), and all four stage rows come from one
    // conditional-sum aggregate.
    val p = plan("q_ml9_curation_funnel_v2")
    val scans = "testdata".r.findAllIn(p).size
    assert(scans <= 4,
      s"documents read at most 4x (canonical, bench grams, contamination, flags), got $scans:\n" +
        p.take(1200))
    assert(p.contains("Scan ExistingRDD"),
      "stage aggregates must read the checkpointed flag table: " + p.take(600))
    assert(p.contains("Exchange SinglePartition"),
      "stage rows collapse into one global conditional-sum aggregate: " + p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(400))
  }

  test("q_ml17: split audit reads the memoized pairs + checkpointed assignment; no corpus re-scan") {
    // The pair graph is the shared memoized pair-index table and the
    // slim cluster assignment is localCheckpoint-ed once; the per-split
    // aggregate and both pair join-backs consume those materialized
    // leaves — zero parquet scans, no cartesian anywhere in the audit.
    val p = plan("q_ml17_leakage_free_splits")
    assert(!p.contains("Scan parquet"),
      "assignment computed once, consumers read the materialized leaves: " + p.take(800))
    assert("Scan ExistingRDD".r.findAllIn(p).size +
      "InMemoryTableScan".r.findAllIn(p).size >= 4, p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(600))
  }

  test("q_dd11: audit joins two store-cached artifacts; the corpus is never re-scanned") {
    // Round 20 moved both sides to the disk artifact store: the exact
    // all-pairs truth and the banding candidate set are deterministic
    // build artifacts (the all-pairs cross and the band self-join now
    // live in the one-time artifact builds — q_dd4 and q_dd5 keep those
    // plans exposed and pinned). The audit plan itself is a full-outer
    // join of two bounded artifact reads feeding one aggregate: no
    // nested-loop, no cartesian, no testdata scan.
    val p = plan("q_dd11_lsh_recall")
    assert(p.contains("graft_artifacts"),
      "truth and candidates must come from store-cached artifacts: " + p.take(800))
    assert(!p.contains("testdata"),
      "the corpus must not be re-scanned by the audit: " + p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the all-pairs cross lives in the artifact build, not the audit: " + p.take(800))
  }

  test("q_sim11: per-depth ranking reuses ONE checkpointed candidate join; rank limit pushes down") {
    // The recall audit trains the quantizer once; round 19 moved the
    // trained table and the ground truth to store-cached parquet
    // artifacts (the only parquet this plan may touch), while the
    // candidate join stays checkpointed (ExistingRDD). The corpus must
    // NOT be re-scanned: every FileScan is an artifact read. Per-depth
    // top-k carries a WindowGroupLimit (rank pushdown, no full
    // per-query sort), and the 1-row truth aggregate broadcasts.
    val p = plan("q_sim11_ivf_recall")
    assert(p.contains("graft_artifacts"),
      "truth must come from the store-cached artifact: " + p.take(800))
    assert(!p.contains("testdata"),
      "the corpus must not be re-scanned per depth: " + p.take(800))
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 1, p.take(800))
    assert(p.contains("WindowGroupLimit"),
      "top-k rank filter must push into the window sort: " + p.take(800))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1 &&
      !p.contains("CartesianProduct"),
      "only the 1-row truth broadcast crosses: " + p.take(600))
  }

  test("q_ml16: one corpus scan, top-k as TakeOrderedAndProject") {
    // The drift audit's two wordcounts are ONE conditional aggregate
    // over one scan; the divergence top-10 must not globally sort the
    // vocabulary.
    val p = plan("q_ml16_corpus_drift")
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans <= 2,
      s"documents scanned once per aggregate tree at most, got $scans:\n" + p.take(800))
    assert(p.contains("TakeOrderedAndProject"),
      "top-10 must compile to TakeOrderedAndProject: " + p.take(600))
  }

  test("q_sim13: label filter is fused into the scoring join; ranking is the bounded aggregator") {
    // Hard negatives keep q_sim1's scale shape: the query sample
    // broadcasts into the corpus (ONE nested-loop join, the brute-force
    // scoring pass — the corpus itself never shuffles for it), the
    // label inequality rides that join's condition instead of a
    // post-rank filter, and the per-query top-k is the bounded
    // TopKAggregator (no window sort over the scored pairs).
    val p = plan("q_sim13_hard_negatives")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1 &&
      !p.contains("CartesianProduct"),
      "exactly the broadcast scoring join may cross: " + p.take(800))
    assert(!p.contains("windowspecdefinition"),
      "top-k must stay the bounded aggregator, not a window rank: " + p.take(600))
    assert(p.contains("ObjectHashAggregate"),
      "TopKAggregator must aggregate, map-side partials included: " + p.take(600))
    assert(!p.contains("SortMergeJoin"),
      "label re-attachment joins must broadcast at this scale: " + p.take(600))
  }

  test("q_ml19: one bucket exchange feeds the window and BOTH aggregates") {
    // The in-bucket rank partitions by bucket_len; both downstream
    // aggregates group by supersets/equals of that key, so hash
    // partitioning on bucket_len satisfies their distribution and
    // neither re-shuffles — one hash exchange total (plus the final
    // order's range exchange), meter computed map-side in the scan
    // stage.
    val p = plan("q_ml19_length_buckets")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n" + p.take(800))
    assert(p.contains("Window"), p.take(400))
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "both aggregates partial+final: " + p.take(600))
    assert(!p.contains("Join"), "no join anywhere in the audit: " + p.take(400))
  }

  test("q_dd13: prefix-filter join stays a hash join — all-pairs never materializes") {
    // The lossless similarity join's whole point at scale: candidates
    // come from a HASH self-join on the df-ordered prefix shingles, the
    // verify touches candidate pairs only, and no operator in the plan
    // is a cartesian/nested-loop product.
    val p = plan("q_dd13_prefix_jaccard")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "all-pairs must never materialize: " + p.take(800))
    assert(p.contains("Window"), "df-ordered prefix rank present: " + p.take(400))
  }

  test("q_dd14: audit reads store-cached candidate/truth artifacts, not rebuilt pipelines") {
    // Round 20 promoted the per-invocation localCheckpoints to the disk
    // artifact store (VERDICT #1): the prefix candidates, the exact
    // truth (their verify), and the minhash candidates are built once
    // per (session, corpus plan, params) and every count in the final
    // plan bottoms out in graft_artifacts parquet reads — a regression
    // that re-derives candidates or truth per aggregate would show
    // testdata scans (the shingle/df/banding pipelines) reappearing.
    val p = plan("q_dd14_candidate_audit")
    assert(p.contains("graft_artifacts"),
      "counts must read the artifact store: " + p.take(800))
    assert(!p.contains("testdata"),
      "candidate/truth pipelines must not rebuild per audit: " + p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(400))
  }

  test("q_txt19: verification pass is a broadcast semi join + partial/final aggregate") {
    // Pass 2 of the heavy hitters: the ≤ m sketch candidates broadcast
    // back as a LeftSemi prune BEFORE the exact count — the token
    // stream is filtered map-side to candidate rows only, and the
    // count itself is the ordinary partial+final pair. A plain
    // GROUP BY over all distinct tokens (the unbounded-shuffle shape
    // this operator exists to avoid) would show here as a semi-join-less
    // aggregate.
    val p = plan("q_txt19_heavy_hitters")
    assert(p.contains("LeftSemi"),
      "candidate prune must be a semi join: " + p.take(800))
    assert(p.contains("BroadcastHashJoin"),
      "the ≤ m candidate set must broadcast: " + p.take(800))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "exact count must be partial+final: " + p.take(600))
    assert(!p.contains("SortMergeJoin"), p.take(600))
  }

  test("q_txt21: both LM tables broadcast; bigram extraction is map-side (no self-join)") {
    val p = plan("q_txt21_bigram_logprob")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "c2 and c1 tables must broadcast: " + p.take(600))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(600))
    // 2-shingles come from the native generator over the token array —
    // a corpus self-join on position would show a second corpus scan
    // feeding a join; the only joins here are vocabulary-sized.
    assert(p.contains("string_shingles"), p.take(600))
  }

  test("q_txt22: two bounded sketches meet in a tiny join; no cartesian") {
    // Execute — the sketch-side join strategy is an AQE runtime call.
    val df = SparkEntry.queries("q_txt22_cms_join_estimate")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p.take(200))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("SortMergeJoin"),
      "d*w-row sketch join must resolve to a broadcast form: " + p.take(800))
    assert("HashAggregate".r.findAllIn(p).size >= 6,
      "both sketches + truth counts partial+final: " + p.take(600))
  }

  test("q_ml23: weighted sample is a distributed top-k, never a corpus sort") {
    val p = plan("q_ml23_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
    assert(p.indexOf("Window") >= 0 &&
      p.indexOf("Window") < p.indexOf("TakeOrderedAndProject"), p.take(600))
  }

  test("q_ml22: bottom-k sample is a distributed top-k, never a corpus sort") {
    // The merge-law claim in physical form: map-side <= k heaps +
    // k·partitions exchange (TakeOrderedAndProject); the only full
    // Sort/Window runs post-limit over <= k rows.
    val p = plan("q_ml22_bottomk_sample")
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
    // The Window (smp_rn) must be the PARENT of the top-k (printed
    // above it) — i.e. it numbers the <= k survivors, not the corpus.
    assert(p.indexOf("Window") >= 0 &&
      p.indexOf("Window") < p.indexOf("TakeOrderedAndProject"), p.take(600))
  }

  test("q_ml21: bloom probe is k reused broadcast semi joins before the shuffle") {
    // The pre-filter's scale claim: the four per-hash-row membership
    // checks are BroadcastHashJoin LeftSemi over ONE bit-table exchange
    // (three ReusedExchange), executed map-side before the candidate
    // dedup's hash exchange — the corpus never shuffles non-candidates.
    // Exchange reuse is an AQE runtime decision — execute, then audit
    // the FINAL adaptive plan.
    val df = SparkEntry.queries("q_ml21_bloom_decontamination")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p.take(200))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 5,
      "4 bloom semi joins + bench flag join must broadcast: " + p.take(800))
    assert("LeftSemi".r.findAllIn(p).size >= 4, p.take(800))
    assert("ReusedExchange".r.findAllIn(p).size >= 3,
      "the four probes must share one bit-table broadcast: " + p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(600))
    // Kirsch-Mitzelmacher accounting: the corpus probe must pay TWO
    // md5s per occurrence (one shared h1/h2 Project feeding all four
    // join conditions), not 2 per join. Total md5 sites in the plan =
    // 2 (corpus h1/h2) + 2 (bloom build h1/h2) = 4; a CollapseProject
    // regression that inlines the hash into each condition would show
    // 8+ here.
    info(s"md5 sites in plan: ${"md5".r.findAllIn(p).size}")
    assert("md5".r.findAllIn(p).size <= 4,
      "KM hash must be computed once per side: " + p.take(1200))
  }

  test("q_txt23: four bounded sketches, no cartesian, decisions computed in-plan") {
    // The decision query prices BOTH scenarios the q_txt22 way: every
    // sketch join is bounded at <= d*w rows (AQE resolves it broadcast),
    // the only nested-loop joins are the 1-row truth x estimate
    // attaches, and no corpus-squared shape can appear.
    val df = SparkEntry.queries("q_txt23_cms_join_decision")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p.take(200))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("SortMergeJoin"),
      "sketch joins must resolve to broadcast forms: " + p.take(800))
    assert("HashAggregate".r.findAllIn(p).size >= 12,
      "4 sketches + 2 truth sides, partial+final: " + p.take(600))
  }

  test("q_sim17: one checkpointed truth serves all four rungs; per-rung top-k is the bounded aggregator") {
    val df = SparkEntry.queries("q_sim17_projection_ladder")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // Round 19: the full-dim truth AND every rung's low-dim truth are
    // store-cached artifacts (built once at construction, read as
    // parquet thereafter) — the serving plan recomputes NO brute-force
    // pass at all: zero TopKAggregator object aggregates survive, the
    // corpus is never re-scanned, and every FileScan is an artifact
    // read.
    assert(p.contains("graft_artifacts"),
      "rung truths must come from the store-cached artifacts: " + p.take(800))
    assert(!p.contains("testdata"),
      "the corpus must not be re-scanned: " + p.take(800))
    val objAggs = "ObjectHashAggregate".r.findAllIn(p).size
    assert(objAggs == 0,
      s"no truth pass may re-run in the serving plan, got $objAggs: " +
        p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("q_mm13: decode is map-side mapPartitions; the only exchange is the output sort") {
    val p = plan("q_mm13_av_interleaved")
    // Binary payloads are synthesized, decoded, and reduced to integer
    // features inside one typed MapPartitions pipeline — no join, no
    // aggregation, and the single exchange is the final orderBy's range
    // partitioning over the small feature rows (payloads never shuffle).
    assert(p.contains("MapPartitions"), p.take(600))
    assert(!p.contains("Join"), p.take(600))
    assert("Exchange".r.findAllIn(p).size == 1, p.take(800))
  }

  test("q_rel10f: sketch aggregate is partial+final; the quantile list broadcasts; one value sort (the truth side)") {
    val p = plan("q_rel10f_dd_quantile")
    // The sketch build must combine map-side: partial+final HashAggregate
    // on bucket, so the exchange carries <= #buckets rows per task.
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "bucket + truth counts partial+final: " + p.take(600))
    // Both bounded joins (q list against cum tables) broadcast.
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1 ||
      "BroadcastNestedLoopJoin".r.findAllIn(p).size >= 1, p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(600))
    // The only full Sorts are the sketch's <= #buckets cumulative walk
    // plus the 5-row output order — the truth side's distinct-value
    // walk is the store-cached artifact (round 20); a corpus-sized
    // extra sort would show here.
    assert("Sort ".r.findAllIn(p).size <= 4, p.take(800))
    assert(p.contains("graft_artifacts"),
      "exact truth must come from the store-cached walk: " + p.take(800))
  }

  test("q_agg8: grouped sketch is partial+final; every window runs over the bounded bucket/distinct tables") {
    val p = plan("q_agg8_dd_quantile_by_type")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "per-key bucket + distinct-value counts partial+final: " + p.take(600))
    // The q-list joins broadcast; the est x exact attach broadcasts.
    assert("BroadcastHashJoin".r.findAllIn(p).size +
      "BroadcastNestedLoopJoin".r.findAllIn(p).size >= 2, p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(600))
    // No window runs over the raw event stream: every Window sits above
    // an aggregate (its child exchange partitions the AGGREGATED keyed
    // table, bounded by types x buckets / types x distinct values).
    assert(p.contains("Window"), p.take(400))
  }

  test("q_txt20: sketch is a partial+final aggregate; the d·w cell table broadcasts") {
    // The CMS build's scale property: the generate+aggregate runs
    // partial-before-exchange, so the shuffle carries <= d*w rows per
    // task — never the token stream or the vocabulary. The estimate
    // join must broadcast the sketch side (<= d*w rows by
    // construction); the truth side's top-25 is a checkpoint
    // (ExistingRDD), so the wordcount never re-runs.
    val p = plan("q_txt20_cms_audit")
    assert(p.contains("BroadcastHashJoin"),
      "sketch side must broadcast: " + p.take(800))
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "sketch and estimate aggregates partial+final: " + p.take(600))
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 2,
      "both top-25 consumers must read the checkpoint: " + p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(600))
  }

  test("q_rel10g: NO Expand anywhere (the measured distinct-rewrite blowup), sketches object-agg, triples broadcast") {
    // SCALE.md round-15: fusing the nine DataSketches aggregates with
    // conditional countDistincts drags sketch state through the
    // RewriteDistinctAggregates Expand (minutes at sf0.1). The split
    // form has NO Expand at all — the exact side is per-key flags, not
    // distinct aggregates — and each 1-row exact triple reaches the
    // sketch row as a broadcast.
    val p = plan("q_rel10g_hll_set_algebra")
    assert(!p.contains("Expand"), "Expand must not appear: " + p.take(600))
    assert(p.contains("ObjectHashAggregate"),
      "DataSketches sketches aggregate on the object path: " + p.take(600))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size >= 3,
      "three 1-row triples broadcast onto the sketch row: " + p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("q_rel10h: checkpointed key/signature tables feed the whole algebra; no fact re-scan; no Expand/cartesian") {
    // Round 20's single-pass plan: ONE fact scan built the distinct
    // (scenario, key, flags) checkpoint; signatures hash THAT table
    // (md5 over ~|distinct keys| rows, not the exploded fact stream)
    // into the <= 6k-row signature checkpoint. The final plan reads
    // the signature checkpoint three times (union synopsis + two
    // membership sides) and the key checkpoint once (exact triples) —
    // zero parquet scans. No Expand (no conditional countDistincts),
    // no cartesian.
    val p = plan("q_rel10h_kmv_set_algebra")
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 4,
      "all algebra reads the key/signature checkpoints: " + p.take(800))
    assert(!p.contains("Scan parquet"),
      "the fact table must not re-scan in the final plan: " + p.take(800))
    assert(!p.contains("Expand"), "Expand must not appear: " + p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("q_adv10: the fused funnel stays inside its job budget (one action, chain exchanges reused)") {
    // The pre-fusion form issued four sequential .count() actions,
    // each re-deriving the frontier chain across separate queries
    // where AQE's stage cache cannot reuse anything — O(steps²)
    // recompute, 21 jobs at sf0.01. The fused form reads all four
    // counts from ONE tagged-union action whose repeated subtrees
    // dedupe to ReusedExchange (9-12 jobs, 2× faster). A regression
    // back to per-step actions blows the budget here.
    val sc = spark.sparkContext
    sc.setJobGroup("q_adv10-pin", "funnel job budget", false)
    val jobs = try {
      val out = graft.analytics.AdvancedQueries.funnelSteps(spark, dir)
      assert(out.count() == 4L)
      // status store fills from the async listener bus — poll briefly.
      var n = sc.statusTracker.getJobIdsForGroup("q_adv10-pin").length
      val deadline = System.nanoTime() + 5000000000L
      while (n == 0 && System.nanoTime() < deadline) {
        Thread.sleep(100); n = sc.statusTracker.getJobIdsForGroup("q_adv10-pin").length
      }
      n
    } finally sc.clearJobGroup()
    // One union-count action (AQE stages each submit a job; measured
    // 9-12 across shuffle-partition settings) + 1 local 4-row toDF
    // count. Budget 13; the pre-fusion form measured 21+.
    assert(jobs > 0 && jobs <= 13, s"funnel ran $jobs jobs, want 1..13")
  }

  test("q_agg9: the ts range broadcasts onto the scan; anchor aggregates are partial+final; no cartesian") {
    val p = plan("q_agg9_m4_downsample")
    // The 1-row (lo, hi) range reaches every row as a broadcast
    // nested-loop (a crossJoin of a 1-row side), never a cartesian.
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "anchor + first/last aggregates partial+final: " + p.take(600))
  }
}
