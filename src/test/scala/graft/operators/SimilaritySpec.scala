package graft.operators

import graft.SparkSpec
import graft.functions.{VectorFunctions => VF}
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine/dot/l2 on known vectors") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(0.0f, 1.0f), Seq(3.0f, 4.0f)))
      .toDF("a", "b", "c")
    val row = df.select(
      VF.dot(col("a"), col("b")).as("d"),
      VF.cosine(col("a"), col("a")).as("self"),
      VF.l2Norm(col("c")).as("n"),
      VF.l2Distance(col("a"), col("b")).as("dist")).head()
    assert(row.getDouble(0) == 0.0)
    assert(math.abs(row.getDouble(1) - 1.0) < 1e-12)
    assert(row.getDouble(2) == 5.0)
    assert(math.abs(row.getDouble(3) - math.sqrt(2)) < 1e-12)
  }

  // 3 well-separated clusters of 5 vectors each + a query near cluster 0.
  private def clustered = {
    val centers = Seq(
      Array(1f, 1f, 1f, 1f, 0f, 0f, 0f, 0f),
      Array(-1f, 1f, -1f, 1f, 0f, 0f, 0f, 0f),
      Array(0f, 0f, 0f, 0f, 1f, -1f, 1f, -1f))
    val corpus = for {
      (cen, ci) <- centers.zipWithIndex
      j <- 0 until 5
    } yield {
      val v = cen.zipWithIndex.map { case (x, d) => x + 0.01f * ((ci * 5 + j + d) % 7) }
      ((ci * 5 + j).toLong, v.toSeq)
    }
    corpus.toDF("vec_id", "embedding")
  }

  test("bruteForceTopK ranks own-cluster vectors first") {
    val q = clustered.where(col("vec_id") === 0)
    val res = Similarity.bruteForceTopK(q, clustered, k = 4)
      .collect().map(r => r.getLong(1))
    // neighbors 1..4 are the rest of cluster 0
    assert(res.toSet == Set(1L, 2L, 3L, 4L))
  }

  test("projection ladder: deployability is a margin property — families deploy at k=16, the near-uniform sf corpus at no rung") {
    import graft.functions.{TextFunctions => TF}
    // Margin-RICH corpus: 8 near-dup families of 6 in 64 dims — random
    // ±1 centers (pairwise cos ~N(0, 1/64)) with a 0.02-scale member
    // perturbation, so within-family cosine ≈ 1 and the 5th→6th
    // neighbor gap is ~0.9. Rank order trivially survives any linear
    // map that keeps families apart — JL at k=16 does.
    val fams = (0 until 48).map { id =>
      val f = id / 6
      val v = (0 until 64).map { i =>
        val c = if (TF.hexHash60Local(s"fam:$f:$i") % 2 == 0) 1.0f else -1.0f
        c + 0.02f * ((id + i) % 5)
      }
      (id.toLong, v)
    }.toDF("vec_id", "embedding")
    val rich = Similarity.projectionLadder(fams, col("vec_id") % 6 === 0,
      dims = Seq(16), dim = 64, topK = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(4)))
    assert(rich.head._2 >= 0.8 && rich.head._3 == 1L,
      s"family corpus must deploy at k=16: $rich")
    // Margin-LESS corpus: the sf0.01 embeddings (near-uniform — the
    // truth's 10th→11th cosine gap is ~0.005, an order below the
    // O(√(1/k)) distortion at every rung), q_sim17's regime: NO rung
    // deploys. Pinned at the ladder's cheapest and deepest rungs.
    val flat = Similarity.projectionLadder(
      graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.01"),
      col("vec_id") < 5, dims = Seq(16, 48), dim = 64, topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(4)))
    assert(flat.forall(_._3 == 0L), s"no rung deploys on this corpus: ${flat.toSeq}")
    assert(flat.forall(_._2 < 0.8))
  }

  test("ivfTopK: probing enough cells recovers the own-cluster neighbors") {
    // Interleave clusters so the first-N quantizer seeds are one per
    // cluster (id % 3 = cluster): a degenerate all-one-cluster seed set
    // fragments that cluster into singleton cells by construction.
    val centers = Seq(
      Array(1f, 1f, 1f, 1f, 0f, 0f, 0f, 0f),
      Array(-1f, 1f, -1f, 1f, 0f, 0f, 0f, 0f),
      Array(0f, 0f, 0f, 0f, 1f, -1f, 1f, -1f))
    val corpus = (0 until 15).map { id =>
      val cen = centers(id % 3)
      val v = cen.zipWithIndex.map { case (x, d) => x + 0.01f * ((id + d) % 7) }
      (id.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val q = corpus.where(col("vec_id") === 0)
    val exact = Similarity.bruteForceTopK(q, corpus, k = 4)
      .collect().map(_.getLong(1)).toSet
    val approx = Similarity.ivfTopK(q, corpus, k = 4, nCentroids = 3, nProbe = 1, dim = 8)
      .collect().map(_.getLong(1)).toSet
    assert(exact == Set(3L, 6L, 9L, 12L), s"brute force finds the own cluster: $exact")
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.75, s"recall $recall too low: exact=$exact approx=$approx")
  }

  test("ivfRecallAudit: recall and candidate volume rise with probe depth; full probe is exhaustive") {
    val q = clustered.where(col("vec_id") < 2)
    val rows = Similarity.ivfRecallAudit(q, clustered, k = 4,
        nProbes = Seq(1, 2, 3), nCentroids = 3, dim = 8)
      .collect().map(r => (r.getAs[Int]("nprobe"), r.getAs[Long]("n_queries"),
        r.getAs[Long]("n_truth"), r.getAs[Long]("n_hit"),
        r.getAs[Double]("recall"), r.getAs[Long]("n_cand")))
    assert(rows.map(_._1).toSeq == Seq(1, 2, 3), s"one ordered row per depth: ${rows.toSeq}")
    rows.foreach { r =>
      assert(r._2 == 2 && r._3 == 8, s"2 queries x k=4 ground truth: $r")
      assert(r._4 <= r._3 && r._5 == r._4.toDouble / r._3, s"recall = hits/truth: $r")
    }
    assert(rows.sliding(2).forall(w => w(0)._5 <= w(1)._5), s"recall monotone: ${rows.toSeq}")
    assert(rows.sliding(2).forall(w => w(0)._6 < w(1)._6), s"candidates grow: ${rows.toSeq}")
    // Probing all 3 cells scores every non-self vector: exhaustive ⇒ recall 1.
    assert(rows.last._5 == 1.0 && rows.last._6 == 2L * 14, s"full probe exhaustive: ${rows.toSeq}")
  }

  test("lshTopK recall: finds the brute-force top-4 for a clustered query") {
    val q = clustered.where(col("vec_id") === 0)
    val exact = Similarity.bruteForceTopK(q, clustered, k = 4)
      .collect().map(_.getLong(1)).toSet
    val approx = Similarity.lshTopK(q, clustered, k = 4, planes = 4, tables = 4, dim = 8)
      .collect().map(_.getLong(1)).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.75, s"recall $recall too low: exact=$exact approx=$approx")
  }

  test("flip-1 multi-probe: superset of exact probing, better recall per candidate") {
    // Measured on sf0.01 held-out queries (vec_id 100-119, IvfProbe):
    // exact p=6 recall 0.305 @ 1354 candidate pairs; flip1 p=6 0.870 @
    // 6022; flip1 p=9 0.415 @ 1650 — i.e. at MATCHED candidate volume
    // (p=9 flip1 vs p=6 exact) recall improves ~1.4×, and corpus-side
    // bucketing cost is identical (the probe fan-out is query-side only).
    val embs = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val q = embs.where(col("vec_id") >= 100 && col("vec_id") < 120)
    val exactTop = Similarity.bruteForceTopK(q, embs, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val candExact = pairs(Similarity.lshCandidates(q, embs, planes = 6))
    val candFlip = pairs(Similarity.lshCandidates(q, embs, planes = 6, flip1 = true))
    assert(candExact.subsetOf(candFlip),
      s"flip1 candidates must contain the exact-bucket candidates " +
      s"(missing ${(candExact -- candFlip).take(3)})")
    def recallOf(planes: Int, flip1: Boolean): Double = {
      val approx = pairs(Similarity.lshTopK(q, embs, k = 10, planes = planes, flip1 = flip1))
      (exactTop intersect approx).size.toDouble / exactTop.size
    }
    val (rExact6, rFlip9) = (recallOf(6, flip1 = false), recallOf(9, flip1 = true))
    val (nExact6, nFlip9) =
      (candExact.size, pairs(Similarity.lshCandidates(q, embs, planes = 9, flip1 = true)).size)
    info(f"recall: exact p=6 $rExact6%.3f ($nExact6 cands) vs flip1 p=9 $rFlip9%.3f ($nFlip9 cands)")
    assert(nFlip9 <= nExact6 * 2,
      s"p=9 flip1 candidate volume ($nFlip9) should stay near p=6 exact ($nExact6)")
    assert(rFlip9 > rExact6,
      f"flip1 at matched volume should beat exact probing ($rExact6%.3f -> $rFlip9%.3f)")
  }

  test("k-means IVF recall beats the first-N quantizer on unbiased queries") {
    // Measured on queries DISJOINT from both seed sets (vec_id 100-119;
    // SCALE.md round-4 SIM table, IVF quantizer notes): first-N-vec_ids
    // quantizer 0.440, hash seeds alone 0.525, + 2 Lloyd iterations
    // 0.605 — all at the same probed fraction (~4/16 of the corpus).
    // Round 2's "first-N recall 0.88" was measurement leakage: the
    // vec_id<5 oracle queries ARE first-N centroids, so each query owned
    // a dedicated cell of exactly its own neighbors. This pins the
    // unbiased numbers: trained strictly above seeds-only, and well
    // above the measured first-N baseline.
    val embs = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val q = embs.where(col("vec_id") >= 100 && col("vec_id") < 120)
    val exact = Similarity.bruteForceTopK(q, embs, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // Params pinned to the round-3 measurement point (nProbe=4,
    // trainN=1024) — the operator DEFAULTS moved to the ≥0.8-recall
    // settings in round 4, which the "documented defaults" test below
    // covers separately.
    def recallOf(iters: Int): Double = {
      val approx = Similarity.ivfTopK(q, embs, k = 10, lloydIters = iters,
        nProbe = 4, trainN = 1024).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect approx).size.toDouble / exact.size
    }
    val (seedsOnly, trained) = (recallOf(0), recallOf(2))
    info(f"recall@10: seeds-only=$seedsOnly%.3f, 2 Lloyd iters=$trained%.3f (n=${exact.size})")
    assert(trained > seedsOnly,
      f"Lloyd training should raise recall (seeds $seedsOnly%.3f -> $trained%.3f)")
    assert(trained >= 0.55, f"trained recall $trained%.3f below the measured 0.605 band")
  }

  test("k-means survives adversarial id ordering where first-N collapses") {
    // The 100 TB failure mode VERDICT r2 flagged: production data often
    // arrives sorted (by time, shard, label), so "first N ids" seeds can
    // all land in ONE tight cluster — cells then carry no neighborhood
    // signal. Hash-ranked seeds + Lloyd are immune to id order.
    // Corpus: ids 0-15 all sit in cluster 0 (the adversarial prefix);
    // ids 16+ spread over 8 well-separated clusters.
    val centers = (0 until 8).map(c => Array.tabulate(8)(d => if (d == c) 1f else 0f))
    val corpus = (0 until 200).map { id =>
      val c = if (id < 16) 0 else id % 8
      val v = centers(c).zipWithIndex.map { case (x, d) => x + 0.05f * ((id + 3 * d) % 5) }
      (id.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val q = corpus.where(col("vec_id") === 19) // cluster 3, not a seed
    val exact = Similarity.bruteForceTopK(q, corpus, k = 10).collect()
      .map(_.getLong(1)).toSet
    val trained = Similarity.ivfTopK(q, corpus, k = 10,
      nCentroids = 8, nProbe = 1, lloydIters = 2, dim = 8).collect().map(_.getLong(1)).toSet
    val recall = (exact intersect trained).size.toDouble / exact.size
    info(f"adversarial-order corpus: k-means recall@10 = $recall%.3f at nProbe=1")
    assert(recall >= 0.9,
      f"k-means should recover the cluster structure, got $recall%.3f")
  }

  test("IVF held-out recall >= 0.8 at the documented defaults, float AND int8") {
    // The shipped default story (VERDICT r3 ask #2), measured end to end:
    // nCentroids=16, nProbe=8, trainN=4096 on held-out queries (vec_id
    // 100-119 — disjoint from every seed path; first-N leakage lesson).
    // IvfProbe curve at k=16: nProbe 4 -> 0.605, 6 -> 0.715, 8 -> 0.815;
    // the default sits at the >= 0.8 point. The int8 index at the same
    // parameters measures IDENTICAL recall (0.815): 256 levels/dim on
    // the corpus (min,max) grid perturbs no top-10 ordering that the
    // float re-rank doesn't restore — q_sim4's error audit made that
    // prediction, this pins it.
    val embs = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val q = embs.where(col("vec_id") >= 100 && col("vec_id") < 120)
    val exact = Similarity.bruteForceTopK(q, embs, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(res: org.apache.spark.sql.DataFrame): Double = {
      val approx = res.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect approx).size.toDouble / exact.size
    }
    val fl = recallOf(Similarity.ivfTopK(q, embs, k = 10))
    val i8 = recallOf(Similarity.ivfTopKInt8(q, embs, k = 10))
    info(f"held-out recall@10 at defaults: float=$fl%.3f int8=$i8%.3f")
    assert(fl >= 0.8, f"float IVF recall $fl%.3f below the documented 0.8 default target")
    assert(i8 >= 0.8, f"int8 IVF recall $i8%.3f below the documented 0.8 default target")
  }

  test("QuantizeInt8/Int8Recon: codes, clamp, degenerate dims, size guard") {
    import graft.functions.{QuantExpressions => QE}
    // Grid: dim0 spans [0,1] (codes quantize x*255), dim1 is DEGENERATE
    // (hi == lo: code 0, recon = lo exactly), dim2 spans [-2,2].
    val df = Seq(
      (1L, Seq(0.0f, 7.5f, -2.0f)),
      (2L, Seq(1.0f, 7.5f, 2.0f)),
      (3L, Seq(0.5f, 7.5f, 0.0f))).toDF("vec_id", "embedding")
      .withColumn("lo", typedLit(Seq(0.0, 7.5, -2.0)))
      .withColumn("hi", typedLit(Seq(1.0, 7.5, 2.0)))
    val out = df.select(col("vec_id"), col("lo"), col("hi"),
        QE.quantizeInt8(col("embedding"), col("lo"), col("hi")).as("qcode"))
      .withColumn("re", QE.int8Recon(col("qcode"), col("lo"), col("hi")))
      .orderBy("vec_id").collect()
    def codes(i: Int): Seq[Int] =
      out(i).getAs[Array[Byte]]("qcode").toSeq.map(_ & 0xff)
    assert(codes(0) == Seq(0, 0, 0), s"min-of-range codes: ${codes(0)}")
    assert(codes(1) == Seq(255, 0, 255), s"max clamps to 255: ${codes(1)}")
    assert(codes(2) == Seq(127, 0, 127), s"midpoints floor down: ${codes(2)}")
    val re1 = out(0).getAs[scala.collection.Seq[Double]]("re")
    assert(math.abs(re1(0) - (0.5 / 256.0)) < 1e-15) // code 0 midpoint
    assert(re1(1) == 7.5) // degenerate dim reconstructs lo exactly
    assert(math.abs(re1(2) - (-2.0 + 0.5 * 4.0 / 256.0)) < 1e-15)
    // Grid/vector length mismatch must throw, not prefix-quantize.
    val bad = df.withColumn("lo2", typedLit(Seq(0.0, 7.5)))
    val ex = intercept[Exception] {
      bad.select(QE.quantizeInt8(col("embedding"), col("lo2"), col("hi"))).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("grid length must match")), ex.getMessage)
  }

  test("queryInt8Index over a written index returns exactly the build-time results") {
    // The production flow: build index + grid, WRITE both, read them
    // back, serve queries from the files — results must be IDENTICAL to
    // the single-plan ivfTopKInt8 (midpoints are a pure function of the
    // stored bytes + grid, so the disk hop changes nothing).
    val embs = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val q = embs.where(col("vec_id") >= 100 && col("vec_id") < 110)
    val dir = java.nio.file.Files.createTempDirectory("idx_rt").toString
    Similarity.int8Index(embs, nCentroids = 16, trainN = 1024)
      .write.parquet(s"$dir/index")
    Similarity.int8Stats(embs).write.parquet(s"$dir/grid")
    val centroids = Similarity.trainCentroids(embs, 16, trainN = 1024)
    val fromDisk = Similarity.queryInt8Index(q,
        spark.read.parquet(s"$dir/index"), spark.read.parquet(s"$dir/grid"),
        centroids, embs, k = 10, rerankDepth = 30, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4))
    val fromBuild = Similarity.ivfTopKInt8(q, embs, k = 10,
        rerankDepth = 30, nCentroids = 16, nProbe = 4, trainN = 1024)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4))
    assert(fromDisk.nonEmpty && fromDisk.sameElements(fromBuild),
      s"disk-served results must equal build-time results " +
        s"(disk=${fromDisk.length}, build=${fromBuild.length})")
  }

  test("lshTopK fails loudly when a vector exceeds the plan-time dim") {
    val q = clustered.where(col("vec_id") === 0)
    val ex = intercept[Exception] {
      Similarity.lshTopK(q, clustered, k = 4, planes = 4, tables = 4, dim = 4).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("embedding dim must be")), ex.getMessage)
  }

  test("a zero vector in the corpus or the queries leaves the float IVF builders' rows unchanged") {
    // Under ANSI the cosine divides by a zero norm and throws unless the
    // norm filter runs before scoring, in the argmax and in the probe.
    val labeled = clustered.withColumn("label", (col("vec_id") / 5).cast("int"))
    val zero = Seq((99L, Seq.fill(8)(0f), 0)).toDF("vec_id", "embedding", "label")
    val withZero = labeled.unionByName(zero)
    val q = labeled.where(col("vec_id") < 2)
    val qz = withZero.where(col("vec_id") < 2 || col("vec_id") === 99)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    def builders(qs: org.apache.spark.sql.DataFrame, cs: org.apache.spark.sql.DataFrame) = Seq(
      rows(Similarity.ivfTopK(qs, cs, k = 4, nCentroids = 3, nProbe = 2, dim = 8)
        .orderBy("query_id", "rank")),
      rows(Similarity.ivfRecallAudit(qs, cs, k = 4, nProbes = Seq(1, 3),
        nCentroids = 3, dim = 8)),
      rows(Similarity.filteredIvfRecallAudit(qs, cs, labelValue = 1, k = 4,
        nProbes = Seq(1, 3), nCentroids = 3, dim = 8)))
    val clean = builders(q, labeled)
    assert(clean.forall(_.nonEmpty), s"reference rows: $clean")
    assert(builders(q, withZero) == clean, "zero vector in the corpus")
    assert(builders(qz, labeled) == clean, "zero vector in the queries")
  }

  test("a vector whose length differs from the centroids' fails loudly in cell assignment and probing") {
    // float_vector_dot is NULL on a length mismatch; a NULL score would
    // lose every argmax (cell 0) and sort last in every probe.
    val cents = Seq((0L, Seq.fill(8)(1.0)),
      (1L, Seq.tabulate(8)(i => if (i % 2 == 0) 1.0 else -1.0))).toDF("cid", "ce")
    val short = Seq((99L, Seq(1f, 2f, 3f))).toDF("vec_id", "embedding")
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    def named(ex: Throwable) = messages(ex).exists(m =>
      m.contains("vector 99") && m.contains("centroid dimension"))
    val assign = intercept[Exception] {
      Similarity.ivfCellAssign(short, cents).collect()
    }
    assert(named(assign), assign.getMessage)
    val probe = intercept[Exception] {
      Similarity.probedCells(short, cents, nProbe = 1)
    }
    assert(named(probe), probe.getMessage)
  }

  test("a probe depth below 1 is refused, not silently dropped") {
    val q = clustered.where(col("vec_id") < 2)
    intercept[IllegalArgumentException] {
      Similarity.ivfRecallAudit(q, clustered, k = 4, nProbes = Seq(0, 2),
        nCentroids = 3, dim = 8)
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfTopK(q, clustered, k = 4, nCentroids = 3, nProbe = 0, dim = 8)
    }
  }

  test("cell ties on the rounded cosine go to the lowest cid; probes rank by (cosine desc, cid)") {
    // Hand-built 2-d centroids, listed high cid first. Against (1, 0):
    // cid 5 scores 1/√2 = 0.70710678 and cid 4 scores 0.70710675 —
    // distinct raw cosines, one rounded value 0.707107; cid 7 scores
    // 0.995037, cid 1 scores 0.
    val cents = Seq((7L, Seq(1.0, 0.1)), (5L, Seq(1.0, 1.0)),
      (4L, Seq(1.0, 1.0000001)), (1L, Seq(0.0, 1.0))).toDF("cid", "ce")
    val v = Seq((10L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    val tied = cents.where(col("cid") =!= 7)
    assert(Similarity.ivfCellAssign(v, tied).collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq == Seq((10L, 4L)), "equal rounded cosine → lowest cid")
    def probed(n: Int) = Similarity.probedCells(v, cents, nProbe = n).toSet
    assert(probed(1) == Set(7L))
    assert(probed(2) == Set(7L, 4L), "the tie at depth 2 goes to cid 4, not 5")
    assert(probed(3) == Set(7L, 4L, 5L))
  }

  private def centroidRows(rows: Array[org.apache.spark.sql.Row]) =
    rows.map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq

  /** The driver trainer's stored table, pinned row for row to the
    * Spark-plan reference trained on the same corpus and parameters.
    */
  private def pinnedTrainer(corpus: org.apache.spark.sql.DataFrame,
      nCentroids: Int, iters: Int, dim: Int) = {
    val driver = centroidRows(Similarity.trainCentroids(corpus, nCentroids,
      iters, trainN = 1024, seedPlanes = 6, dim = dim).collect())
    val reference = centroidRows(Similarity.trainCentroidsSpark(corpus,
      nCentroids, iters, trainN = 1024, seedPlanes = 6, dim = dim))
    assert(driver == reference, s"driver:\n$driver\nreference:\n$reference")
    driver
  }

  test("driver trainer ≡ the Spark Lloyd reference: sf0.01 at q_sim3's shape, clustered, planted duplicates, iters 0") {
    val embs = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.01")
    assert(pinnedTrainer(embs, nCentroids = 16, iters = 2, dim = 64).size == 16)
    assert(pinnedTrainer(clustered, nCentroids = 3, iters = 2, dim = 8).size == 3)
    val planted = clustered.union(clustered.where(col("vec_id") < 5)
      .select((col("vec_id") + 100).as("vec_id"), col("embedding")))
    assert(pinnedTrainer(planted, nCentroids = 3, iters = 2, dim = 8).size == 3)
    // iters = 0 is the seeding alone: every centroid is a corpus vector.
    val seeds = pinnedTrainer(embs, nCentroids = 16, iters = 0, dim = 64)
    val vectors = embs.collect().map(_.getSeq[Float](1).map(_.toDouble)).toSet
    assert(seeds.size == 16 && seeds.forall(c => vectors(c._2)))
  }

  test("driver trainer ≡ reference when the sample fills fewer sign buckets than nCentroids") {
    val cells = pinnedTrainer(clustered, nCentroids = 16, iters = 2, dim = 8)
    assert(cells.nonEmpty && cells.size < 16, s"${cells.size} cells")
  }

  test("driver trainer ≡ reference through a Lloyd step that empties a cell") {
    // a and b straddle seed plane 0 (table -1, plane 0), so they land in
    // different sign buckets and seed different cells, yet their rounded
    // cosine is 1.0: the first step assigns both to the lower cid and
    // the other cell empties, keeping its seed (a raw vector of norm ≈ 2,
    // which no spherical mean reproduces).
    val dim = 8
    val w0 = Similarity.planeWeights(-1, 0, dim)
    val r = Array.tabulate(dim)(d => if (d % 2 == 0) 1.0 else 0.5 + d / 10.0)
    val along = r.zip(w0).map { case (x, y) => x * y }.sum / w0.map(x => x * x).sum
    val u = r.zip(w0).map { case (x, y) => x - along * y }
    def straddle(sign: Double) = u.zip(w0).map { case (x, y) => (x + sign * 2e-5 * y).toFloat }.toSeq
    val corpus = clustered.union(
      Seq((100L, straddle(1.0)), (101L, straddle(-1.0))).toDF("vec_id", "embedding"))
    val seeds = pinnedTrainer(corpus, nCentroids = 32, iters = 0, dim = dim).toMap
    val step = pinnedTrainer(corpus, nCentroids = 32, iters = 1, dim = dim)
    assert(step.exists { case (cid, ce) => seeds(cid) == ce },
      s"one cell must empty and keep its seed: $step")
    pinnedTrainer(corpus, nCentroids = 32, iters = 2, dim = dim)
  }

  test("the driver trainer fails a wrong-length vector as the reference does; an empty corpus trains no cells in either") {
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    val bad = clustered.union(Seq((99L, Seq(1f, 2f, 3f))).toDF("vec_id", "embedding"))
    val driver = intercept[Exception] {
      Similarity.trainCentroids(bad, 3, iters = 2, trainN = 1024, dim = 8).collect()
    }
    val reference = intercept[Exception] {
      Similarity.trainCentroidsSpark(bad, 3, iters = 2, trainN = 1024,
        seedPlanes = 6, dim = 8)
    }
    for (e <- Seq(driver, reference))
      assert(messages(e).exists(_.contains("embedding dim must be 8 (got 3)")), e.getMessage)
    val empty = clustered.where(col("vec_id") < 0)
    assert(pinnedTrainer(empty, nCentroids = 3, iters = 2, dim = 8).isEmpty)
  }

  test("a cold trainCentroids runs a bounded number of Spark jobs, not several per Lloyd step") {
    // One sample collect, the artifact write and the read-back: 4 jobs
    // measured; the Spark-plan Lloyd loop ran 37 for the same call.
    val corpus = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .where(col("vec_id") =!= -7L)
    val jobs = jobsRun {
      Similarity.trainCentroids(corpus, 16, iters = 2, trainN = 1024, dim = 64).collect()
    }
    assert(jobs <= 6, s"cold trainCentroids ran $jobs jobs")
  }

  test("appendToInt8Index ≡ rebuild on the union, given unchanged centroids/grid") {
    // 60-vector corpus; index built on the first 48, then 12 appended.
    val all = (0 until 60).map { id =>
      (id.toLong, Seq.tabulate(8)(d => 0.1f * ((id + d) % 13) - 0.5f))
    }.toDF("vec_id", "embedding")
    val base = all.where(col("vec_id") < 48)
    val fresh = all.where(col("vec_id") >= 48)
    val cents = Similarity.trainCentroids(base, nCentroids = 4, iters = 2,
      trainN = 64, seedPlanes = 4, dim = 8)
    val grid = Similarity.int8Stats(base, dim = 8)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Array[Byte]](2).toSeq)).toSet
    val appended = rows(Similarity.appendToInt8Index(
      fresh, Similarity.int8IndexWith(base, grid, cents), grid, cents))
    val rebuilt = rows(Similarity.int8IndexWith(all, grid, cents))
    assert(appended == rebuilt,
      s"append diverged from rebuild: ${appended.diff(rebuilt)} / ${rebuilt.diff(appended)}")
    assert(appended.size == 60)
  }

  test("indexDrift: same-distribution append quiet, shifted batch trips retrain") {
    val base = (0 until 48).map { id =>
      (id.toLong, Seq.tabulate(8)(d => 0.1f * ((id + d) % 13) - 0.5f))
    }.toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(base, nCentroids = 4, iters = 2,
      trainN = 64, seedPlanes = 4, dim = 8)
    val grid = Similarity.int8Stats(base, dim = 8)
    val index = Similarity.int8IndexWith(base, grid, cents)
    // Same generator, new ids: fit_new ≈ fit_indexed → no retrain.
    val same = (100 until 112).map { id =>
      (id.toLong, Seq.tabulate(8)(d => 0.1f * ((id + d) % 13) - 0.5f))
    }.toDF("vec_id", "embedding")
    val quiet = Similarity.indexDrift(same, index, grid, cents).head()
    assert(quiet.getAs[Long]("retrain") == 0L,
      s"same-distribution batch flagged for retrain: $quiet")
    // Orthogonal-ish shifted batch: alternating-sign vectors the trained
    // centroids fit poorly → fit_new collapses, retrain = 1.
    val shifted = (200 until 212).map { id =>
      (id.toLong, Seq.tabulate(8)(d => if ((id + d) % 2 == 0) 5.0f else -5.0f))
    }.toDF("vec_id", "embedding")
    val loud = Similarity.indexDrift(shifted, index, grid, cents).head()
    assert(loud.getAs[Long]("retrain") == 1L,
      s"shifted batch not flagged for retrain: $loud")
    assert(loud.getAs[Double]("fit_new") < quiet.getAs[Double]("fit_new"))
  }

  test("appendToPqIndex ≡ encode of the union, given fixed codebooks") {
    val all = (0 until 60).map { id =>
      (id.toLong, Seq.tabulate(8)(d => 0.1f * ((id + d) % 13) - 0.5f))
    }.toDF("vec_id", "embedding")
    val base = all.where(col("vec_id") < 48)
    val fresh = all.where(col("vec_id") >= 48)
    val cb = Similarity.trainPqCodebooks(base, m = 2, ksub = 4, iters = 2,
      trainN = 64, dim = 8)
    val codes = Similarity.pqEncode(base, cb, m = 2, dim = 8)
      .select("vec_id", "sub", "code")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toList).toSet
    val appended = rows(Similarity.appendToPqIndex(fresh, codes, cb, m = 2, dim = 8))
    val rebuilt = rows(Similarity.pqEncode(all, cb, m = 2, dim = 8)
      .select("vec_id", "sub", "code"))
    assert(appended == rebuilt,
      s"append diverged from rebuild: ${appended.diff(rebuilt)} / ${rebuilt.diff(appended)}")
    assert(appended.size == 120, "60 vectors × 2 subspaces")
  }

  test("pqDrift: same-distribution append quiet, shifted batch trips retrain") {
    val base = (0 until 48).map { id =>
      (id.toLong, Seq.tabulate(8)(d => 0.1f * ((id + d) % 13) - 0.5f))
    }.toDF("vec_id", "embedding")
    val cb = Similarity.trainPqCodebooks(base, m = 2, ksub = 4, iters = 2,
      trainN = 64, dim = 8)
    val codes = Similarity.pqEncode(base, cb, m = 2, dim = 8)
      .select("vec_id", "sub", "code")
    // Same generator, new ids: code usage matches the index → quiet.
    val same = (100 until 148).map { id =>
      (id.toLong, Seq.tabulate(8)(d => 0.1f * ((id + d) % 13) - 0.5f))
    }.toDF("vec_id", "embedding")
    val quiet = Similarity.pqDrift(same, codes, cb, m = 2, dim = 8).head()
    assert(quiet.getAs[Long]("retrain") == 0L,
      s"same-distribution batch flagged for retrain: $quiet")
    // Alternating-sign shifted batch: the argmin collapses onto whichever
    // codeword is least unlike it → usage histogram diverges → retrain.
    val shifted = (200 until 248).map { id =>
      (id.toLong, Seq.tabulate(8)(d => if ((id + d) % 2 == 0) 5.0f else -5.0f))
    }.toDF("vec_id", "embedding")
    val loud = Similarity.pqDrift(shifted, codes, cb, m = 2, dim = 8).head()
    assert(loud.getAs[Long]("retrain") == 1L,
      s"shifted batch not flagged for retrain: $loud")
    assert(loud.getAs[Double]("tv_max") > quiet.getAs[Double]("tv_max"))
  }

  test("memoized: a miss on one slot does not block a different slot") {
    import java.util.concurrent.TimeUnit
    // The slow slot's materializing count() is held open by a latch
    // (the UDF runs in this JVM under local mode); a second slot must
    // complete WHILE the first is still mid-compute — under the old
    // global lock this deadlocks until the 10 s UDF timeout.
    val started = SimilaritySpec.slowStarted
    val release = SimilaritySpec.releaseSlow
    val slowUdf = udf { x: Long =>
      SimilaritySpec.slowStarted.countDown()
      SimilaritySpec.releaseSlow.await(30, TimeUnit.SECONDS)
      x
    }
    val slow = new Thread(() =>
      Similarity.memoized("spec_slow", spark.range(1).select(slowUdf(col("id")).as("v"))))
    try {
      slow.start()
      assert(started.await(30, TimeUnit.SECONDS), "slow slot never started computing")
      val fast = Similarity.memoized("spec_fast", spark.range(3).toDF())
      assert(fast.count() == 3)
      // The slow slot is still blocked on the latch, so the fast slot's
      // completion above proves per-slot locking.
      assert(release.getCount == 1, "slow slot finished early; test proved nothing")
    } finally {
      release.countDown()
      slow.join(30000)
      Similarity.releaseCaches()
    }
  }

  test("PQ ADC top-k recovers the brute-force neighbors on the clustered corpus") {
    // m=2 subspaces of 4 dims over the 8-dim clustered corpus: the
    // cluster structure lives per-subspace, so 4 codes per subspace
    // must separate it and asymmetric-distance ranking must agree with
    // exact cosine on the well-separated top-4.
    val cb = Similarity.trainPqCodebooks(clustered, m = 2, ksub = 4,
      iters = 2, trainN = 1024, dim = 8)
    val codes = Similarity.pqEncode(clustered, cb, m = 2, dim = 8)
    val q = clustered.where(col("vec_id") === 0)
    val exact = Similarity.bruteForceTopK(q, clustered, k = 4)
      .collect().map(_.getLong(1)).toSet
    val approx = Similarity.pqAdcTopK(q, codes, cb, k = 4, m = 2, dim = 8)
      .collect().map(_.getLong(1)).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.75, s"ADC recall $recall: exact=$exact approx=$approx")
  }

  test("PQ reconstruction error shrinks as the codebook grows") {
    def totalErr(ksub: Int): Double = {
      val cb = Similarity.trainPqCodebooks(clustered, m = 2, ksub = ksub,
        iters = 2, trainN = 1024, dim = 8)
      Similarity.pqEncode(clustered, cb, m = 2, dim = 8)
        .agg(sum("err")).head().getDouble(0)
    }
    val (coarse, fine) = (totalErr(1), totalErr(4))
    assert(fine < coarse,
      s"4 codes/subspace must fit the 3-cluster corpus better than 1: $fine vs $coarse")
    assert(fine < 1e-2 * coarse || fine < 0.5,
      s"clusters are separable, so 4 codes should nearly zero the residual: $fine")
  }

  test("PQ ADC + exact re-rank reproduces brute force when candidates cover") {
    // With rerankDepth covering the whole 15-vector corpus the ADC tier
    // only orders candidates; the exact re-rank must then be
    // row-identical to brute force (same cos values, same ranks).
    val cb = Similarity.trainPqCodebooks(clustered, m = 2, ksub = 4,
      iters = 2, trainN = 1024, dim = 8)
    val codes = Similarity.pqEncode(clustered, cb, m = 2, dim = 8)
    val q = clustered.where(col("vec_id") === 0)
    val exact = Similarity.bruteForceTopK(q, clustered, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val reranked = Similarity.pqTopKReranked(q, clustered, codes, cb, k = 4,
        rerankDepth = 14, m = 2, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(reranked == exact, s"re-rank must be exact over covering candidates:\n$reranked\n$exact")
  }

  test("PQ ADC: pivoted pqAdcTopK ≡ the flat LUT-join reference in acos, rank and ties") {
    // Clustered corpus, then the same corpus plus exact copies of
    // cluster 0 (ids 100..104): copies get identical codes, so their
    // acos tie and only the neighbor_id tie-break orders them.
    val planted = clustered.union(clustered.where(col("vec_id") < 5)
      .select((col("vec_id") + 100).as("vec_id"), col("embedding")))
    for (corpus <- Seq(clustered, planted)) {
      val cb = Similarity.trainPqCodebooks(corpus, m = 2, ksub = 4,
        iters = 2, trainN = 1024, dim = 8)
      val codes = Similarity.pqEncode(corpus, cb, m = 2, dim = 8)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
          .sortBy(r => (r._1, r._4)).toSeq
      val pivoted = rows(Similarity.pqAdcTopK(corpus, codes, cb, k = 8, m = 2, dim = 8))
      val flat = rows(Similarity.pqAdcTopKFlat(corpus, codes, cb, k = 8, m = 2, dim = 8))
      assert(pivoted.nonEmpty && pivoted == flat)
    }
  }

  test("IVF×PQ: probing the own cell + ADC + re-rank finds the cluster neighbors") {
    // Interleaved ids (id % 3 = cluster) as in the ivfTopK test, so the
    // three coarse cells map onto the three clusters; nProbe=1 then
    // restricts ADC to the query's own cluster and the exact re-rank
    // must return its 4 cluster-mates, identical to brute force.
    val centers = Seq(
      Array(1f, 1f, 1f, 1f, 0f, 0f, 0f, 0f),
      Array(-1f, 1f, -1f, 1f, 0f, 0f, 0f, 0f),
      Array(0f, 0f, 0f, 0f, 1f, -1f, 1f, -1f))
    val corpus = (0 until 15).map { id =>
      val cen = centers(id % 3)
      val v = cen.zipWithIndex.map { case (x, d) => x + 0.01f * ((id + d) % 7) }
      (id.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val q = corpus.where(col("vec_id") === 0)
    val exact = Similarity.bruteForceTopK(q, corpus, k = 4)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val res = Similarity.ivfPqTopK(q, corpus, k = 4, rerankDepth = 4,
        nCentroids = 3, nProbe = 1, m = 2, ksub = 4, dim = 8)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(res == exact, s"IVF×PQ must match brute force here:\n$res\n$exact")
  }

  test("queryIvfPqIndex over per-batch pruned codes adds no adcvecs memo miss") {
    // The serving pipeline hands queryIvfPqIndex a code table pruned
    // per query batch: a memo keyed on that plan can never hit, so the
    // persisted-store read path must stay lazy — two differently
    // pruned serves leave the adcvecs slot's miss count unchanged.
    val cb = Similarity.trainPqCodebooks(clustered, m = 2, ksub = 4,
      iters = 2, trainN = 1024, dim = 8)
    val cents = Similarity.trainCentroids(clustered, 3, iters = 2,
      trainN = 1024, dim = 8)
    val codes = Similarity.pqEncode(clustered, cb, m = 2, dim = 8)
      .select("vec_id", "sub", "code")
      .join(Similarity.ivfCellAssign(clustered, cents), "vec_id")
    val q = clustered.where(col("vec_id") === 0)
    def misses = Similarity.memoStats.get("adcvecs").map(_._2).getOrElse(0L)
    val before = misses
    Seq(codes.where(col("vec_id") < 10), codes.where(col("vec_id") >= 2))
      .foreach { pruned =>
        val res = Similarity.queryIvfPqIndex(q, pruned, cents, cb, clustered,
          k = 2, rerankDepth = 4, nProbe = 3, m = 2, dim = 8).collect()
        assert(res.nonEmpty, "the pruned serve must still answer")
      }
    assert(misses == before, s"adcvecs misses moved $before -> $misses")
  }

  test("PQ encodes codeword-assembled vectors losslessly") {
    // A vector whose every subvector IS a codeword must encode with
    // zero residual in every subspace — the argmin's fixed point, and a
    // direct check that encode's distance arithmetic is exact.
    val cb = Similarity.trainPqCodebooks(clustered, m = 2, ksub = 4,
      iters = 2, trainN = 1024, dim = 8)
    val cw = cb.collect().map(r => (r.getInt(0), r.getLong(1),
      r.getSeq[Double](2))).toSeq
    val assembled = (for {
      (s0, c0, e0) <- cw if s0 == 0
      (s1, c1, e1) <- cw if s1 == 1
    } yield ((c0 * 4 + c1), (e0 ++ e1).map(_.toFloat)))
      .toDF("vec_id", "embedding")
    val enc = Similarity.pqEncode(assembled, cb, m = 2, dim = 8).collect()
    assert(enc.nonEmpty && enc.forall(_.getDouble(3) == 0.0),
      s"codeword-assembled vectors must have zero residual: ${enc.take(4).mkString(",")}")
  }

  test("PQ guards fail loudly on invalid geometry") {
    intercept[IllegalArgumentException] {
      Similarity.trainPqCodebooks(clustered, m = 3, ksub = 4, dim = 8) // 8 % 3 != 0
    }
    intercept[IllegalArgumentException] {
      Similarity.trainPqCodebooks(clustered, m = 2, ksub = 300, dim = 8) // > one byte
    }
    intercept[IllegalArgumentException] {
      val cb = Similarity.trainPqCodebooks(clustered, m = 2, ksub = 4, dim = 8)
      val codes = Similarity.pqEncode(clustered, cb, m = 2, dim = 8)
      Similarity.pqTopKReranked(clustered.where(col("vec_id") === 0), clustered,
        codes, cb, k = 10, rerankDepth = 5, m = 2, dim = 8) // depth < k
    }
  }

  test("PQ training is deterministic across cache resets") {
    def snapshot(): Set[(Long, Long, Seq[Double])] = {
      val cb = Similarity.trainPqCodebooks(clustered, m = 2, ksub = 4,
        iters = 2, trainN = 1024, dim = 8)
      cb.collect().map(r => (r.getInt(0).toLong, r.getLong(1),
        r.getSeq[Double](2))).toSet
    }
    val first = snapshot()
    def pqMisses = Similarity.memoStats.get("art:pq").map(_._2).getOrElse(0L)
    val misses = pqMisses
    // Drop both tiers: the in-memory memo and the disk artifact (the
    // session is a key part of every storeCached key), so the second
    // snapshot really retrains instead of re-reading the first's parquet.
    Similarity.releaseCaches()
    Similarity.invalidateArtifacts(spark)
    assert(snapshot() == first, "retraining after a cache drop must reproduce the codebooks")
    assert(pqMisses == misses + 1, "the second snapshot must retrain (one art:pq miss)")
  }

  test("hardNegatives excludes same-label vectors however close they rank") {
    // label = cluster id: the query's own cluster is its nearest
    // neighborhood, so an after-the-fact filter would surface it; the
    // fused join condition must never let it into the ranking.
    val labeled = clustered.withColumn("label",
      (col("vec_id") / 5).cast("int"))
    val q = labeled.where(col("vec_id") === 0)
    val res = Similarity.hardNegatives(q, labeled, k = 6).collect()
    assert(res.length == 6)
    assert(res.forall(r => r.getInt(1) == 0), "query_label carried through")
    assert(res.forall(r => r.getInt(3) != 0),
      "no own-cluster (same-label) vector may appear as a negative")
    assert(res.map(_.getLong(5)).sorted.toSeq == (1L to 6L),
      "ranks are contiguous 1..k")
  }

  test("hardNegativesInt8: full probe + full depth ≡ exact; default probe label-sound") {
    val embs = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val q = embs.where(col("vec_id") >= 100 && col("vec_id") < 110)
    // Default probe: every mined row is a genuine negative with
    // contiguous ranks — the label test rides the candidate stage.
    val mined = Similarity.hardNegativesInt8(q, embs, k = 5).collect()
    assert(mined.nonEmpty)
    assert(mined.forall(r => r.getAs[Int]("query_label") !=
      r.getAs[Int]("neighbor_label")), "candidate-stage label filter")
    // Audit law: probing ALL cells at uncut depth makes the tier exact —
    // the float re-rank then sees every different-label candidate, so
    // the result must equal the exact miner row for row.
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("rank"))).toSet
    val full = keyed(Similarity.hardNegativesInt8(q, embs, k = 5,
      rerankDepth = 4096, nProbe = 16))
    val exact = keyed(Similarity.hardNegatives(q, embs, k = 5))
    assert(full == exact, "full-probe ANN mining must reproduce the exact form")
  }

  test("hardNegatives ≡ bruteForceTopK over the label-filtered corpus") {
    val labeled = clustered.withColumn("label",
      (col("vec_id") / 5).cast("int"))
    val q = labeled.where(col("vec_id") === 7) // label 1
    val mined = Similarity.hardNegatives(q, labeled, k = 5)
      .select("query_id", "neighbor_id", "cos", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val ref = Similarity.bruteForceTopK(q, labeled.where(col("label") =!= 1), k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(mined == ref)
  }

  test("randomProjectionAudit: ratios match a driver-side JL reference and concentrate near 1") {
    import graft.analytics.ExtensionQueries
    import graft.functions.{TextFunctions => TF}
    val dir = "/root/testdata/sf0.001"
    val got = ExtensionQueries.randomProjectionAudit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.nonEmpty)
    // Driver-side reference: same sign matrix, same fold order
    // (dimension-sequential double accumulation).
    val (kOut, dim) = (16, 64)
    def sign(j: Int, i: Int): Double =
      if (TF.hexHash60Local(s"rp:$j:$i") % 2 == 0) 1.0 else -1.0
    val vecs = graft.sources.Tables.embeddings(spark, dir)
      .where(col("vec_id") % 11 === 0)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .filter { case (_, e) => e.exists(_ != 0.0) }
      .sortBy(_._1)
    def proj(e: Array[Double]): Array[Double] =
      Array.tabulate(kOut) { j =>
        var s = 0.0; var i = 0
        while (i < dim) { s += sign(j, i) * e(i); i += 1 }; s
      }
    val expected = (for {
      (ia, ea) <- vecs; (ib, eb) <- vecs if ia < ib
      dx = ea.zip(eb).map { case (x, y) => x - y }
      d2x = { var s = 0.0; dx.foreach(v => s += v * v); s }
      if d2x > 0
    } yield {
      val dy = proj(ea).zip(proj(eb)).map { case (x, y) => x - y }
      var d2y = 0.0; dy.foreach(v => d2y += v * v)
      (ia, ib) -> BigDecimal(d2y / (kOut * d2x))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, v) => assert(v == expected(k), s"pair $k") }
    // The JL law: expectation 1, concentration at k=16 (sd ~ sqrt(2/k)).
    val ratios = got.values.toSeq
    val mean = ratios.sum / ratios.size
    assert(mean > 0.8 && mean < 1.2, s"mean distortion $mean")
    assert(ratios.forall(r => r > 0.05 && r < 4.0),
      s"tail distortion: ${ratios.min} .. ${ratios.max}")
  }

  test("projectionRecall: well-formed, deterministic, and honest about rank fragility") {
    import graft.analytics.ExtensionQueries
    val rows = ExtensionQueries.projectionRecall(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty && rows.forall { case (_, n, rec) =>
      n >= 0 && n <= 10 && rec == n / 10.0
    })
    // On near-isotropic synthetic embeddings, 16 dims preserves
    // DISTANCES (q_sim15's ±35%) but top-10 among near-equidistant
    // points is fragile — the audit's value is reporting that, not
    // hiding it. Pin the regime loosely so a silent projection bug
    // (recall 0 everywhere) or an accidental identity (recall 1
    // everywhere) both fail.
    val recs = rows.map(_._3)
    assert(recs.max >= 0.1 && recs.min < 1.0, recs.mkString(","))
    val again = ExtensionQueries.projectionRecall(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(again.toSeq == rows.toSeq)
  }
}

object SimilaritySpec {
  // Shared with the executor-side UDF closure (same JVM under local mode).
  val slowStarted = new java.util.concurrent.CountDownLatch(1)
  val releaseSlow = new java.util.concurrent.CountDownLatch(1)
}
