package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // 4-dim toy vectors: 1≈2 (identical direction), 3 orthogonal, 4 opposite
  private def vecs = Seq(
    (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Seq(2.0f, 0.0f, 0.0f, 0.0f)),
    (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
    (4L, Seq(-1.0f, 0.0f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("bruteForcePairsTopK ranks the colinear pair first with cosine 1") {
    val top = Similarity.bruteForcePairsTopK(vecs, "vec_id", "embedding", 1)
      .collect().head
    assert(top.getLong(0) == 1L && top.getLong(1) == 2L)
    assert(math.abs(top.getDouble(2) - 1.0) < 1e-12)
  }

  test("bruteForceKnn finds vector 2 as nearest neighbor of 1") {
    val knn = Similarity.bruteForceKnn(vecs, vecs.filter($"vec_id" === 1L),
      "vec_id", "embedding", 1).collect().head
    assert(knn.getAs[Long]("query_id") == 1L)
    assert(knn.getAs[Long]("nn_id") == 2L)
  }

  test("annPairsTopK finds the identical-direction pair") {
    val pairs = Similarity.annPairsTopK(vecs, "vec_id", "embedding", 3,
      nBits = 2, nTables = 4, dim = 4, seed = 7L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("annKnn: bucketed probe finds vector 2 as nearest neighbor of 1") {
    val knn = Similarity.annKnn(vecs, vecs.filter($"vec_id" === 1L),
      "vec_id", "embedding", 1, nBits = 2, nTables = 8, dim = 4).collect()
    assert(knn.nonEmpty)
    assert(knn.head.getAs[Long]("query_id") == 1L)
    assert(knn.head.getAs[Long]("nn_id") == 2L)
  }

  test("annKnn: recall >= 0.9 vs brute force on the embeddings fixture, shuffle-only plan") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = e.filter($"vec_id" < 20)
    val k = 5
    // force the no-broadcast path: at fixture scale Spark would broadcast
    // the tiny corpus, but at 100 TB it cannot — assert the operator is
    // correct on the pure shuffle plan it would actually run at scale
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // fixture vectors are near-orthogonal (hardest LSH regime) → 16
      // tables; corpora with true near-dups need far fewer
      val ann = Similarity.annKnn(e, queries, "vec_id", "embedding", k,
        nBits = 0, nTables = 16, dim = 64, seed = 7L)
      assert(!ann.queryExecution.executedPlan.toString.contains("BroadcastExchange"),
        "corpus side must not be broadcast")
      val annPairs = ann.select("query_id", "nn_id")
        .as[(Long, Long)].collect().toSet
      val exact = Similarity.bruteForceKnn(e, queries, "vec_id", "embedding", k)
        .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
      val recall = annPairs.intersect(exact).size.toDouble / exact.size
      assert(recall >= 0.9, s"recall $recall < 0.9 (${annPairs.size} ann, ${exact.size} exact)")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("annPairsTopK: pruned regime recall >= 0.8; exhaustive regime equals brute force") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val k = 20
    val exact = Similarity.bruteForcePairsTopK(e, "vec_id", "embedding", k)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // pruned regime: 12 tables, auto-sized buckets — the shape c7 ran
    // before the oracle upgrade; recall floor on the near-orthogonal
    // fixture (hardest LSH regime)
    val pruned = Similarity.annPairsTopK(e, "vec_id", "embedding", k,
        nBits = 0, nTables = 12, dim = 64, seed = 7L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val recall = pruned.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"pruned pair recall $recall < 0.8")
    // exhaustive regime (the c7 driver query): 48 tables × 4 pinned bits
    // reach total recall → pair-for-pair equal to brute force, which is
    // what lets c7 share c5's DuckDB oracle
    val exhaustive = Similarity.annPairsTopK(e, "vec_id", "embedding", k,
        nBits = 4, nTables = 48, dim = 64, seed = 7L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exhaustive == exact,
      s"missing: ${exact.diff(exhaustive)}; extra: ${exhaustive.diff(exact)}")
  }

  test("ivfKnn: recall >= 0.8 vs brute force; full probe is exhaustive") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = e.filter($"vec_id" < 20)
    val k = 5
    val exact = Similarity.bruteForceKnn(e, queries, "vec_id", "embedding", k)
      .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    // near-orthogonal fixture scatters neighbors across cells (worst
    // case for IVF) → probe half the cells; clustered corpora need fewer
    val ivf = Similarity.ivfKnn(e, queries, "vec_id", "embedding", k,
        nCells = 16, nProbe = 8, seed = 7L)
      .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF recall $recall < 0.8")
    // probing ALL cells makes IVF exhaustive — must equal brute force
    val full = Similarity.ivfKnn(e, queries, "vec_id", "embedding", k,
        nCells = 8, nProbe = 8, seed = 7L)
      .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    assert(full == exact)
  }

  test("c94 recall curve: monotone in nProbe, exactly 1.0 at full probe") {
    // the query's two provable invariants: a truth row in any candidate
    // subset outranks at most its 9 global superiors, so enlarging the
    // probed-cell set can only add hits (monotone), and probing all 16
    // cells makes IVF exhaustive (recall exactly 1.0)
    val out = SparkEntry.queries("c94_recall_curve")(
        spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => r.getAs[Int]("n_probe") -> r.getAs[Double]("recall_at_10"))
    assert(out.map(_._1).toSeq == Seq(1, 2, 4, 16), s"probe sweep: ${out.toSeq}")
    assert(out.sliding(2).forall(w => w(0)._2 <= w(1)._2),
      s"recall not monotone in nProbe: ${out.toSeq}")
    assert(out.last._2 == 1.0, s"full probe must be exhaustive: ${out.toSeq}")
  }

  test("ivfKnnSweepFromCentroids: every arm equals the per-arm " +
    "ivfKnnFromCentroids (round-16 sweep restructure)") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = e.filter($"vec_id" % 37 === 0).select("vec_id", "embedding")
    val cents = Similarity.ivfTrainCentroids(e, "embedding", nCells = 16,
      seed = 7L)
    val arms = Similarity.ivfKnnSweepFromCentroids(e, queries, "vec_id",
      "embedding", k = 10, cents, probeCounts = Seq(1, 2, 4, 16))
    arms.foreach { case (p, arm) =>
      val got = arm.select("query_id", "nn_id", "cosine", "rank")
        .collect().map(_.toSeq).toSet
      val want = Similarity.ivfKnnFromCentroids(e, queries, "vec_id",
          "embedding", k = 10, cents, nProbe = p)
        .select("query_id", "nn_id", "cosine", "rank")
        .collect().map(_.toSeq).toSet
      assert(got == want, s"sweep arm nProbe=$p diverges from plain path")
    }
    graft.operators.Ckpt.releaseIssued(spark)
  }

  test("pqKnn: pruned rerank recall >= 0.8 vs brute force; unbounded rerank is exact") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = e.filter($"vec_id" < 20)
    val k = 5
    val exact = Similarity.bruteForceKnn(e, queries, "vec_id", "embedding", k)
      .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    // pruned regime: ADC shortlist of 50, exact rerank — the serving
    // shape. Near-orthogonal fixture is PQ's worst case (all cosines
    // near 0, quantization error comparable to the signal), hence 4-dim
    // subspaces (m=16) and a generous shortlist relative to corpus
    // size; clustered corpora get away with far coarser codes.
    val pruned = Similarity.pqKnn(e, queries, "vec_id", "embedding", k,
        dim = 64, m = 16, ksub = 16, rerank = 50, seed = 7L)
      .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    val recall = pruned.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"PQ recall $recall < 0.8")
    // unbounded rerank keeps every row through the exact stage → must
    // equal brute force rank-for-rank regardless of codebook quality
    // (what lets c42 share the exact-kNN DuckDB oracle)
    val full = Similarity.pqKnn(e, queries, "vec_id", "embedding", k,
        dim = 64, m = 8, ksub = 16, rerank = Int.MaxValue, seed = 7L)
      .select("query_id", "nn_id", "rank").as[(Long, Long, Int)].collect().toSet
    val exactRanked = Similarity.bruteForceKnn(e, queries, "vec_id", "embedding", k)
      .select("query_id", "nn_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(full == exactRanked,
      s"missing: ${exactRanked.diff(full)}; extra: ${full.diff(exactRanked)}")
  }

  test("ivfPqKnn: pruned cells+rerank recall >= 0.8; probe-all + unbounded rerank is exact") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = e.filter($"vec_id" < 20)
    val k = 5
    val exactRanked = Similarity.bruteForceKnn(e, queries, "vec_id", "embedding", k)
      .select("query_id", "nn_id", "rank").as[(Long, Long, Int)].collect().toSet
    // pruned serving regime: half the cells probed, fine subspaces
    // (m=16 — the PQ worst case on near-orthogonal data, see pqKnn),
    // shortlist 100 → exact rerank. The two prunings COMPOUND (a true
    // neighbor must land in a probed cell AND survive the ADC
    // shortlist), so on this hardest-case fixture the shortlist is
    // wider than pqKnn's; clustered corpora need far less.
    val exact = exactRanked.map(t => (t._1, t._2))
    // residual encoding: codes quantize v − c_cell
    val pruned = Similarity.ivfPqKnn(e, queries, "vec_id", "embedding", k,
        dim = 64, nCells = 16, nProbe = 8, m = 16, ksub = 16, rerank = 100, seed = 7L)
      .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    val recall = pruned.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF-PQ residual recall $recall < 0.8")
    // probe-all + unbounded rerank: every row scanned, every row
    // reranked exactly → equals brute force rank-for-rank regardless of
    // either quantizer's quality (what lets c44 share the kNN oracle)
    val fullDf = Similarity.ivfPqKnn(e, queries, "vec_id", "embedding", k,
        dim = 64, nCells = 8, nProbe = 8, m = 8, ksub = 16,
        rerank = Int.MaxValue, seed = 7L)
    // plan shape: the probed-cell scan is an EQUI-join on the cell id —
    // a hash join, never a cartesian/nested-loop scan of the corpus
    // (pqKnn's crossJoin-against-broadcast-queries is the contrast)
    val plan = fullDf.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "cell join degenerated to cartesian")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "cell join degenerated to BNLJ")
    val full = fullDf
      .select("query_id", "nn_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(full == exactRanked,
      s"missing: ${exactRanked.diff(full)}; extra: ${full.diff(exactRanked)}")
  }

  test("srp signatures pack into a long: >31 bits stay distinct, 64 rejected") {
    // with 33 hyperplanes an Int shift would wrap at bit 31; a vector on
    // the positive side of every plane must get bucket 2^33-1, not -1
    val planes = Seq.fill(33)(Seq(1.0, 0.0))  // all planes = +x axis
    val df = Seq((1L, Seq(5.0, 1.0)), (2L, Seq(-5.0, 1.0))).toDF("id", "v")
    val sigs = df.select($"id", Similarity.srpSignature($"v", planes).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == (1L << 33) - 1)
    assert(sigs(2L) == 0L)
    assertThrows[IllegalArgumentException] {
      Similarity.srpSignature($"v", Seq.fill(64)(Seq(1.0, 0.0)))
    }
  }

  test("zero-norm vectors don't crash ANSI mode and are never neighbors") {
    val withZero = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(2.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 0.0f, 0.0f, 0.0f))   // failed-encoder row
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.bruteForcePairsTopK(withZero, "vec_id", "embedding", 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))  // the zero vector pairs with no one
    val knn = Similarity.bruteForceKnn(withZero, withZero, "vec_id", "embedding", 2)
      .select("query_id", "nn_id").as[(Long, Long)].collect()
    assert(!knn.exists(_._2 == 3L))
    val kept = graft.operators.Dedup.embeddingDedup(withZero, "vec_id", "embedding", 0.5)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))  // 2 dropped as dup of 1; zero row survives
  }

  test("rrfFuse: hand-computed fusion, one-list ids kept, topK cut") {
    import org.apache.spark.sql.functions._
    // list A ranks 10,11,12; list B ranks 11,10 — 10 and 11 fuse the
    // same rank multiset {1,2} (equal scores → id-asc tie-break);
    // 12 trails with a single vote
    val a = Seq((10L, 1), (11L, 2), (12L, 3)).toDF("id", "rank")
    val b = Seq((11L, 1), (10L, 2)).toDF("id", "rank")
    val out = Similarity.rrfFuse(Seq(a, b), "id", "rank", kConst = 60)
      .orderBy(desc("rrf"), asc("id")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    def s(ranks: Int*) = ranks.map(r => 1.0 / (60.0 + r)).sum
    assert(out.map(_._1).toSeq == Seq(10L, 11L, 12L))
    assert(math.abs(out(0)._2 - s(1, 2)) < 1e-6)
    assert(math.abs(out(1)._2 - s(2, 1)) < 1e-6)
    assert(math.abs(out(2)._2 - s(3)) < 1e-6)   // only list A voted
    assert(out.map(_._3).toSeq == Seq(2L, 2L, 1L))
    // topK truncates by fused score (tie → id asc keeps 10)
    assert(Similarity.rrfFuse(Seq(a, b), "id", "rank", topK = 1)
      .collect().head.getLong(0) == 10L)
  }

  test("hardNegatives: band excludes positives and floor, ranks within band") {
    // anchor (1,0); corpus cosines = first component: dup 1.0 and 0.9
    // are positives (>= hi), -0.3 is below the floor, 0.5/0.2 are the
    // band's hard negatives in that order
    val corpus = Seq(
      (10L, Seq(1.0, 0.0)), (11L, Seq(0.9, math.sqrt(1 - 0.81))),
      (12L, Seq(0.5, math.sqrt(0.75))), (13L, Seq(0.2, math.sqrt(0.96))),
      (14L, Seq(-0.3, math.sqrt(0.91)))
    ).toDF("vec_id", "embedding")
    val anchors = Seq((1L, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    val out = Similarity.hardNegatives(corpus, anchors, "vec_id", "embedding",
        k = 5, lo = 0.0, hi = 0.8)
      .collect().map(r => (r.getAs[Long]("neg_id"), r.getAs[Int]("rank"),
        r.getAs[Double]("cosine")))
    assert(out.map(t => t._1 -> t._2).toSeq == Seq(12L -> 1, 13L -> 2))
    assert(math.abs(out(0)._3 - 0.5) < 1e-9 && math.abs(out(1)._3 - 0.2) < 1e-9)
    // k cuts the band, highest-cosine negatives first
    val k1 = Similarity.hardNegatives(corpus, anchors, "vec_id", "embedding",
      k = 1, lo = 0.0, hi = 0.8).collect()
    assert(k1.map(_.getAs[Long]("neg_id")).toSeq == Seq(12L))
    assertThrows[IllegalArgumentException] {
      Similarity.hardNegatives(corpus, anchors, "vec_id", "embedding", 5, 0.5, 0.5)
    }
  }

  test("centroidSimilarity: hand-computed centroid cosines, a<b pairs only") {
    val df = Seq(
      ("A", Seq(1.0, 0.0)), ("A", Seq(1.0, 0.0)),   // centroid (1, 0)
      ("B", Seq(0.0, 1.0)), ("B", Seq(0.0, 2.0)),   // centroid (0, 1.5)
      ("C", Seq(1.0, 1.0)), ("C", Seq(1.0, 1.0))    // centroid (1, 1)
    ).toDF("label", "embedding")
    val out = Similarity.centroidSimilarity(df, "label", "embedding")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double]("cosine"))
      .toMap
    assert(out.keySet == Set(("A", "B"), ("A", "C"), ("B", "C")))
    assert(math.abs(out(("A", "B"))) < 1e-12)
    assert(math.abs(out(("A", "C")) - 1.0 / math.sqrt(2)) < 1e-12)
    assert(math.abs(out(("B", "C")) - 1.0 / math.sqrt(2)) < 1e-12)
  }

  test("covarianceMatrix: hand-computed 2x2 covariance, upper triangle only") {
    // vectors (1,0), (0,1), (1,1): means (2/3, 2/3); var = 2/3 - 4/9 =
    // 2/9 on both dims; cov01 = 1/3 - 4/9 = -1/9
    val df = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, 1.0)).toDF("embedding")
    val out = Similarity.covarianceMatrix(df, "embedding")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(out.keySet == Set((0, 0), (0, 1), (1, 1)))
    assert(math.abs(out((0, 0)) - 2.0 / 9) < 1e-12)
    assert(math.abs(out((1, 1)) - 2.0 / 9) < 1e-12)
    assert(math.abs(out((0, 1)) + 1.0 / 9) < 1e-12)
  }

  test("covarianceMatrix: empty and all-null corpora yield an empty relation") {
    val empty = Seq.empty[Seq[Double]].toDF("embedding")
    assert(Similarity.covarianceMatrix(empty, "embedding").count() == 0)
    val allNull = Seq(Option.empty[Seq[Double]], None).toDF("embedding")
    assert(Similarity.covarianceMatrix(allNull, "embedding").count() == 0)
  }

  test("pcaProject: recovers a planted principal axis; variance ordering holds") {
    import org.apache.spark.sql.functions._
    // points t·(0.6, 0.8), t ∈ -2..2: the principal axis is (0.6, 0.8)
    // (sign-normalized), eigenvalues {2, 0}; centered projection = t
    val df = Seq(-2.0, -1.0, 0.0, 1.0, 2.0)
      .map(t => (t, Seq(t * 0.6, t * 0.8)))
      .toDF("t", "embedding")
    val out = Similarity.pcaProject(df, "t", "embedding", k = 2)
      .select(col("t"), col("pc")).collect()
      .map(r => r.getDouble(0) -> r.getSeq[Double](1)).toMap
    for (t <- Seq(-2.0, -1.0, 0.0, 1.0, 2.0)) {
      assert(math.abs(out(t).head - t) < 1e-9, s"pc1($t) = ${out(t).head}")
      assert(math.abs(out(t)(1)) < 1e-9, s"pc2($t) should be 0")
    }
    // real fixture: explained variance must be ordered and positive
    val e = TestSpark.spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pcs = Similarity.pcaProject(e, "vec_id", "embedding", k = 2)
      .select(element_at(col("pc"), 1).as("p1"), element_at(col("pc"), 2).as("p2"))
      .agg(var_samp(col("p1")).as("v1"), var_samp(col("p2")).as("v2"))
      .collect().head
    assert(pcs.getDouble(0) >= pcs.getDouble(1) && pcs.getDouble(1) > 0.0)
  }

  test("PCA retrieval: top-16-of-64 keeps recall@10 >= 0.9 on low-rank data") {
    // the trade c66 exists for: when the corpus HAS low-rank structure
    // (a 16-dim signal subspace + small isotropic noise), searching in
    // the 4×-smaller PCA space preserves the neighbors. (Measured on
    // the near-ISOTROPIC embeddings fixture the same cut legitimately
    // collapses recall — 0.49 at 32 dims, 0.83 at 56 — dimensionality
    // reduction cannot manufacture structure that isn't there.)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val vecs = (0 until 300).map { i =>
      (i.toLong, Array.tabulate(64) { j =>
        if (j < 16) math.sin(1.0 + i * (j + 2) * 0.37)            // signal
        else 0.05 * math.cos(1.0 + i * (j + 3) * 0.53)            // noise
      }.toSeq)
    }.toDF("vec_id", "embedding")
    val k = 10
    val exact = Similarity.bruteForceKnn(vecs, vecs.filter($"vec_id" < 20),
        "vec_id", "embedding", k)
      .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    val proj = Similarity.pcaProject(vecs, "vec_id", "embedding", k = 16)
      .select(col("vec_id"), col("pc").as("embedding"))
    val approx = Similarity.bruteForceKnn(proj, proj.filter($"vec_id" < 20),
        "vec_id", "embedding", k)
      .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    val recall = approx.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"PCA retrieval recall $recall < 0.9")
  }

  test("cosine of opposite vectors is -1") {
    import org.apache.spark.sql.functions._
    val df = vecs.filter($"vec_id".isin(1L, 4L))
      .agg(collect_list($"embedding").as("vs"))
      .select(Similarity.cosine(
        element_at($"vs", 1).cast("array<double>"),
        element_at($"vs", 2).cast("array<double>")).as("c"))
    assert(math.abs(df.collect().head.getDouble(0) + 1.0) < 1e-12)
  }

  test("AnnIndex: persisted PQ index answers identically to the in-memory path") {
    import graft.operators.AnnIndex
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = e.filter($"vec_id" < 5)
    val (k, dim, m, ksub) = (10, 64, 8, 16)
    // in-memory: train + encode + search in one session
    val codebooks = Similarity.pqTrain(e, "embedding", dim, m, ksub, seed = 7L)
    val coded = Similarity.pqEncode(e, "vec_id", "embedding", codebooks, dim)
    val inMem = Similarity.pqSearch(coded, codebooks, e, queries,
        "vec_id", "embedding", k, dim, ksub, rerank = 50)
      .select("query_id", "nn_id", "rank").as[(Long, Long, Int)]
      .collect().toSet
    // persisted: write model + codes, reload BOTH from parquet, search
    val root = java.nio.file.Files
      .createTempDirectory("graft-annindex-pq").toString
    AnnIndex.save(spark, root, codebooks, coded)
    val cb2 = AnnIndex.loadCodebooks(spark, root)
    assert(cb2 == codebooks, "codebooks must round-trip bit-exactly")
    assert(AnnIndex.loadCoarse(spark, root).isEmpty)
    val reloaded = Similarity.pqSearch(AnnIndex.loadCodes(spark, root), cb2,
        e, queries, "vec_id", "embedding", k, dim, ksub, rerank = 50)
      .select("query_id", "nn_id", "rank").as[(Long, Long, Int)]
      .collect().toSet
    assert(reloaded == inMem,
      s"persisted path diverges: ${reloaded.diff(inMem)} vs ${inMem.diff(reloaded)}")
  }

  test("AnnIndex: persisted IVF+PQ index (residual) answers identically") {
    import graft.operators.AnnIndex
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = e.filter($"vec_id" < 5)
    val (k, dim, nCells, nProbe, m, ksub) = (10, 64, 16, 8, 16, 16)
    val (coarse, codebooks) = Similarity.ivfPqTrain(e, "embedding", dim,
      nCells, m, ksub, seed = 7L)
    val coded = Similarity.ivfPqEncode(e, "vec_id", "embedding", coarse,
      codebooks, dim)
    val inMem = Similarity.ivfPqSearch(coded, coarse, codebooks, e, queries,
        "vec_id", "embedding", k, dim, nProbe, ksub, rerank = 100)
      .select("query_id", "nn_id", "rank").as[(Long, Long, Int)]
      .collect().toSet
    val root = java.nio.file.Files
      .createTempDirectory("graft-annindex-ivfpq").toString
    AnnIndex.save(spark, root, codebooks, coded, coarse = Some(coarse))
    val cb2 = AnnIndex.loadCodebooks(spark, root)
    val coarse2 = AnnIndex.loadCoarse(spark, root)
    assert(cb2 == codebooks && coarse2 == coarse,
      "model must round-trip bit-exactly")
    val reloaded = Similarity.ivfPqSearch(AnnIndex.loadCodes(spark, root),
        coarse2, cb2, e, queries, "vec_id", "embedding", k, dim, nProbe,
        ksub, rerank = 100)
      .select("query_id", "nn_id", "rank").as[(Long, Long, Int)]
      .collect().toSet
    assert(reloaded == inMem,
      s"persisted path diverges: ${reloaded.diff(inMem)} vs ${inMem.diff(reloaded)}")
  }

  test("randomProject: unit vectors extract matrix rows; JL distortion bounded") {
    import org.apache.spark.sql.functions._
    val (dim, k) = (64, 16)
    val m = Similarity.rademacherMatrix(dim, k, seed = 7L)
    // every entry is exactly ±1/√k, and the seed matters
    val s = 1.0 / math.sqrt(k.toDouble)
    assert(m.flatten.forall(v => v == s || v == -s))
    assert(Similarity.rademacherMatrix(dim, k, seed = 8L).flatten.toSeq !=
      m.flatten.toSeq, "different seeds must give different matrices")
    assert(Similarity.rademacherMatrix(dim, k, seed = 7L).flatten.toSeq ==
      m.flatten.toSeq, "same seed must reproduce the matrix")
    // projecting unit vector e_i reads back row i of the matrix exactly
    // (the dot degenerates to one term — no float ambiguity)
    val units = Seq(0, 17, 63).map(i =>
      (i.toLong, Array.tabulate(dim)(d => if (d == i) 1.0f else 0.0f).toSeq))
      .toDF("vec_id", "embedding")
    Similarity.randomProject(units, "vec_id", "embedding", k, dim)
      .collect().foreach { r =>
        val i = r.getLong(0).toInt
        assert(r.getSeq[Double](1) == m(i).toSeq, s"row $i mismatch")
      }
    // JL on the fixture: squared pairwise distances at k=16 stay within
    // a loose distortion band and are unbiased on average
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .filter($"vec_id" < 40)
    val orig = e.select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .as[(Long, Seq[Double])].collect().toMap
    val proj = Similarity.randomProject(e, "vec_id", "embedding", k, dim)
      .as[(Long, Seq[Double])].collect().toMap
    def d2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ratios = for {
      a <- orig.keys.toSeq.sorted; b <- orig.keys.toSeq.sorted if a < b
    } yield d2(proj(a), proj(b)) / d2(orig(a), orig(b))
    assert(ratios.forall(r => r > 0.2 && r < 3.0),
      s"distortion out of band: min=${ratios.min} max=${ratios.max}")
    val mean = ratios.sum / ratios.size
    assert(mean > 0.8 && mean < 1.25, s"distance ratio biased: mean=$mean")
  }

  test("AnnIndex.ingestStream: streamed-in codes equal a single-shot full encode") {
    import graft.operators.AnnIndex
    import graft.streaming.Streams
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val (k, dim, m, ksub) = (10, 64, 8, 16)
    val base = e.filter($"vec_id" % 5 =!= 0)
    val fresh = e.filter($"vec_id" % 5 === 0).select("vec_id", "embedding")
    // the model is trained on the BASE slice and frozen — the whole
    // point: new arrivals never retrain or re-encode the corpus
    val codebooks = Similarity.pqTrain(base, "embedding", dim, m, ksub, seed = 7L)
    val root = java.nio.file.Files
      .createTempDirectory("graft-annindex-ingest").toString
    AnnIndex.save(spark, root, codebooks,
      Similarity.pqEncode(base, "vec_id", "embedding", codebooks, dim))
    val schema = Streams.writeOrderedReplay(fresh, "vec_id", 4, s"$root/replay")
    AnnIndex.ingestStream(spark,
      Streams.replayStream(spark, s"$root/replay", schema, maxFilesPerTrigger = 1),
      root, Similarity.pqEncode(_, "vec_id", "embedding", codebooks, dim))
    // codes relation now covers base + every streamed batch, each id once
    val ingested = AnnIndex.loadCodes(spark, root)
    assert(ingested.count() == e.count(), "ingest must cover the full corpus")
    assert(ingested.select("nn_id").distinct().count() == e.count(),
      "no id may be double-appended")
    // and encodes IDENTICALLY to a from-scratch single-shot encode
    val direct = Similarity.pqEncode(e, "vec_id", "embedding", codebooks, dim)
      .as[(Long, Seq[Int], Double)].collect().toSet
    val streamed = ingested.as[(Long, Seq[Int], Double)].collect().toSet
    assert(streamed == direct,
      s"streamed codes diverge: ${streamed.diff(direct).take(3)}")
    // served top-k from the ingested index == in-memory search on the
    // full corpus under the same frozen model
    val queries = e.filter($"vec_id" < 5)
    val served = Similarity.pqSearch(ingested, AnnIndex.loadCodebooks(spark, root),
        e, queries, "vec_id", "embedding", k, dim, ksub, rerank = 50)
      .select("query_id", "nn_id", "rank").as[(Long, Long, Int)]
      .collect().toSet
    val inMem = Similarity.pqSearch(
        Similarity.pqEncode(e, "vec_id", "embedding", codebooks, dim), codebooks,
        e, queries, "vec_id", "embedding", k, dim, ksub, rerank = 50)
      .select("query_id", "nn_id", "rank").as[(Long, Long, Int)]
      .collect().toSet
    assert(served == inMem,
      s"ingested index diverges: ${served.diff(inMem)} vs ${inMem.diff(served)}")
    Tables.deleteRecursively(root)
  }

  test("assignCells + mixtureSample: diversity draw caps per cell, deterministic (c80)") {
    import org.apache.spark.sql.functions._
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    def draw(df: org.apache.spark.sql.DataFrame): Seq[(Int, Long, Int)] = {
      val celled = Similarity.assignCells(df, "embedding", "cell",
          nCells = 4, seed = 7L)
        .select(col("vec_id").cast("long").as("vec_id"), col("cell"))
      val quotas = celled.select("cell").distinct()
        .withColumn("quota", lit(5L))
      graft.operators.Curation.mixtureSample(celled, "vec_id", "cell",
          quotas, "quota", seed = 7L)
        .orderBy("cell", "rk")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSeq
    }
    val got = draw(e)
    assert(got.nonEmpty)
    // cap respected per cell; ranks contiguous from 1
    got.groupBy(_._1).foreach { case (cell, rows) =>
      assert(rows.length <= 5, s"cell $cell drew ${rows.length} > quota")
      assert(rows.map(_._3).sorted == (1 to rows.length).toList,
        s"cell $cell ranks not contiguous: ${rows.map(_._3)}")
    }
    // every cell with members contributes (balanced coverage), and
    // the draw is invariant under a different physical partitioning
    assert(got.map(_._1).distinct.length >= 2, "expected multiple cells")
    assert(draw(e.repartition(7)) == got, "draw must be partition-invariant")
  }

  test("shardedKnn equals bruteForceKnn for ANY shard count (top-k distribution law)") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    // 24 deterministic 4-dim vectors with varied directions
    val e = (0L until 24L).map { i =>
      (i, Seq((i % 5).toFloat + 0.1f, (i % 7).toFloat - 3f,
        (i % 3).toFloat, 1f))
    }.toDF("vec_id", "embedding")
    val q = e.filter($"vec_id" < 6)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "nn_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val truth = canon(Similarity.bruteForceKnn(e, q, "vec_id", "embedding", 3))
    for (nShards <- Seq(1, 2, 4, 7)) {
      val sharded = canon(Similarity.shardedKnn(e, q, "vec_id", "embedding", 3,
        graft.operators.Curation.rendezvousShard(col("vec_id"), nShards, 7)))
      assert(sharded == truth, s"nShards=$nShards diverged from brute force")
    }
  }

  test("semanticDecontam: planted near-benchmark vector flags, zero vector never does") {
    val spark2 = spark
    import spark2.implicits._
    val bench = Seq((100L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Seq(0.99f, 0.14f)),  // cos ≈ 0.990 → flagged at 0.9
      (2L, Seq(0.0f, 1.0f)),    // orthogonal
      (3L, Seq(-1.0f, 0.0f)),   // opposite
      (4L, Seq(0.0f, 0.0f))     // zero vector: cosineOrNull excludes it
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDecontam(corpus, bench, "vec_id", "embedding",
        threshold = 0.9)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.keySet == Set(1L), s"got $out")
    assert(out(1L) > 0.98 && out(1L) <= 1.0)
    // boundary: threshold above the planted cosine flags nothing
    assert(Similarity.semanticDecontam(corpus, bench, "vec_id", "embedding",
      threshold = 0.999).count() == 0L)
  }

  test("index save records the written schema faithfully: the cached " +
    "entry equals a fresh footer inference for every artifact path " +
    "(round 17, ADVICE r16 — no stale cache, no re-inference)") {
    import graft.operators.{AnnIndex, DedupIndex}
    val spark2 = spark
    import spark2.implicits._
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val codebooks = Similarity.pqTrain(e, "embedding", 64, 8, 16, seed = 7L)
    val coded = Similarity.pqEncode(e, "vec_id", "embedding", codebooks, 64)
    val annRoot = java.nio.file.Files
      .createTempDirectory("graft-schema-ann").toString
    AnnIndex.save(spark, annRoot, codebooks, coded)
    val corpus = Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta"))
      .toDF("doc_id", "text")
    val dedupRoot = java.nio.file.Files
      .createTempDirectory("graft-schema-dedup").toString
    DedupIndex.save(spark, dedupRoot, corpus, "doc_id", "text", shingleN = 3)
    for (p <- Seq(s"$annRoot/model", s"$annRoot/codes",
                  s"$dedupRoot/index", s"$dedupRoot/ids")) {
      val cached = Tables.parquetSchema(spark, p) // the recorded entry
      val fresh = spark.read.parquet(p).schema    // footer inference
      assert(cached == fresh,
        s"recorded schema for $p diverges from fresh inference:\n" +
          s"  recorded $cached\n  inferred $fresh")
    }
    Tables.deleteRecursively(annRoot)
    Tables.deleteRecursively(dedupRoot)
  }
}
