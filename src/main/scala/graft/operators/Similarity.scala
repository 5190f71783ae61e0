package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.dot_product

/** Vector similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - brute-force cosine top-k: exact; the baseline and the verifier.
  *    All math is built-in higher-order functions (zip_with + aggregate)
  *    — codegen-friendly, no UDFs, vectors never leave the executors.
  *  - LSH (random hyperplane / SRP) bucketed: approximate; candidates
  *    meet only within matching signature buckets, so the join shuffles
  *    (bucket, id, vec) instead of forming the full cross product. This
  *    is the 100 TB path: bucket count scales with corpus size while
  *    per-bucket work stays bounded.
  *
  * Hyperplanes are generated driver-side from a fixed seed (deterministic
  * across runs) and shipped as literals — they are tiny (nBits × dim).
  */
object Similarity {

  /** Dot product of two array<double> columns — a custom codegen'd
    * Catalyst expression (graft.functions.DotProduct): the higher-order
    * `aggregate(zip_with(...))` form evaluates interpreted per element
    * and measured ~20× slower on the sf0.1 bench. */
  def dot(a: Column, b: Column): Column = dot_product(a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Cosine from a precomputed dot product and norms, NULL when either
    * norm is zero. The session runs ANSI mode (Spark 4 default), where a
    * plain divide by a zero norm-product would abort the whole job with
    * DIVIDE_BY_ZERO — one all-zero embedding (a failed upstream encoder
    * is common at corpus scale) must degrade to "non-comparable row",
    * not kill a 100 TB pass. NULL cosine fails every `>= threshold`
    * predicate, so zero vectors are never reported as anyone's
    * neighbor/duplicate; ranked outputs filter NULL explicitly. */
  def cosineOrNull(dotv: Column, na: Column, nb: Column): Column =
    when(na * nb === 0.0, lit(null).cast("double"))
      .otherwise(dotv / (na * nb))

  /** Exact top-k most-similar pairs (id_a < id_b) by cosine over the
    * whole corpus. O(n²) — the correctness baseline; use `annTopK` at
    * scale. Norms are precomputed once per row so the pair-stage does
    * only the dot product. */
  def bruteForcePairsTopK(df: DataFrame, idCol: String, vecCol: String,
                          k: Int): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("norm", l2norm(col("v")))
    val a = v.select(col("id").as("id_a"), col("v").as("va"), col("norm").as("na"))
    val b = v.select(col("id").as("id_b"), col("v").as("vb"), col("norm").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineOrNull(dot(col("va"), col("vb")), col("na"), col("nb")).as("cosine"))
      .filter(col("cosine").isNotNull)
      .orderBy(desc("cosine"), asc("id_a"), asc("id_b"))
      .limit(k)
  }

  /** Semantic benchmark decontamination: corpus vectors whose max
    * cosine to ANY benchmark vector reaches `threshold` — the
    * embedding-space member of the decontamination family (word-shingle
    * c25, bloom c93, span c67, char c77, streaming s15): lexical overlap
    * misses a PARAPHRASED eval item, embedding similarity catches it.
    * Exact tier, oracle-checkable.
    *
    * Scale shape: the benchmark side is model-sized (an eval set) and
    * BROADCASTS; the corpus streams through one codegen dot-product
    * projection and a map-side-combined per-id max — nothing wider than
    * (id, max) shuffles and the corpus is scanned once. At 100 TB the
    * recall pre-filter is the bucketed SRP-LSH join (the c14 machinery)
    * with this exact max as its verify stage. */
  def semanticDecontam(corpus: DataFrame, bench: DataFrame, idCol: String,
                       vecCol: String, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"cosine threshold must be in (0, 1], got $threshold")
    val b = bench.select(col(vecCol).cast("array<double>").as("bv"))
      .withColumn("bn", l2norm(col("bv")))
    val c = corpus.select(col(idCol), col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", l2norm(col("cv")))
    c.crossJoin(broadcast(b))
      .select(col(idCol),
        cosineOrNull(dot(col("cv"), col("bv")), col("cn"), col("bn")).as("_c"))
      .filter(col("_c").isNotNull)
      .groupBy(col(idCol))
      .agg(max(col("_c")).as("max_cos"))
      .filter(col("max_cos") >= threshold)
  }

  /** Exact top-k neighbors for each row of `queries` against `corpus`
    * (brute force, ranked per query). */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", l2norm(col("cv")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", l2norm(col("qv")))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("nn_id"))
    q.join(broadcast(c), col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("nn_id"),
        cosineOrNull(dot(col("qv"), col("cv")), col("qn"), col("cn")).as("cosine"))
      .filter(col("cosine").isNotNull)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Scatter-gather kNN: the corpus is split into shards (caller
    * supplies the shard expression — rendezvous/HRW in the c110
    * configuration), each shard is searched INDEPENDENTLY for its local
    * top-k, and the global answer is the top-k of the union. Exact by
    * the top-k distribution law: every global top-k neighbor is in its
    * own shard's local top-k, so the merge loses nothing — verified by
    * sharing the brute-force oracle. This is a SEMANTIC MODEL of the
    * distributed ANN serving shape (shard-local top-k windows + a
    * nShards×k-row merge): the scoring pass here is brute force over a
    * broadcast corpus — fine at index-build scale, where the corpus
    * fits an executor. In the real serving deployment each shard is an
    * executor-resident index (the c68 persisted artifacts, one per
    * shard) searched in parallel, and only nShards×k candidate rows
    * per query cross the wire to the merge; the shard-invariance this
    * function proves is what makes that merge exact.
    *
    * Scale shape: the local rank window partitions by (query, shard) —
    * each window chunk sorts one shard's candidates; the global rank
    * sees ≤ nShards×k rows per query. Tie-break (cosine DESC, id ASC)
    * totalizes both phases, so shard count can never change the
    * answer. */
  def shardedKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int, shardExpr: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = corpus.select(col(idCol).as("nn_id"),
        col(vecCol).cast("array<double>").as("cv"), shardExpr.as("shard"))
      .withColumn("cn", l2norm(col("cv")))
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", l2norm(col("qv")))
    val wLocal = Window.partitionBy("query_id", "shard")
      .orderBy(desc("cosine"), asc("nn_id"))
    val wGlobal = Window.partitionBy("query_id")
      .orderBy(desc("cosine"), asc("nn_id"))
    q.join(broadcast(c), col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("shard"), col("nn_id"),
        cosineOrNull(dot(col("qv"), col("cv")), col("qn"), col("cn")).as("cosine"))
      .filter(col("cosine").isNotNull)
      .withColumn("_lrank", row_number().over(wLocal))
      .filter(col("_lrank") <= k)
      .withColumn("rank", row_number().over(wGlobal))
      .filter(col("rank") <= k)
      .select("query_id", "nn_id", "cosine", "rank")
  }

  /** Hard-negative mining for contrastive training: for each anchor in
    * `queries`, the top-`k` corpus neighbors whose exact cosine lies in
    * [lo, hi) — close enough to be informative negatives, strictly
    * below the near-duplicate band (≥ hi) that marks positives, above
    * the uninformative floor (< lo). This is the pair miner behind
    * DPR/SimCSE-style embedding training batches.
    *
    * Scale shape: identical to [[bruteForceKnn]] (broadcast corpus,
    * one per-pair scoring pass, per-anchor rank window over the
    * band-filtered — hence small — candidate set). The band is a
    * per-pair predicate on the exact cosine, so it composes unchanged
    * over any candidate tier ([[annKnn]]/[[ivfKnn]]) when the corpus
    * outgrows a broadcast. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, lo: Double, hi: Double): DataFrame = {
    require(lo < hi, s"empty band [$lo, $hi)")
    import org.apache.spark.sql.expressions.Window
    val c = corpus.select(col(idCol).as("neg_id"), col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", l2norm(col("cv")))
    val q = queries.select(col(idCol).as("anchor_id"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", l2norm(col("qv")))
    val w = Window.partitionBy("anchor_id").orderBy(desc("cosine"), asc("neg_id"))
    q.join(broadcast(c), col("anchor_id") =!= col("neg_id"))
      .select(col("anchor_id"), col("neg_id"),
        cosineOrNull(dot(col("qv"), col("cv")), col("qn"), col("cn")).as("cosine"))
      .filter(col("cosine") >= lo && col("cosine") < hi)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Inter-domain similarity matrix: the per-`groupCol` embedding
    * centroid (element-wise mean), then the cosine between every
    * centroid pair — the domain map a mixture planner reads to decide
    * which sources overlap (near-parallel centroids ⇒ redundant
    * domains) and which add diversity. Output: (group_a, group_b,
    * cosine) for group_a < group_b.
    *
    * Scale shape: ONE posexplode of the corpus into (group, dim,
    * value) — corpus×dim rows but map-side-combined immediately into
    * the (groups × dim)-sized mean relation; centroid assembly sorts
    * the DIM-sized struct array per group, and the pairwise cosine
    * runs on the group-count-sized relation (model-sized by
    * construction, like [[rrfFuse]]'s inputs). The corpus itself is
    * touched exactly once. */
  def centroidSimilarity(df: DataFrame, groupCol: String,
                         vecCol: String): DataFrame = {
    val v = df.select(col(groupCol).as("_g"),
      posexplode(col(vecCol).cast("array<double>")))
    val cent = v.groupBy(col("_g"), col("pos")).agg(avg(col("col")).as("_m"))
      .groupBy(col("_g"))
      .agg(array_sort(collect_list(struct(col("pos"), col("_m")))).as("_sm"))
      .select(col("_g"), expr("transform(_sm, s -> s._m)").as("_mv"))
      .withColumn("_n", l2norm(col("_mv")))
    val a = cent.select(col("_g").as("group_a"), col("_mv").as("va"), col("_n").as("na"))
    val b = cent.select(col("_g").as("group_b"), col("_mv").as("vb"), col("_n").as("nb"))
    a.join(b, col("group_a") < col("group_b"))
      .select(col("group_a"), col("group_b"),
        cosineOrNull(dot(col("va"), col("vb")), col("na"), col("nb")).as("cosine"))
      .filter(col("cosine").isNotNull)
  }

  /** One-pass packed moment buffer behind [[covarianceMatrix]] /
    * [[pcaProject]]: per-dimension counts and sums plus per-upper-
    * triangle-cell counts and product sums, packed i ≤ j at
    * idx = j(j+1)/2 + i. Per-cell counts keep the ragged/null-element
    * semantics of the old exploded form: every cell averages over
    * exactly the rows that HAVE both elements non-null. Buffers are
    * MUTATED in place (Spark's ObjectHashAggregate holds one live
    * buffer object per partition; encoding happens only at merge
    * boundaries), so the hot loop is d(d+1)/2 fused multiply-adds per
    * row with no per-product row materialization. */
  private[operators] case class CovBuf(counts: Array[Long], sums: Array[Double],
                                       pcounts: Array[Long], prods: Array[Double])

  private[operators] class CovStatsAgg
      extends org.apache.spark.sql.expressions.Aggregator[Seq[java.lang.Double], CovBuf, CovBuf] {
    import org.apache.spark.sql.{Encoder, Encoders}
    override def zero: CovBuf = CovBuf(Array.emptyLongArray,
      Array.emptyDoubleArray, Array.emptyLongArray, Array.emptyDoubleArray)
    private def grow(b: CovBuf, d: Int): CovBuf =
      if (b.counts.length >= d) b
      else {
        val t = d * (d + 1) / 2
        CovBuf(java.util.Arrays.copyOf(b.counts, d),
          java.util.Arrays.copyOf(b.sums, d),
          java.util.Arrays.copyOf(b.pcounts, t),
          java.util.Arrays.copyOf(b.prods, t))
      }
    override def reduce(b0: CovBuf, in: Seq[java.lang.Double]): CovBuf = {
      if (in == null) return b0
      val d = in.size
      val b = grow(b0, d)
      val v = new Array[Double](d)
      var anyNull = false
      var i = 0
      while (i < d) {
        val x = in(i)
        if (x == null) anyNull = true else v(i) = x.doubleValue()
        i += 1
      }
      if (!anyNull) { // fast path: tight FMA over the packed triangle
        i = 0
        while (i < d) {
          b.counts(i) += 1; b.sums(i) += v(i)
          var j = i
          while (j < d) {
            val idx = j * (j + 1) / 2 + i
            b.pcounts(idx) += 1; b.prods(idx) += v(i) * v(j)
            j += 1
          }
          i += 1
        }
      } else { // null elements: skip exactly the cells the old form skipped
        i = 0
        while (i < d) {
          if (in(i) != null) {
            b.counts(i) += 1; b.sums(i) += v(i)
            var j = i
            while (j < d) {
              if (in(j) != null) {
                val idx = j * (j + 1) / 2 + i
                b.pcounts(idx) += 1; b.prods(idx) += v(i) * v(j)
              }
              j += 1
            }
          }
          i += 1
        }
      }
      b
    }
    override def merge(a0: CovBuf, c0: CovBuf): CovBuf = {
      val d = math.max(a0.counts.length, c0.counts.length)
      val a = grow(a0, d); val c = grow(c0, d)
      var i = 0
      while (i < d) { a.counts(i) += c.counts(i); a.sums(i) += c.sums(i); i += 1 }
      var t = 0
      while (t < a.pcounts.length) {
        a.pcounts(t) += c.pcounts(t); a.prods(t) += c.prods(t); t += 1
      }
      a
    }
    override def finish(b: CovBuf): CovBuf = b
    override def bufferEncoder: Encoder[CovBuf] = Encoders.product[CovBuf]
    override def outputEncoder: Encoder[CovBuf] = Encoders.product[CovBuf]
  }

  /** Run the one-pass moment aggregation and return the packed buffer.
    * Shared by [[covarianceMatrix]] (which tabulates the d² relation)
    * and [[pcaProject]] (which consumes means + covariance directly —
    * ONE corpus scan where the old form paid three). */
  private def covarianceStats(df: DataFrame, vecCol: String): CovBuf = {
    val covAgg = udaf(new CovStatsAgg)
    df.select(col(vecCol).cast("array<double>").as("_v"))
      .filter(col("_v").isNotNull)
      .agg(covAgg(col("_v")).as("_s"))
      .as(org.apache.spark.sql.Encoders.product[Tuple1[CovBuf]])
      .head()._1
  }

  /** Embedding covariance matrix (upper triangle): cov(i,j) =
    * E[x_i·x_j] − E[x_i]·E[x_j] — the first step of PCA / whitening /
    * anisotropy diagnosis over an embedding corpus (the eigensolve on
    * the d×d result is driver-side model math, the Lloyd's-fit
    * precedent). Output: (i, j, cov) for 0-based i ≤ j.
    *
    * EAGER (ADVICE r12): the one-pass moment aggregation runs at CALL
    * time — the corpus scan happens here, and the returned DataFrame is
    * a driver-local d²-row literal relation, not a deferred plan.
    * Callers that relied on plan-building-only semantics pay the scan
    * up front.
    *
    * Scale shape (round-12 rewrite, measured c65 2.9-3.2 → 0.8-0.9 s
    * and c66 2.9 → 0.8-0.9 s at sf0.1, ~3.4× both — ProbeSlow,
    * PLANS.md): ONE typed-Aggregator pass accumulates every per-dimension
    * and per-cell moment into a packed d(d+1)/2 buffer — tight
    * multiply-add loops per row instead of materializing d(d+1)/2
    * struct rows per row for the exploded groupBy (same FLOPs, none of
    * the per-product row overhead). The shuffle is ONE ~d² buffer per
    * partition (the old form's map-side combine also held a d²-sized
    * hash per partition, so memory is unchanged); the d²-row output
    * relation is model-sized and driver-tabulated, the Lloyd's/LSH
    * precedent. Value-identical to the exploded form up to float
    * summation order (both partition-order-dependent; pinned by a
    * generative equivalence test incl. ragged and null-element
    * corpora). */
  def covarianceMatrix(df: DataFrame, vecCol: String): DataFrame = {
    val spark = df.sparkSession
    val b = covarianceStats(df, vecCol)
    val d = b.counts.length
    val rows = for {
      j <- 0 until d
      i <- 0 to j
      idx = j * (j + 1) / 2 + i
      if b.pcounts(idx) > 0
    } yield org.apache.spark.sql.Row(i, j,
      b.prods(idx) / b.pcounts(idx) -
        (b.sums(i) / b.counts(i)) * (b.sums(j) / b.counts(j)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("i",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("j",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("cov",
          org.apache.spark.sql.types.DoubleType, nullable = false))))
  }

  /** Cyclic-Jacobi eigensolve of a symmetric matrix — driver-side
    * model math (d×d for embedding dims d; the Lloyd's-fit precedent).
    * Returns (eigenvalues, eigenvectors as rows), unsorted. */
  private[operators] def jacobiEigen(a0: Array[Array[Double]], sweeps: Int = 64)
      : (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var s = 0
    var off = Double.MaxValue
    while (s < sweeps && off > 1e-14) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          off += a(p)(q) * a(p)(q)
          if (math.abs(a(p)(q)) > 1e-18) {
            val theta = (a(q)(q) - a(p)(p)) / (2 * a(p)(q))
            val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1))
            val c = 1 / math.sqrt(t * t + 1); val sn = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - sn * akq; a(k)(q) = sn * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - sn * aqk; a(q)(k) = sn * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - sn * vkq; v(k)(q) = sn * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      s += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), Array.tabulate(d, d)((k, i) => v(i)(k)))
  }

  /** PCA projection: eigensolve the [[covarianceMatrix]] on the driver
    * (model-sized), then project every centered vector onto the top-`k`
    * components — dimensionality reduction for storage/ANN-recall
    * trade-offs and the whitening/anisotropy fix for embedding search.
    * Components are sign-normalized (first nonzero coordinate
    * positive) so output is deterministic. Adds `pc` (array of k
    * doubles).
    *
    * Scale shape: covariance + means are the c65 aggregations; the
    * eigensolve is driver-side d×d; the projection is a narrow codegen
    * projection against LITERAL component arrays — the corpus is
    * touched once for stats and once for projection, nothing else. */
  def pcaProject(df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val b = covarianceStats(df, vecCol)
    val d = b.counts.length
    require(k >= 1 && k <= d, s"k must be in [1, $d], got $k")
    val cov = Array.ofDim[Double](d, d)
    for (j <- 0 until d; i <- 0 to j) {
      val idx = j * (j + 1) / 2 + i
      if (b.pcounts(idx) > 0) {
        val c = b.prods(idx) / b.pcounts(idx) -
          (b.sums(i) / b.counts(i)) * (b.sums(j) / b.counts(j))
        cov(i)(j) = c; cov(j)(i) = c
      }
    }
    val means = Array.tabulate(d)(i =>
      if (b.counts(i) > 0) b.sums(i) / b.counts(i) else 0.0)
    val (evals, evecs) = jacobiEigen(cov)
    val top = evals.zipWithIndex.sortBy(-_._1).take(k).map { case (_, i) =>
      val vec = evecs(i)
      val lead = vec.find(math.abs(_) > 1e-12).getOrElse(1.0)
      if (lead < 0) vec.map(-_) else vec
    }
    val centered = expr(
      s"transform($vecCol, (x, i) -> cast(x as double) - element_at(_mu, i + 1))")
    val comps = top.map { vec =>
      dot(col("_c"), array(vec.map(lit(_)): _*))
    }
    df.withColumn("_mu", array(means.map(lit(_)): _*))
      .withColumn("_c", centered)
      .withColumn("pc", array(comps: _*))
      .drop("_mu", "_c")
  }

  /** Deterministic Rademacher (±1/√k) projection matrix for
    * [[randomProject]]: entry (i, j) takes its sign from a
    * splitmix64-style finalizer over (seed, i·k + j), so the same
    * (dim, k, seed) always yields the same matrix — exposed so the
    * verification oracle can replay the identical constants.
    * Achlioptas (2001): ±1 entries satisfy the JL distance-preservation
    * guarantee with the same ε bounds as Gaussian entries. */
  def rademacherMatrix(dim: Int, k: Int, seed: Long): Array[Array[Double]] = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val s = 1.0 / math.sqrt(k.toDouble)
    Array.tabulate(dim, k)((i, j) =>
      if ((mix(seed * 0x100000001b3L + i.toLong * k + j) & 1L) == 0L) s else -s)
  }

  /** Johnson–Lindenstrauss random projection: map `dim`-d vectors to
    * `k` dimensions through the seeded Rademacher matrix, preserving
    * pairwise distances within (1 ± ε) w.h.p. — the model-free
    * dimensionality cut (no training pass, no corpus statistics),
    * where [[pcaProject]] is the data-aware one. Use it as the cheap
    * prefilter tier for retrieval (project → shortlist in k-d → exact
    * rerank in full d; recall floor pinned in SimilaritySpec).
    *
    * Scale shape: ONE narrow codegen projection against literal
    * coefficient arrays — no shuffle, no driver pass over the corpus,
    * nothing collected; the matrix is (dim × k) literals. */
  def randomProject(df: DataFrame, idCol: String, vecCol: String, k: Int,
                    dim: Int = 64, seed: Long = 7L): DataFrame = {
    require(k >= 1 && k <= dim, s"k must be in [1, $dim], got $k")
    val m = rademacherMatrix(dim, k, seed)
    val comps = (0 until k).map(j => dot(col(vecCol).cast("array<double>"),
      array((0 until dim).map(i => lit(m(i)(j))): _*)))
    df.select(col(idCol), array(comps: _*).as("proj"))
  }

  /** Reciprocal Rank Fusion: combine N rankings of the same id space
    * into one — the standard hybrid-retrieval combiner (lexical BM25 +
    * vector kNN; Cormack et al., SIGIR 2009). Each list contributes
    * 1/(kConst + rank) for the ids it ranked; ids missing from a list
    * simply contribute nothing (no penalty term). Output: top-`topK`
    * ids by fused score with the number of lists that voted
    * (`n_lists`), score rounded to 6 dp, selection by RAW sum.
    *
    * Scale shape: the inputs are top-N rankings — model-sized by
    * construction, not corpus-sized — so this is a union of tiny
    * relations, one aggregation on the 8-byte id, and a
    * TakeOrderedAndProject. With ≤2 lists per id the two-term double
    * sum is order-independent (IEEE addition is commutative), so the
    * fused score is deterministic regardless of task scheduling. */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, rankCol: String,
              kConst: Int = 60, topK: Int = 20): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val contribs = rankings
      .map(_.select(col(idCol),
        (lit(1.0) / (lit(kConst.toDouble) + col(rankCol))).as("_c")))
      .reduce(_.unionAll(_))
    contribs.groupBy(col(idCol))
      .agg(sum(col("_c")).as("_raw"), count(lit(1)).as("n_lists"))
      .orderBy(col("_raw").desc, col(idCol).asc)
      .limit(topK)
      .select(col(idCol), round(col("_raw"), 6).as("rrf"), col("n_lists"))
  }

  /** Deterministic gaussian hyperplanes: nBits × dim, seed-fixed. */
  def hyperplanes(nBits: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nBits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Bucket-bit count for a corpus of `n` rows: 2^bits ≈ n/32 keeps the
    * expected bucket size ~32 as the corpus grows, so candidate counts
    * stay ~linear in n instead of quadratic. Capped at 63 (the long
    * signature width) — auto-sizing reaches 32 bits only at
    * n ≈ 1.4×10¹¹ rows and the cap is unreachable in practice, but a
    * silent wrap would merge buckets and quietly destroy recall. */
  def sizeBits(n: Long): Int =
    math.min(63, math.max(2, (math.log(math.max(n, 64L).toDouble / 32.0) /
      math.log(2.0)).round.toInt))

  /** Signed-random-projection signature (LONG bucket id) for a vector
    * column: bit i = (v · plane_i) > 0. Bits pack into a long
    * (`1L << i`) so up to 63 hyperplanes are safe; an Int shift here
    * would wrap negative at bit 31 and silently merge buckets. */
  def srpSignature(vecCol: Column, planes: Seq[Seq[Double]]): Column = {
    require(planes.size <= 63,
      s"SRP signature supports at most 63 hyperplane bits, got ${planes.size}")
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(vecCol, typedLit(p)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** All `nTables` SRP signatures at once (array<long>), via the fused
    * codegen expression [[graft.functions.SrpSignatures]] — the
    * multi-table form every banded caller uses. Composing nTables ×
    * nBits [[srpSignature]] dot subtrees into one projection blows the
    * whole-stage-codegen limits and degrades to interpreted eval
    * (measured ~1000× the raw FLOPs at the 48×4 config — ProbeAnn,
    * PLANS.md round 12); the fused pass is bit-identical (generative
    * equivalence test incl. the mismatched-dim all-zero-signature
    * contract). */
  def srpSignatures(vecCol: Column, planes: Seq[Seq[Seq[Double]]]): Column =
    graft.functions.VectorFunctions.srp_signatures(vecCol, planes)

  /** Approximate top-k similar pairs via multi-table SRP-LSH: `nTables`
    * independent signatures of `nBits` hyperplane bits each; a pair is a
    * candidate if it collides in ANY table (standard L-table LSH — a
    * single table's recall decays as bits grow, OR-ing tables restores
    * it at linear cost). Candidates are deduped then ranked by exact
    * cosine.
    *
    * Scale shape: each table's bucket join shuffles (table, bucket, id,
    * vec); candidate count ≈ nTables × Σ bucket²/2, bounded by choosing
    * nBits ≈ log2(n/targetBucketSize). The exact cross product never
    * materializes. */
  def annPairsTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
                   nBits: Int = 0, nTables: Int = 8, dim: Int = 64,
                   seed: Long = 7L): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("norm", l2norm(col("v")))
    // nBits <= 0 → size buckets to the corpus (sizeBits). The count runs
    // on the RAW input, where a parquet source answers it from footer
    // metadata — the projected vectors are never cached just to be
    // counted (caching the corpus is a memory cliff at 100 TB, and a
    // leaked cache besides). Callers at extreme scale who can't afford
    // even a metadata count pass nBits explicitly.
    val bits = if (nBits > 0) nBits else sizeBits(df.count())
    val sigs = srpSignatures(col("v"),
      (0 until nTables).map(t => hyperplanes(bits, dim, seed + t)))
    // the bucket join carries IDS ONLY: a pair colliding in many of the
    // nTables tables would otherwise drag both dim-sized vectors through
    // every collision row and pay one dot product per collision — the
    // distinct() collapses multiplicity first, then each surviving pair
    // joins its two vectors back (8-byte keys) and scores ONCE. At
    // production scale the signature projection is persisted alongside
    // the vectors, so the re-read here is an index scan, not a recompute.
    val banded = v.select(col("id"), posexplode(sigs).as(Seq("table_idx", "bucket")))
    // round 16 (guide §2.4): intra-bucket pairing via the
    // single-exchange SelfPairsByKey exec — the self-equi-join
    // shuffled the banded relation TWICE and materialized each
    // bucket's m×m cross product before filtering half away; the exec
    // plans ONE exchange and emits each bucket's C(m,2) ordered pairs
    // directly. Identical semantics: one row per (id, table) so no
    // within-bucket multiplicity, (table_idx, bucket) keys are never
    // null, and the exec's strict id_a < id_b under the id's natural
    // ordering matches the join's filter.
    val cand = graft.plans.SelfPairsByKey
      .selfPairsByKey(banded, Seq("table_idx", "bucket"), "id")
      .select("id_a", "id_b").distinct()
    val va = v.select(col("id").as("id_a"), col("v").as("va"), col("norm").as("na"))
    val vb = v.select(col("id").as("id_b"), col("v").as("vb"), col("norm").as("nb"))
    cand.join(va, Seq("id_a")).join(vb, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineOrNull(dot(col("va"), col("vb")), col("na"), col("nb")).as("cosine"))
      .filter(col("cosine").isNotNull)
      .orderBy(desc("cosine"), asc("id_a"), asc("id_b"))
      .limit(k)
  }

  /** Per-dimension standardization (z-scoring) of an embedding column:
    * dimension means/σ come from one posexplode aggregate whose result
    * is DIMENSION-sized (the model-sized-collects-only discipline — d
    * rows for a d-dim space), broadcast back as literal arrays; the
    * transform is a pure codegen projection. The preprocessing step in
    * front of distance-based retrieval/clustering when dimensions have
    * wildly different scales. `roundTo < 0` skips the rounding (for
    * callers that post-process into integer micro-units themselves). */
  def standardizeVectors(df: DataFrame, idCol: String,
                         vecCol: String, roundTo: Int = 6): DataFrame = {
    val stats = df
      .select(posexplode(col(vecCol)).as(Seq("_i", "_x")))
      .groupBy("_i")
      .agg(avg(col("_x").cast("double")).as("_mu"),
        stddev_pop(col("_x").cast("double")).as("_sd"))
      .orderBy("_i").collect()
    val mus: Seq[Double] = stats.map(_.getDouble(1)).toSeq
    val sds: Seq[Double] = stats.map(_.getDouble(2)).toSeq
    df.select(col(idCol),
      transform(col(vecCol), (x, i) => {
        val z = (x.cast("double") - element_at(typedLit(mus), i + 1)) /
          element_at(typedLit(sds), i + 1)
        if (roundTo >= 0) round(z, roundTo) else z
      }).as("z_vec"))
  }

  /** K-means cell assignment as a standalone column op, fully
    * DETERMINISTIC: the training sample is the `maxTrainRows` smallest
    * rows under a seeded content hash (a layout-invariant pseudo-
    * shuffle — `TakeOrderedAndProject` at scale, unlike `sample()`
    * whose draw changes with physical partitioning), the clusterer is
    * the driver-side seeded [[lloyds]] (the pqTrain discipline — the
    * model is nCells×d, never corpus-sized), and assignment is
    * [[nearestCell]] (pure codegen, no shuffle, no model object on the
    * executors). Same input → same cells regardless of partitioning,
    * which the ML KMeans fit cannot promise (k-means|| init is
    * order-dependent). Returns the input plus an integer `cellCol` —
    * the semantic-bucket key behind SemDeDup ([[Dedup.semanticDedup]])
    * and cluster-balanced sampling. */
  def assignCells(df: DataFrame, vecCol: String, cellCol: String,
                  nCells: Int, seed: Long = 7L,
                  maxTrainRows: Int = 4096): DataFrame = {
    require(nCells >= 1, s"nCells must be >= 1, got $nCells")
    if (nCells == 1) return df.withColumn(cellCol, lit(0))
    val pts = df.select(col(vecCol).cast("array<double>").as("_v"))
      .orderBy(xxhash64(lit(seed), col("_v")), col("_v"))
      .limit(maxTrainRows)
      .collect().map(_.getSeq[Double](0).toArray)
    require(pts.nonEmpty, "no vectors to cluster")
    df.withColumn(cellCol,
      nearestCell(col(vecCol).cast("array<double>"), lloyds(pts, nCells, seed)))
  }

  /** Nearest centroid id (0-based) of `vc` — the one cell-assignment
    * column of the IVF tier; ties go to the lower cell id. The argmin
    * runs over [[graft.functions.CellDists]]: squared L2 up to the
    * ||v||² constant (||c||² − 2 v·c), ONE fused codegen pass that ships
    * the centroid matrix as a single `double[]` reference at any nCells
    * (a composed nCells-dot-subtree array degrades to interpreted
    * evaluation). */
  private def nearestCell(vc: Column, centroids: Seq[Seq[Double]]): Column = {
    val d = graft.functions.VectorFunctions.cell_dists(vc, centroids)
    (array_position(d, array_min(d)) - 1).cast("int")
  }

  /** Per query row of `q` (keyed `query_id`): its `nProbe` nearest cells
    * as one row each, with `_cell`, `_cd` (its CellDists entry, as in
    * [[nearestCell]]) and the per-query cell rank `_pr` (ties → lower
    * cell id). Queries are the small side, so the nCells-way explode +
    * window ranks a bounded set. */
  private def probeCells(q: DataFrame, qvCol: String,
                         centroids: Seq[Seq[Double]], nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wp = Window.partitionBy("query_id").orderBy(asc("_cd"), asc("_cell"))
    q.select(col("*"),
        posexplode(graft.functions.VectorFunctions.cell_dists(col(qvCol), centroids))
          .as(Seq("_cell", "_cd")))
      .withColumn("_pr", row_number().over(wp))
      .filter(col("_pr") <= nProbe)
  }

  /** IVF (inverted-file) approximate kNN: a k-means coarse quantizer
    * partitions the corpus into `nCells` Voronoi cells; each query
    * probes only its `nProbe` nearest cells and ranks candidates by
    * exact cosine. Cell assignment is a per-row [[nearestCell]] — no
    * shuffle, no broadcast join, codegen'd at any nCells. The candidate
    * join shuffles on the cell id: each cell holds ~n/nCells corpus
    * rows, so probe cost is ~(nProbe/nCells)·n per query instead of n.
    * Fitting is a separate training pass (standard IVF build phase);
    * the index (centroids + cell assignment) would be persisted in a
    * real deployment rather than rebuilt per query. */
  def ivfKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, nCells: Int = 16, nProbe: Int = 4,
             seed: Long = 7L): DataFrame =
    ivfKnnFromCentroids(corpus, queries, idCol, vecCol, k,
      ivfTrainCentroids(corpus, vecCol, nCells, seed), nProbe)

  /** The coarse-quantizer fit alone: ML k-means centroids over the
    * corpus — split out so an nProbe SWEEP (c94's recall curve) trains
    * ONCE and probes many times instead of refitting an identical model
    * per operating point. */
  def ivfTrainCentroids(corpus: DataFrame, vecCol: String, nCells: Int,
                        seed: Long = 7L): Seq[Seq[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val model = new KMeans().setK(nCells).setSeed(seed).setMaxIter(20)
      .setFeaturesCol("_fv").setPredictionCol("_cell")
      .fit(corpus.select(array_to_vector(col(vecCol).cast("array<double>")).as("_fv")))
    model.clusterCenters.map(_.toArray.toSeq).toSeq
  }

  /** IVF search against a pre-trained coarse quantizer. */
  def ivfKnnFromCentroids(corpus: DataFrame, queries: DataFrame, idCol: String,
                          vecCol: String, k: Int,
                          centroids: Seq[Seq[Double]], nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wr = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("nn_id"))
    ivfScoredCandidates(corpus, queries, idCol, vecCol, centroids, nProbe)
      .drop("_pr")
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
  }

  /** nProbe SWEEP against ONE pre-trained coarse quantizer (round 16,
    * guide §1.2/§2.4 — c94's recall curve): score the candidate set
    * ONCE at max(probeCounts) with each candidate's per-query cell
    * rank (`_pr`) riding along, checkpoint it, and slice every
    * operating point out of that one relation. Each returned arm is
    * VALUE-IDENTICAL to `ivfKnnFromCentroids` at that nProbe: the
    * plain path filters `_pr <= nProbe` on the probe side BEFORE the
    * cell join, the sweep applies the same filter on the same column
    * AFTER it — the join never changes `_pr`, so the candidate sets
    * are equal, and the ranking window is the same expression. The
    * old 4-arm union re-scanned corpus+queries and re-ran assignment
    * per arm (72 exchanges / 36 scans in the r16 before-plan); the
    * sweep pays one pipeline + four node-cheap slices, and probes
    * 1.0× the corpus instead of Σp/nCells ≈ 1.44×. The cut backing
    * the slices follows the standard caller-release contract. */
  def ivfKnnSweepFromCentroids(corpus: DataFrame, queries: DataFrame,
                               idCol: String, vecCol: String, k: Int,
                               centroids: Seq[Seq[Double]],
                               probeCounts: Seq[Int]): Seq[(Int, DataFrame)] = {
    import org.apache.spark.sql.expressions.Window
    require(probeCounts.nonEmpty, "ivfKnnSweepFromCentroids needs >= 1 arm")
    val wr = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("nn_id"))
    val scored = Ckpt.cut(ivfScoredCandidates(corpus, queries, idCol, vecCol,
      centroids, probeCounts.max))
    probeCounts.map { p =>
      p -> scored.filter(col("_pr") <= p).drop("_pr")
        .withColumn("rank", row_number().over(wr))
        .filter(col("rank") <= k)
    }
  }

  /** Shared IVF candidate scoring: (query_id, nn_id, _pr, cosine) for
    * every corpus row in one of the query's `nProbe` nearest cells —
    * `_pr` is the probed cell's per-query rank, kept so a sweep caller
    * can slice smaller operating points out of a larger one. */
  private def ivfScoredCandidates(corpus: DataFrame, queries: DataFrame,
                                  idCol: String, vecCol: String,
                                  centroids: Seq[Seq[Double]],
                                  nProbe: Int): DataFrame = {
    val assigned = corpus
      .select(col(idCol).as("nn_id"), col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", l2norm(col("cv")))
      .withColumn("_cell", nearestCell(col("cv"), centroids))
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", l2norm(col("qv")))
    val probes = probeCells(q, "qv", centroids, nProbe)
      .select(col("query_id"), col("qv"), col("qn"), col("_cell"), col("_pr"))
    // each corpus row lives in exactly one cell and probed cells are
    // distinct per query → no duplicate (query, nn) pairs to dedup;
    // ranking/top-k live in the public entry points
    probes.join(assigned, Seq("_cell"))
      .filter(col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("nn_id"), col("_pr"),
        cosineOrNull(dot(col("qv"), col("cv")), col("qn"), col("cn")).as("cosine"))
      .filter(col("cosine").isNotNull)
  }

  /** Per-subspace PQ codebooks: split `dim` into `m` subspaces of
    * `dim/m` dims and k-means each to `ksub` centroids. Returns
    * m × ksub × (dim/m) centroid coordinates — a model artifact of
    * `m*ksub*dim/m = ksub*dim` doubles (a few KB), trained once and
    * shipped as literals; a real deployment persists the codebooks with
    * the encoded corpus rather than refitting per query.
    *
    * Training is a DRIVER-SIDE Lloyd's fit on a bounded seeded sample
    * (`trainFraction` of the corpus, capped at `maxTrainRows` — the
    * FAISS discipline: PQ codebooks train on 10⁴-10⁵ vectors no matter
    * how big the corpus). This is deliberate and measured: the sample
    * is a few hundred KB, and fitting it through distributed k-means
    * costs m × (init + maxIter) tiny Spark jobs — ~12 s of pure
    * job-scheduling latency at sf0.1 vs ~0.2 s of local arithmetic
    * (PLANS.md round 6). Same pattern as the driver-side LSH
    * hyperplanes: model-sized math stays on the driver, seed-fixed and
    * deterministic; only corpus-sized work runs distributed. */
  def pqTrain(corpus: DataFrame, vecCol: String, dim: Int, m: Int,
              ksub: Int, seed: Long = 7L, trainFraction: Double = 1.0,
              maxTrainRows: Int = 10000): Seq[Seq[Seq[Double]]] = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val pts = trainSample(corpus, vecCol, dim, seed, trainFraction, maxTrainRows)
    pqCodebooksFromSample(pts, dim, m, ksub, seed)
  }

  /** Bounded seeded training sample for driver-side model fits: the
    * collect is capped at `maxTrainRows` REGARDLESS of corpus size —
    * never a corpus-sized driver materialization. */
  private def trainSample(corpus: DataFrame, vecCol: String, dim: Int,
                          seed: Long, trainFraction: Double,
                          maxTrainRows: Int): Array[Array[Double]] = {
    val base = corpus.select(col(vecCol).cast("array<double>").as("v"))
      .filter(size(col("v")) === dim)
    val sampled = if (trainFraction >= 1.0) base else base.sample(trainFraction, seed)
    val pts: Array[Array[Double]] = sampled.limit(maxTrainRows)
      .collect().map(_.getSeq[Double](0).toArray)
    require(pts.nonEmpty, s"training sample is empty (trainFraction=$trainFraction)")
    pts
  }

  private def pqCodebooksFromSample(pts: Array[Array[Double]], dim: Int,
                                    m: Int, ksub: Int,
                                    seed: Long): Seq[Seq[Seq[Double]]] = {
    val dsub = dim / m
    (0 until m).map { j =>
      lloyds(pts.map(p => java.util.Arrays.copyOfRange(p, j * dsub, (j + 1) * dsub)),
        ksub, seed + j)
    }
  }

  /** Lloyd's k-means on driver-local points with k-means++ seeding
    * (D²-weighted initial centroids — Arthur & Vassilvitskii 2007;
    * random init measurably degrades coarse-cell quality and with it
    * IVF probe recall), empty clusters reseeded to random points, fixed
    * iteration budget. Deterministic for a given (points, k, seed). */
  private def lloyds(pts: Array[Array[Double]], k: Int, seed: Long,
                     iters: Int = 20): Seq[Seq[Double]] = {
    val d = pts.head.length
    val rnd = new scala.util.Random(seed)
    // k-means++: first centroid uniform, each next drawn ∝ D²(point)
    val cents = new Array[Array[Double]](k)
    cents(0) = pts(rnd.nextInt(pts.length)).clone
    val d2 = pts.map(sqDist(_, cents(0)))
    var ci = 1
    while (ci < k) {
      val total = d2.sum
      if (total <= 0.0) {
        // all points coincide with chosen centroids — fill with copies
        cents(ci) = pts(rnd.nextInt(pts.length)).clone
      } else {
        var r = rnd.nextDouble() * total
        var pick = 0
        while (pick < pts.length - 1 && r > d2(pick)) { r -= d2(pick); pick += 1 }
        cents(ci) = pts(pick).clone
        var i = 0
        while (i < pts.length) {
          val nd = sqDist(pts(i), cents(ci))
          if (nd < d2(i)) d2(i) = nd
          i += 1
        }
      }
      ci += 1
    }
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](d))
      val counts = new Array[Int](k)
      pts.foreach { p =>
        val best = nearestLocal(p, cents)
        counts(best) += 1
        var i = 0
        while (i < d) { sums(best)(i) += p(i); i += 1 }
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var i = 0
          while (i < d) { cents(c)(i) = sums(c)(i) / counts(c); i += 1 }
        } else {
          // empty cluster: reseed so all ksub code points stay live
          pts(rnd.nextInt(pts.length)).copyToArray(cents(c))
        }
        c += 1
      }
      it += 1
    }
    cents.map(_.toSeq).toSeq
  }

  /** Driver-side nearest centroid of `p` by squared L2 (first minimum
    * wins) — the local twin of [[nearestCell]], used inside [[lloyds]]
    * and to route training points to their coarse cell. */
  private def nearestLocal(p: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0
    var bd = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val dist = sqDist(p, cents(c))
      if (dist < bd) { bd = dist; best = c }
      c += 1
    }
    best
  }

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val df = a(i) - b(i); s += df * df; i += 1 }
    s
  }

  /** Product-quantization kNN with ADC scoring and exact rerank — the
    * memory-bound retrieval tier int8 ([[Quantize.int8]]) is the first
    * step toward: each corpus vector compresses to `m` small centroid
    * ids (m bytes at ksub ≤ 256 — 64× smaller than a 64-dim double
    * vector), queries score the WHOLE corpus through a per-query lookup
    * table of `m × ksub` partial inner products, and only the top
    * `rerank` approximate hits per query pay the exact-cosine join.
    *
    * Scale shape, stage by stage:
    *  - encode: per-subspace argmin against literal centroids — a
    *    narrow codegen projection, no shuffle; the coded corpus
    *    (id, m ints, norm) is what a serving tier persists.
    *  - ADC scan: coded corpus ⨯ broadcast query tables; per row it's
    *    m adds through [[graft.functions.AdcScore]] inside whole-stage
    *    codegen. No vector ever moves — the scan streams ids + codes.
    *  - top-`rerank` selection is TWO-phase: a per-(query, input
    *    partition) local top-R, then a global top-R over the
    *    nPartitions×R survivors — never a corpus-sized single-key
    *    window partition (the keep-best-per-cluster lesson; selection
    *    commutes with partition-local pruning, so this is exact).
    *  - rerank: shortlist ids join vectors back on 8-byte keys and
    *    score exact cosine once per surviving pair (the ids-only
    *    lesson from [[annPairsTopK]]).
    *
    * `rerank >= corpus size` makes the pipeline EXACT regardless of
    * codebook quality (every row survives to the exact stage) — the
    * oracle configuration, same pattern as c16's probe-all-cells. The
    * pruned regime's recall is quantified in SimilaritySpec.
    * Output matches [[bruteForceKnn]]: query_id, nn_id, cosine, rank. */
  def pqKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
            vecCol: String, k: Int, dim: Int = 64, m: Int = 8,
            ksub: Int = 16, rerank: Int = 50, seed: Long = 7L,
            trainFraction: Double = 1.0): DataFrame = {
    // fail before the expensive train/encode stages, not inside search
    require(rerank >= k, s"rerank $rerank must be >= k $k")
    val codebooks = pqTrain(corpus, vecCol, dim, m, ksub, seed, trainFraction)
    val coded = pqEncode(corpus, idCol, vecCol, codebooks, dim)
    pqSearch(coded, codebooks, corpus, queries, idCol, vecCol, k, dim, ksub,
      rerank)
  }

  /** Encode stage of [[pqKnn]], separable so a serving tier can persist
    * its output ([[AnnIndex]]): (nn_id, m int codes, norm) — the coded
    * corpus. A narrow codegen projection, no shuffle; deterministic for
    * a given codebook, so a persisted encode equals a fresh one. */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               codebooks: Seq[Seq[Seq[Double]]], dim: Int): DataFrame =
    corpus
      .select(col(idCol).as("nn_id"), col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", l2norm(col("cv")))
      .withColumn("codes", pqCodes(codebooks, dim)(col("cv")))
      .select("nn_id", "codes", "cn")

  /** Search stage of [[pqKnn]] over an already-encoded corpus — the
    * serving path: `coded` may come straight from [[pqEncode]] or be
    * reloaded from parquet ([[AnnIndex.loadCodes]]); `corpus` supplies
    * the full vectors only for the exact rerank of the top-`rerank`
    * shortlist. */
  def pqSearch(coded: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
               corpus: DataFrame, queries: DataFrame, idCol: String,
               vecCol: String, k: Int, dim: Int, ksub: Int,
               rerank: Int): DataFrame = {
    import graft.functions.VectorFunctions.adc_score
    require(rerank >= k, s"rerank $rerank must be >= k $k")
    val qv = queries
      .select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", l2norm(col("qv")))
    val qAdc = qv.select(col("query_id"), col("qn"),
      pqAdcTable(codebooks, dim)(col("qv")).as("adc"))
    val scored = coded.crossJoin(broadcast(qAdc))
      .filter(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id"),
        cosineOrNull(adc_score(col("codes"), col("adc"), ksub),
          col("qn"), col("cn")).as("approx_cos"))
    shortlistAndRerank(scored, corpus, qv, idCol, vecCol, k, rerank)
  }

  /** PQ code array for a vector column: per-subspace argmin against
    * literal centroids — squared L2 up to the ||v_sub||² constant
    * (||c||² − 2 v_sub·c, the [[nearestCell]] form). One fused codegen
    * pass ([[graft.functions.PqCodes]]; the composed m×ksub-subtree
    * array degrades to interpreted eval — see SrpSignatures). */
  private def pqCodes(codebooks: Seq[Seq[Seq[Double]]], dim: Int)
                     (vc: Column): Column =
    graft.functions.VectorFunctions.pq_codes(vc, codebooks, dim)

  /** Flattened per-query ADC table: entry j*ksub+c = q_sub_j · cen_{j,c},
    * so Σ_j table[j*ksub+codes_j] approximates q · v. */
  private def pqAdcTable(codebooks: Seq[Seq[Seq[Double]]], dim: Int)
                        (qc: Column): Column = {
    val dsub = dim / codebooks.length
    array((for (j <- codebooks.indices; cen <- codebooks(j)) yield
      dot(slice(qc, j * dsub + 1, dsub), typedLit(cen))): _*)
  }

  /** Shared tail of the ADC retrieval family: top-`rerank` shortlist on
    * the approximate score, then exact-cosine rerank to top-k.
    * `scored` carries (query_id, nn_id, approx_cos). The shortlist is a
    * TWO-PHASE selection — local top-R per (query, input partition),
    * then global top-R over the nPartitions×R survivors — never a
    * corpus-sized single-key window partition (the keep-best-per-cluster
    * lesson; selection commutes with partition-local pruning, so it is
    * exact). Rerank joins vectors back on 8-byte ids and scores exact
    * cosine once per surviving pair (the ids-only lesson from
    * [[annPairsTopK]]). Output matches [[bruteForceKnn]]. */
  private def shortlistAndRerank(scored: DataFrame, corpus: DataFrame,
                                 qv: DataFrame, idCol: String, vecCol: String,
                                 k: Int, rerank: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wLocal = Window.partitionBy(col("query_id"), col("_pid"))
      .orderBy(desc("approx_cos"), asc("nn_id"))
    val wGlobal = Window.partitionBy(col("query_id"))
      .orderBy(desc("approx_cos"), asc("nn_id"))
    val shortlist = scored
      .filter(col("approx_cos").isNotNull)
      .withColumn("_pid", spark_partition_id())
      .withColumn("_lr", row_number().over(wLocal))
      .filter(col("_lr") <= rerank)
      .withColumn("_gr", row_number().over(wGlobal))
      .filter(col("_gr") <= rerank)
      .select("query_id", "nn_id")
    val cvFull = corpus
      .select(col(idCol).as("nn_id"), col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", l2norm(col("cv")))
    val wr = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("nn_id"))
    shortlist.join(cvFull, Seq("nn_id")).join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("nn_id"),
        cosineOrNull(dot(col("qv"), col("cv")), col("qn"), col("cn")).as("cosine"))
      .filter(col("cosine").isNotNull)
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
  }

  /** IVF+PQ kNN — the composed production ANN architecture (FAISS
    * IVFPQ): a coarse k-means partitions the corpus into `nCells`, each
    * row stores (cell, m-byte PQ code, norm), and a query ADC-scans
    * ONLY its `nProbe` nearest cells — combining IVF's partition
    * pruning (~nProbe/nCells of the corpus touched) with PQ's
    * compression (no vector moves in the scan).
    *
    * PQ codes quantize the RESIDUAL `v − c_cell` (the FAISS default)
    * rather than the raw vector — residual magnitudes are much smaller
    * than vector magnitudes, so the same codebook budget buys far less
    * quantization error. The encode-side argmin stays a literal-expression
    * projection via the decomposition
    * `argmin_cb ||r_j − cb||² = argmin_cb [||cb||² − 2 v_j·cb + 2 c_j·cb]`
    * where `c_j·cb` is a per-(cell, subspace, centroid) CONSTANT —
    * precomputed driver-side and shipped as one nCells-long literal
    * array per (j, cb), indexed by the row's cell id. The ADC score
    * adds back the per-(query, probed-cell) constant `q·c_cell`:
    * `q·v ≈ q·c_cell + Σ_j q_j·cb_{codes_j}`.
    *
    * Both quantizers train driver-side on ONE bounded seeded sample
    * (see [[pqTrain]]); the scored relation comes from an equi-join of
    * the coded corpus against the broadcast per-(query, probed-cell)
    * tables on the cell id — a broadcast-hash join that prunes at the
    * join, not a crossJoin-then-filter. Shortlist + exact rerank as in
    * [[pqKnn]].
    *
    * `nProbe >= nCells` AND `rerank >= corpus size` make the pipeline
    * exact regardless of either quantizer's quality (every row is
    * scanned and every row survives to the exact stage) — the oracle
    * configuration; the pruned regime's recall is in SimilaritySpec.
    * Output matches [[bruteForceKnn]]: query_id, nn_id, cosine, rank. */
  def ivfPqKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
               vecCol: String, k: Int, dim: Int = 64, nCells: Int = 16,
               nProbe: Int = 4, m: Int = 8, ksub: Int = 16,
               rerank: Int = 50, seed: Long = 7L,
               trainFraction: Double = 1.0): DataFrame = {
    // fail before the expensive train/encode stages, not inside search
    require(rerank >= k, s"rerank $rerank must be >= k $k")
    val (coarse, codebooks) =
      ivfPqTrain(corpus, vecCol, dim, nCells, m, ksub, seed, trainFraction)
    val coded = ivfPqEncode(corpus, idCol, vecCol, coarse, codebooks, dim)
    ivfPqSearch(coded, coarse, codebooks, corpus, queries, idCol, vecCol, k,
      dim, nProbe, ksub, rerank)
  }

  /** Train stage of [[ivfPqKnn]]: coarse quantizer + PQ codebooks, both
    * driver-side on ONE bounded seeded sample (see [[pqTrain]]); the
    * codebooks train on the sample's residuals — the same distribution
    * the encoder will quantize. Returned model is what a serving tier
    * persists ([[AnnIndex]]). */
  def ivfPqTrain(corpus: DataFrame, vecCol: String, dim: Int, nCells: Int,
                 m: Int, ksub: Int, seed: Long = 7L,
                 trainFraction: Double = 1.0)
      : (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    val pts = trainSample(corpus, vecCol, dim, seed, trainFraction, 10000)
    // seed - 1: the coarse quantizer must not share a subspace fit's seed
    val coarse = lloyds(pts, nCells, seed - 1)
    val coarseArr = coarse.map(_.toArray).toArray
    val residuals = pts.map { p =>
      val cen = coarseArr(nearestLocal(p, coarseArr))
      Array.tabulate(dim)(i => p(i) - cen(i))
    }
    (coarse, pqCodebooksFromSample(residuals, dim, m, ksub, seed))
  }

  /** Encode stage of [[ivfPqKnn]], separable for persistence: each row
    * becomes (nn_id, coarse cell, m int residual codes, norm). The
    * residual argmin's cell-dependent correction 2·(c_j·cb) is
    * precomputed per (subspace, code, cell) into one fused codegen pass
    * ([[graft.functions.PqCodesResidual]]). Deterministic for a given
    * model, so a persisted encode equals a fresh one. */
  def ivfPqEncode(corpus: DataFrame, idCol: String, vecCol: String,
                  coarse: Seq[Seq[Double]], codebooks: Seq[Seq[Seq[Double]]],
                  dim: Int): DataFrame =
    corpus
      .select(col(idCol).as("nn_id"), col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", l2norm(col("cv")))
      .withColumn("_cell", nearestCell(col("cv"), coarse))
      .withColumn("codes", graft.functions.VectorFunctions.pq_codes_residual(
        col("cv"), col("_cell"), codebooks, coarse, dim))
      .select("nn_id", "_cell", "codes", "cn")

  /** Search stage of [[ivfPqKnn]] over an already-encoded corpus — the
    * serving path (`coded` may be reloaded from parquet via
    * [[AnnIndex.loadCodes]]); `corpus` supplies full vectors only for
    * the exact rerank. */
  def ivfPqSearch(coded: DataFrame, coarse: Seq[Seq[Double]],
                  codebooks: Seq[Seq[Seq[Double]]], corpus: DataFrame,
                  queries: DataFrame, idCol: String, vecCol: String, k: Int,
                  dim: Int, nProbe: Int, ksub: Int, rerank: Int): DataFrame = {
    import graft.functions.VectorFunctions.adc_score
    require(rerank >= k, s"rerank $rerank must be >= k $k")
    val qv = queries
      .select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", l2norm(col("qv")))
    // one row per (query, probed cell), keeping _cd — the residual ADC
    // correction recovers q·c_cell from it without a second dot product
    val qProbes = probeCells(
        qv.withColumn("adc", pqAdcTable(codebooks, dim)(col("qv"))),
        "qv", coarse, nProbe)
      .select("query_id", "qn", "adc", "_cell", "_cd")
    // residual ADC adds back q·c_cell: _cd = ||c||² − 2 q·c, so
    // q·c = (||c||² − _cd)/2 with ||c||² a literal lookup by cell id
    val cen2: Seq[Double] = coarse.map(c => c.map(x => x * x).sum)
    val approxDot =
      (element_at(typedLit(cen2), col("_cell") + 1) - col("_cd")) / lit(2.0) +
        adc_score(col("codes"), col("adc"), ksub)
    val scored = coded.join(broadcast(qProbes), Seq("_cell"))
      .filter(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id"),
        cosineOrNull(approxDot, col("qn"), col("cn")).as("approx_cos"))
    shortlistAndRerank(scored, corpus, qv, idCol, vecCol, k, rerank)
  }

  /** Approximate k-NN, query-vs-corpus: probe `queries` into the
    * corpus's SRP-LSH buckets. Unlike `bruteForceKnn` the corpus is
    * NEVER broadcast — both sides are signed with the same hyperplanes,
    * exploded to (table, bucket) rows, and equi-joined, so the shuffle
    * key is (table_idx, bucket) and each bucket holds ~n/2^bits corpus
    * rows. This is the retrieval shape that scales: corpus and query
    * sets both partition by bucket. Recall comes from OR-ing `nTables`
    * independent tables; a query that shares no bucket with enough
    * corpus rows surfaces fewer than k neighbors (standard ANN
    * semantics — the spec quantifies recall vs brute force). */
  def annKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, nBits: Int = 0, nTables: Int = 8,
             dim: Int = 64, seed: Long = 7L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bits = if (nBits > 0) nBits else sizeBits(corpus.count())
    val planes = (0 until nTables).map(t => hyperplanes(bits, dim, seed + t))
    def sig(vc: Column): Column = srpSignatures(vc, planes)
    val cv = corpus
      .select(col(idCol).as("nn_id"), col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", l2norm(col("cv")))
    val qv = queries
      .select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", l2norm(col("qv")))
    // ids-only bucket join → distinct (query, candidate) pairs → score
    // each pair ONCE after joining vectors back on 8-byte keys (see
    // annPairsTopK — multi-table collisions would otherwise re-pay the
    // dot product and drag vectors through every collision row)
    val c = cv.select(col("nn_id"),
      posexplode(sig(col("cv"))).as(Seq("table_idx", "bucket")))
    val q = qv.select(col("query_id"),
      posexplode(sig(col("qv"))).as(Seq("table_idx", "bucket")))
    val cand = q.join(c, Seq("table_idx", "bucket"))
      .filter(col("query_id") =!= col("nn_id"))
      .select("query_id", "nn_id").distinct()
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("nn_id"))
    cand.join(qv, Seq("query_id")).join(cv, Seq("nn_id"))
      .select(col("query_id"), col("nn_id"),
        cosineOrNull(dot(col("qv"), col("cv")), col("qn"), col("cn")).as("cosine"))
      .filter(col("cosine").isNotNull)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
