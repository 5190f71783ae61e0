package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora.
  *
  * Four families, all shuffle-conscious:
  *  - exact: hash-groupBy on content (shuffle on a 64-bit hash, never on
  *    the full text — at 100 TB the text column never moves twice);
  *  - MinHash + LSH banding: near-dup candidate pairs via band-bucket
  *    equi-join (shuffles only (key, band hash) pairs);
  *  - SimHash: 64-bit signature via signed bit-count aggregation,
  *    hamming-banded for near-dup blocking;
  *  - n-gram Jaccard: exact verification on candidate pairs only.
  *
  * All hash functions are Spark's codegen'd xxhash64 — no UDFs anywhere
  * in the hot path; everything stays inside whole-stage codegen.
  */
object Dedup {

  /** Exact dedup: keep the row with the smallest `idCol` per distinct
    * `textCol`. Implemented as min-id-per-content-hash so the shuffle
    * key is 8 bytes, then a semi-join back to recover full rows.
    * Collision-safe: the group key includes the text itself, but only
    * AFTER pre-aggregating on the hash (two-level aggregation keeps the
    * wide column out of the first shuffle's hot path). NULL text is one
    * distinct value (SQL GROUP BY semantics — matching a DuckDB
    * `GROUP BY text` oracle): the semi-join back uses null-safe equality
    * so the surviving NULL-text row is not silently dropped. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = df
      .select(col(idCol).as("_keep_id"), col(textCol).as("_keep_text"),
        xxhash64(col(textCol)).as("_h"))
      .groupBy(col("_h"), col("_keep_text"))
      .agg(min(col("_keep_id")).as("_keep_id"))
    df.join(keep,
      df(idCol) <=> keep("_keep_id") && df(textCol) <=> keep("_keep_text"),
      "left_semi")
  }

  /** Word n-gram shingles of the text (n consecutive lowercased words),
    * distinct per row — a single codegen'd pass (see
    * graft.functions.WordShingles for why not the built-in composition). */
  def shingles(textCol: Column, n: Int): Column =
    graft.functions.ShingleFunctions.word_shingles(textCol, n)

  /** MinHash signature columns: for permutation i, min over shingles of
    * xxhash64(shingle, i). Returns (df with id + sig array, one shuffle). */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int, shingleN: Int): DataFrame = {
    val sh = df.select(col(idCol),
      explode(shingles(col(textCol), shingleN)).as("_shingle"))
    val mins = (0 until numHashes).map(i =>
      min(xxhash64(col("_shingle"), lit(i))).as(s"_h$i"))
    sh.groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol), array((0 until numHashes).map(i => col(s"_h$i")): _*).as("minhash_sig"))
  }

  /** LSH banding over a MinHash signature: emit (id, band_idx, band_hash)
    * rows; docs sharing any band bucket are near-dup candidates.
    * bands*rowsPerBand must equal the signature length. */
  def lshBands(sig: DataFrame, idCol: String, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandHashes = transform(sequence(lit(0), lit(bands - 1)), b =>
      xxhash64(
        array_join(transform(
          slice(col("minhash_sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
          h => h.cast("string")), ","),
        b))
    sig.select(col(idCol), posexplode(bandHashes).as(Seq("band_idx", "band_hash")))
  }

  /** Near-duplicate pairs via MinHash LSH, verified with exact
    * shingle-set Jaccard ≥ `threshold` (the same n-gram sets the
    * signatures estimate — NOT word-set Jaccard, which runs higher for
    * near-dups). Output: (id_a, id_b, jaccard), id_a < id_b.
    *
    * Scale shape: candidate generation is the whole-operator
    * [[graft.plans.SelfPairsByKey]] exec — ONE exchange of the skinny
    * (band_idx, band_hash, id) relation, per-bucket C(m,2) pair
    * emission, no mirrored join side (round 9; measured 2.4× over the
    * self-join idiom on the candidate stage, and single consumption of
    * the banded relation makes the one-signature-pass structural —
    * the self-join variant re-ran the 64-min aggregation per side
    * whenever AQE broadcast one of them). Texts are re-joined for
    * verification only on the (small) candidate set. */
  def minHashDupPairs(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 64, bands: Int = 32, shingleN: Int = 3,
                      threshold: Double = 0.6): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands ($bands)")
    val sig = minHashSignatures(df, idCol, textCol, numHashes, shingleN)
    val banded = lshBands(sig, idCol, bands, numHashes / bands)
    val candidates = graft.plans.SelfPairsByKey
      .selfPairsByKey(banded, Seq("band_idx", "band_hash"), idCol)
      .distinct()
    verifyJaccard(candidates, df, idCol, textCol, threshold, shingleN)
  }

  /** Exact shingle-set Jaccard on explicit candidate pairs (the same
    * sets the MinHash signatures estimate, so LSH+verify converges to
    * the exact `ngramJaccardPairs` result as recall → 1). */
  def verifyJaccard(pairs: DataFrame, df: DataFrame, idCol: String,
                    textCol: String, threshold: Double, shingleN: Int): DataFrame =
    verifyJaccardAcross(pairs, df, df, idCol, textCol, threshold, shingleN)

  /** Two-relation form of `verifyJaccard`: id_a resolves against `left`,
    * id_b against `right` (identical relations ⇒ identical semantics). */
  def verifyJaccardAcross(pairs: DataFrame, left: DataFrame, right: DataFrame,
                          idCol: String, textCol: String,
                          threshold: Double, shingleN: Int): DataFrame =
    verifyJaccardDetailed(pairs, left, right, idCol, textCol,
      threshold, shingleN)
      .select("id_a", "id_b", "jaccard")

  /** [[verifyJaccardAcross]] plus the exact intersection COUNT
    * (`_common`, a long) the verification already computes — so
    * consumers that weight pairs by shared-shingle count
    * ([[clusterMedoids]]) reuse this pass instead of re-joining the
    * corpus-wide shingle relation and re-intersecting (round 12, the
    * c99 probe: the re-derivation was ~a third of the query). */
  private def verifyJaccardDetailed(pairs: DataFrame, left: DataFrame,
                                    right: DataFrame, idCol: String,
                                    textCol: String, threshold: Double,
                                    shingleN: Int): DataFrame = {
    def sets(d: DataFrame, idAs: String, wsAs: String) =
      d.select(col(idCol).as(idAs), shingles(col(textCol), shingleN).as(wsAs))
    pairs
      .join(sets(left, "id_a", "_wa"), Seq("id_a"))
      .join(sets(right, "id_b", "_wb"), Seq("id_b"))
      .withColumn("_common",
        size(array_intersect(col("_wa"), col("_wb"))).cast("long"))
      .withColumn("jaccard",
        col("_common").cast("double") /
        size(array_union(col("_wa"), col("_wb"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard", "_common")
  }

  /** Shared candidate stage of the exact Jaccard joins: hashed inverted
    * index over both relations, epsilon-guarded size-ratio prune inside
    * the join (J ≥ t bounds |A|/|B| within 1/t; the 1e-9 guards float
    * overshoot — n*t can land 1 ulp above the exact product, which
    * would reject boundary pairs whose true Jaccard equals the
    * threshold exactly), then the hash-count Jaccard filter. Collision-
    * safe superset: set sizes are string-level while only the common
    * count is hash-level, so hash-Jaccard ≥ true Jaccard (full recall);
    * callers re-verify survivors against string sets. `sameRelation`
    * adds the id_a < id_b constraint of the self-join form. */
  private def jaccardSurvivors(left: DataFrame, right: DataFrame,
                               idCol: String, textCol: String,
                               shingleN: Int, threshold: Double,
                               sameRelation: Boolean): DataFrame =
    survivorsFromIndexes(
      invertedIndex(left, idCol, textCol, shingleN, "id_a", "_na"),
      invertedIndex(right, idCol, textCol, shingleN, "id_b", "_nb"),
      threshold, sameRelation)

  /** Hashed inverted shingle index of a document relation:
    * (id, set size, 64-bit shingle hash) — one exploded row per
    * shingle. The join key is the hash, not the shingle text: the
    * candidate join's output (quadratic in shingle document frequency)
    * shuffles 8-byte keys instead of multi-word strings. This relation
    * is also what [[DedupIndex]] persists across ingests. */
  private[operators] def invertedIndex(d: DataFrame, idCol: String,
                                       textCol: String, shingleN: Int,
                                       idAs: String, nAs: String): DataFrame = d
    .withColumn("_sh", shingles(col(textCol), shingleN))
    .select(col(idCol).as(idAs), size(col("_sh")).as(nAs),
      explode(col("_sh")).as("_s0"))
    .select(col(idAs), col(nAs), xxhash64(col("_s0")).as("_s"))

  /** Candidate stage over two ALREADY-BUILT inverted indexes (columns
    * (id_a,_na,_s) and (id_b,_nb,_s)) — the index-resident form used by
    * both the inline joins and [[DedupIndex.probe]]. */
  private[operators] def survivorsFromIndexes(a: DataFrame, b: DataFrame,
                                              threshold: Double,
                                              sameRelation: Boolean): DataFrame = {
    val pairCond = if (sameRelation) col("id_a") < col("id_b") else lit(true)
    a.join(b, a("_s") === b("_s") && pairCond &&
        col("_na") >= col("_nb") * threshold - lit(1e-9) &&
        col("_nb") >= col("_na") * threshold - lit(1e-9))
      .drop(b("_s"))
      .groupBy("id_a", "id_b", "_na", "_nb")
      .agg(count(lit(1)).as("_common"))
      .filter(col("_common").cast("double") /
        (col("_na") + col("_nb") - col("_common")).cast("double") >= threshold)
      .select("id_a", "id_b")
  }

  /** Exact all-candidates n-gram Jaccard near-dup join via an inverted
    * index on shingles. This is the non-probabilistic (full recall)
    * variant; MinHash is the constant-cost approximation of the same
    * result.
    *
    * Collision-proof in two tiers: the quadratic stage counts matching
    * 64-bit shingle hashes, and a collision can only INFLATE that count
    * (set sizes `_n` are string-level; only `_common` is hash-level), so
    * hash-Jaccard ≥ true Jaccard and filtering on it yields a SUPERSET
    * of the true result with full recall. The few surviving pairs are
    * then re-verified by `verifyJaccard` over materialized shingle
    * STRING sets, which discards any collision-admitted false positive —
    * exact output at (cheap hash pass over everything) + (string pass
    * over only the output-sized survivor set). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, threshold: Double = 0.5): DataFrame =
    verifyJaccard(
      jaccardSurvivors(df, df, idCol, textCol, shingleN, threshold,
        sameRelation = true),
      df, idCol, textCol, threshold, shingleN)

  /** Cross-relation n-gram Jaccard near-dup join: pairs (id_a from
    * `left`, id_b from `right`) with shingle-set Jaccard ≥ `threshold` —
    * the near-dup counterpart of `incrementalDedup` (flag new-crawl
    * documents that nearly duplicate the existing corpus, not just
    * exactly). Same two-tier collision-proof design as
    * `ngramJaccardPairs`: hashed inverted index + size-ratio prune in
    * the join (full recall — hash collisions only inflate the count),
    * then string-set re-verification on survivors only.
    *
    * Scale shape: the index join shuffles 8-byte shingle hashes; the
    * quadratic term ranges over cross-relation shingle co-occurrence
    * only (never within either side). In production the corpus side's
    * (id, size, shingle-hash) index is persisted across ingests. */
  def ngramJaccardPairsAcross(left: DataFrame, right: DataFrame,
                              idCol: String, textCol: String,
                              shingleN: Int = 3, threshold: Double = 0.5): DataFrame =
    verifyJaccardAcross(
      jaccardSurvivors(left, right, idCol, textCol, shingleN, threshold,
        sameRelation = false),
      left, right, idCol, textCol, threshold, shingleN)

  /** Exact n-gram Jaccard join with PREFIX FILTERING (AllPairs/PPJoin):
    * order each document's shingles by ascending global document
    * frequency (rarest first, ties broken by hash); any pair with
    * J ≥ t must share a shingle within each other's first
    * |A| − ⌈t·|A|⌉ + 1 shingles under that global order, so only the
    * prefix is indexed. Same result as `ngramJaccardPairs`, but the
    * inverted index shrinks by ~t of each doc and, decisively, the
    * quadratic candidate term now ranges over RARE shingles only —
    * high-frequency shingles (the blowup source at corpus scale) never
    * enter the index. Verification runs the exact Jaccard on candidate
    * pairs.
    */
  def ngramJaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                              shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = df.select(col(idCol), shingles(col(textCol), shingleN).as("_sh"))
    val inv = sh.select(col(idCol), size(col("_sh")).as("_n"),
      explode(col("_sh")).as("_s0"))
      .select(col(idCol), col("_n"), xxhash64(col("_s0")).as("_s"))
    // global document frequency per shingle (one aggregation)
    val dfreq = inv.groupBy("_s").agg(count(lit(1)).as("_df"))
    // rank shingles within each doc by (df, hash); keep the prefix
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("_df").asc, col("_s").asc)
    val prefix = inv.join(dfreq, "_s")
      .withColumn("_rank", row_number().over(w))
      // epsilon inside ceil: float overshoot of n*t would shorten the
      // prefix one below the AllPairs-safe bound (see join prune note)
      .filter(col("_rank") <= col("_n") - ceil(col("_n") * threshold - lit(1e-9)) + 1)
      .select(col(idCol), col("_n"), col("_s"))
    val a = prefix.select(col(idCol).as("id_a"), col("_n").as("_na"), col("_s"))
    val b = prefix.select(col(idCol).as("id_b"), col("_n").as("_nb"), col("_s"))
    val candidates = a.join(b, a("_s") === b("_s") && col("id_a") < col("id_b") &&
        col("_na") >= col("_nb") * threshold - lit(1e-9) &&
        col("_nb") >= col("_na") * threshold - lit(1e-9))
      .select("id_a", "id_b").distinct()
    verifyJaccard(candidates, df, idCol, textCol, threshold, shingleN)
  }

  /** Embedding-cosine near-duplicate dedup (EXACT): drop every row whose
    * cosine similarity with ANY lower-id row reaches `threshold`; the
    * lowest-id representative of each similarity neighborhood survives.
    * One deterministic pass — no transitive-closure ambiguity: a row is
    * dropped iff a lower-id row within `threshold` exists, which is
    * exactly expressible as a SQL NOT EXISTS (the DuckDB oracle).
    *
    * O(n²) candidate join by design — this is the correctness tier and
    * the verifier for `embeddingDedupAnn`, same role brute-force cosine
    * plays for ANN search. */
  def embeddingDedup(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double): DataFrame = {
    val v = df.select(col(idCol).as("_eid"), col(vecCol).cast("array<double>").as("_v"))
      .withColumn("_norm", Similarity.l2norm(col("_v")))
    val a = v.select(col("_eid").as("_ida"), col("_v").as("_va"), col("_norm").as("_na"))
    val b = v.select(col("_eid").as("_idb"), col("_v").as("_vb"), col("_norm").as("_nb"))
    val dupIds = a.join(b, col("_ida") < col("_idb") &&
        Similarity.cosineOrNull(Similarity.dot(col("_va"), col("_vb")),
          col("_na"), col("_nb")) >= threshold)
      .select(col("_idb").as("_eid")).distinct()
    df.join(dupIds, df(idCol) === dupIds("_eid"), "left_anti")
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, public arXiv
    * 2303.09540): k-means the embedding space into `nCells` clusters,
    * then drop rows with a lower-id neighbor at cosine ≥ `threshold`
    * WITHIN the same cluster. The cluster partition bounds the
    * quadratic term to ~n²/nCells in expectation (semantic near-dups
    * land in the same cell by construction), which is what makes the
    * exhaustive-pair tier runnable at corpus scale: the pair join
    * shuffles on the cell id, never forming the global cross product.
    *
    * `nCells = 1` skips clustering entirely and degenerates to
    * [[embeddingDedup]] exactly — the DuckDB-oracle configuration
    * (same NOT EXISTS semantics); the pruned regime's drop set is a
    * SUBSET of the exact tier's (only same-cell pairs are compared),
    * quantified in DedupSpec. The cells come from
    * [[Similarity.assignCells]] (seeded driver-side k-means on a
    * layout-invariant hashed sample), so the kept set does not depend
    * on how `df` is partitioned. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, nCells: Int, seed: Long = 7L): DataFrame = {
    val v = df.select(col(idCol).as("_eid"), col(vecCol).cast("array<double>").as("_v"))
      .withColumn("_norm", Similarity.l2norm(col("_v")))
    val celled = Similarity.assignCells(v, "_v", "_cell", nCells, seed)
    val a = celled.select(col("_eid").as("_ida"), col("_cell"),
      col("_v").as("_va"), col("_norm").as("_na"))
    val b = celled.select(col("_eid").as("_idb"), col("_cell"),
      col("_v").as("_vb"), col("_norm").as("_nb"))
    val dupIds = a.join(b, Seq("_cell"))
      .filter(col("_ida") < col("_idb") &&
        Similarity.cosineOrNull(Similarity.dot(col("_va"), col("_vb")),
          col("_na"), col("_nb")) >= threshold)
      .select(col("_idb").as("_eid")).distinct()
    df.join(dupIds, df(idCol) === dupIds("_eid"), "left_anti")
  }

  /** Embedding-cosine near-dup dedup, LSH tier: identical keep-lowest-id
    * semantics, but candidate pairs come from multi-table SRP-LSH bucket
    * collisions instead of the full cross product — the 100 TB path
    * (shuffle key = (table, bucket); candidates ~linear in n). Recall
    * < 1 means a missed candidate KEEPS a duplicate (never drops a
    * unique row) — the safe failure direction for training-data dedup.
    * The spec quantifies agreement with the exact tier. */
  def embeddingDedupAnn(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, nBits: Int = 0, nTables: Int = 16,
                        dim: Int = 64, seed: Long = 7L): DataFrame = {
    val bits = if (nBits > 0) nBits else Similarity.sizeBits(df.count())
    val planes = (0 until nTables).map(t => Similarity.hyperplanes(bits, dim, seed + t))
    val v = df.select(col(idCol).as("_eid"), col(vecCol).cast("array<double>").as("_v"))
      .withColumn("_norm", Similarity.l2norm(col("_v")))
    val sigs = Similarity.srpSignatures(col("_v"), planes)
    // ids-only bucket pairing (the SelfPairsByKey exec: one exchange of
    // (table, bucket, id), per-bucket pair emission) → distinct
    // candidate pairs → one dot product per pair after joining vectors
    // back on 8-byte keys (multi-table collisions would otherwise
    // re-score the pair per table and drag both vectors through every
    // collision row — see annPairsTopK)
    val banded = v.select(col("_eid"), posexplode(sigs).as(Seq("_tbl", "_bkt")))
    val cand = graft.plans.SelfPairsByKey
      .selfPairsByKey(banded, Seq("_tbl", "_bkt"), "_eid")
      .select(col("id_a").as("_ida"), col("id_b").as("_idb")).distinct()
    val va = v.select(col("_eid").as("_ida"), col("_v").as("_va"), col("_norm").as("_na"))
    val vb = v.select(col("_eid").as("_idb"), col("_v").as("_vb"), col("_norm").as("_nb"))
    val dupIds = cand.join(va, Seq("_ida")).join(vb, Seq("_idb"))
      .filter(Similarity.cosineOrNull(Similarity.dot(col("_va"), col("_vb")),
        col("_na"), col("_nb")) >= threshold)
      .select(col("_idb").as("_eid")).distinct()
    df.join(dupIds, df(idCol) === dupIds("_eid"), "left_anti")
  }

  /** Transitive duplicate clustering: connected components over a
    * near-dup pair set, labeling every node (including singletons from
    * `allNodes`) with the smallest id in its component — the step that
    * turns pairwise dup detection into one canonical representative per
    * cluster (A≈B and B≈C must collapse to one survivor even when A≉C
    * pairwise).
    *
    * Iterative min-label propagation: each round every node adopts the
    * min of its own label and its neighbors' labels; converges in
    * O(component diameter) rounds — dup clusters are shallow, so this
    * is a handful of shuffles on (node, label) pairs, never materializing
    * anything super-linear. Each round the growing plan lineage is cut
    * with a checkpoint (the standard Spark iterative-graph pattern)
    * through a [[CkptChain]] — local or reliable per [[Ckpt]]. Each
    * round's superseded label checkpoint is RELEASED as soon as the new
    * round materializes (O(1) checkpoints held, not O(rounds)); the cut
    * pair relation is released before returning, so exactly the final
    * label checkpoint (which backs the returned DataFrame) outlives the
    * call — callers free it with [[Ckpt.releaseResult]] once consumed. */
  /** `pairs` must carry `id_a`/`id_b` columns (the shape every pair
    * generator in this file emits). The node set is `allNodes` ∪ the
    * pair endpoints, so an id appearing only in `pairs` still gets
    * labeled (and carries transitivity) rather than silently vanishing. */
  def dupClusters(pairs: DataFrame, allNodes: DataFrame, idCol: String): DataFrame = {
    val ch = new CkptChain(pairs.sparkSession)
    // a failure mid-loop — including the non-convergence require below —
    // must not strand held rounds (in reliable mode: durable files with
    // no owner): release everything and rethrow
    try {
    // cut the pair relation BEFORE the symmetrizing self-union: the
    // union's two branches would otherwise each execute the caller's
    // pair pipeline (index+prune+verify — the expensive part of every
    // c23-family query; exchange reuse recovers only the sub-shuffle
    // work). The cut relation is near-dup-PAIR-sized; the union of its
    // blocks is trivial to recompute per iteration. Local A/B (round
    // 12, tools/ProbeSlow, sf0.1): wash-to-mild-win (c23 best 3.62 →
    // 3.25 s, c90 3.34 → 2.58 across runs, noise ±0.5 s) — adopted for
    // the structural guarantee: the pair pipeline executes ONCE
    // regardless of how much of it exchange reuse happens to cover,
    // which is what matters when the verify join dominates at scale.
    val p = ch.cut("pairs")(pairs.select(col("id_a"), col("id_b")))
    val edges =
      p.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
    var labels = ch.cut("labels")(allNodes.select(col(idCol).cast("long").as("node"))
      .union(edges.select(col("src").cast("long").as("node")))
      .distinct()
      .withColumn("rep", col("node")))
    var changed = 1L
    var iter = 0
    val maxIter = 64
    while (changed > 0 && iter < maxIter) {
      val candidates = edges
        .join(labels.select(col("node").as("src"), col("rep").as("srep")), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(min(col("srep")).as("nrep"))
      // round 17 (VERDICT r16 #6): the changed-label count rides out of
      // the cut's own materializing job via Dataset.observe — one Spark
      // job per propagation round instead of cut + filtered count.
      // count(when(...)) never returns null; the filtered-count fallback
      // covers a dropped listener event (the observation travels the
      // listener bus, which sheds load by dropping)
      val obs = org.apache.spark.sql.Observation()
      val updated = ch.cut("labels")(labels
        .join(candidates, Seq("node"), "left")
        .select(col("node"), col("rep").as("_old"),
          least(col("rep"), coalesce(col("nrep"), col("rep"))).as("rep"))
        .observe(obs, count(when(col("rep") =!= col("_old"), lit(1)))
          .as("_chg")))
      changed = org.apache.spark.graft.ListenerBusAccess
        .observed(updated.sparkSession.sparkContext, obs, 60000L)
        .map(_.getAs[Long]("_chg"))
        .getOrElse(updated.filter(col("rep") =!= col("_old")).count())
      labels = updated.select("node", "rep")
      iter += 1
    }
    // a silent non-converged exit would return intermediate (wrong)
    // labels; diameters beyond the cap must fail loudly
    require(changed == 0,
      s"dupClusters did not converge within $maxIter rounds " +
        s"(component diameter exceeds cap; $changed labels still moving)")
    ch.close("labels")
    labels.select(col("node").as(idCol), col("rep").as("cluster_rep"))
    } catch { case t: Throwable => ch.close(); throw t }
  }

  /** 64-bit SimHash of the word multiset: per bit, sum +1/-1 over each
    * word-hash's bit, then assemble set bits. Single shuffle (the 64
    * signed sums are one aggregation).
    *
    * `wordHash` picks the 64-bit word hash: xxhash64 (default — the
    * production choice) or any other well-mixed long hash. The c3 oracle
    * uses `mix64(fingerprint64(w))`, whose arithmetic DuckDB replicates
    * exactly (HUGEINT mod-2⁶⁴ — the c11 pattern), making the whole
    * SimHash pipeline (bit sums, signature assembly, banding, hamming)
    * value-checkable; xxhash64's stripe fold has no SQL replication. */
  def simHash(df: DataFrame, idCol: String, textCol: String,
              wordHash: Column => Column = xxhash64(_)): DataFrame = {
    val words = df.select(col(idCol),
      explode(split(lower(col(textCol)), "\\s+")).as("_w"))
      .withColumn("_h", wordHash(col("_w")))
    val bitSums = (0 until 64).map(i =>
      sum(when(shiftright(col("_h"), i).bitwiseAND(lit(1L)) === 1, 1).otherwise(-1)).as(s"_b$i"))
    val agg = words.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64).map(i =>
      when(col(s"_b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((x, y) => x.bitwiseOR(y))
    agg.select(col(idCol), sig.as("simhash"))
  }

  /** Near-dup candidate pairs by SimHash hamming distance ≤ maxHamming,
    * blocked on 16-bit bands (any doc pair within hamming 3 of a 64-bit
    * signature must agree exactly on at least one of 4 bands).
    * Candidate generation is the payload form of the
    * [[graft.plans.SelfPairsByKey]] exec (round 9): signatures ride
    * WITH the pair so the hamming verify needs no signature re-join,
    * and the banded relation is consumed once — the self-join idiom
    * re-ran the 64-bit-sum signature aggregation per side whenever AQE
    * broadcast one of them. */
  def simHashDupPairs(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3,
                      wordHash: Column => Column = xxhash64(_)): DataFrame = {
    require(maxHamming <= 3, "4-band blocking guarantees recall only for hamming <= 3")
    val sig = simHash(df, idCol, textCol, wordHash)
    val bandVals = array((0 until 4).map(bi =>
      shiftright(col("simhash"), bi * 16).bitwiseAND(lit(65535L))): _*)
    val banded = sig.select(col(idCol), col("simhash"),
      posexplode(bandVals).as(Seq("band_idx", "band_val")))
    graft.plans.SelfPairsByKey
      .selfPairsByKeyWithPayload(banded, Seq("band_idx", "band_val"),
        idCol, "simhash", ("_sa", "_sb"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("_sa").bitwiseXOR(col("_sb"))).as("hamming"))
      // filter BEFORE distinct: band collisions include far pairs
      // (hamming up to 64); dedup should shuffle only the near ones
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Span-level (sub-document) dedup — the RefinedWeb/CCNet line-dedup
    * shape for corpora whose documents carry no line structure: split
    * each document into consecutive `spanWords`-word chunks, keep only
    * each distinct span's FIRST occurrence corpus-wide (smallest
    * (id, position)), and reassemble documents from their surviving
    * spans in original order. Boilerplate repeated across documents
    * disappears from every copy but the first.
    *
    * Output: (id, n_spans, n_kept, new_text) — `new_text` is "" when
    * every span of the document occurs earlier elsewhere.
    *
    * Scale shape: one explode → one aggregation keyed by
    * (xxhash64(span), span) — `exactDedup`'s two-level shape: map-side
    * partial aggregation collapses each distinct span to one row per
    * task, and the exchange's hash partitioning and sort comparisons
    * run on the leading 8-byte hash, so the multi-word span text rides
    * the shuffle as payload instead of being re-compared as the hot
    * key — then one per-document reassembly aggregation keyed by id.
    * The corpus text crosses the wire once per stage; nothing is
    * broadcast or collected. The hash is a pure function of the span,
    * so the grouped result (and the DuckDB oracle) is byte-identical
    * to grouping on the span alone. */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
                spanWords: Int = 10): DataFrame = {
    require(spanWords > 0, s"spanWords must be positive, got $spanWords")
    // one codegen'd pass (WordChunks n = step): the composed
    // transform/sequence/slice form evaluates interpreted per span and
    // re-slices the word array per index
    val base = df
      .select(col(idCol), graft.functions.ChunkFunctions.word_chunks(
        col(textCol), spanWords, spanWords,
        lowercase = false, fullOnly = false).as("_spans"))
      .withColumn("n_spans", size(col("_spans")))
    val exploded = base.select(col(idCol),
      posexplode(col("_spans")).as(Seq("_idx", "_span")))
    // first occurrence per distinct span: min of (id, position) struct
    // (lexicographic struct ordering — one map-side-combined aggregation)
    val kept = exploded
      .withColumn("_h", xxhash64(col("_span")))
      .groupBy(col("_h"), col("_span"))
      .agg(min(struct(col(idCol), col("_idx"))).as("_k"))
      .select(col("_k").getField(idCol).as(idCol),
        col("_k").getField("_idx").as("_idx"), col("_span"))
    val rebuilt = kept
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        // collect_list order is nondeterministic; the struct sort keys on
        // the (unique per doc) position before joining spans back
        array_join(transform(
          array_sort(collect_list(struct(col("_idx"), col("_span")))),
          x => x.getField("_span")), " ").as("new_text"))
    base.select(col(idCol), col("n_spans"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("new_text"), lit("")).as("new_text"))
  }

  /** Boilerplate-segment removal (the CCNet/RefinedWeb line-filter
    * semantics, on the same word-window segment notion as [[spanDedup]]):
    * a segment is boilerplate when it occurs in MORE THAN `maxDocs`
    * distinct documents of the SAME source — nav chrome, headers,
    * footers, cookie banners — and then EVERY occurrence is dropped,
    * including the first. That frequency rule is what distinguishes this
    * from [[spanDedup]]'s first-occurrence-keeps dedup: dedup preserves
    * one copy of repeated content; boilerplate removal decides the
    * content itself is template noise and keeps none. Scoping the
    * frequency to the source is load-bearing — a segment that is chrome
    * on one site can be organic text on another.
    *
    * Output: (id, n_segments, n_boiler, new_text) — `n_boiler` counts
    * this document's dropped segment occurrences; `new_text` is "" when
    * the whole document was template.
    *
    * Scale shape: one codegen WordChunks pass → one explode; the
    * doc-frequency aggregation and the drop anti-join are both keyed on
    * xxhash64(source, segment) — 8-byte leading keys, map-side partial
    * aggregation, segment text rides as payload and is compared exactly
    * only on hash-equal rows. The boilerplate relation is output-side
    * tiny at sane thresholds (segments repeated across many docs), so
    * AQE broadcasts the anti-join side; nothing is collected. */
  def boilerplateSegments(df: DataFrame, idCol: String, srcCol: String,
                          textCol: String, segWords: Int = 10,
                          maxDocs: Int = 1): DataFrame = {
    require(segWords > 0, s"segWords must be positive, got $segWords")
    require(maxDocs >= 1, s"maxDocs must be >= 1, got $maxDocs")
    val base = df
      .select(col(idCol), col(srcCol), graft.functions.ChunkFunctions.word_chunks(
        col(textCol), segWords, segWords,
        lowercase = false, fullOnly = false).as("_segs"))
      .withColumn("n_segments", size(col("_segs")))
    val exploded = base.select(col(idCol), col(srcCol),
        posexplode(col("_segs")).as(Seq("_idx", "_seg")))
      .withColumn("_h", xxhash64(col(srcCol), col("_seg")))
    val boiler = exploded
      .groupBy(col("_h"), col(srcCol), col("_seg"))
      .agg(countDistinct(col(idCol)).as("_df"))
      .filter(col("_df") > maxDocs)
      .select(col("_h"), col(srcCol), col("_seg"))
    val kept = exploded.join(boiler, Seq("_h", srcCol, "_seg"), "left_anti")
    val rebuilt = kept
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        // collect_list order is nondeterministic; sort on the per-doc
        // unique position before joining segments back
        array_join(transform(
          array_sort(collect_list(struct(col("_idx"), col("_seg")))),
          x => x.getField("_seg")), " ").as("new_text"))
    base.select(col(idCol), col("n_segments"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_segments"),
        (col("n_segments").cast("long") - coalesce(col("n_kept"), lit(0L)))
          .as("n_boiler"),
        coalesce(col("new_text"), lit("")).as("new_text"))
  }

  /** Canonical-selection dedup: given the (id, cluster_rep) output of
    * `dupClusters`, keep the highest-quality member of each cluster
    * instead of the smallest-id one — quality-aware dedup (e.g. keep
    * the longest/cleanest copy of a near-dup group, drop the rest).
    * Ties break on ascending id, so selection is total.
    *
    * Scale shape: two cascaded map-side-combined aggregations — first
    * on (cluster_rep, quality) (min id + count per quality level),
    * then on cluster_rep alone, where `max(struct(quality, min_id))`
    * picks the best level — no window, no sort, and the cluster
    * membership join is evaluated exactly ONCE (the round-5 form
    * self-joined the membership relation against its own aggregation,
    * running the join twice — VERDICT r5 item 3). Dup clusters are
    * usually small, but the real-world exception — one boilerplate
    * string shared by millions of documents — is exactly where a
    * window-partitioned-by-cluster formulation lands the whole cluster
    * in a single task and sorts it; here stage 1's partial aggregation
    * combines per task, so a giant cluster costs one state row per
    * task, and stage 2 runs on one row per (cluster, distinct
    * quality). (A single `max_by(…, struct(quality, -id))` would be
    * one aggregation fewer but silently restricts id to NUMERIC types;
    * the struct max keys on quality first and only consults id on
    * ties, which cannot occur across distinct quality groups — so id
    * stays type-agnostic.) Singleton clusters pass through untouched.
    * A NULL quality loses to every non-NULL one (struct ordering puts
    * a NULL field first in ascending order, so max prefers any
    * non-NULL quality; an all-NULL-quality cluster falls back to min
    * id) — the window form's desc-NULLS-last. */
  def keepBestPerCluster(clusters: DataFrame, df: DataFrame,
                         idCol: String, qualityCol: String): DataFrame = {
    val joined = clusters.join(df.select(col(idCol), col(qualityCol)), Seq(idCol))
    joined
      .groupBy(col("cluster_rep"), col(qualityCol))
      .agg(min(col(idCol)).as("_mid"), count(lit(1)).as("_cnt"))
      .groupBy(col("cluster_rep"))
      .agg(max(struct(col(qualityCol), col("_mid"))).as("_best"),
        sum(col("_cnt")).as("cluster_size"))
      .select(col("cluster_rep"), col("_best").getField("_mid").as(idCol),
        col("_best").getField(qualityCol).as(qualityCol), col("cluster_size"))
  }

  /** Incremental ingestion dedup: drop documents from `batch` whose text
    * already exists in `corpus`, after first deduplicating the batch
    * against itself (keep smallest id). The standard shape for appending
    * a new crawl to an existing training corpus without re-deduplicating
    * the corpus.
    *
    * Scale shape: within-batch dedup is `exactDedup` (8-byte-hash
    * shuffle); the batch-vs-corpus check is an anti-join whose equi-key
    * is the 64-bit content hash — the corpus text column rides along
    * only for collision verification inside the join condition. In
    * production the corpus side is the persisted (hash, text)
    * fingerprint table maintained across ingests, not a rescan. */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val withinDeduped = exactDedup(batch, idCol, textCol)
    // no distinct() on the corpus side: anti-join semantics ignore right
    // multiplicity, and deduplicating first would shuffle the full text
    // column once more for nothing
    val seen = corpus
      .select(xxhash64(col(textCol)).as("_h"), col(textCol).as("_seen_text"))
    // null-safe on BOTH conjuncts: xxhash64(NULL) is NULL, and a plain
    // `===` on the hash would null the whole condition, letting a
    // NULL-text batch row slip past a NULL-text corpus — inconsistent
    // with exactDedup, which treats NULL as one distinct text throughout
    withinDeduped.join(seen,
      xxhash64(withinDeduped(textCol)) <=> seen("_h") &&
        withinDeduped(textCol) <=> seen("_seen_text"),
      "left_anti")
  }

  /** Edit-distance near-dup tier: candidate pairs from the exact
    * shingle-Jaccard join at a LOW recall threshold, then verified by
    * relative Levenshtein similarity
    * `1 − lev(a,b) / max(len(a), len(b)) ≥ simThreshold`.
    *
    * Why a second metric: Jaccard over bag-of-shingles is
    * order-insensitive — two documents built from the same boilerplate
    * sentences in different order score high; Levenshtein is
    * order-sensitive, so this is the precision tier for "same text,
    * small local edits" near-dups (the typo/re-crawl/template-fill
    * class), layered on the shingle stage's recall.
    *
    * Scale shape: the O(|a|·|b|) dynamic program is paid ONLY on
    * candidate pairs — the shingle stage (hashed inverted index +
    * size-ratio prune) bounds them, and the full text column is joined
    * back on the narrow id keys only for those survivors. `levenshtein`
    * is Spark's codegen'd expression, no UDF. Filter on the RAW ratio,
    * output rounded to 6 (keeps the oracle compare on stable digits). */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, candThreshold: Double = 0.3,
                        simThreshold: Double = 0.8): DataFrame = {
    val cands = ngramJaccardPairs(df, idCol, textCol, shingleN, candThreshold)
      .select("id_a", "id_b")
    val a = df.select(col(idCol).as("id_a"), col(textCol).as("_ta"))
    val b = df.select(col(idCol).as("id_b"), col(textCol).as("_tb"))
    val rawSim = lit(1.0) -
      levenshtein(col("_ta"), col("_tb")).cast("double") /
        greatest(length(col("_ta")), length(col("_tb"))).cast("double")
    cands
      .join(a, Seq("id_a"))
      .join(b, Seq("id_b"))
      .filter(rawSim >= simThreshold)
      .select(col("id_a"), col("id_b"), round(rawSim, 6).as("edit_sim"))
  }

  /** Corpus-level duplicated-substring detection (the exact-substring
    * dedup shape of "Deduplicating Training Data Makes Language Models
    * Better", Lee et al. 2022 — arXiv:2107.06499): every `windowChars`-
    * char sliding window that occurs MORE THAN ONCE anywhere in the
    * corpus (across docs or within one) marks its region duplicated;
    * overlapping/adjacent marked windows merge into maximal spans, and
    * each affected document reports its span count, window count,
    * duplicated char count, and duplicated fraction — the removal mask
    * of the suffix-array method, computed relationally.
    *
    * Scale shape (the suffix array is a single-machine structure; this
    * is its distributed hash equivalent):
    *  1. windows via the codegen [[graft.functions.CharNgrams]] pass
    *     (one UTF-8 walk per doc) + posexplode — rows linear in corpus
    *     chars;
    *  2. dup-hash detection: groupBy on the 8-byte xxhash64 — the
    *     shuffle carries ONLY the hash column (map-side combined);
    *  3. occurrence recovery: a BLOOM of the dup hashes probed
    *     map-side (round 11 — the window relation never shuffles for a
    *     join; full recall: the bloom only admits false candidates,
    *     like hash collisions), falling back to the 8-byte equi-join
    *     when dup-hash cardinality exceeds the runtime-bloom limits —
    *     see [[onlyDupWindows]];
    *  4. collision AND bloom-fp discard: a count over (hash, window
    *     STRING) among candidates only — candidate-sized, so the
    *     string never rides a corpus-wide shuffle (the c59 discipline);
    *  5. span merge: gaps-and-islands windows partitioned BY DOC —
    *     partitions doc-sized, never global.
    * Snapshot contract: the dup-hash set is frozen at CALL time (see
    * [[onlyDupWindows]]) — the input must be a stable batch snapshot.
    * Docs shorter than the window contribute one truncated window
    * (CharNgrams semantics), so whole-short-doc duplicates still
    * count; island char spans are clamped to doc length. */
  /** All `windowChars`-char sliding windows of every document: one
    * codegen CharNgrams pass + posexplode — (id, doc length, 1-based
    * start, 8-byte hash, window string). Shared by the substring-dedup
    * family. */
  private def charWindows(df: DataFrame, idCol: String, textCol: String,
                          windowChars: Int): DataFrame =
    df.select(col(idCol), length(col(textCol)).as("_nc"),
        posexplode(graft.functions.ChunkFunctions.char_ngrams(
          col(textCol), windowChars, lowercase = false)))
      .select(col(idCol), col("_nc"), (col("pos") + 1).as("_pos"),
        xxhash64(col("col")).as("_h"), col("col").as("_win"))

  /** Merge marked window start positions into maximal per-doc spans
    * (gaps-and-islands: windows whose starts are ≤ `windowChars` apart
    * overlap or touch, so they fuse) and report per-doc mask stats.
    * Input: (idCol, _nc, _pos) rows, one per marked window. */
  private def spanStats(marked: DataFrame, idCol: String,
                        windowChars: Int): DataFrame = {
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("_pos"))
    val run = byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val islands = marked
      .withColumn("_brk",
        when(col("_pos") - lag(col("_pos"), 1).over(byDoc) <= windowChars, lit(0))
          .otherwise(lit(1)))
      .withColumn("_island", sum(col("_brk")).over(run))
    islands.groupBy(col(idCol), col("_island"))
      .agg(min(col("_pos")).as("_p0"), max(col("_pos")).as("_p1"),
        count(lit(1)).as("_nw"), first(col("_nc")).as("_ncs"))
      .withColumn("_chars",
        least(col("_p1") + windowChars - 1, col("_ncs")) - col("_p0") + 1)
  }

  /** Restrict the corpus-sized window relation to windows whose hash is
    * duplicated — the shared prefilter of the substring-dedup family.
    * Preferred path (round 11, measured 1.7× at sf0.1): build a BLOOM
    * over the dup hashes and probe it map-side, so the string-bearing
    * window relation never shuffles for a join — only survivors (the
    * actually-duplicated windows + ~1 % fp) reach the (hash, string)
    * verify shuffle. Value-identical to the equi-join prefilter BY THE
    * SAME ARGUMENT that makes hashing sound here: exactness comes from
    * the callers' `count over (_h, _win) > 1` STRING-level check, which
    * kills bloom false positives exactly like hash collisions. The two
    * eager dup-hash passes (count to size the filter, aggregate to
    * build it) run on a cached 8-byte-row relation — the same
    * driver-side hop [[graft.operators.TextAnalysis.decontaminateBloom]]
    * and Spark's own runtime-filter subquery make. When the dup-hash
    * cardinality exceeds the session's runtime-bloom limits (the bloom
    * literal would bloat every task binary), falls back to the
    * equi-join prefilter — correct at any scale, just pays the second
    * corpus shuffle.
    *
    * SNAPSHOT SEMANTICS (ADVICE r11): the dup-hash set is computed
    * EAGERLY here — the bloom is frozen into the returned plan as a
    * literal at call time (and the fallback equi-join joins against the
    * relation cached by that same pass). The substring-dedup family
    * therefore treats its input as a stable batch snapshot, which every
    * graft caller satisfies (deterministic parquet scans); re-executing
    * the returned DataFrame after the underlying source CHANGES may
    * miss newly-duplicated windows. This is the same plan-time-snapshot
    * contract every collected model in this codebase makes (MinHash
    * calibration, IVF centroids, decontaminateBloom); documented here
    * because the old always-lazy equi-join happened to recompute.
    *
    * Cost accounting: ONE eager pass over the map-side-combined
    * dup-hash aggregate sizes the filter (count), a SECOND cached pass
    * builds the bloom — both on a cached 8-byte-row relation, so the
    * corpus is scanned once. The zero-dup case short-circuits to an
    * explicit always-false filter (no reliance on BloomFilterAggregate
    * null propagation over an empty relation). The over-limit fallback
    * returns a join against the still-cached dup-hash relation — the
    * cache stays PINNED so fallback actions don't re-aggregate the
    * corpus (the r11 advice's double-pass); it is released by the
    * session's cache clear / unpersist hygiene, and an evicted cache
    * only costs recomputation, never correctness. */
  private def onlyDupWindows(wins: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    val spark = wins.sparkSession
    val dupHashes = wins.groupBy("_h").agg(count(lit(1)).as("_hc"))
      .filter(col("_hc") > 1).select("_h")
    val cached = dupHashes.cache()
    val n =
      try cached.count()
      catch { case e: Throwable => cached.unpersist(blocking = false); throw e }
    if (n == 0L) { // no duplicated window anywhere: nothing can survive
      cached.unpersist(blocking = false)
      return wins.filter(lit(false))
    }
    val maxItems = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
    val maxBits = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
    val numBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(n, 0.01)
    if (n > maxItems || numBits > maxBits)
      wins.join(cached, Seq("_h")) // cache pinned — see Scaladoc
    else try {
      val bloomAgg = toCol(new BloomFilterAggregate(
        toExpr(col("_h")), Literal(n), Literal(numBits)).toAggregateExpression())
      val bloomBytes = cached.agg(bloomAgg.as("_bf"))
        .head().getAs[Array[Byte]]("_bf")
      wins.filter(toCol(BloomFilterMightContain(
        Literal.create(bloomBytes, BinaryType), toExpr(col("_h")))))
    } finally cached.unpersist(blocking = false)
  }

  def duplicatedSubstringStats(df: DataFrame, idCol: String, textCol: String,
                               windowChars: Int = 30): DataFrame = {
    require(windowChars > 0, s"windowChars must be positive, got $windowChars")
    val wins = charWindows(df, idCol, textCol, windowChars)
    val byWin = Window.partitionBy("_h", "_win")
    val verified = onlyDupWindows(wins)
      .withColumn("_scnt", count(lit(1)).over(byWin))
      .filter(col("_scnt") > 1)
      .select(col(idCol), col("_nc"), col("_pos"))
    spanStats(verified, idCol, windowChars).groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_dup_spans"),
        sum(col("_nw")).as("n_dup_windows"),
        sum(col("_chars")).cast("long").as("dup_chars"),
        round(sum(col("_chars")).cast("double") /
          first(col("_ncs")).cast("double"), 6).as("dup_frac"))
  }

  /** The REMOVAL step completing [[duplicatedSubstringStats]] (Lee et
    * al. 2022): every duplicated `windowChars`-char window keeps its
    * FIRST occurrence corpus-wide (min (doc, pos) — the c27 discipline)
    * and later occurrences are cut; cut windows merge into maximal
    * spans per doc and each affected document is reconstructed from
    * the text between its cut spans. Returns only affected docs:
    * (id, new_text, removed_chars, n_cut_spans).
    *
    * Same scale skeleton as the detect step (hash-only first shuffle,
    * candidate-bounded string tier, doc-partitioned islands) plus:
    *  - the winner rank runs over (hash, STRING) partitions of the
    *    CANDIDATE set only;
    *  - cut spans aggregate per doc into a spans-per-doc-sized array,
    *    so the text column is joined back ONCE per affected doc and
    *    the rebuild is a single `aggregate` higher-order expression
    *    walking that array — no per-span text duplication, no second
    *    corpus shuffle. Island construction guarantees spans are
    *    disjoint with ≥1 kept char between them, so `removed_chars`
    *    is an exact sum and the walk never backtracks.
    * Snapshot contract: the dup-hash set is frozen at CALL time (see
    * [[onlyDupWindows]]) — the input must be a stable batch snapshot. */
  def substringTrim(df: DataFrame, idCol: String, textCol: String,
                    windowChars: Int = 30): DataFrame = {
    require(windowChars > 0, s"windowChars must be positive, got $windowChars")
    val wins = charWindows(df, idCol, textCol, windowChars)
    val byWin = Window.partitionBy("_h", "_win")
    val cut = onlyDupWindows(wins)
      .withColumn("_scnt", count(lit(1)).over(byWin))
      .withColumn("_rn", row_number().over(
        byWin.orderBy(col(idCol).asc, col("_pos").asc)))
      .filter(col("_scnt") > 1 && col("_rn") > 1)
      .select(col(idCol), col("_nc"), col("_pos"))
    val spans = spanStats(cut, idCol, windowChars)
      .withColumn("_s", col("_p0"))
      .withColumn("_e", least(col("_p1") + lit(windowChars - 1), col("_ncs")))
    val ranges = spans.groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("_s"), col("_e")))).as("_rs"),
        sum(col("_e") - col("_s") + 1).cast("long").as("removed_chars"),
        count(lit(1)).as("n_cut_spans"))
    val t = df.select(col(idCol), col(textCol).as("_txt"),
      length(col(textCol)).as("_len"))
    ranges.join(t, Seq(idCol))
      .withColumn("new_text",
        aggregate(col("_rs"),
          struct(lit(0).as("last"), lit("").as("acc")),
          (acc, r) => struct(
            r.getField("_e").as("last"),
            concat(acc.getField("acc"),
              col("_txt").substr(acc.getField("last") + 1,
                r.getField("_s") - acc.getField("last") - 1)).as("acc")),
          acc => concat(acc.getField("acc"),
            col("_txt").substr(acc.getField("last") + 1,
              col("_len") - acc.getField("last")))))
      .select(col(idCol), col("new_text"), col("removed_chars"),
        col("n_cut_spans"))
  }

  /** Containment near-dup join: pairs whose shingle-set CONTAINMENT
    * `|A∩B| / min(|A|,|B|)` ≥ `threshold` — the asymmetric measure that
    * catches a short document embedded in a longer one (quotes,
    * concatenated crawl pages, doc+boilerplate), which Jaccard
    * structurally cannot: J(A,B) ≤ |A|/|B| however complete the
    * containment, so a 10× length gap caps Jaccard at 0.1.
    *
    * Same two-tier collision-proof design as [[ngramJaccardPairs]] —
    * hashed inverted index (8-byte shuffle keys), hash-level common
    * count (collisions only inflate → full-recall superset), exact
    * string-set re-verification on survivors — MINUS the size-ratio
    * prune inside the join: containment is size-ratio-free by design,
    * that prune is exactly what must not run. The quadratic term is
    * therefore bounded only by shingle co-occurrence; at corpus scale
    * the prefix-filter variant does not apply either (it also assumes
    * Jaccard's size bound), so cost control is the shingle-frequency
    * cap upstream (drop ubiquitous shingles — they cannot witness
    * containment of anything distinctive). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, threshold: Double = 0.9): DataFrame = {
    val a = invertedIndex(df, idCol, textCol, shingleN, "id_a", "_na")
    val b = invertedIndex(df, idCol, textCol, shingleN, "id_b", "_nb")
    val cands = a.join(b, a("_s") === b("_s") && col("id_a") < col("id_b"))
      .drop(b("_s"))
      .groupBy("id_a", "id_b", "_na", "_nb")
      .agg(count(lit(1)).as("_common"))
      .filter(col("_common").cast("double") /
        least(col("_na"), col("_nb")).cast("double") >= threshold - 1e-9)
      .select("id_a", "id_b")
    def sets(idAs: String, wsAs: String) =
      df.select(col(idCol).as(idAs), shingles(col(textCol), shingleN).as(wsAs))
    val raw = size(array_intersect(col("_wa"), col("_wb"))).cast("double") /
      least(size(col("_wa")), size(col("_wb"))).cast("double")
    cands
      .join(sets("id_a", "_wa"), Seq("id_a"))
      .join(sets("id_b", "_wb"), Seq("id_b"))
      .filter(raw >= threshold)
      .select(col("id_a"), col("id_b"), round(raw, 6).as("containment"))
  }

  /** Char-level benchmark decontamination: training documents sharing
    * any `windowChars`-char substring with the benchmark set, with the
    * contaminated regions merged into maximal spans — the
    * "N-character overlap" decontamination rule frontier evals use,
    * where `c25`/`c67` are the word-n-gram variants. A train doc with
    * a high `contam_frac` IS the benchmark (drop it); a low fraction
    * is a quoted snippet (trim the span).
    *
    * Scale shape: benchmark windows dedup to (hash, string) — the
    * benchmark suite is model-sized next to a 100 TB corpus, so the
    * join broadcasts (and at worst shuffles 8-byte keys); the corpus
    * side is one CharNgrams pass, never self-joined. Hash collisions
    * are discarded by the in-join string equality (pairwise here —
    * cheaper than c76's group-count because containment is a pair
    * property, not a group property). */
  def substringDecontam(train: DataFrame, bench: DataFrame,
                        idCol: String, textCol: String,
                        windowChars: Int = 30): DataFrame = {
    require(windowChars > 0, s"windowChars must be positive, got $windowChars")
    val trainWins = charWindows(train, idCol, textCol, windowChars)
    val benchWins = charWindows(bench, idCol, textCol, windowChars)
      .select(col("_h"), col("_win").as("_bwin")).distinct()
    val marked = trainWins
      .join(benchWins, Seq("_h"))
      .filter(col("_win") === col("_bwin"))
      .select(col(idCol), col("_nc"), col("_pos"))
    spanStats(marked, idCol, windowChars).groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_contam_spans"),
        sum(col("_nw")).as("n_contam_windows"),
        sum(col("_chars")).cast("long").as("contam_chars"),
        round(sum(col("_chars")).cast("double") /
          first(col("_ncs")).cast("double"), 6).as("contam_frac"))
  }

  /** Cluster MEDOID selection: per near-dup cluster (transitive closure
    * of `ngramJaccardPairs` at `threshold`, via [[dupClusters]]), the
    * member with the LARGEST total shared-shingle count summed over the
    * cluster's qualifying near-dup pairs — the "most representative"
    * keep rule, where
    * [[clusterKeepBest]]-style rules keep the best-scored and
    * [[dupClusters]] labels by min id. Ties break to the smaller id;
    * singleton clusters keep their only member.
    *
    * Scores are INTEGER intersection-count sums — exact and
    * associative, so the ranking cannot flip between engines (or
    * partial-aggregation orders) the way a float similarity sum can on
    * near-ties. The pairwise term ranges over in-cluster pairs only.
    * Output: (cluster_rep, cluster_size, medoid_id). */
  def clusterMedoids(df: DataFrame, idCol: String, textCol: String,
                     shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one verify pass yields BOTH the qualifying pairs and their exact
    // shared-shingle counts (round 12 — previously the weights re-joined
    // the corpus-wide shingle relation and re-intersected per pair),
    // and the pair relation is consumed twice (CC edges + weights), so
    // it is checkpointed ONCE here: it is near-dup-pair-sized (bounded
    // far below the corpus), and without the cut the whole
    // index+prune+verify pipeline re-executes per consumer — measured
    // 4.8 → ~3.3 s at sf0.1 (tools/ProbeMedoid)
    val detailed = Ckpt.cut(verifyJaccardDetailed(
      jaccardSurvivors(df, df, idCol, textCol, shingleN, threshold,
        sameRelation = true),
      df, df, idCol, textCol, threshold, shingleN))
    val pairs = detailed.select("id_a", "id_b")
    val wpairs = detailed.select(col("id_a"), col("id_b"),
      col("_common").as("_w"))
    val labels = dupClusters(pairs, df, idCol)
    val wedges = wpairs.select(col("id_a").as("_n"), col("_w"))
      .unionByName(wpairs.select(col("id_b").as("_n"), col("_w")))
    val scores = wedges
      .join(labels.select(col(idCol).as("_n"), col("cluster_rep")), Seq("_n"))
      .groupBy(col("cluster_rep"), col("_n"))
      .agg(sum(col("_w")).as("_s"))
    val w = Window.partitionBy("cluster_rep").orderBy(col("_s").desc, col("_n"))
    val medoids = scores
      .withColumn("_rk", row_number().over(w)).filter(col("_rk") === 1)
      .select(col("cluster_rep"), col("_n").as("medoid_id"))
    labels.groupBy(col("cluster_rep")).agg(count(lit(1)).as("cluster_size"))
      .join(medoids, Seq("cluster_rep"), "left")
      .select(col("cluster_rep"), col("cluster_size"),
        coalesce(col("medoid_id"), col("cluster_rep")).as("medoid_id"))
  }

  /** Winnowing fingerprint selection (Schleimer–Wilkerson–Aiken, the
    * MOSS algorithm): hash every character `k`-gram, slide a window of
    * `w` consecutive hashes, and keep each window's MINIMUM — the
    * distinct kept hashes are the document's fingerprint set. The
    * guarantee that makes it a dedup primitive rather than a sampler:
    * any substring of length ≥ k+w−1 shared by two documents
    * contributes at least one COMMON selected fingerprint (both sides
    * pick the same minimum inside the shared region), while only
    * ~2/(w+1) of all gram hashes are kept.
    *
    * The whole selection is per-document array arithmetic inside one
    * projection — the codegen [[graft.functions.CharNgrams]] gram pass,
    * one hash lambda over the gram array, and the codegen
    * [[graft.functions.SlidingMin]] monotonic-deque window pass — with
    * no explode until the final fingerprint relation, so nothing
    * shuffles until the 8-byte (id, fp) rows. SlidingMin exists
    * precisely because the composed built-in form
    * (`array_min(slice(hashes, j, w))` per window position) re-evaluates
    * the whole hash array per position after CollapseProject inlines
    * it into the interpreted lambda — O(n²·k) per document, minutes
    * instead of seconds at sf0.1.
    *
    * The positional tie rule of the paper (rightmost minimum) is
    * deliberately irrelevant here: ties tie on the hash VALUE, and the
    * output keeps distinct values per document, so which position wins
    * cannot change the fingerprint set.
    *
    * `gramHash` defaults to mix64∘fingerprint64 — the engine-replicable
    * full-avalanche chain (same discipline as SimHash's word hash), so
    * an external oracle can replay the exact selected values. */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
                            k: Int, w: Int,
                            gramHash: Column => Column =
                              c => graft.functions.TextFunctions.mix64(
                                graft.functions.TextFunctions.fingerprint64(c))): DataFrame = {
    require(k > 0 && w > 0, s"k and w must be positive, got k=$k w=$w")
    val t = col(textCol)
    // shorter-than-k texts have no gram; CharNgrams would emit one
    // partial gram for them, so guard them out first
    df.filter(length(t) >= k)
      .select(col(idCol),
        array_distinct(graft.functions.SlidingMinFunctions.sliding_min(
          transform(
            graft.functions.ChunkFunctions.char_ngrams(t, k, lowercase = false),
            g => gramHash(g)),
          w)).as("_fps"))
      .select(col(idCol), explode(col("_fps")).as("fp"))
  }

  /** Position-keeping variant of [[winnowingFingerprints]]: one row per
    * (document, selected fingerprint) with the FIRST and LAST window
    * start positions (1-based) where that fingerprint was selected —
    * the raw material for locating shared regions, not just counting
    * them. Same selection, same hash chain; the per-(id, fp) aggregate
    * replaces the in-projection distinct. */
  def winnowingFingerprintSpans(df: DataFrame, idCol: String, textCol: String,
                                k: Int, w: Int,
                                gramHash: Column => Column =
                                  c => graft.functions.TextFunctions.mix64(
                                    graft.functions.TextFunctions.fingerprint64(c))): DataFrame = {
    require(k > 0 && w > 0, s"k and w must be positive, got k=$k w=$w")
    val t = col(textCol)
    df.filter(length(t) >= k)
      .select(col(idCol),
        posexplode(graft.functions.SlidingMinFunctions.sliding_min(
          transform(
            graft.functions.ChunkFunctions.char_ngrams(t, k, lowercase = false),
            g => gramHash(g)),
          w)).as(Seq("_j", "fp")))
      .groupBy(col(idCol), col("fp"))
      .agg((min(col("_j")) + 1).as("first_pos"),
        (max(col("_j")) + 1).as("last_pos"))
  }

  /** MOSS-style overlap-extent report: for each document pair sharing
    * ≥ `minShared` selected fingerprints, the approximate CHAR SPAN of
    * the shared material in EACH document — where the overlap lives,
    * not just that it exists (the plagiarism-report complement of
    * [[winnowingPairs]]).
    *
    * A fingerprint selected at window start j covers grams j…j+w−1 of
    * k chars each, i.e. chars j…j+k+w−2; the reported span is
    * [min start, max start + k+w−2] per doc. Honest approximation
    * bound: winnowing guarantees a common fingerprint only for shared
    * regions ≥ k+w−1 chars, so edges under-cover by up to that much —
    * an extent ESTIMATE, exactly what MOSS itself reports.
    *
    * Same df-cull and scale shape as [[winnowingPairs]]; the join
    * carries one row per (doc, fp) regardless of how often a
    * fingerprint repeats inside a document (repetitive text cannot
    * blow up the pair join). */
  def winnowingOverlapSpans(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 20, w: Int = 5, minShared: Int = 3,
                            maxDocFreq: Int = 10): DataFrame = {
    require(minShared > 0 && maxDocFreq > 0,
      s"minShared/maxDocFreq must be positive, got $minShared/$maxDocFreq")
    val spans = winnowingFingerprintSpans(df, idCol, textCol, k, w)
    val rare = spans.groupBy(col("fp"))
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDocFreq)
      .select(col("fp"))
    val kept = spans.join(rare, Seq("fp"))
    val ext = k + w - 2
    kept.select(col("fp"), col(idCol).as("id_a"),
        col("first_pos").as("_fa"), col("last_pos").as("_la"))
      .join(kept.select(col("fp"), col(idCol).as("id_b"),
        col("first_pos").as("_fb"), col("last_pos").as("_lb")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"),
        min(col("_fa")).as("a_start"), (max(col("_la")) + ext).as("a_end"),
        min(col("_fb")).as("b_start"), (max(col("_lb")) + ext).as("b_end"))
      .filter(col("n_shared") >= minShared)
  }

  /** Winnowing overlap join: pairs of documents sharing ≥ `minShared`
    * selected fingerprints — partial-overlap/plagiarism detection, the
    * positional complement of set-Jaccard near-dup (`ngramJaccardPairs`
    * asks "are the SETS similar"; this asks "do they share a long
    * enough REGION").
    *
    * `maxDocFreq` drops fingerprints present in more than that many
    * documents before pairing — boilerplate regions otherwise create a
    * df² pair blowup per common fingerprint, the exact failure mode of
    * every inverted-index join at corpus scale (MOSS applies the same
    * cull). The document-frequency relation is (fp, df) — 8-byte keys,
    * map-side combinable; the pair count shuffles on the (id_a, id_b)
    * long pair only. */
  def winnowingPairs(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 20, w: Int = 5, minShared: Int = 3,
                     maxDocFreq: Int = 10): DataFrame = {
    require(minShared > 0 && maxDocFreq > 0,
      s"minShared/maxDocFreq must be positive, got $minShared/$maxDocFreq")
    val fps = winnowingFingerprints(df, idCol, textCol, k, w)
    val rare = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDocFreq)
      .select(col("fp"))
    val kept = fps.join(rare, Seq("fp"))
    kept.select(col("fp"), col(idCol).as("id_a"))
      .join(kept.select(col("fp"), col(idCol).as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
