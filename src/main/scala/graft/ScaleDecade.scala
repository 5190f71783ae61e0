package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture generator for [[Bench]]'s `scale_decade` gate: one scale
  * decade up on the heavy family. The per-round gates measure sf0.01 →
  * sf0.1; the 100× efficiency claims above that rest on plan shape.
  * This synthesizes a k× slice of the heavy-family fixtures by
  * disjoint-copy replication of a base SF directory — the same scaling
  * semantics as the TPC-H generator (entity COUNTS grow with SF,
  * per-entity degree stays constant) — so a hidden superlinear term (a
  * driver-side collect that grows with the corpus, a join that
  * degenerates past AQE's local thresholds) shows up as a time ratio
  * far above the data ratio.
  *
  * Replication details, chosen so the per-copy structure is EXACTLY
  * the base's:
  *   - orders/lineitem: every key column shifted by copy·(max+1) of its
  *     keyspace — the bipartite graphs (cust→supp for c57, cust↔part
  *     for c100/c104) become k disjoint copies; node and edge counts
  *     scale ×k, degrees unchanged.
  *   - documents: doc_id shifted; text mapped through a per-copy letter
  *     bijection (so WITHIN-copy shingle-set Jaccard — what c2
  *     measures — is preserved verbatim, while cross-copy shingle sets
  *     are disjoint: the dup-pair count scales ×k, not ×k²).
  *   - embeddings: vec_id shifted; non-zero copies perturbed with a
  *     copy-and-dimension-dependent term so the ANN corpus grows
  *     without planting exact duplicates. The c14 query set
  *     (vec_id < 10) stays fixed — the gate measures corpus-side
  *     scaling at constant query load, the serve shape.
  */
object ScaleDecade {
  /** The five heavy-family members of the gate. */
  val Queries = Seq("c57_pagerank", "c104_kcore",
    "c100_triangle_count", "c2_dedup_minhash", "c14_ann_knn")

  /** Generator version, recorded in each fixture's `_DONE` marker and
    * in the bench artifact. Bump on ANY change to [[generate]]: a
    * persisted fixture whose marker doesn't match is regenerated, so a
    * stale-fixture round can never masquerade as a clean ratio. */
  val GenVersion = "disjoint-copy-v3"

  /** Expected output-row multiplier per gate member on a ×k
    * disjoint-copy fixture (round 17, VERDICT r16 #2 — the
    * row-invariant decade gate): graph node relations and within-copy
    * dup pairs replicate ×k exactly (cross-copy shingle overlap is
    * empirically zero at k ≤ 10 — verified ×10.000 on this fixture,
    * and ×3.00 at sf3 in r15); c14's query set is pinned (vec_id < 10,
    * all in copy 0), so its output is corpus-size-invariant. The law is
    * host-noise-IMMUNE: a fixture or plan regression moves rows, a bad
    * host window only moves seconds. */
  def rowLaw(k: Int): Map[String, Long] = Map(
    "c57_pagerank" -> k.toLong, "c104_kcore" -> k.toLong,
    "c100_triangle_count" -> k.toLong, "c2_dedup_minhash" -> k.toLong,
    "c14_ann_knn" -> 1L)

  /** Generate the k× fixture at `dir` from `base` unless a fixture with
    * the current [[GenVersion]] already exists there (generation is
    * deterministic, so persisted slices are reused across rounds).
    * Returns true if generation ran. */
  def ensureFixture(spark: SparkSession, base: String, dir: String, k: Int): Boolean = {
    // the marker records generator version AND provenance (base, k): a
    // fixture generated from a different base SF or multiplier must
    // regenerate, not be silently reused against the wrong baseline
    val tag = GenVersion + s":$base:x$k"
    val marker = java.nio.file.Paths.get(s"$dir/_DONE")
    val current = java.nio.file.Files.exists(marker) &&
      new String(java.nio.file.Files.readAllBytes(marker)).trim == tag
    if (current) false
    else {
      generate(spark, base, dir, k)
      java.nio.file.Files.write(marker, tag.getBytes)
      true
    }
  }

  /** k disjoint-copy replication of the four heavy tables; the other
    * six copied verbatim (the gate's queries only read the four, but a
    * uniform directory keeps Tables.load semantics identical).
    *
    * Documents: the letter bijection family is the AFFINE cipher over
    * the lowercase alphabet: letter i → a·i + b (mod 26) with a coprime
    * to 26 — 12 × 26 = 312 distinct permutations, identity at copy 0
    * (gen v3). Within-copy shingle Jaccard is preserved verbatim (both
    * docs of a pair pass through the same bijection); cross-copy
    * shingle overlap is negligible, not structurally zero — digits and
    * punctuation pass through `translate` unchanged and distinct affine
    * maps can collide on individual words; the dup-pair ×k law rests on
    * the empirical sf3 output-pair check, which read exactly ×3.00
    * (ADVICE r15). History: v1 used Caesar rotation alone (26 classes),
    * so at k=30 copies c and c−26 shared a rotation and became EXACT
    * cross-copy duplicates — c2 read 29 728 pairs against the
    * ×k-expected 7 680; v2 added a case-swap axis, which is a NO-OP
    * because `word_shingles` lowercases before shingling (same 29 728).
    * Case is folded to the mapped lowercase on both input cases for the
    * same reason. k ≤ 312 enforced. */
  private def generate(spark: SparkSession, base: String, out: String, k: Int): Unit = {
    require(k <= 312, s"affine letter-bijection family has 312 classes, got k=$k")
    def span(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1
    val copies = spark.range(k).toDF("copy")

    val orders = spark.read.parquet(s"$base/orders.parquet")
    val lineitem = spark.read.parquet(s"$base/lineitem.parquet")
    val sOrd = span(orders, "o_orderkey"); val sCust = span(orders, "o_custkey")
    val sPart = span(lineitem, "l_partkey"); val sSupp = span(lineitem, "l_suppkey")
    orders.crossJoin(copies)
      .select((col("o_orderkey") + col("copy") * sOrd).as("o_orderkey"),
        (col("o_custkey") + col("copy") * sCust).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    lineitem.crossJoin(copies)
      .select((col("l_orderkey") + col("copy") * sOrd).as("l_orderkey"),
        (col("l_partkey") + col("copy") * sPart).as("l_partkey"),
        (col("l_suppkey") + col("copy") * sSupp).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    val docs = spark.read.parquet(s"$base/documents.parquet")
    val sDoc = span(docs, "doc_id")
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val upper = alpha.toUpperCase
    val coprimes = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    (0 until k).map { c =>
      val a = coprimes(c / 26); val b = c % 26
      val mapped = (0 until 26).map(i => alpha((a * i + b) % 26)).mkString
      val t = if (c == 0) col("text")
        else translate(col("text"), alpha + upper, mapped + mapped)
      docs.select((col("doc_id") + lit(c.toLong * sDoc)).as("doc_id"),
        t.as("text"), col("lang"), col("source"), col("n_chars"))
    }.reduce(_.unionAll(_))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val embs = spark.read.parquet(s"$base/embeddings.parquet")
    val sVec = span(embs, "vec_id")
    embs.crossJoin(copies)
      .select((col("vec_id") + col("copy") * sVec).as("vec_id"),
        transform(col("embedding"), (x, j) =>
          x + ((pmod(col("copy") * 7 + j, lit(13)) - 6).cast("float") * lit(0.012f)
            * col("copy").cast("float").cast("float"))).as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    Seq("region", "nation", "customer", "supplier", "part", "events")
      .foreach { t =>
        spark.read.parquet(s"$base/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
  }
}
