package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity}

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),          // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"),          // near dup of 1
    (4L, "completely different content about spark engines"),
    (5L, "another unrelated document entirely separate words here")
  ).toDF("id", "text")

  test("exactDedup keeps the min-id row per distinct text") {
    val out = Dedup.exactDedup(corpus, "id", "text").select("id")
      .as[Long].collect().sorted
    assert(out.sameElements(Array(1L, 3L, 4L, 5L)))
  }

  test("minHashDupPairs finds the planted near-dup and exact dup only") {
    val pairs = Dedup.minHashDupPairs(corpus, "id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))   // exact dup: jaccard 1.0
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))  // near dups
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("ngramJaccardPairs agrees with minHash on this corpus") {
    val exact = Dedup.ngramJaccardPairs(corpus, "id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val mh = Dedup.minHashDupPairs(corpus, "id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact == mh)
  }

  test("simHash: identical texts get identical signatures; near dups are close") {
    val sigs = Dedup.simHash(corpus, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    val hammingNear = java.lang.Long.bitCount(sigs(1L) ^ sigs(3L))
    val hammingFar = java.lang.Long.bitCount(sigs(1L) ^ sigs(4L))
    assert(hammingNear < hammingFar)
  }

  test("simHashDupPairs reports hamming-0 for the exact dup") {
    val pairs = Dedup.simHashDupPairs(corpus, "id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 2L)) == 0)
  }

  test("simHash with the oracle word hash (mix64∘fingerprint64) keeps SimHash properties") {
    // the c3 driver query runs this hash so DuckDB can replicate the
    // arithmetic; it must behave like a real 64-bit hash, not just match
    import graft.functions.TextFunctions.{fingerprint64, mix64}
    val wh: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      w => mix64(fingerprint64(w))
    val sigs = Dedup.simHash(corpus, "id", "text", wh)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    val hammingNear = java.lang.Long.bitCount(sigs(1L) ^ sigs(3L))
    val hammingFar = java.lang.Long.bitCount(sigs(1L) ^ sigs(4L))
    assert(hammingNear < hammingFar)
    // emitted fixture pairs under this hash stay genuine near-dups in
    // the word-set metric SimHash estimates (c3's precision floor)
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val emitted = Dedup.simHashDupPairs(docs, "doc_id", "text",
        maxHamming = 3, wordHash = wh)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(emitted.nonEmpty)
    val jacc = Dedup.verifyJaccard(
        emitted.toSeq.toDF("id_a", "id_b"), docs, "doc_id", "text",
        threshold = 0.0, shingleN = 1)
      .select("jaccard").as[Double].collect()
    assert(jacc.length == emitted.size && jacc.min >= 0.5,
      s"emitted pair with word-set jaccard ${jacc.min} < 0.5")
  }

  test("exactDedup keeps one NULL-text row (null-safe semi-join)") {
    val withNulls = Seq(
      (1L, Some("same")), (2L, Some("same")),
      (3L, None), (4L, None), (5L, Some("other"))
    ).toDF("id", "text")
    val out = Dedup.exactDedup(withNulls, "id", "text").select("id")
      .as[Long].collect().sorted
    // GROUP BY semantics: NULL is one distinct value → min-id row 3 stays
    assert(out.sameElements(Array(1L, 3L, 5L)))
  }

  test("simHashDupPairs on the fixture: total recall at hamming<=3, precision floor") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val emitted = Dedup.simHashDupPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(emitted.nonEmpty)
    // RECALL is total by construction (4-band blocking covers hamming<=3):
    // every pair whose signatures are within hamming 3 must be emitted.
    // Check against brute-force hamming over all near-dup ground truth.
    val sigs = Dedup.simHash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val groundTruth = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val withinH3 = groundTruth.filter { case (a, b) =>
      java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= 3
    }.toSet
    assert(withinH3.subsetOf(emitted),
      s"missing hamming<=3 pairs: ${withinH3.diff(emitted)}")
    // PRECISION: every emitted pair is a genuine near-dup in the metric
    // SimHash actually estimates — word-level similarity (shingleN=1):
    // word-reordered docs legitimately collide at hamming 0 while their
    // 3-gram sets are disjoint, so the floor is on word-set Jaccard
    val jacc = Dedup.verifyJaccard(
        emitted.toSeq.toDF("id_a", "id_b"), docs, "doc_id", "text",
        threshold = 0.0, shingleN = 1)
      .select("jaccard").as[Double].collect()
    assert(jacc.length == emitted.size)
    val floor = jacc.min
    assert(floor >= 0.5, s"emitted pair with exact word-set jaccard $floor < 0.5")
  }

  test("embeddingDedup: exact tier matches NOT-EXISTS semantics; ANN tier never over-drops") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val kept = Dedup.embeddingDedup(e, "vec_id", "embedding", 0.4)
      .select("vec_id").as[Long].collect().toSet
    assert(kept.size < e.count())  // fixture has 66 pairs >= 0.4 → drops happen
    // independent brute-force reference: a row survives iff no lower-id
    // row reaches cosine 0.4
    val pairs = Similarity.bruteForcePairsTopK(e, "vec_id", "embedding", Int.MaxValue)
      .filter($"cosine" >= 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val expectDropped = pairs.map(_._2).toSet
    val all = e.select("vec_id").as[Long].collect().toSet
    assert(kept == all.diff(expectDropped))
    // ANN tier: missed candidates may KEEP dups but never drop uniques
    val annKept = Dedup.embeddingDedupAnn(e, "vec_id", "embedding", 0.4,
      nTables = 16, dim = 64, seed = 7L).select("vec_id").as[Long].collect().toSet
    assert(kept.subsetOf(annKept), "ANN tier dropped a row the exact tier kept")
    val agreement = kept.size.toDouble / annKept.size
    assert(agreement >= 0.9, s"ANN kept ${annKept.size} vs exact ${kept.size}")
  }

  test("semanticDedup: nCells=1 equals the exact tier; clustered regime never over-drops") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val exactKept = Dedup.embeddingDedup(e, "vec_id", "embedding", 0.4)
      .select("vec_id").as[Long].collect().toSet
    // nCells=1: one cell holds everything → identical NOT EXISTS
    // semantics (what lets c43 share c15's DuckDB oracle)
    val oneCell = Dedup.semanticDedup(e, "vec_id", "embedding", 0.4, nCells = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(oneCell == exactKept)
    // clustered regime: only same-cell pairs are compared, so the drop
    // set is a SUBSET of the exact tier's — never drops a unique row —
    // and SemDeDup's premise (near-dups co-cluster) keeps most drops
    val clustered = Dedup.semanticDedup(e, "vec_id", "embedding", 0.4, nCells = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(exactKept.subsetOf(clustered), "clustered tier dropped a unique row")
    val all = e.select("vec_id").as[Long].collect().toSet
    val exactDrops = all.size - exactKept.size
    val caught = all.size - clustered.size
    assert(exactDrops > 0)
    val dropRecall = caught.toDouble / exactDrops
    assert(dropRecall >= 0.5, s"clustered tier caught $caught of $exactDrops drops")
    // the cells are layout-invariant: the same rows under another
    // partitioning keep the same set
    Seq(1, 7).foreach { n =>
      val relaid = Dedup.semanticDedup(e.repartition(n), "vec_id", "embedding",
          0.4, nCells = 4)
        .select("vec_id").as[Long].collect().toSet
      assert(relaid == clustered, s"kept set changed under repartition($n)")
    }
  }

  test("dupClusters: transitive chains collapse to the min id; singletons self-label") {
    // chain 1-2, 2-3 (1 and 3 NOT paired directly), separate pair 5-6,
    // singleton 9
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 5L, 6L, 9L).toDF("id")
    val reps = Dedup.dupClusters(pairs, nodes, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 9L -> 9L))
    // transitivity must survive a pair node missing from allNodes:
    // node 2 appears only in pairs, yet still links 1 and 3
    val partial = Seq(1L, 3L).toDF("id")
    val reps2 = Dedup.dupClusters(
        Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b"), partial, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("dupClusters: reliable-checkpoint mode returns the same labels") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 5L, 6L, 9L).toDF("id")
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    try {
      val local = Dedup.dupClusters(pairs, nodes, "id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      spark.conf.set("spark.graft.checkpointDir", dir)
      val reliable = Dedup.dupClusters(pairs, nodes, "id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reliable == local)
    } finally {
      spark.conf.unset("spark.graft.checkpointDir")
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("exactDedup survives a NULL id on the kept row") {
    // the min-id aggregate treats NULL as smaller-than-nothing only if
    // the join back is null-safe on the id too; a kept row whose id is
    // NULL must still appear in the output
    val df = Seq((Option.empty[Long], "solo"), (Some(2L), "same"), (Some(3L), "same"))
      .toDF("id", "text")
    val out = Dedup.exactDedup(df, "id", "text")
      .select("text").as[String].collect().sorted
    assert(out.sameElements(Array("same", "solo")))
  }

  test("prefix-filtered jaccard join equals the naive inverted index") {
    val exact = Dedup.ngramJaccardPairs(corpus, "id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pfx = Dedup.ngramJaccardPairsPrefix(corpus, "id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact == pfx)
    assert(pfx.nonEmpty)
  }

  test("DedupIndex: persisted probe equals the inline join; append equals rebuild") {
    import org.apache.spark.sql.functions._
    import graft.operators.DedupIndex
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val corpus = d.filter(col("doc_id") % 7 =!= 0)
    val crawl = d.filter(col("doc_id") % 7 === 0)
    val root = java.nio.file.Files
      .createTempDirectory("graft-dedupindex").toString
    DedupIndex.save(spark, root, corpus, "doc_id", "text", shingleN = 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        BigDecimal(r.getDouble(2)).setScale(9, BigDecimal.RoundingMode.HALF_UP))).toSet
    val probed = rows(DedupIndex.probe(spark, root, crawl, corpus,
      "doc_id", "text", shingleN = 3, threshold = 0.5))
    val inline = rows(Dedup.ngramJaccardPairsAcross(crawl, corpus,
      "doc_id", "text", shingleN = 3, threshold = 0.5))
    assert(probed == inline && probed.nonEmpty,
      s"persisted probe diverges from the inline join: " +
        s"${probed.diff(inline).take(3)} vs ${inline.diff(probed).take(3)}")
    // ingest-side update: after appending the admitted crawl, the index
    // equals a from-scratch build over corpus ∪ crawl
    DedupIndex.append(spark, root, crawl, "doc_id", "text", shingleN = 3)
    val appended = DedupIndex.load(spark, root)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val root2 = java.nio.file.Files
      .createTempDirectory("graft-dedupindex-full").toString
    DedupIndex.save(spark, root2, d, "doc_id", "text", shingleN = 3)
    val rebuilt = DedupIndex.load(spark, root2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(appended == rebuilt, "appended index must equal a full rebuild")
    // the coverage guard: probing the appended index with only the
    // ORIGINAL corpus texts must fail loudly (appended ids would
    // otherwise be silently unverifiable), and probing with the full
    // relation must work
    val ex = intercept[IllegalArgumentException] {
      DedupIndex.probe(spark, root, crawl, corpus,
        "doc_id", "text", shingleN = 3, threshold = 0.5)
    }
    assert(ex.getMessage.contains("appended"), ex.getMessage)
    assert(DedupIndex.probe(spark, root, crawl, d,
      "doc_id", "text", shingleN = 3, threshold = 0.5).columns
      .sameElements(Array("id_a", "id_b", "jaccard")))
    Tables.deleteRecursively(root); Tables.deleteRecursively(root2)
  }

  test("editDistancePairs keeps small-edit pairs, drops reordered boilerplate") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappz"), // 1-char edit
      (3L, "zeta eta theta iota kappa alpha beta gamma delta epsilon"), // block reorder
      (4L, "totally unrelated words sharing nothing with those above")
    ).toDF("id", "text")
    // the reordered pair IS a shingle-stage candidate (order-insensitive
    // bag overlap is high) — so its absence below is the Levenshtein
    // tier discriminating, not the recall stage missing it
    val cands = Dedup.ngramJaccardPairs(docs, "id", "text",
        shingleN = 3, threshold = 0.2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 3L)), s"precondition: (1,3) must be a candidate, got $cands")
    val out = Dedup.editDistancePairs(docs, "id", "text",
        shingleN = 3, candThreshold = 0.2, simThreshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.contains((1L, 2L)), s"small-edit pair must survive, got $out")
    assert(out((1L, 2L)) > 0.95) // 1 char of ~56 edited
    assert(!out.contains((1L, 3L)),
      "reordered text (same shingle bag, large edit distance) must be dropped")
    assert(!out.keys.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("duplicatedSubstringStats: cross-doc, within-doc, and split spans; clean docs absent") {
    val docs = Seq(
      (1L, "abcdefghij"),           // exact dup of 2 → fully masked
      (2L, "abcdefghij"),
      (3L, "zzzzabcdezzzz"),        // one shared 5-gram at pos 5
      (4L, "unique text here!"),    // no duplicated window anywhere
      (5L, "abcabcabcabc"),         // WITHIN-doc repetition → fully masked
      (6L, "abcdeQRSTUVWXYZfghij")  // two shared 5-grams, far apart → 2 spans
    ).toDF("id", "text")
    val out = Dedup.duplicatedSubstringStats(docs, "id", "text", windowChars = 5)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_dup_spans"), r.getAs[Long]("n_dup_windows"),
          r.getAs[Long]("dup_chars"), r.getAs[Double]("dup_frac")))).toMap
    assert(!out.contains(4L), "clean doc must be absent from the mask")
    assert(out(1L) == ((1L, 6L, 10L, 1.0)))
    assert(out(2L) == ((1L, 6L, 10L, 1.0)))
    assert(out(3L) == ((1L, 1L, 5L, 0.384615)))
    assert(out(5L) == ((1L, 8L, 12L, 1.0)), s"within-doc repetition: ${out(5L)}")
    assert(out(6L) == ((2L, 2L, 10L, 0.5)), s"split spans: ${out(6L)}")
  }

  test("substringDecontam: marks only benchmark-shared regions, merges far hits into 2 spans") {
    val train = Seq(
      (1L, "abcdefghij"),          // shares "cdefg" with the benchmark
      (2L, "QRSTUVWXYZ"),          // clean
      (3L, "cdefgZZZZZcdefg")      // two far-apart hits → 2 spans
    ).toDF("id", "text")
    val bench = Seq((100L, "xxcdefgxx")).toDF("id", "text")
    val out = Dedup.substringDecontam(train, bench, "id", "text", windowChars = 5)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_contam_spans"), r.getAs[Long]("n_contam_windows"),
          r.getAs[Long]("contam_chars"), r.getAs[Double]("contam_frac")))).toMap
    assert(!out.contains(2L), "clean doc must be absent")
    assert(out(1L) == ((1L, 1L, 5L, 0.5)), s"single hit: ${out(1L)}")
    assert(out(3L) == ((2L, 2L, 10L, 0.666667)), s"split hits: ${out(3L)}")
  }

  test("substringTrim: first occurrence survives, later cuts rebuild correctly") {
    val docs = Seq(
      (1L, "abcdefghij"),     // winner of every shared window — untouched
      (2L, "abcdefghij"),     // exact dup of 1 → fully cut
      (3L, "zzzzabcdezzzz"),  // loses "abcde" to doc 1 → middle cut out
      (4L, "unique text here!"),
      (5L, "abcabcabcabc")    // self-repetition: first period kept
    ).toDF("id", "text")
    val out = Dedup.substringTrim(docs, "id", "text", windowChars = 5)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("new_text"), r.getAs[Long]("removed_chars"),
          r.getAs[Long]("n_cut_spans")))).toMap
    assert(!out.contains(1L), "the first occurrence's doc must be untouched")
    assert(!out.contains(4L), "clean doc must be absent")
    assert(out(2L) == (("", 10L, 1L)), s"full cut: ${out(2L)}")
    assert(out(3L) == (("zzzzzzzz", 5L, 1L)), s"middle cut: ${out(3L)}")
    assert(out(5L) == (("abc", 9L, 1L)), s"period trim: ${out(5L)}")
  }

  test("substring detect prefilter: equi-join FALLBACK (bloom over limit) " +
    "is value-identical to the bloom path") {
    // onlyDupWindows falls back to the equi-join prefilter when the
    // dup-hash cardinality exceeds the session's runtime-bloom limits —
    // force that branch by shrinking the limit below any real count and
    // demand identical output from both substring operators
    val docs = Seq(
      (1L, "abcdefghij"), (2L, "abcdefghij"),
      (3L, "zzzzabcdezzzz"), (4L, "unique text here!"),
      (5L, "abcabcabcabc"), (6L, "abcdeQRSTUVWXYZfghij")
    ).toDF("id", "text")
    val key = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val saved = spark.conf.getOption(key)
    def collectBoth() = (
      Dedup.substringTrim(docs, "id", "text", windowChars = 5)
        .collect().map(_.toSeq).toSet,
      Dedup.duplicatedSubstringStats(docs, "id", "text", windowChars = 5)
        .collect().map(_.toSeq).toSet)
    val (bloomTrim, bloomStats) = collectBoth()
    try {
      spark.conf.set(key, "0") // every n > 0 exceeds it → join fallback
      val (joinTrim, joinStats) = collectBoth()
      assert(joinTrim == bloomTrim)
      assert(joinStats == bloomStats)
      assert(joinTrim.nonEmpty && joinStats.nonEmpty)
    } finally {
      saved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("substring detect prefilter: zero duplicated windows short-circuits " +
    "to empty output (no bloom built)") {
    // ADVICE r11: the empty case must be an explicit always-false
    // filter, not an accident of BloomFilterAggregate null propagation
    // over an empty relation
    val docs = Seq(
      (1L, "abcdefghij"), (2L, "KLMNOPQRST"), (3L, "0123456789")
    ).toDF("id", "text")
    assert(Dedup.duplicatedSubstringStats(docs, "id", "text", windowChars = 5)
      .collect().isEmpty)
    assert(Dedup.substringTrim(docs, "id", "text", windowChars = 5)
      .collect().isEmpty)
  }

  test("sliding_min: hand-computed deque minima, ties, and short arrays") {
    import graft.functions.SlidingMinFunctions.sliding_min
    import org.apache.spark.sql.functions.col
    def mins(xs: Seq[Long], w: Int): Seq[Long] =
      Seq(Tuple1(xs)).toDF("a")
        .select(sliding_min(col("a"), w).as("m"))
        .as[Seq[Long]].collect().head
    assert(mins(Seq(5L, 3L, 8L, 1L, 9L), 3) == Seq(3L, 1L, 1L))
    assert(mins(Seq(2L, 2L, 2L), 2) == Seq(2L, 2L))         // ties
    assert(mins(Seq(7L, 6L, 5L), 1) == Seq(7L, 6L, 5L))     // w=1 identity
    assert(mins(Seq(4L, 9L), 5) == Seq(4L))                 // partial window
    assert(mins(Seq(-3L, Long.MinValue, 0L), 2) ==
      Seq(Long.MinValue, Long.MinValue))                    // extremes
    assert(mins(Seq.empty[Long], 3) == Seq.empty[Long])
  }

  test("winnowing: shared region ≥ k+w−1 guarantees a common fingerprint") {
    // k=4, w=3 → any shared substring of length ≥ 6 must contribute at
    // least one COMMON selected fingerprint (both sides pick the same
    // window minimum inside the shared region) — the SWA guarantee
    val shared = "UNIQUESHAREDREGIONXYZ" // length 21 ≥ 6
    val docs = Seq(
      (1L, s"aaaa bbbb $shared cccc dddd"),
      (2L, s"zzzz $shared qqqq rrrr ssss tttt"),
      (3L, "a totally different document with nothing in common here")
    ).toDF("id", "text")
    val pairs = Dedup.winnowingPairs(docs, "id", "text",
        k = 4, w = 3, minShared = 1, maxDocFreq = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"SWA guarantee violated: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated doc paired: $pairs")
  }

  test("winnowing selection: fingerprints are window minima, ~2/(w+1) dense") {
    // hand-replay the selection on the driver with the SAME hash chain:
    // per-position gram hashes come from the engine's own expressions,
    // window minima + distinct are recomputed in plain Scala
    import graft.functions.TextFunctions.{fingerprint64, mix64}
    import org.apache.spark.sql.functions.col
    val text = "the quick brown fox jumps over the lazy dog the quick brown"
    val (k, w) = (5, 4)
    val grams = (0 to text.length - k).map(i => text.substring(i, i + k))
    val hashes = grams.toDF("g")
      .select(mix64(fingerprint64(col("g"))).as("h"))
      .as[Long].collect()
    val expected = hashes.sliding(w).map(_.min).toSeq.distinct.sorted
    val got = Dedup.winnowingFingerprints(
        Seq((1L, text)).toDF("id", "text"), "id", "text", k, w)
      .select("fp").as[Long].collect().toSeq.sorted
    assert(got == expected, s"selection mismatch: got $got expected $expected")
    // density: selection keeps far fewer than all gram hashes
    assert(got.size < hashes.length,
      s"no compression: ${got.size} of ${hashes.length}")
  }

  test("winnowing boilerplate cull: df > maxDocFreq fingerprints drop exactly") {
    // a boilerplate region in all 3 docs → its interior fingerprints
    // have df=3 and must vanish at maxDocFreq=2. Selection near region
    // boundaries is context-dependent (a gram can be the window min in
    // two docs but lose to a neighbor in the third), so the expected
    // culled output is REPLAYED from the fingerprint relation in plain
    // Scala rather than assumed empty
    val boiler = "COMMONBOILERPLATEFOOTER"
    val docs = (1L to 3L).map(i => (i, s"doc number $i unique part $i$i $boiler"))
      .toDF("id", "text")
    val fps = Dedup.winnowingFingerprints(docs, "id", "text", k = 4, w = 3)
      .as[(Long, Long)].collect()
    val byFp = fps.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byFp.values.exists(_.size == 3),
      "precondition: boilerplate interior must reach all three docs")
    // expected pairs after the df<=2 cull, recomputed independently
    val expected = byFp.values.filter(_.size <= 2).toSeq
      .flatMap(s => for (a <- s; b <- s if a < b) yield (a, b))
      .groupBy(identity).map { case (p, occ) => p -> occ.size.toLong }
    val got = Dedup.winnowingPairs(docs, "id", "text",
        k = 4, w = 3, minShared = 1, maxDocFreq = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == expected, s"got $got expected $expected")
    // without the cull every pair shares the boilerplate fingerprints
    val all = Dedup.winnowingPairs(docs, "id", "text",
        k = 4, w = 3, minShared = 1, maxDocFreq = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(all.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)), s"got $all")
    assert(all((1L, 2L)) > got.getOrElse((1L, 2L), 0L),
      "the cull must strictly reduce the boilerplate pair's shared count")
  }

  test("clusterMedoids: chain cluster keeps the middle; singletons keep themselves") {
    // sliding 20-word windows of one 30-word sequence: A–B and B–C pair
    // at J≈0.57, A–C stays below threshold (J≈0.29) — one transitive
    // cluster whose MIDDLE member shares most with its mates. min-id
    // labeling would keep A; the medoid rule must keep B
    val words = (1 to 30).map(i => s"tok$i")
    def span(a: Int, b: Int) = words.slice(a - 1, b).mkString(" ")
    val docs = Seq(
      (10L, span(1, 20)), (20L, span(6, 25)), (30L, span(11, 30)),
      (40L, "a completely unrelated document entirely on its own")
    ).toDF("id", "text")
    val out = Dedup.clusterMedoids(docs, "id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(10L) == ((3L, 20L)), s"chain cluster: $out")
    assert(out(40L) == ((1L, 40L)), s"singleton: $out")
    assert(out.keySet == Set(10L, 40L), s"unexpected clusters: $out")
  }

  test("c96 minhash estimate: independent signature replay + exact endpoints") {
    import graft.functions.TextFunctions.{fingerprint64, mix64}
    import org.apache.spark.sql.functions.{col, concat, lit}
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // identical → J=1
      (3L, "alpha beta gamma delta nine ten eleven twelve")  // partial overlap
    ).toDF("doc_id", "text")
    // the query reads parquet fixtures; drive its signature pipeline
    // inline on this corpus instead
    val sh = docs.select(col("doc_id"),
      org.apache.spark.sql.functions.explode(
        Dedup.shingles(col("text"), 3)).as("_s"))
    // independent driver-side replay: collect (doc, shingle), hash each
    // (seed, shingle) through the SAME engine expressions one at a
    // time, then do min/match arithmetic in plain Scala
    val pairsDS = sh.as[(Long, String)].collect()
    val shingleSet = pairsDS.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val allShingles: Seq[String] = shingleSet.values.flatten.toSet.toSeq
    val allKeys: Seq[(Int, String)] =
      for (i <- 0 until 16; s <- allShingles) yield (i, s)
    val hashed = allKeys.toDF("seed", "s")
      .select(col("seed"), col("s"),
        mix64(fingerprint64(concat(col("seed").cast("string"), lit(":"), col("s"))))
          .as("h"))
      .as[(Int, String, Long)].collect()
      .map { case (i, s, h) => (i, s) -> h }.toMap
    def sig(id: Long): Seq[Long] =
      (0 until 16).map(i => shingleSet(id).map(s => hashed((i, s))).min)
    def est(a: Long, b: Long): Double =
      sig(a).zip(sig(b)).count { case (x, y) => x == y } / 16.0
    // engine side: the same signature aggregation the query uses
    val mins = (0 until 16).map(i =>
      org.apache.spark.sql.functions.min(
        mix64(fingerprint64(concat(lit(s"$i:"), col("_s"))))).as(s"_h$i"))
    val engine = sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .collect()
      .map(r => r.getLong(0) -> (0 until 16).map(i => r.getLong(i + 1)))
      .toMap
    for (id <- Seq(1L, 2L, 3L))
      assert(engine(id) == sig(id), s"signature mismatch for doc $id")
    assert(est(1L, 2L) == 1.0, "identical docs must match every slot")
    assert(est(1L, 3L) < 1.0, "partial overlap must miss some slot")
  }

  test("winnowingOverlapSpans localizes the planted shared region") {
    // doc A = P + S, doc B = S + Q: the only matchable fingerprints
    // come from grams fully inside S, so the reported spans must land
    // on S (up to winnowing's stated k+w-1 edge granularity)
    val p = "left padding material that is entirely unique here "  // 51 chars
    val s = "THE-SHARED-REGION-BOTH-DOCUMENTS-CARRY-VERBATIM-" +
      "WITH-ENOUGH-LENGTH-TO-SELECT-FINGERPRINTS"                  // 89 chars
    val q = " and a completely different unique tail afterwards"
    val (k, w) = (8, 4)
    val docs = Seq((1L, p + s), (2L, s + q)).toDF("id", "text")
    val rows = Dedup.winnowingOverlapSpans(docs, "id", "text",
        k = k, w = w, minShared = 1, maxDocFreq = 2)
      .collect()
    assert(rows.length == 1, s"expected one pair: ${rows.toSeq}")
    val r = rows.head
    assert((r.getLong(0), r.getLong(1)) == ((1L, 2L)))
    val (aS, aE, bS, bE) = (r.getAs[Int]("a_start"), r.getAs[Int]("a_end"),
      r.getAs[Int]("b_start"), r.getAs[Int]("b_end"))
    val (pLen, sLen) = (p.length, s.length)
    // A's span sits on S (chars pLen+1 .. pLen+sLen), edge slack w-1
    assert(aS >= pLen + 2 - w && aE <= pLen + sLen + w - 1, s"A span ($aS,$aE)")
    // B's span sits on S at the front (chars 1 .. sLen)
    assert(bS >= 1 && bE <= sLen + w - 1, s"B span ($bS,$bE)")
    // and each span covers most of S, not just a sliver
    assert(aE - aS + 1 >= sLen - 2 * (k + w), s"A covers too little ($aS,$aE)")
    assert(bE - bS + 1 >= sLen - 2 * (k + w), s"B covers too little ($bS,$bE)")
    // the pair's fingerprint count agrees with winnowingPairs exactly
    val n = Dedup.winnowingPairs(docs, "id", "text",
        k = k, w = w, minShared = 1, maxDocFreq = 2)
      .collect().head.getAs[Long]("n_shared")
    assert(r.getAs[Long]("n_shared") == n)
  }

  test("containmentPairs finds short-doc-inside-long-doc that Jaccard misses") {
    val long = (1 to 40).map(i => s"w$i").mkString(" ")
    val short = (1 to 10).map(i => s"w$i").mkString(" ") // strict prefix of `long`
    val docs = Seq(
      (1L, long),
      (2L, short),
      (3L, "a fully unrelated document with completely different words")
    ).toDF("id", "text")
    // Jaccard is capped at |B|/|A| ≈ 8/38 — misses the containment
    val jac = Dedup.ngramJaccardPairs(docs, "id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!jac.contains((1L, 2L)), s"precondition: Jaccard at 0.5 must miss it, got $jac")
    val out = Dedup.containmentPairs(docs, "id", "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.keySet == Set((1L, 2L)), s"got $out")
    assert(out((1L, 2L)) == 1.0, s"full containment expected: ${out((1L, 2L))}")
  }

  test("boilerplateSegments drops ALL occurrences per source, keeps cross-source") {
    val docs = Seq(
      (1L, "srcA", "nav bar alpha beta"),   // "nav bar" shared with doc 2
      (2L, "srcA", "nav bar gamma delta"),
      (3L, "srcB", "nav bar solo text"),    // other source: "nav bar" organic
      (4L, "srcA", "nav bar nav bar")       // pure template: both segs drop
    ).toDF("id", "source", "text")
    val out = Dedup.boilerplateSegments(docs, "id", "source", "text",
        segWords = 2, maxDocs = 1)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getString(3))))
      .toMap
    // frequency semantics: the FIRST occurrence drops too (contrast with
    // spanDedup, which would keep doc 1's copy)
    assert(out(1L) == ((2, 1L, "alpha beta")), s"doc1: ${out(1L)}")
    assert(out(2L) == ((2, 1L, "gamma delta")), s"doc2: ${out(2L)}")
    // per-source scoping: srcB's identical segment is untouched
    assert(out(3L) == ((2, 0L, "nav bar solo text")), s"doc3: ${out(3L)}")
    // a whole-template document empties out
    assert(out(4L) == ((2, 2L, "")), s"doc4: ${out(4L)}")
    // spanDedup on the same corpus DOES keep a first copy — the two
    // operators are genuinely different rules
    val span = Dedup.spanDedup(docs, "id", "text", spanWords = 2)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(span(1L).startsWith("nav bar"), s"spanDedup keeps first: $span")
  }
}
