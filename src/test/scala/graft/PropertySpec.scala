package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.etl.SchemaTools
import graft.operators.Dedup

/** Property-based checks (SURVEY.md §5.2 item 4): algebraic identities
  * and round-trips over generated inputs. Raw ScalaCheck `Gen` with a
  * fixed seed (the scalatest bridge artifact is not in the offline
  * cache); 10 samples per property keeps the suite fast while varying
  * shapes. */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int = 10): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val word = Gen.oneOf("spark", "data", "row", "join", "the", "fast", "x1", "y2")
  private val text = Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))

  test("sliding_min equals the naive per-window minimum on random arrays") {
    import graft.functions.SlidingMinFunctions.sliding_min
    import org.apache.spark.sql.functions.col
    val arrGen = for {
      n  <- Gen.chooseNum(0, 40)
      xs <- Gen.listOfN(n, Gen.chooseNum(Long.MinValue, Long.MaxValue))
      w  <- Gen.chooseNum(1, 45) // deliberately allowed to exceed n
    } yield (xs, w)
    samples(arrGen, 25).foreach { case (xs, w) =>
      val naive =
        if (xs.isEmpty) Seq.empty[Long]
        else if (xs.length < w) Seq(xs.min)
        else xs.sliding(w).map(_.min).toSeq
      val got = Seq(Tuple1(xs)).toDF("a")
        .select(sliding_min(col("a"), w).as("m"))
        .as[Seq[Long]].collect().head
      assert(got == naive, s"n=${xs.length} w=$w: $got != $naive")
    }
  }

  test("selfPairsByKey equals the join idiom on random bucketed data " +
    "(null ids, dup ids, random bucket sizes, with/without cap)") {
    import org.apache.spark.sql.functions._
    import graft.plans.SelfPairsByKey.selfPairsByKey
    // narrow key/id ranges force dup ids within buckets, multi-bucket
    // pairs, and singleton/empty shapes; ~15% null ids exercise the
    // null-drop contract across group boundaries of the streaming exec
    val rowsGen = for {
      n    <- Gen.chooseNum(0, 150)
      ks   <- Gen.listOfN(n, Gen.chooseNum(0, 8))
      ids  <- Gen.listOfN(n, Gen.frequency(
        85 -> Gen.chooseNum(0L, 25L).map(Option(_)),
        15 -> Gen.const(Option.empty[Long])))
      cap  <- Gen.oneOf(0, 0, 3, 6) // mostly uncapped; cap occasionally
    } yield (ks.zip(ids).map { case (k, id) => (k, id) }, cap)
    samples(rowsGen, 15).foreach { case (rows, cap) =>
      val df = rows.toDF("k", "id")
      val mine = selfPairsByKey(df, Seq("k"), "id", maxBucket = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      // reference: per-key non-null DISTINCT ids (dup ids collapse, the
      // exec's documented semantics), all ordered pairs, cap on the RAW
      // non-null row count per bucket
      val ref = rows.filter(_._2.isDefined)
        .groupBy(_._1).values
        .filter(b => cap <= 0 || b.length <= cap)
        .flatMap { b =>
          val ids = b.flatMap(_._2).distinct.sorted
          for (i <- ids.indices; j <- i + 1 until ids.length)
            yield (ids(i), ids(j))
        }.toSeq.sorted
      assert(mine == ref, s"cap=$cap rows=${rows.take(20)}…")
    }
  }

  test("topKPerGroup equals the window idiom on random grouped data") {
    import org.apache.spark.sql.functions._
    val rowsGen = for {
      n  <- Gen.chooseNum(1, 120)
      gs <- Gen.listOfN(n, Gen.chooseNum(0, 6))
      vs <- Gen.listOfN(n, Gen.chooseNum(-50, 50)) // narrow range → many ties
      k  <- Gen.chooseNum(1, 5)
    } yield (gs.zip(vs).zipWithIndex.map { case ((g, v), i) => (g.toLong, i.toLong, v.toDouble) }, k)
    samples(rowsGen, 12).foreach { case (rows, k) =>
      val df = rows.toDF("g", "id", "v")
      val mine = graft.plans.TopKPerGroup.topKPerGroup(
          df, Seq("g"), Seq(("v", true), ("id", false)), k)
        .select("id").as[Long].collect().sorted.toSeq
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(col("v").desc, col("id"))
      val ref = df.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k).select("id").as[Long].collect().sorted.toSeq
      assert(mine == ref, s"k=$k: $mine != $ref")
    }
  }

  test("filter then project == project then filter") {
    samples(Gen.listOfN(30, Gen.chooseNum(-100, 100))).foreach { xs =>
      val df = xs.zipWithIndex.toDF("v", "i")
      val a = df.filter($"v" > 0).select("i").collect().map(_.getInt(0)).sorted
      val b = df.select("i", "v").filter($"v" > 0).select("i").collect().map(_.getInt(0)).sorted
      assert(a.sameElements(b))
    }
  }

  test("uppercase normalization round-trips values unchanged") {
    samples(Gen.listOfN(10, Gen.zip(Gen.chooseNum(1, 1000), Gen.alphaStr)), 5).foreach { rows =>
      if (rows.nonEmpty) {
        val df = rows.toDF("id", "payload")
        val norm = SchemaTools.normalizeUppercase(df)
        assert(norm.columns.sameElements(Array("ID", "PAYLOAD")))
        assert(norm.collect().toSeq == df.collect().toSeq)
      }
    }
  }

  test("identical texts always pair at jaccard exactly 1.0") {
    samples(Gen.listOfN(3, text), 5).foreach { texts =>
      val docs = texts.zipWithIndex.flatMap { case (t, i) =>
        Seq((i.toLong, t), (i.toLong + 100, t))
      }.toDF("id", "text")
      val pairs = Dedup.ngramJaccardPairs(docs, "id", "text", threshold = 0.99)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      texts.indices.foreach { i =>
        assert(pairs.exists(p => p._1 == i && p._2 == i + 100 && p._3 == 1.0),
          s"missing identity pair for doc $i in ${pairs.toSeq}")
      }
    }
  }

  test("exactDedup output has no duplicate texts and covers all distinct texts") {
    samples(Gen.listOfN(12, text), 5).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val out = Dedup.exactDedup(docs, "id", "text").select("text").as[String].collect()
      assert(out.length == out.distinct.length)
      assert(out.toSet == texts.toSet)
    }
  }

  test("chunkPassages covers every word; disjoint chunks rebuild the document") {
    val wS = Gen.chooseNum(1, 6)
    val cases = samples(Gen.zip(Gen.listOfN(8, text), wS, Gen.chooseNum(1, 6)), 5)
    cases.foreach { case (texts, w0, s0) =>
      val (w, s) = (math.max(w0, s0), math.min(w0, s0)) // stride <= window
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val chunks = graft.operators.TextAnalysis.chunkPassages(docs, "id", "text", w, s)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(3)))
      // every word of every doc appears in at least one of its chunks at
      // the right position: chunk i starts at word i*s
      texts.zipWithIndex.foreach { case (t, i) =>
        val words = t.split("\\s+", -1)
        val mine = chunks.filter(_._1 == i.toLong).sortBy(_._2)
        words.indices.foreach { wi =>
          val containing = mine.filter { case (_, ci, _) =>
            ci * s <= wi && wi < ci * s + w }
          assert(containing.nonEmpty, s"word $wi of doc $i uncovered")
          containing.foreach { case (_, ci, chunk) =>
            assert(chunk.split(" ", -1)(wi - ci * s) == words(wi)) }
        }
      }
      // stride == window: concatenating chunks rebuilds the word stream
      val disjoint = graft.operators.TextAnalysis
        .chunkPassages(docs, "id", "text", w, w)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(3)))
      texts.zipWithIndex.foreach { case (t, i) =>
        val rebuilt = disjoint.filter(_._1 == i.toLong).sortBy(_._2)
          .map(_._3).mkString(" ")
        assert(rebuilt == t.split("\\s+", -1).mkString(" "))
      }
    }
  }

  test("perplexityBuckets: buckets partition the corpus and respect score order") {
    samples(Gen.listOfN(12, text), 5).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val out = graft.operators.TextAnalysis
        .perplexityBuckets(docs, docs, "id", "text")
        .collect().map(r => (r.getAs[Double]("avg_logprob"), r.getAs[String]("bucket")))
      assert(out.length == texts.length)
      // order rule: every head score >= every middle score >= every tail
      def scores(b: String) = out.filter(_._2 == b).map(_._1)
      for ((hi, lo) <- Seq(("head", "middle"), ("middle", "tail"), ("head", "tail")))
        if (scores(hi).nonEmpty && scores(lo).nonEmpty)
          assert(scores(hi).min >= scores(lo).max, s"$hi below $lo")
      // value-threshold rule: equal scores share a bucket
      out.groupBy(_._1).foreach { case (_, g) =>
        assert(g.map(_._2).distinct.length == 1) }
    }
  }

  test("substringTrim conserves length: len(new_text) + removed == original") {
    // generated corpora with planted duplication (repeated words make
    // shared char windows likely); the invariant must hold for ALL of
    // them: every removed char is accounted for, no seam is double-cut
    samples(Gen.listOfN(8, text), n = 6).foreach { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val orig = texts.zipWithIndex.map { case (t, i) => i.toLong -> t }.toMap
      Dedup.substringTrim(df, "id", "text", windowChars = 6)
        .collect().foreach { r =>
          val id = r.getAs[Long]("id")
          val cut = r.getAs[Long]("removed_chars")
          val nt = r.getAs[String]("new_text")
          assert(nt.length + cut == orig(id).length,
            s"doc $id: ${nt.length} kept + $cut removed != ${orig(id).length}")
          assert(cut > 0, s"doc $id reported with nothing removed")
        }
    }
  }

  test("boilerplateSegments conserves segments; solo-source docs never change") {
    import org.apache.spark.sql.functions.col
    val corpusGen = for {
      n    <- Gen.chooseNum(2, 8)
      txts <- Gen.listOfN(n, text)
      srcs <- Gen.listOfN(n, Gen.oneOf("a", "b"))
    } yield txts.zip(srcs).zipWithIndex.map { case ((t, s), i) => (i.toLong, s, t) }
    samples(corpusGen, 15).foreach { docs =>
      val df = docs.toDF("id", "src", "text")
      val out = Dedup.boilerplateSegments(df, "id", "src", "text", segWords = 2)
        .collect().map(r => r.getLong(0) ->
          ((r.getInt(1), r.getLong(2), r.getString(3)))).toMap
      // conservation: kept words + dropped segments cover the doc
      docs.foreach { case (id, _, t) =>
        val (nSeg, nBoiler, nt) = out(id)
        val expSegs = (t.split("\\s+").length + 1) / 2
        assert(nSeg == expSegs, s"doc $id segment count")
        val keptSegs = if (nt.isEmpty) 0 else (nt.split("\\s+").length + 1) / 2
        assert(keptSegs + nBoiler == nSeg,
          s"doc $id: $keptSegs kept + $nBoiler dropped != $nSeg")
      }
      // a doc alone in its source can never lose a segment
      val soloSrcs = docs.groupBy(_._2).filter(_._2.size == 1).keySet
      docs.filter(d => soloSrcs(d._2)).foreach { case (id, _, t) =>
        assert(out(id)._3 == t, s"solo doc $id was modified")
      }
    }
  }

  test("kCoreBounded at full rounds: every survivor keeps >= k surviving neighbors") {
    import graft.operators.Graph
    val edgeGen = for {
      n  <- Gen.chooseNum(4, 14)
      m  <- Gen.chooseNum(3, 25)
      es <- Gen.listOfN(m, for {
        u <- Gen.chooseNum(0, n - 1); v <- Gen.chooseNum(0, n - 1)
      } yield (u.toLong, v.toLong))
    } yield es.filter(e => e._1 != e._2)
    samples(edgeGen, 12).filter(_.nonEmpty).foreach { es =>
      val df = es.toDF("u", "v")
      // rounds = node count guarantees the peel has converged
      val n = es.flatMap(e => Seq(e._1, e._2)).distinct.length
      val out = Graph.kCoreBounded(df, "u", "v", k = 2, rounds = math.max(n, 1))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val survivors = out.keySet
      val und = es.flatMap(e => Seq(e, e.swap)).distinct
      out.foreach { case (node, deg) =>
        val within = und.filter(e => e._1 == node && survivors(e._2))
          .map(_._2).distinct.length
        assert(deg == within, s"node $node reported $deg, actual $within")
        assert(deg >= 2, s"node $node survived with degree $deg < k")
      }
    }
  }

  test("epochUpsample totals are bounded by the per-source floor/ceil envelope") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Curation
    val corpusGen = for {
      n    <- Gen.chooseNum(3, 10)
      txts <- Gen.listOfN(n, text)
      srcs <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
    } yield txts.zip(srcs).zipWithIndex.map { case ((t, s), i) => (i.toLong, s, t) }
    samples(corpusGen, 10).foreach { docs =>
      val df = docs.toDF("id", "src", "text")
      val counts = Curation.epochUpsample(df, "id", "src", "text", alpha = 0.5)
        .groupBy("src").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val tokens = docs.groupBy(_._2).view
        .mapValues(_.map(_._3.split("\\s+").length.toLong).sum).toMap
      val total = tokens.values.sum.toDouble
      val ptot = tokens.values.map(t => math.sqrt(t.toDouble)).sum
      docs.groupBy(_._2).foreach { case (src, ds) =>
        val e = (math.sqrt(tokens(src).toDouble) / ptot) / (tokens(src) / total)
        val lo = math.floor(e).toLong * ds.size
        val hi = math.ceil(e).toLong * ds.size
        val got = counts.getOrElse(src, 0L)
        assert(got >= lo && got <= hi,
          s"source $src drew $got copies outside [$lo, $hi] (e=$e)")
      }
    }
  }

  test("filterFunnel conserves rows and attributes each drop to exactly one rule") {
    import org.apache.spark.sql.functions._
    import graft.operators.Curation
    val rowsGen = for {
      n  <- Gen.chooseNum(1, 80)
      xs <- Gen.listOfN(n, Gen.chooseNum(-20, 20))
      ys <- Gen.listOfN(n, Gen.chooseNum(-20, 20))
      t1 <- Gen.chooseNum(-20, 20)
      t2 <- Gen.chooseNum(-20, 20)
      t3 <- Gen.chooseNum(-20, 20)
    } yield (xs.zip(ys), t1, t2, t3)
    samples(rowsGen, 10).foreach { case (rows, t1, t2, t3) =>
      val df = rows.toDF("x", "y")
      val out = Curation.filterFunnel(df, Seq(
          "r1" -> (col("x") >= t1), "r2" -> (col("y") >= t2),
          "r3" -> (col("x") + col("y") < t3)))
        .orderBy("stage").collect()
      // per-stage conservation + telescoping: total drops across stages
      // plus the final survivors re-sum to the input — every doc billed
      // exactly once
      assert(out.head.getAs[Long]("n_in") == rows.size.toLong)
      out.foreach { r =>
        assert(r.getAs[Long]("n_in") ==
          r.getAs[Long]("n_killed") + r.getAs[Long]("n_surviving"))
      }
      out.sliding(2).filter(_.length == 2).foreach { case Array(a, b) =>
        assert(b.getAs[Long]("n_in") == a.getAs[Long]("n_surviving"))
      }
      val killedTotal = out.map(_.getAs[Long]("n_killed")).sum
      assert(killedTotal + out.last.getAs[Long]("n_surviving") == rows.size.toLong)
      // the final survivor count equals the direct conjunction filter
      val direct = df.filter(col("x") >= t1 && col("y") >= t2 &&
        col("x") + col("y") < t3).count()
      assert(out.last.getAs[Long]("n_surviving") == direct)
    }
  }

  test("ngramJaccardPairs equals the quadratic string-set reference on random docs") {
    import org.apache.spark.sql.functions.col
    // tiny word pool → dense shingle collisions; doc length down to 1
    // word exercises the truncated-shingle path (starts =
    // max(words-(n-1), 1)); threshold-boundary pairs occur naturally
    val n = 2
    val t = 0.4
    val gen = for {
      nd <- Gen.chooseNum(2, 8)
      ds <- Gen.listOfN(nd, Gen.chooseNum(1, 8).flatMap(len =>
        Gen.listOfN(len, word).map(_.mkString(" "))))
    } yield ds.zipWithIndex.map { case (txt, i) => (i.toLong, txt) }
    def shingleSet(text: String): Set[String] = {
      val words = text.toLowerCase.split("\\s+", -1)
      val starts = math.max(words.length - (n - 1), 1)
      (0 until starts).map(i =>
        words.slice(i, math.min(i + n, words.length)).mkString(" ")).toSet
    }
    samples(gen, 12).foreach { docs =>
      val got = Dedup.ngramJaccardPairs(docs.toDF("id", "text"), "id", "text",
          shingleN = n, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val ref = (for {
        (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
        sa = shingleSet(ta); sb = shingleSet(tb)
        j = (sa & sb).size.toDouble / (sa | sb).size.toDouble
        if j >= t
      } yield (ia, ib) -> j).toMap
      assert(got == ref, s"docs=$docs")
    }
  }

  test("winnowingFingerprints equals a driver-side reference (injected crc32) " +
    "and honors the winnowing guarantee on planted shared regions") {
    import org.apache.spark.sql.functions.{col, crc32}
    val k = 4; val w = 3
    def crc(s: String): Long = {
      val c = new java.util.zip.CRC32
      c.update(s.getBytes("UTF-8")); c.getValue
    }
    def refFps(t: String): Set[Long] = {
      if (t.length < k) Set.empty
      else {
        val hs = (0 to t.length - k).map(i => crc(t.substring(i, i + k)))
        val mins = if (hs.length < w) Seq(hs.min)
          else hs.sliding(w).map(_.min).toSeq
        mins.toSet
      }
    }
    val gen = for {
      nd  <- Gen.chooseNum(1, 6)
      ds  <- Gen.listOfN(nd, Gen.chooseNum(0, 18).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf('a', 'b', 'c')).map(_.mkString)))
      // planted shared region of exactly k+w-1 chars embedded in two docs
      core <- Gen.listOfN(k + w - 1, Gen.oneOf('a', 'b', 'c')).map(_.mkString)
      pre  <- Gen.listOfN(3, Gen.oneOf('a', 'b', 'c')).map(_.mkString)
      post <- Gen.listOfN(3, Gen.oneOf('a', 'b', 'c')).map(_.mkString)
    } yield (ds ++ Seq(pre + core, core + post))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    samples(gen, 10).foreach { docs =>
      val got = Dedup.winnowingFingerprints(docs.toDF("id", "text"),
          "id", "text", k, w, gramHash = c => crc32(c))
        .collect().map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).map { case (id, fs) => id -> fs.map(_._2).toSet }
      val ref = docs.map { case (id, t) => id -> refFps(t) }
        .filter(_._2.nonEmpty).toMap
      assert(got == ref, s"docs=$docs")
      // the winnowing guarantee: the two docs sharing the planted
      // (k+w-1)-char region must share at least one fingerprint
      val (idA, idB) = (docs(docs.length - 2)._1, docs.last._1)
      assert((ref(idA) & ref(idB)).nonEmpty,
        s"guarantee violated for planted region: $docs")
    }
  }

  test("containmentPairs equals the quadratic string-set reference on random docs") {
    import org.apache.spark.sql.functions.col
    // containment = |A∩B| / min(|A|,|B|) — the asymmetric short-in-long
    // measure; same collision-dense fixture as the Jaccard property
    val n = 2
    val t = 0.5
    val gen = for {
      nd <- Gen.chooseNum(2, 8)
      ds <- Gen.listOfN(nd, Gen.chooseNum(1, 8).flatMap(len =>
        Gen.listOfN(len, word).map(_.mkString(" "))))
    } yield ds.zipWithIndex.map { case (txt, i) => (i.toLong, txt) }
    def shingleSet(text: String): Set[String] = {
      val words = text.toLowerCase.split("\\s+", -1)
      val starts = math.max(words.length - (n - 1), 1)
      (0 until starts).map(i =>
        words.slice(i, math.min(i + n, words.length)).mkString(" ")).toSet
    }
    samples(gen, 12).foreach { docs =>
      val got = Dedup.containmentPairs(docs.toDF("id", "text"), "id", "text",
          shingleN = n, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          r.getDouble(2)).toMap
      val ref = (for {
        (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
        sa = shingleSet(ta); sb = shingleSet(tb)
        c = (sa & sb).size.toDouble / math.min(sa.size, sb.size).toDouble
        if c >= t
      } yield (ia, ib) -> BigDecimal(c).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
      assert(got == ref, s"docs=$docs")
    }
  }

  test("sessionize equals a driver-side reference on random event series") {
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    import graft.operators.Sessionize
    // duplicate timestamps per key and gaps exactly AT the boundary
    // exercise the >= split rule and the window tie behavior
    val gen = for {
      n  <- Gen.chooseNum(1, 25)
      es <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(0, 2), Gen.chooseNum(0, 120)))
    } yield es.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
    val gap = 10L
    samples(gen, 12).foreach { events =>
      val df = events.toDF("k", "ts", "eid")
        .select(col("k"), timestamp_seconds(col("ts")).as("t"), col("eid"))
      val got = Sessionize.sessionize(df, "k", "t", gap)
        .collect().map(r => (r.getAs[Int]("k"), r.getAs[Long]("eid")) ->
          r.getAs[Long]("session_seq")).toMap
      // reference: per key in time order, split when gap >= 10 s;
      // equal timestamps never split (delta 0 < gap). Events at the
      // same (key, ts) are order-interchangeable for session NUMBERS
      // (delta 0 keeps them in one session), so the reference numbers
      // by distinct time progression, not row order
      events.groupBy(_._1).foreach { case (k, evs) =>
        val inOrder = evs.sortBy(_._2)
        var seq = 0L; var prev = Option.empty[Int]
        inOrder.foreach { case (_, t, eid) =>
          if (prev.forall(p => t - p >= gap)) seq += 1
          prev = Some(t)
          assert(got((k, eid)) == seq,
            s"k=$k eid=$eid t=$t: got ${got((k, eid))}, want $seq in $events")
        }
      }
    }
  }

  test("pareto2d equals the quadratic dominance filter on random points") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Skyline
    // narrow value ranges force duplicate points and both-dim ties —
    // equal points must all survive (they do not dominate each other)
    val gen = for {
      n  <- Gen.chooseNum(1, 30)
      ps <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(0, 8), Gen.chooseNum(0, 8)))
    } yield ps.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
    samples(gen, 12).foreach { pts =>
      val got = Skyline.pareto2d(pts.toDF("id", "x", "y"), "x", "y")
        .select("id").collect().map(_.getLong(0)).toSet
      val ref = pts.filter { case (_, x, y) =>
        !pts.exists { case (_, x2, y2) =>
          x2 >= x && y2 <= y && (x2 > x || y2 < y) }
      }.map(_._1).toSet
      assert(got == ref, s"pts=$pts")
    }
  }

  test("as-of join family equals a driver-side reference on random series " +
    "(all four modes: backward, forward, tolerance, nearest)") {
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    import graft.operators.AsOfJoin
    // dense key/time collisions: equal timestamps (tie-break paths),
    // null right times (must never carry payload), empty right sides,
    // equal-distance nearest ties (must resolve backward)
    val gen = for {
      nl <- Gen.chooseNum(1, 12)
      ls <- Gen.listOfN(nl, Gen.zip(Gen.chooseNum(0, 2), Gen.chooseNum(0, 50)))
      nr <- Gen.chooseNum(0, 12)
      rs <- Gen.listOfN(nr, for {
        k  <- Gen.chooseNum(0, 2)
        rt <- Gen.frequency(9 -> Gen.chooseNum(0, 50).map(Option(_)),
          1 -> Gen.const(Option.empty[Int]))
        tb <- Gen.chooseNum(0, 3)
      } yield (k, rt, tb))
    } yield (ls.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) },
      rs.zipWithIndex.map { case ((k, rt, tb), i) => (k, rt, tb, s"p$i") })
    val tolSec = 10
    samples(gen, 10).foreach { case (ls, rs) =>
      val left = ls.toDF("k", "ts", "lid")
        .select(col("k"), timestamp_seconds(col("ts")).as("t"), col("lid"))
      val right = rs.toDF("k", "rts", "tie", "v")
        .select(col("k"), timestamp_seconds(col("rts")).as("rt"),
          col("tie"), col("v"))
      def run(df: org.apache.spark.sql.DataFrame): Map[Long, Option[String]] =
        df.collect().map(r =>
          r.getAs[Long]("lid") -> Option(r.getAs[String]("asof_v"))).toMap
      val gotB = run(AsOfJoin.asof(left, right, Seq("k"), "t", "rt", Seq("v"), "tie"))
      val gotF = run(AsOfJoin.asofForward(left, right, Seq("k"), "t", "rt", Seq("v"), "tie"))
      val gotW = run(AsOfJoin.asofWithin(left, right, Seq("k"), "t", "rt",
        Seq("v"), "tie", s"$tolSec SECOND"))
      val gotN = run(AsOfJoin.asofNearest(left, right, Seq("k"), "t", "rt", Seq("v"), "tie"))
      def back(k: Int, t: Int) = rs
        .filter(r => r._1 == k && r._2.exists(_ <= t))
        .sortBy(r => (r._2.get, r._3)).lastOption
      def fwd(k: Int, t: Int) = rs
        .filter(r => r._1 == k && r._2.exists(_ >= t))
        .sortBy(r => (r._2.get, r._3)).headOption
      ls.foreach { case (k, t, lid) =>
        val b = back(k, t); val f = fwd(k, t)
        assert(gotB(lid) == b.map(_._4), s"backward lid=$lid ls=$ls rs=$rs")
        assert(gotF(lid) == f.map(_._4), s"forward lid=$lid ls=$ls rs=$rs")
        assert(gotW(lid) == b.filter(r => t - r._2.get <= tolSec).map(_._4),
          s"within lid=$lid ls=$ls rs=$rs")
        val n = (b, f) match {
          case (Some(rb), Some(rf)) =>
            if (t - rb._2.get <= rf._2.get - t) Some(rb) else Some(rf)
          case (some, None) => some
          case (None, some) => some
        }
        assert(gotN(lid) == n.map(_._4), s"nearest lid=$lid ls=$ls rs=$rs")
      }
    }
  }

  test("substringTrim equals a driver-side reference on random small-alphabet corpora") {
    // tiny alphabet + short strings force dense window collisions:
    // cross-doc dups, within-doc repetition, truncated (len < w)
    // windows, and multi-span cuts all occur across the samples. The
    // reference replays the documented pipeline: windows at positions
    // 1..max(len-w+1, 1) (final gram truncated), every duplicated
    // window string keeps its corpus-wide first (doc, pos) occurrence,
    // later occurrences' positions merge into islands (start-gap <= w
    // fuses), spans run [p0, min(p1+w-1, len)], and affected docs are
    // rebuilt from the kept segments.
    val w = 3
    val docGen = for {
      n   <- Gen.chooseNum(2, 6)
      txt <- Gen.listOfN(n, Gen.chooseNum(0, 14).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf('a', 'b')).map(_.mkString)))
    } yield txt.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    def refTrim(docs: Seq[(Long, String)]): Map[Long, (String, Long, Long)] = {
      def wins(t: String): Seq[(Int, String)] =
        (1 to math.max(t.length - (w - 1), 1)).map(p =>
          p -> t.substring(p - 1, math.min(p - 1 + w, t.length)))
      val occ = docs.flatMap { case (id, t) => wins(t).map { case (p, s) => (s, id, p) } }
      val dupStrings = occ.groupBy(_._1).filter(_._2.size > 1).keySet
      val losers = occ.filter(o => dupStrings(o._1))
        .groupBy(_._1).values.flatMap { os =>
          os.sortBy(o => (o._2, o._3)).tail // first (doc, pos) occurrence wins
        }.toSeq
      losers.groupBy(_._2).map { case (id, cuts) =>
        val len = docs.find(_._1 == id).get._2.length
        val ps = cuts.map(_._3).distinct.sorted
        val islands = ps.tail.foldLeft(Vector(Vector(ps.head))) {
          case (acc, p) =>
            if (p - acc.last.last <= w) acc.init :+ (acc.last :+ p)
            else acc :+ Vector(p)
        }
        val spans = islands.map(is => (is.head, math.min(is.last + w - 1, len)))
        val removed = spans.map { case (s, e) => e - s + 1 }.sum.toLong
        val text = docs.find(_._1 == id).get._2
        val kept = new StringBuilder
        var last = 0
        spans.foreach { case (s, e) =>
          kept ++= text.substring(last, s - 1); last = e
        }
        kept ++= text.substring(last)
        id -> ((kept.toString, removed, spans.length.toLong))
      }
    }
    samples(docGen, 12).foreach { docs =>
      val got = Dedup.substringTrim(docs.toDF("id", "text"), "id", "text", w)
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got == refTrim(docs), s"docs=$docs")
    }
  }

  test("snapshotDiff: presence classifies; NULL payloads read as unchanged, " +
    "never phantom insert/delete/update") {
    import org.apache.spark.sql.functions.col
    // key 1: prev-only (delete). key 5: curr-only (insert). key 2: both
    // present, old payload NULL — old <> new is NULL, so UNCHANGED
    // (dropped), matching SQL <> semantics. key 3: both present, new
    // NULL — same. key 4: genuine update. key 6: genuine unchanged.
    val prev = Seq((1L, Option(10.0)), (2L, Option.empty[Double]),
      (3L, Option(5.0)), (4L, Option(1.0)), (6L, Option(2.0)))
      .toDF("k", "old_price")
    val curr = Seq((2L, Option(7.0)), (3L, Option.empty[Double]),
      (4L, Option(1.5)), (5L, Option(9.0)), (6L, Option(2.0)))
      .toDF("k", "new_price")
    val out = graft.queries.Relational6
      .snapshotDiff(prev, curr, "k", "old_price", "new_price")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out == Map(1L -> "delete", 4L -> "update", 5L -> "insert"))
    // and the NULL-payload keys are truly absent — not misclassified
    assert(!out.contains(2L) && !out.contains(3L) && !out.contains(6L))
  }

  test("stupidBackoff scores are log-probabilities: avg <= 0, backoff_rate in [0,1]") {
    import graft.operators.TextAnalysis
    val corpusGen = for {
      nTr <- Gen.chooseNum(1, 8)
      nTe <- Gen.chooseNum(1, 8)
      tr  <- Gen.listOfN(nTr, text)
      te  <- Gen.listOfN(nTe, text)
    } yield (tr.zipWithIndex.map { case (t, i) => (i.toLong, t) },
             te.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    samples(corpusGen, 10).foreach { case (tr, te) =>
      val out = TextAnalysis.stupidBackoff(
          tr.toDF("id", "text"), te.toDF("id", "text"), "id", "text")
        .collect()
      out.foreach { r =>
        // S(w|p) <= 1 in both branches (bigram count <= prefix count;
        // the alpha floor is a probability scaled by 0.4), so ln S <= 0
        assert(r.getAs[Double]("avg_logscore") <= 0.0, r.toString)
        val br = r.getAs[Double]("backoff_rate")
        assert(br >= 0.0 && br <= 1.0, r.toString)
        assert(r.getAs[Long]("n_bigrams") >= 1L, r.toString)
      }
    }
  }

  test("winnowingOverlapSpans equals a driver-side replay of " +
    "select→cull→pair→span arithmetic on random small-alphabet docs") {
    val k = 4; val w = 3
    def fp64(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((h, b) => h * 31L + (b & 0xffL))
    def hash(s: String): Long = graft.functions.Mix64.mix(fp64(s))
    // (first_pos, last_pos) per selected fingerprint, 1-based window
    // starts — the winnowingFingerprintSpans contract
    def refSpans(t: String): Map[Long, (Int, Int)] = {
      if (t.length < k) Map.empty
      else {
        val hs = (0 to t.length - k).map(i => hash(t.substring(i, i + k)))
        val mins = if (hs.length < w) Seq(hs.min)
          else hs.sliding(w).map(_.min).toSeq
        mins.zipWithIndex.groupBy(_._1).map { case (fp, js) =>
          fp -> (js.map(_._2).min + 1, js.map(_._2).max + 1)
        }
      }
    }
    val gen = for {
      nd   <- Gen.chooseNum(2, 6)
      ds   <- Gen.listOfN(nd, Gen.chooseNum(0, 25).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf('a', 'b')).map(_.mkString)))
      core <- Gen.listOfN(k + w + 3, Gen.oneOf('a', 'b')).map(_.mkString)
      pre  <- Gen.listOfN(4, Gen.oneOf('a', 'b')).map(_.mkString)
      post <- Gen.listOfN(4, Gen.oneOf('a', 'b')).map(_.mkString)
      mdf  <- Gen.chooseNum(1, 4)
      ms   <- Gen.chooseNum(1, 2)
    } yield ((ds ++ Seq(pre + core, core + post))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }, mdf, ms)
    samples(gen, 8).foreach { case (docs, maxDocFreq, minShared) =>
      val got = Dedup.winnowingOverlapSpans(docs.toDF("id", "text"),
          "id", "text", k, w, minShared = minShared, maxDocFreq = maxDocFreq)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6))))
        .toMap
      val spans = docs.map { case (id, t) => id -> refSpans(t) }.toMap
      val docFreq = spans.values.flatMap(_.keys).groupBy(identity)
        .map { case (fp, xs) => fp -> xs.size }
      val ext = k + w - 2
      val ref = (for {
        (ia, sa) <- spans.toSeq; (ib, sb) <- spans.toSeq if ia < ib
        shared = (sa.keySet & sb.keySet).filter(docFreq(_) <= maxDocFreq)
        if shared.size >= minShared
      } yield (ia, ib) -> ((shared.size.toLong,
        shared.map(sa(_)._1).min, shared.map(sa(_)._2).max + ext,
        shared.map(sb(_)._1).min, shared.map(sb(_)._2).max + ext))).toMap
      assert(got == ref, s"docs=$docs mdf=$maxDocFreq ms=$minShared")
    }
  }

  test("kCoreBounded equals a driver-side bounded peel at randomized " +
    "k/rounds on random multigraphs") {
    import graft.operators.Graph
    def refPeel(edges: Seq[(Long, Long)], k: Int, rounds: Int): Map[Long, Long] = {
      var e = edges.filter(p => p._1 != p._2)
        .flatMap(p => Seq(p, (p._2, p._1))).distinct
      (1 to rounds).foreach { _ =>
        val keep = e.groupBy(_._1).collect {
          case (u, es) if es.size >= k => u
        }.toSet
        e = e.filter(p => keep(p._1) && keep(p._2))
      }
      e.groupBy(_._1).map { case (u, es) => u -> es.size.toLong }
    }
    val gen = for {
      n  <- Gen.chooseNum(2, 9)
      m  <- Gen.chooseNum(1, 16)
      es <- Gen.listOfN(m, for { // self-loops and duplicates on purpose
        u <- Gen.chooseNum(1, n); v <- Gen.chooseNum(1, n)
      } yield (u.toLong, v.toLong))
      k  <- Gen.chooseNum(1, 4)
      r  <- Gen.chooseNum(1, 4)
    } yield (es, k, r)
    samples(gen, 15).foreach { case (es, k, r) =>
      val got = Graph.kCoreBounded(es.toDF("u", "v"), "u", "v", k, r)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      val ref = refPeel(es, k, r)
      assert(got == ref, s"edges=$es k=$k rounds=$r")
    }
  }

  test("bfsHops equals a driver-side BFS at randomized maxHops on random " +
    "multigraphs") {
    import graft.operators.Graph
    def refBfs(edges: Seq[(String, String)], start: String,
               maxHops: Int): Map[String, Int] = {
      val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
        .map { case (u, es) => u -> es.map(_._2).toSet }
      var dist = Map(start -> 0)
      var frontier = Set(start)
      var h = 0
      while (h < maxHops && frontier.nonEmpty) {
        h += 1
        frontier = frontier.flatMap(u => adj.getOrElse(u, Set.empty))
          .diff(dist.keySet)
        dist ++= frontier.map(_ -> h)
      }
      dist
    }
    val node = Gen.chooseNum(1, 8).map(i => s"n$i")
    val gen = for {
      m  <- Gen.chooseNum(1, 14) // self-loops and duplicates on purpose
      es <- Gen.listOfN(m, for { u <- node; v <- node } yield (u, v))
      s  <- node
      h  <- Gen.chooseNum(0, 5)
    } yield (es, s, h)
    samples(gen, 15).foreach { case (es, start, maxHops) =>
      val got = Graph.bfsHops(es.toDF("src", "dst"), "src", "dst",
          start, maxHops)
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      val ref = refBfs(es, start, maxHops)
      assert(got == ref, s"edges=$es start=$start maxHops=$maxHops")
    }
  }

  test("triangleCounts equals a cubic driver-side reference on random " +
    "multigraphs") {
    import graft.operators.Graph
    def refTris(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
      val und = edges.map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
        .filter(p => p._1 != p._2).distinct.toSet
      val nodes = und.flatMap(p => Seq(p._1, p._2)).toSeq.sorted
      def adj(a: Long, b: Long) =
        und((math.min(a, b), math.max(a, b)))
      val deg = nodes.map(n => n -> und.count(p => p._1 == n || p._2 == n)).toMap
      val tri = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      for {
        i <- nodes.indices; j <- (i + 1) until nodes.length
        k <- (j + 1) until nodes.length
        if adj(nodes(i), nodes(j)) && adj(nodes(j), nodes(k)) &&
          adj(nodes(i), nodes(k))
        n <- Seq(nodes(i), nodes(j), nodes(k))
      } tri(n) += 1
      nodes.map(n => n -> ((deg(n).toLong, tri(n)))).toMap
    }
    val gen = for {
      m  <- Gen.chooseNum(1, 18)
      es <- Gen.listOfN(m, for {
        u <- Gen.chooseNum(1, 8); v <- Gen.chooseNum(1, 8)
      } yield (u.toLong, v.toLong))
    } yield es
    samples(gen, 15).foreach { es =>
      val got = Graph.triangleCounts(es.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val ref = refTris(es)
      assert(got == ref, s"edges=$es")
    }
  }

  test("boilerplateSegments equals a driver-side per-source document-" +
    "frequency cull on random two-source corpora") {
    val segWords = 2
    def segsOf(text: String): Seq[String] =
      text.split("\\s+", -1).grouped(segWords).map(_.mkString(" ")).toSeq
    val gen = for {
      nd   <- Gen.chooseNum(2, 8)
      rows <- Gen.listOfN(nd, for {
        src <- Gen.oneOf("web", "pdf")
        nw  <- Gen.chooseNum(1, 8)
        ws  <- Gen.listOfN(nw, word)
      } yield (src, ws.mkString(" ")))
      maxDocs <- Gen.chooseNum(1, 2)
    } yield (rows.zipWithIndex.map { case ((s, t), i) => (i.toLong, s, t) },
      maxDocs)
    samples(gen, 12).foreach { case (docs, maxDocs) =>
      val got = Dedup.boilerplateSegments(docs.toDF("id", "source", "text"),
          "id", "source", "text", segWords = segWords, maxDocs = maxDocs)
        .collect().map(r => r.getLong(0) ->
          ((r.getInt(1), r.getLong(2), r.getString(3)))).toMap
      val boiler = docs.flatMap { case (id, src, t) =>
        segsOf(t).distinct.map(seg => (src, seg) -> id) }
        .groupBy(_._1).collect {
          case (key, xs) if xs.map(_._2).distinct.size > maxDocs => key
        }.toSet
      val ref = docs.map { case (id, src, t) =>
        val segs = segsOf(t)
        val kept = segs.filterNot(seg => boiler((src, seg)))
        id -> ((segs.size, (segs.size - kept.size).toLong, kept.mkString(" ")))
      }.toMap
      assert(got == ref, s"docs=$docs maxDocs=$maxDocs")
    }
  }

  test("bpeMergeTable equals a driver-side BPE training loop on random " +
    "corpora (pair counts, tie-breaks, greedy re-segmentation)") {
    import graft.operators.TextAnalysis
    def refTable(corpus: Seq[String], numMerges: Int)
        : Seq[(Int, String, String, Long)] = {
      val freq = corpus.flatMap(_.toLowerCase.split("\\s+"))
        .filter(_.nonEmpty)
        .groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
      var segs: Map[String, List[String]] =
        freq.keys.map(w => w -> w.map(_.toString).toList).toMap
      (1 to numMerges).map { round =>
        val counts = collection.mutable.Map[(String, String), Long]()
          .withDefaultValue(0L)
        for ((w, c) <- freq; p <- segs(w).sliding(2) if p.length == 2)
          counts((p.head, p(1))) += c
        val ((l, r), f) = counts.toSeq
          .sortBy { case ((a, b), n) => (-n, a, b) }.head
        segs = segs.map { case (w, ss) =>
          // greedy left-to-right non-overlapping merge — the documented
          // semantics of the operator's consumed-delimiter replace
          val out = collection.mutable.ListBuffer[String]()
          var i = 0
          while (i < ss.length) {
            if (i + 1 < ss.length && ss(i) == l && ss(i + 1) == r) {
              out += (l + r); i += 2
            } else { out += ss(i); i += 1 }
          }
          w -> out.toList
        }
        (round, l, r, f)
      }
    }
    val gen = for {
      nd   <- Gen.chooseNum(1, 5)
      ds   <- Gen.listOfN(nd, Gen.chooseNum(1, 6).flatMap(l =>
        Gen.listOfN(l, word).map(_.mkString(" "))))
      long <- Gen.listOfN(8, Gen.oneOf('a', 'b', 'c')).map(_.mkString)
      nm   <- Gen.chooseNum(1, 3)
    } yield (ds :+ s"$long $long", nm) // the long word keeps pairs alive
    samples(gen, 10).foreach { case (corpus, numMerges) =>
      val got = TextAnalysis.bpeMergeTable(
          corpus.zipWithIndex.map(_.swap).toDF("id", "text"), "text", numMerges)
        .collect().map(r =>
          (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      val ref = refTable(corpus, numMerges)
      assert(got == ref, s"corpus=$corpus numMerges=$numMerges")
    }
  }

  test("simHash and simHashDupPairs equal a driver-side reference under " +
    "the oracle word hash on random corpora") {
    import org.apache.spark.sql.Column
    def fp64(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((h, b) => h * 31L + (b & 0xffL))
    def whDriver(s: String): Long = graft.functions.Mix64.mix(fp64(s))
    val whCol: Column => Column = c =>
      graft.functions.TextFunctions.mix64(
        graft.functions.TextFunctions.fingerprint64(c))
    def refSig(text: String): Long = {
      val hs = text.toLowerCase.split("\\s+").map(whDriver)
      (0 until 64).map { i =>
        val s = hs.map(h => if (((h >> i) & 1L) == 1L) 1 else -1).sum
        if (s > 0) 1L << i else 0L
      }.reduce(_ | _)
    }
    val gen = for {
      nd  <- Gen.chooseNum(2, 8)
      ds  <- Gen.listOfN(nd, Gen.chooseNum(1, 10).flatMap(l =>
        Gen.listOfN(l, word).map(_.mkString(" "))))
      dup <- Gen.chooseNum(0, nd - 1) // planted exact dup → hamming 0
      mh  <- Gen.chooseNum(0, 3)
    } yield ((ds :+ ds(dup)).zipWithIndex.map { case (t, i) => (i.toLong, t) }, mh)
    samples(gen, 10).foreach { case (docs, maxHamming) =>
      val sigs = Dedup.simHash(docs.toDF("id", "text"), "id", "text", whCol)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val refs = docs.map { case (id, t) => id -> refSig(t) }.toMap
      assert(sigs == refs, s"docs=$docs")
      // 4-band blocking is EXACT for maxHamming <= 3 (pigeonhole: 3 flipped
      // bits leave one clean 16-bit band), so the pair set must equal the
      // quadratic hamming filter, not just contain it
      val got = Dedup.simHashDupPairs(docs.toDF("id", "text"), "id", "text",
          maxHamming, whCol)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          r.get(2).asInstanceOf[Number].longValue).toMap
      val ref = (for {
        (ia, _) <- docs; (ib, _) <- docs if ia < ib
        h = java.lang.Long.bitCount(refs(ia) ^ refs(ib)).toLong
        if h <= maxHamming
      } yield (ia, ib) -> h).toMap
      assert(got == ref, s"docs=$docs maxHamming=$maxHamming")
    }
  }

  test("leakFreeSplit equals the driver-side seeded-key assignment and " +
    "never splits a cluster") {
    import graft.operators.Sampling
    def fp64(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((h, b) => h * 31L + (b & 0xffL))
    def u(rep: Long, seed: Long): Double =
      graft.functions.Mix64.mix(fp64(s"$seed:$rep")).toDouble /
        1.8446744073709552e19 + 0.5
    val fractions = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val cuts = fractions.map(_._2).scanLeft(0.0)(_ + _).tail
    def refSplit(rep: Long, seed: Long): String = {
      val x = u(rep, seed)
      fractions.map(_._1).zip(cuts).init
        .collectFirst { case (n, c) if x < c => n }
        .getOrElse(fractions.last._1)
    }
    val gen = for {
      n     <- Gen.chooseNum(2, 20)
      reps  <- Gen.listOfN(n, Gen.chooseNum(1L, 6L)) // few reps → shared clusters
      seed  <- Gen.chooseNum(1L, 1000L)
    } yield (reps.zipWithIndex.map { case (r, i) => (i.toLong, r) }, seed)
    samples(gen, 12).foreach { case (clusters, seed) =>
      val got = Sampling.leakFreeSplit(clusters.toDF("id", "rep"),
          "id", "rep", fractions, seed)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
        .toMap
      clusters.foreach { case (id, rep) =>
        assert(got(id) == ((rep, refSplit(rep, seed))),
          s"id=$id rep=$rep seed=$seed got=${got(id)}")
      }
      // leak-freedom restated: one split per cluster representative
      got.values.groupBy(_._1).values.foreach(v =>
        assert(v.map(_._2).toSet.size == 1))
    }
  }

  test("substringDecontam equals a driver-side windows→mark→islands replay " +
    "on random small-alphabet train/bench corpora") {
    val k = 5
    def windowsOf(t: String): Seq[(Int, String)] = {
      val starts = math.max(t.length - (k - 1), 1)
      (1 to starts).map(i => i -> t.substring(i - 1, math.min(i - 1 + k, t.length)))
    }
    def refStats(train: Seq[(Long, String)], bench: Seq[(Long, String)])
        : Map[Long, (Long, Long, Long, Double)] = {
      val benchSet = bench.flatMap(b => windowsOf(b._2).map(_._2)).toSet
      train.flatMap { case (id, t) =>
        val marked = windowsOf(t).collect {
          case (p, w) if benchSet(w) => p
        }.sorted
        if (marked.isEmpty) None
        else {
          // gaps-and-islands: starts <= k apart fuse
          val islands = marked.tail.foldLeft(
            List(List(marked.head))) { (acc, p) =>
            if (p - acc.head.head <= k) (p :: acc.head) :: acc.tail
            else List(p) :: acc
          }.map(_.reverse).reverse
          val per = islands.map { is =>
            val p0 = is.min; val p1 = is.max
            (is.size.toLong, (math.min(p1 + k - 1, t.length) - p0 + 1).toLong)
          }
          val chars = per.map(_._2).sum
          Some(id -> ((islands.size.toLong, per.map(_._1).sum, chars,
            BigDecimal(chars.toDouble / t.length)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
        }
      }.toMap
    }
    val chars = Gen.oneOf('a', 'b', 'c')
    val gen = for {
      nb    <- Gen.chooseNum(1, 2)
      bs    <- Gen.listOfN(nb, Gen.chooseNum(3, 12).flatMap(l =>
        Gen.listOfN(l, chars).map(_.mkString)))
      nt    <- Gen.chooseNum(1, 6)
      ts    <- Gen.listOfN(nt, Gen.chooseNum(0, 20).flatMap(l =>
        Gen.listOfN(l, chars).map(_.mkString)))
      // plant one train doc that embeds a benchmark substring
      pre   <- Gen.listOfN(4, chars).map(_.mkString)
      post  <- Gen.listOfN(4, chars).map(_.mkString)
    } yield (ts :+ (pre + bs.head + post), bs)
    samples(gen, 10).foreach { case (ts, bs) =>
      val train = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val bench = bs.zipWithIndex.map { case (t, i) => (100L + i, t) }
      val got = Dedup.substringDecontam(train.toDF("id", "text"),
          bench.toDF("id", "text"), "id", "text", windowChars = k)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
      val ref = refStats(train.filter(_._2.nonEmpty), bench)
      assert(got == ref, s"train=$train bench=$bench")
    }
  }

  test("neighborJaccard equals the quadratic reference, with and without " +
    "the hub cap, on random bipartite relations") {
    import graft.operators.Graph
    def ref(rel: Seq[(Long, Long)], minCommon: Long, cap: Long)
        : Map[(Long, Long), (Long, Long, Long, Double)] = {
      val b = rel.distinct
      val deg = b.groupBy(_._1).map { case (e, xs) => e -> xs.size.toLong }
      val items = b.groupBy(_._2)
      val kept = if (cap > 0) items.filter(_._2.size <= cap) else items
      val pairCommon = collection.mutable.Map[(Long, Long), Long]()
        .withDefaultValue(0L)
      kept.values.foreach { es =>
        val ents = es.map(_._1).distinct.sorted
        for (i <- ents.indices; j <- (i + 1) until ents.length)
          pairCommon((ents(i), ents(j))) += 1
      }
      pairCommon.toMap.collect { case ((a, bb), c) if c >= minCommon =>
        (a, bb) -> ((c, deg(a), deg(bb),
          c.toDouble / (deg(a) + deg(bb) - c)))
      }
    }
    val gen = for {
      m   <- Gen.chooseNum(2, 24)
      rel <- Gen.listOfN(m, for {
        e <- Gen.chooseNum(1, 6); i <- Gen.chooseNum(1, 8)
      } yield (e.toLong, i.toLong))
      mc  <- Gen.chooseNum(1, 3)
      cap <- Gen.oneOf(0L, 2L, 3L)
    } yield (rel, mc.toLong, cap)
    samples(gen, 15).foreach { case (rel, mc, cap) =>
      val got = Graph.neighborJaccard(rel.toDF("e", "i"), "e", "i",
          minCommon = mc, maxItemDeg = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
      assert(got == ref(rel, mc, cap), s"rel=$rel mc=$mc cap=$cap")
    }
  }

  test("dupClusters equals driver-side union-find min-labels on random " +
    "pair sets with extra singleton nodes") {
    def refCC(pairs: Seq[(Long, Long)], nodes: Seq[Long]): Map[Long, Long] = {
      val all = (nodes ++ pairs.flatMap(p => Seq(p._1, p._2))).distinct
      val parent = collection.mutable.Map(all.map(n => n -> n): _*)
      def find(x: Long): Long = {
        var r = x; while (parent(r) != r) r = parent(r)
        r
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      all.map(n => n -> find(n)).toMap
    }
    val gen = for {
      nn    <- Gen.chooseNum(1, 10)
      np    <- Gen.chooseNum(0, 12)
      pairs <- Gen.listOfN(np, for {
        a <- Gen.chooseNum(1, 14); b0 <- Gen.chooseNum(1, 14)
      } yield {
        val b = if (a == b0) b0 % 14 + 1 else b0 // avoid self-pairs sans filter
        (math.min(a, b).toLong, math.max(a, b).toLong)
      })
    } yield ((1 to nn).map(_.toLong), pairs)
    samples(gen, 12).foreach { case (nodes, pairs) =>
      val got = Dedup.dupClusters(pairs.toDF("id_a", "id_b"),
          nodes.toDF("id"), "id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val ref = refCC(pairs, nodes)
      assert(got == ref, s"nodes=$nodes pairs=$pairs")
    }
  }

  test("clusterMedoids equals a driver-side jaccard→CC→argmax reference " +
    "on random docs") {
    import org.apache.spark.sql.functions.col
    val n = 2
    val t = 0.4
    def shingleSet(text: String): Set[String] = {
      val words = text.toLowerCase.split("\\s+", -1)
      val starts = math.max(words.length - (n - 1), 1)
      (0 until starts).map(i =>
        words.slice(i, math.min(i + n, words.length)).mkString(" ")).toSet
    }
    val gen = for {
      nd <- Gen.chooseNum(2, 8)
      ds <- Gen.listOfN(nd, Gen.chooseNum(1, 8).flatMap(len =>
        Gen.listOfN(len, word).map(_.mkString(" "))))
    } yield ds.zipWithIndex.map { case (txt, i) => (i.toLong, txt) }
    samples(gen, 10).foreach { docs =>
      val sets = docs.map { case (id, txt) => id -> shingleSet(txt) }.toMap
      val pairs = for {
        (ia, _) <- docs; (ib, _) <- docs if ia < ib
        j = (sets(ia) & sets(ib)).size.toDouble / (sets(ia) | sets(ib)).size.toDouble
        if j >= t
      } yield (ia, ib)
      // CC min-labels (quadratic closure is fine at this size)
      val label = collection.mutable.Map(docs.map(d => d._1 -> d._1): _*)
      var moved = true
      while (moved) {
        moved = false
        pairs.foreach { case (a, b) =>
          val m = math.min(label(a), label(b))
          if (label(a) != m || label(b) != m) {
            label(a) = m; label(b) = m; moved = true
          }
        }
      }
      val score = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      pairs.foreach { case (a, b) =>
        val w = (sets(a) & sets(b)).size.toLong
        score(a) += w; score(b) += w
      }
      val ref = label.values.toSeq.distinct.map { rep =>
        val members = docs.map(_._1).filter(label(_) == rep)
        val medoid =
          if (members.size == 1) rep
          else members.maxBy(m => (score(m), -m))
        rep -> ((members.size.toLong, medoid))
      }.toMap
      val got = Dedup.clusterMedoids(docs.toDF("id", "text"), "id", "text",
          shingleN = n, threshold = t)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      assert(got == ref, s"docs=$docs pairs=$pairs")
    }
  }

  test("literal_scan_count equals the alternation regex AND a driver-side " +
    "Matcher reference on random mixed-script text") {
    import graft.functions.TextFunctions.literal_scan_count
    import graft.operators.TextAnalysis
    import org.apache.spark.sql.functions.{col, lit, regexp_extract_all, size}
    // pieces overlap the real langId profiles plus deliberate nasties:
    // multi-byte (zh, ó, ß), a supplementary char (4-byte UTF-8 /
    // UTF-16 surrogate pair), prefix-overlapping fragments
    val pieces = Gen.oneOf("the", "and", " th", "he ", "的", "是", "ión",
      "que", "a", "ab", " ", "x", "ß", "😀", "b", "os ")
    val strGen = Gen.chooseNum(0, 60).flatMap(n =>
      Gen.listOfN(n, pieces)).map(_.mkString)
    val litSets = Seq(
      TextAnalysis.trigramProfiles("en"),
      TextAnalysis.trigramProfiles("es"), // "ión": 2-byte char inside
      TextAnalysis.trigramProfiles("zh"), // 1-char, 3-byte literals
      Seq("ab", "abc", "b"),  // order-sensitive: "ab" shadows "abc"
      Seq("abc", "ab", "b"),  // ...and the other order
      Seq("😀", "aß", "ßa")) // surrogate + mixed-width set
    val texts = samples(strGen, 40).zipWithIndex.map { case (t, i) => (i, t) }
    val df = texts.toDF("i", "t")
    litSets.foreach { lits =>
      val alternation = lits.map(java.util.regex.Pattern.quote).mkString("|")
      val got = df.select(col("i"), literal_scan_count(col("t"), lits).as("c"))
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      val viaRegex = df.select(col("i"),
          size(regexp_extract_all(col("t"), lit(alternation), lit(0))).as("c"))
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      val p = java.util.regex.Pattern.compile(alternation)
      val ref = texts.map { case (i, s) =>
        val m = p.matcher(s); var n = 0; while (m.find()) n += 1; i -> n
      }.toMap
      assert(got == viaRegex, s"scan != spark regex for $lits")
      assert(got == ref, s"scan != driver Matcher for $lits")
    }
  }

  test("pageRank equals a driver-side power iteration at randomized " +
    "damping/iters in both directed and undirected modes") {
    import graft.operators.Graph
    // replays the implemented semantics exactly: distinct edge list
    // (symmetrized when undirected), self-loops kept, uniform 1/N
    // start, PR' = (1-d)/N + d*Σ rank/outdeg, dangling mass NOT
    // redistributed (directed mode), final ranks mean-normalized (*N)
    def refPr(edges: Seq[(Long, Long)], iters: Int, d: Double,
              undirected: Boolean): Map[String, Double] = {
      val raw = edges.map { case (a, b) => (a.toString, b.toString) }
      val dir = (if (undirected) raw ++ raw.map(_.swap) else raw).distinct
      val nodes = (dir.map(_._1) ++ dir.map(_._2)).distinct
      val n = nodes.size
      val outdeg = dir.groupBy(_._1).map { case (a, es) => a -> es.size }
      var rank = nodes.map(_ -> 1.0 / n).toMap
      (1 to iters).foreach { _ =>
        val in = dir.groupBy(_._2).map { case (b, es) =>
          b -> es.map { case (a, _) => rank(a) / outdeg(a) }.sum
        }
        rank = nodes.map(v =>
          v -> ((1.0 - d) / n + d * in.getOrElse(v, 0.0))).toMap
      }
      rank.map { case (v, r) => v -> r * n }
    }
    val gen = for {
      nn <- Gen.chooseNum(2, 8)
      m  <- Gen.chooseNum(1, 14)
      es <- Gen.listOfN(m, for { // self-loops and duplicates on purpose
        u <- Gen.chooseNum(1, nn); v <- Gen.chooseNum(1, nn)
      } yield (u.toLong, v.toLong))
      it <- Gen.chooseNum(1, 4)
      dm <- Gen.oneOf(0.5, 0.85, 0.9)
      ud <- Gen.oneOf(true, false)
    } yield (es, it, dm, ud)
    samples(gen, 8).foreach { case (es, it, dm, ud) =>
      val got = Graph.pageRank(es.toDF("u", "v"), "u", "v", it, dm, ud)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val ref = refPr(es, it, dm, ud)
      assert(got.keySet == ref.keySet,
        s"node sets differ: edges=$es ud=$ud ${got.keySet} vs ${ref.keySet}")
      got.foreach { case (v, r) =>
        assert(math.abs(r - ref(v)) < 1e-9,
          s"edges=$es it=$it d=$dm ud=$ud node=$v: $r vs ${ref(v)}")
      }
    }
  }

  test("ivfKnnFromCentroids: full probe equals brute force on random " +
    "vectors, at few cells and at >= 256 cells") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.col
    val dim = 4
    def coords(n: Int) = Gen.listOfN(n, Gen.listOfN(dim,
      Gen.chooseNum(-1000, 1000).map(_ / 997.0)))
    val gen = for {
      n  <- Gen.chooseNum(6, 30)
      vs <- coords(n)
      nc <- Gen.chooseNum(2, 5)
      cs <- coords(nc)
      k  <- Gen.chooseNum(1, 4)
    } yield (vs, cs, k)
    // the fixed case: 300 cells, past the count where one literal
    // expression per centroid would overflow the JVM's 64 KB method
    // limit — assignment and probing must stay exact there too
    val wide = coords(40).flatMap(vs => coords(300).map(cs => (vs, cs, 3)))
    val wideCase = samples(wide, 1)
    assert(wideCase.map(_._2.size) == Seq(300))
    (samples(gen, 8) ++ wideCase).foreach { case (vs, cs, k) =>
      val e = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val qs = e.filter(col("vec_id") % 3 === 0)
      val cents = cs.map(_.toSeq)
      // nProbe = nCells probes every cell → exact search; tie-breaks
      // and the cosine expression are shared with the oracle, so the
      // result sets must be identical, not merely recall-1.0
      val full = Similarity.ivfKnnFromCentroids(e, qs, "vec_id", "embedding",
          k, cents, cents.size)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
      val brute = Similarity.bruteForceKnn(e, qs, "vec_id", "embedding", k)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
      assert(full == brute,
        s"full-probe != brute force at ${cents.size} cells: vs=$vs k=$k")
    }
  }

  test("coOccurrencePairs equals a quadratic driver-side reference at " +
    "randomized minShared/hub caps (the c104 edge builder)") {
    import graft.operators.Graph
    def ref(rel: Seq[(Long, Long)], minShared: Long,
            cap: Long): Map[(Long, Long), Long] = {
      val b = rel.distinct
      val kept = if (cap > 0) {
        val deg = b.groupBy(_._2).map { case (i, es) => i -> es.size }
        b.filter(p => deg(p._2) <= cap)
      } else b
      val byItem = kept.groupBy(_._2).values.toSeq
      byItem.flatMap { es =>
        val owners = es.map(_._1).distinct
        for (a <- owners; bb <- owners if a < bb) yield (a, bb)
      }.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
        .filter(_._2 >= minShared)
    }
    val gen = for {
      ne <- Gen.chooseNum(2, 6)
      ni <- Gen.chooseNum(2, 6)
      m  <- Gen.chooseNum(1, 24)
      rel <- Gen.listOfN(m, for { // duplicates on purpose (distinct'd)
        e <- Gen.chooseNum(1, ne); i <- Gen.chooseNum(1, ni)
      } yield (e.toLong, i.toLong))
      ms  <- Gen.chooseNum(1, 3)
      cap <- Gen.oneOf(0L, 1L, 2L, 4L)
    } yield (rel, ms.toLong, cap)
    samples(gen, 15).foreach { case (rel, ms, cap) =>
      val got = Graph.coOccurrencePairs(rel.toDF("e", "i"), "e", "i",
          minShared = ms, maxItemDeg = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      assert(got == ref(rel, ms, cap),
        s"rel=$rel minShared=$ms cap=$cap: $got vs ${ref(rel, ms, cap)}")
    }
  }

  test("srpSignatures (fused codegen) equals the composed per-table " +
    "srpSignature form AND a driver-side reference, incl. mismatched dims") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.{array, col}
    def refSigs(v: Seq[Double], planes: Seq[Seq[Seq[Double]]]): Seq[Long] =
      planes.map { table =>
        if (v.size != table.head.size) 0L // the composed form's contract
        else table.zipWithIndex.foldLeft(0L) { case (acc, (p, b)) =>
          val d = p.indices.map(i => v(i) * p(i)).sum
          if (d > 0.0) acc | (1L << b) else acc
        }
      }
    val gen = for {
      dim     <- Gen.chooseNum(2, 8)
      nTables <- Gen.chooseNum(1, 6)
      nBits   <- Gen.chooseNum(1, 5)
      seed    <- Gen.chooseNum(1L, 99L)
      n       <- Gen.chooseNum(1, 12)
      vs      <- Gen.listOfN(n, Gen.oneOf(dim, dim + 1).flatMap(sz =>
                   Gen.listOfN(sz, Gen.chooseNum(-1000, 1000).map(_ / 997.0))))
    } yield (dim, nTables, nBits, seed, vs)
    samples(gen, 10).foreach { case (dim, nTables, nBits, seed, vs) =>
      val planes = (0 until nTables).map(t =>
        Similarity.hyperplanes(nBits, dim, seed + t))
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v")
        .select(col("id"), col("v").cast("array<double>").as("v"))
      val fused = df.select(col("id"),
          Similarity.srpSignatures(col("v"), planes).as("s"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val composed = df.select(col("id"),
          array(planes.map(p => Similarity.srpSignature(col("v"), p)): _*).as("s"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val ref = vs.zipWithIndex.map { case (v, i) =>
        i.toLong -> refSigs(v, planes)
      }.toMap
      assert(fused == composed,
        s"fused != composed: dim=$dim t=$nTables b=$nBits seed=$seed vs=$vs")
      assert(fused.map { case (k, v) => k -> v.toSeq } == ref,
        s"fused != driver ref: dim=$dim t=$nTables b=$nBits seed=$seed vs=$vs")
    }
  }

  test("cell_dists (fused codegen) equals the composed literal-dot form " +
    "AND a driver-side reference, incl. mismatched dims") {
    import graft.operators.Similarity
    import graft.functions.VectorFunctions.cell_dists
    import org.apache.spark.sql.functions.{array, col, lit, typedLit}
    val gen = for {
      dim    <- Gen.chooseNum(2, 8)
      nCells <- Gen.chooseNum(1, 6)
      cs     <- Gen.listOfN(nCells, Gen.listOfN(dim,
                  Gen.chooseNum(-1000, 1000).map(_ / 997.0)))
      n      <- Gen.chooseNum(1, 12)
      vs     <- Gen.listOfN(n, Gen.oneOf(dim, dim + 1).flatMap(sz =>
                  Gen.listOfN(sz, Gen.chooseNum(-1000, 1000).map(_ / 997.0))))
    } yield (cs.map(_.toSeq), vs)
    samples(gen, 10).foreach { case (cents, vs) =>
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v")
        .select(col("id"), col("v").cast("array<double>").as("v"))
      def get(r: org.apache.spark.sql.Row): Seq[Option[Double]] = {
        val s = r.getSeq[Any](1); s.map(x => Option(x).map(_.asInstanceOf[Double]))
      }
      val fused = df.select(col("id"), cell_dists(col("v"), cents).as("d"))
        .collect().map(r => r.getLong(0) -> get(r)).toMap
      val composed = df.select(col("id"), array(cents.map { cen =>
          lit(cen.map(x => x * x).sum) -
            lit(2.0) * Similarity.dot(col("v"), typedLit(cen))
        }: _*).as("d"))
        .collect().map(r => r.getLong(0) -> get(r)).toMap
      val ref = vs.zipWithIndex.map { case (v, i) =>
        i.toLong -> cents.map { cen =>
          if (v.size != cen.size) None
          else Some(cen.map(x => x * x).sum -
            2.0 * cen.indices.map(j => v(j) * cen(j)).sum)
        }
      }.toMap
      assert(fused == composed, s"fused != composed: cents=$cents vs=$vs")
      assert(fused == ref, s"fused != driver ref: cents=$cents vs=$vs")
    }
  }

  test("pq_codes and pq_codes_residual (fused codegen) equal the composed " +
    "slice-dot-argmin forms, incl. short vectors and null cells") {
    import graft.operators.Similarity
    import graft.functions.VectorFunctions.{pq_codes, pq_codes_residual}
    import org.apache.spark.sql.functions.{array, array_min, array_position,
      col, element_at, lit, slice, typedLit, when}
    val gen = for {
      m      <- Gen.chooseNum(1, 3)
      dsub   <- Gen.chooseNum(1, 3)
      ksub   <- Gen.chooseNum(1, 4)
      nCells <- Gen.chooseNum(1, 3)
      cbs    <- Gen.listOfN(m, Gen.listOfN(ksub, Gen.listOfN(dsub,
                  Gen.chooseNum(-1000, 1000).map(_ / 997.0))))
      coarse <- Gen.listOfN(nCells, Gen.listOfN(m * dsub,
                  Gen.chooseNum(-1000, 1000).map(_ / 997.0)))
      n      <- Gen.chooseNum(1, 10)
      // vector lengths straddle dim → some subspaces unencodable
      vs     <- Gen.listOfN(n, Gen.chooseNum(0, m * dsub + 2).flatMap(sz =>
                  Gen.listOfN(sz, Gen.chooseNum(-1000, 1000).map(_ / 997.0))))
      cells  <- Gen.listOfN(n, Gen.oneOf(
                  Gen.const(Option.empty[Int]),
                  Gen.chooseNum(0, nCells - 1).map(Option(_))))
    } yield (m, dsub, ksub, cbs.map(_.map(_.toSeq)), coarse.map(_.toSeq), vs, cells)
    samples(gen, 10).foreach { case (m, dsub, ksub, cbs, coarse, vs, cells) =>
      val dim = m * dsub
      val df = vs.zip(cells).zipWithIndex
        .map { case ((v, cl), i) =>
          (i.toLong, v, cl.map(Int.box).orNull.asInstanceOf[Integer]) }
        .toDF("id", "v", "cell")
        .select(col("id"), col("v").cast("array<double>").as("v"), col("cell"))
      def collectCodes(c: org.apache.spark.sql.Column) =
        df.select(col("id"), c.as("codes")).collect()
          .map(r => r.getLong(0) ->
            r.getSeq[Any](1).map(x => Option(x).map(_.asInstanceOf[Int]))).toMap
      // composed plain form (the pre-round-12 expression tree)
      val composedPlain = array(cbs.indices.map { j =>
        val d = array(cbs(j).map { cen =>
          lit(cen.map(x => x * x).sum) -
            lit(2.0) * Similarity.dot(slice(col("v"), j * dsub + 1, dsub), typedLit(cen))
        }: _*)
        (array_position(d, array_min(d)) - 1).cast("int")
      }: _*)
      assert(collectCodes(pq_codes(col("v"), cbs, dim)) ==
        collectCodes(composedPlain),
        s"plain: m=$m dsub=$dsub ksub=$ksub vs=$vs")
      // composed residual form (guarded element_at: NULL cell → null
      // correction, exactly the old null-propagation, without tripping
      // ANSI on the sentinel)
      val composedResidual = array(cbs.indices.map { j =>
        val d = array(cbs(j).map { cb =>
          val corr: Seq[Double] = coarse.map { cen =>
            2.0 * (0 until dsub).map(i => cen(j * dsub + i) * cb(i)).sum
          }
          lit(cb.map(x => x * x).sum) -
            lit(2.0) * Similarity.dot(slice(col("v"), j * dsub + 1, dsub), typedLit(cb)) +
            when(col("cell").isNotNull, element_at(typedLit(corr), col("cell") + 1))
        }: _*)
        (array_position(d, array_min(d)) - 1).cast("int")
      }: _*)
      assert(collectCodes(pq_codes_residual(col("v"), col("cell"), cbs, coarse, dim)) ==
        collectCodes(composedResidual),
        s"residual: m=$m dsub=$dsub ksub=$ksub coarse=$coarse vs=$vs cells=$cells")
    }
  }

  test("covarianceMatrix equals a driver-side per-cell moment reference " +
    "on random corpora incl. ragged sizes and null elements") {
    import graft.operators.Similarity
    // the old exploded form's semantics, replayed on the driver: every
    // cell (i, j) averages over exactly the rows where BOTH elements
    // are present and non-null; means are per-dimension over present
    // non-null elements; cells with no co-present pair are absent
    def ref(vs: Seq[Seq[Option[Double]]]): Map[(Int, Int), Double] = {
      val cells = collection.mutable.Map[(Int, Int), (Double, Long)]()
      val dims = collection.mutable.Map[Int, (Double, Long)]()
      vs.foreach { v =>
        v.indices.foreach { i =>
          v(i).foreach { xi =>
            val (s, n) = dims.getOrElse(i, (0.0, 0L))
            dims(i) = (s + xi, n + 1)
            (i until v.length).foreach { j =>
              v(j).foreach { xj =>
                val (ps, pn) = cells.getOrElse((i, j), (0.0, 0L))
                cells((i, j)) = (ps + xi * xj, pn + 1)
              }
            }
          }
        }
      }
      cells.map { case ((i, j), (ps, pn)) =>
        val mi = dims(i)._1 / dims(i)._2
        val mj = dims(j)._1 / dims(j)._2
        (i, j) -> (ps / pn - mi * mj)
      }.toMap
    }
    val elem: Gen[Option[Double]] = Gen.frequency(
      9 -> Gen.chooseNum(-1000, 1000).map(x => Some(x / 997.0)),
      1 -> Gen.const(None))
    val gen = for {
      n  <- Gen.chooseNum(1, 30)
      vs <- Gen.listOfN(n, Gen.chooseNum(0, 5).flatMap(d =>
              Gen.listOfN(d, elem))) // ragged on purpose
    } yield vs
    samples(gen, 10).foreach { vs =>
      val df = vs.zipWithIndex
        .map { case (v, i) => (i.toLong, v.map(_.map(Double.box).orNull)) }
        .toDF("id", "v")
      val got = Similarity.covarianceMatrix(df, "v")
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2))
        .toMap
      val want = ref(vs)
      assert(got.keySet == want.keySet, s"vs=$vs cells ${got.keySet} vs ${want.keySet}")
      got.foreach { case (c, g) =>
        assert(math.abs(g - want(c)) < 1e-12 * math.max(1.0, math.abs(want(c))),
          s"vs=$vs cell=$c: $g vs ${want(c)}")
      }
    }
  }

  test("pcaProject equals an independent driver-side eigensolve " +
    "(power iteration + deflation) on planted-spectrum random data") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.col
    // top-k eigenvectors by power iteration + deflation — a different
    // algorithm from the operator's Jacobi sweep, so agreement is a
    // genuine cross-check, not a replay
    def eigTop(a0: Array[Array[Double]], k: Int): Seq[Array[Double]] = {
      val d = a0.length
      val m = a0.map(_.clone())
      (0 until k).map { c =>
        var v = Array.tabulate(d)(i => 1.0 + 0.013 * ((i + c) % d))
        (0 until 4000).foreach { _ =>
          val w = m.map(row => row.indices.map(j => row(j) * v(j)).sum)
          val nw = math.sqrt(w.map(x => x * x).sum)
          v = w.map(_ / nw).toArray
        }
        val lam = v.indices.map(i =>
          v(i) * m(i).indices.map(j => m(i)(j) * v(j)).sum).sum
        for (i <- 0 until d; j <- 0 until d) m(i)(j) -= lam * v(i) * v(j)
        val lead = v.find(math.abs(_) > 1e-12).getOrElse(1.0)
        if (lead < 0) v.map(-_) else v
      }
    }
    val dimGen = Gen.chooseNum(3, 5)
    val gen = for {
      d  <- dimGen
      n  <- Gen.chooseNum(40, 90)
      // planted spectrum: coordinate j has scale 0.5^j → well-separated
      // sample eigen gaps w.h.p., which both solvers need to agree
      zs <- Gen.listOfN(n, Gen.listOfN(d, Gen.chooseNum(-1000, 1000)))
      rot <- Gen.listOfN(d, Gen.listOfN(d, Gen.chooseNum(-1000, 1000)))
      k  <- Gen.chooseNum(1, 2)
    } yield (d, zs.map(_.zipWithIndex.map { case (x, j) =>
        (x / 997.0) * math.pow(0.5, j) }),
        rot.map(_.map(_ / 997.0)), k)
    samples(gen, 6).foreach { case (d, zs, rot, k) =>
      // random orthonormal basis via Gram-Schmidt on the raw matrix
      val basis = rot.map(_.toArray).foldLeft(Vector.empty[Array[Double]]) {
        (acc, r0) =>
          val r = r0.clone()
          acc.foreach { b =>
            val pr = r.indices.map(i => r(i) * b(i)).sum
            r.indices.foreach(i => r(i) -= pr * b(i))
          }
          val nr = math.sqrt(r.map(x => x * x).sum)
          if (nr > 1e-6) acc :+ r.map(_ / nr) else acc
      }
      if (basis.size == d) { // degenerate raw matrix → skip this sample
        val xs = zs.map(z => (0 until d).map(i =>
          (0 until d).map(j => basis(j)(i) * z(j)).sum).toArray)
        val df = xs.zipWithIndex.map { case (x, i) => (i.toLong, x.toSeq) }
          .toDF("vec_id", "embedding")
        val got = Similarity.pcaProject(df, "vec_id", "embedding", k)
          .select(col("vec_id"), col("pc"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
        // reference: covariance (scaling-invariant for eigenvectors) +
        // power-iteration eigensolve + the same sign normalization
        val n = xs.size
        val mu = (0 until d).map(i => xs.map(_(i)).sum / n)
        val cov = Array.tabulate(d, d)((i, j) =>
          xs.map(x => (x(i) - mu(i)) * (x(j) - mu(j))).sum / n)
        val comps = eigTop(cov, k)
        val ref = xs.zipWithIndex.map { case (x, i) =>
          i.toLong -> comps.map(w =>
            (0 until d).map(j => (x(j) - mu(j)) * w(j)).sum)
        }.toMap
        got.foreach { case (id, pcs) =>
          pcs.zip(ref(id)).zipWithIndex.foreach { case ((g, r), c) =>
            assert(math.abs(g - r) < 1e-6 * math.max(1.0, math.abs(r)),
              s"d=$d n=$n k=$k id=$id comp=$c: $g vs $r")
          }
        }
      }
    }
  }
}
