package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.Streams

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"

  // streaming twin of PlanAuditSpec's output-schema sweep: the driver
  // pandas-sorts every s* output column too, so nested cells crash its
  // checker the same way (the r8 c89/q96 class). Constructing an s*
  // frame replays its stream — at sf0.001 that is cheap enough to pay
  // once for the whole surface.
  test("sweep: no array/map/struct-typed output column in any streaming query") {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val bad = collection.mutable.Buffer[String]()
    for (name <- SparkEntry.queries.keys.toSeq.sorted if name.startsWith("s")) {
      val schema = SparkEntry.queries(name)(spark, dir).schema
      for (f <- schema.fields
           if f.dataType.isInstanceOf[ArrayType] ||
             f.dataType.isInstanceOf[MapType] ||
             f.dataType.isInstanceOf[StructType])
        bad += s"$name.${f.name}: ${f.dataType.simpleString}"
    }
    assert(bad.isEmpty,
      s"nested streaming output columns crash the driver's pandas sort:\n" +
        bad.mkString("\n"))
  }

  test("streaming tumbling counts equal the batch-window equivalent") {
    val streamed = Streams.runToCompletion(spark,
      Streams.tumblingCounts(Streams.eventStream(spark, dir)), "t_tumble")
      .orderBy("window_start", "event_type").collect()
    val batch = Tables.load(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))
      .orderBy("window_start", "event_type").collect()
    assert(streamed.sameElements(batch))
  }

  test("session windows survive micro-batch boundaries (time-ordered replay)") {
    import java.nio.file.Files
    val work = Files.createTempDirectory("graft_replay").toString
    val ev = Tables.load(spark, dir, "events").select("ts", "user_id", "event_id", "value")
    // split into 6 sequential time ranges written in order, so the file
    // source replays them as 6 in-order micro-batches and sessions span
    // batch boundaries (watermark advances monotonically, nothing late)
    val cuts = ev.selectExpr("percentile(cast(ts as double), array(0.1667,0.3333,0.5,0.6667,0.8333)) as c")
      .collect().head.getSeq[Double](0)
    val edges = (Double.MinValue +: cuts) :+ Double.MaxValue
    edges.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
      ev.filter(col("ts").cast("double") > lo && col("ts").cast("double") <= hi)
        .coalesce(1).write.mode("append").parquet(s"$work/split")
      Thread.sleep(1100) // distinct modification seconds → stable replay order
    }
    val streamed = Streams.runToCompletion(spark,
      Streams.sessionCounts(
        Streams.replayStream(spark, s"$work/split", ev.schema, maxFilesPerTrigger = 1)),
      "t_session_multi")
      .orderBy("user_id", "session_start").collect()
    val single = Streams.runToCompletion(spark,
      Streams.sessionCounts(Streams.eventStream(spark, dir)), "t_session_single")
      .orderBy("user_id", "session_start")
      .collect()
    assert(streamed.length == single.length)
    streamed.zip(single).foreach { case (m, s) => assert(m == s, s"$m != $s") }
  }

  test("watermark drops events arriving later than the lateness bound") {
    import java.nio.file.Files
    val work = Files.createTempDirectory("graft_late").toString
    val ev = Tables.load(spark, dir, "events").select("ts", "user_id", "event_id", "value")
    // random scatter across files: most of the replay arrives far behind
    // the watermark (2 h), so it must be dropped — fewer sessions than
    // the in-order run. This asserts late-data POLICY, not a bug.
    ev.repartition(6).write.mode("overwrite").parquet(s"$work/scatter")
    val scattered = Streams.runToCompletion(spark,
      Streams.sessionCounts(
        Streams.replayStream(spark, s"$work/scatter", ev.schema, maxFilesPerTrigger = 1)),
      "t_session_scatter").count()
    val inOrder = Streams.runToCompletion(spark,
      Streams.sessionCounts(Streams.eventStream(spark, dir)), "t_session_inorder").count()
    assert(scattered < inOrder,
      s"expected late-data drops: scattered=$scattered inOrder=$inOrder")
  }

  test("dropDuplicatesWithinWatermark collapses same-key retries with unequal ts") {
    import java.nio.file.Files
    val work = Files.createTempDirectory("graft_wmdedup").toString
    // an at-least-once source retry: same event_id, timestamps 5 min
    // apart — both well inside the 2 h watermark delay
    val rows = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 100L, 1.0),
      (java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 1L, 100L, 1.0),
      (java.sql.Timestamp.valueOf("2024-01-01 10:30:00"), 2L, 200L, 2.0))
      .toDF("ts", "user_id", "event_id", "value")
    rows.coalesce(1).write.mode("overwrite").parquet(s"$work/in")
    def replay = Streams.replayStream(spark, s"$work/in", rows.schema,
      maxFilesPerTrigger = 1).withWatermark("ts", "2 hours")
    val within = Streams.runToCompletionAppend(spark,
      replay.dropDuplicatesWithinWatermark("event_id"), "t_wm_dedup").count()
    // the s4-style key MUST include ts (else state never evicts) — and
    // therefore cannot see the retry as a duplicate
    val keyed = Streams.runToCompletionAppend(spark,
      replay.dropDuplicates("event_id", "ts"), "t_ts_dedup").count()
    assert(within == 2, s"within-watermark dedup kept $within rows, expected 2")
    assert(keyed == 3, s"(event_id, ts) dedup kept $keyed rows, expected 3")
  }

  test("stream-stream join matches batch self-join, across micro-batch boundaries") {
    import java.nio.file.Files
    val work = Files.createTempDirectory("graft_ssjoin").toString
    val ev = Tables.load(spark, dir, "events")
      .select("ts", "user_id", "event_id", "event_type")
    // time-ordered 4-way split so clicks and their matching purchases
    // can land in DIFFERENT micro-batches — the join must carry state
    val cuts = ev.selectExpr(
      "percentile(cast(ts as double), array(0.25,0.5,0.75)) as c")
      .collect().head.getSeq[Double](0)
    val edges = (Double.MinValue +: cuts) :+ Double.MaxValue
    edges.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), _) =>
      ev.filter(col("ts").cast("double") > lo && col("ts").cast("double") <= hi)
        .coalesce(1).write.mode("append").parquet(s"$work/split")
      Thread.sleep(1100) // distinct modification seconds → stable replay order
    }
    val streamed = Streams.runToCompletionAppend(spark,
      Streams.clickPurchaseJoin(
        Streams.replayStream(spark, s"$work/split", ev.schema, maxFilesPerTrigger = 1)),
      "t_ssjoin_multi")
      .orderBy("user_id", "click_id", "purchase_id").collect()
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    val batch = clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select("user_id", "click_id", "purchase_id", "click_ts", "purchase_ts")
      .orderBy("user_id", "click_id", "purchase_id").collect()
    assert(streamed.nonEmpty)
    assert(streamed.sameElements(batch))
  }

  test("semi stream join equals batch distinct-matched clicks, once each") {
    val ev = Tables.load(spark, dir, "events")
      .select("ts", "user_id", "event_id", "event_type")
    val streamed = Streams.runToCompletionAppend(spark,
      Streams.clickPurchaseSemiJoin(Streams.eventStream(spark, dir)),
      "t_semi")
      .orderBy("user_id", "click_id").collect()
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
    val batch = clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
        "left_semi")
      .orderBy("user_id", "click_id").collect()
    assert(streamed.nonEmpty)
    assert(streamed.sameElements(batch))
    // once each: a click with several purchases in-window must not repeat
    val ids = streamed.map(_.getLong(1))
    assert(ids.distinct.length == ids.length)
  }

  test("left-outer stream join: null rows emit only past the watermark horizon") {
    import java.nio.file.Files
    import java.sql.Timestamp
    import spark.implicits._
    val work = Files.createTempDirectory("graft_louter").toString
    def at(h: Int, m: Int = 0) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // final watermark = min(max click, max purchase) - 2h = 09:00 - 2h = 07:00
    // (purchase max is 10:00). An unmatched click emits its null row iff
    // click_ts + 1h (its match horizon) < 07:00 — STRICTLY: click 6's
    // horizon lands EXACTLY on the watermark and must stay in state.
    // This pins the eviction boundary the s8 oracle's `< wm` encodes; if
    // a Spark upgrade or fixture regeneration flips the tie, this test
    // fails before the driver's oracle comparison silently diverges.
    val ev = Seq(
      (1L, 1L, "click", at(0)),      // horizon 01:00 < 07:00 → null row emits
      (2L, 2L, "click", at(9)),      // horizon 10:00 ≥ 07:00 → held in state
      (4L, 3L, "click", at(5)),      // matched below → plain row
      (4L, 4L, "purchase", at(5, 30)),
      (5L, 6L, "click", at(6)),      // horizon 07:00 == watermark → held (tie case)
      (3L, 5L, "purchase", at(10))   // advances the purchase-side watermark
    ).toDF("user_id", "event_id", "event_type", "ts")
    ev.coalesce(1).write.mode("overwrite").parquet(s"$work/ev")
    val out = Streams.runToCompletionAppend(spark,
      Streams.clickPurchaseLeftJoin(
        Streams.replayStream(spark, s"$work/ev", ev.schema, maxFilesPerTrigger = 1)),
      "t_louter")
      .select("user_id", "click_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSet
    assert(out == Set(
      (1L, 1L, None),          // expired horizon → null-augmented
      (4L, 3L, Some(4L))))     // matched
    // click 2 (inside the horizon) and click 6 (horizon exactly at the
    // watermark) must NOT appear
  }

  test("stateful TTL: generous TTL equals no-timeout; short TTL resets inactive users") {
    import java.nio.file.Files
    import graft.streaming.Stateful
    val work = Files.createTempDirectory("graft_ttl").toString
    val ev = Tables.load(spark, dir, "events")
      .select("ts", "user_id", "event_id", "value")
    // time-ordered 6-way replay so the watermark advances between
    // batches and timeouts actually fire
    val cuts = ev.selectExpr(
      "percentile(cast(ts as double), array(0.1667,0.3333,0.5,0.6667,0.8333)) as c")
      .collect().head.getSeq[Double](0)
    val edges = (Double.MinValue +: cuts) :+ Double.MaxValue
    edges.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), _) =>
      ev.filter(col("ts").cast("double") > lo && col("ts").cast("double") <= hi)
        .coalesce(1).write.mode("append").parquet(s"$work/split")
      Thread.sleep(1100)
    }
    def run(path: String, schema: org.apache.spark.sql.types.StructType,
            ttlMs: Long, name: String) =
      Streams.runToCompletionAppend(spark,
        Stateful.runningTotalsWithTTL(spark,
          Streams.replayStream(spark, path, schema, 1), ttlMs).toDF(),
        name)
    // generous TTL (100 days): nothing times out → equals NoTimeout run
    val generous = run(s"$work/split", ev.schema, 100L * 24 * 3600 * 1000, "t_ttl_generous")
      .orderBy("user_id", "event_id").collect()
    val noTimeout = Stateful.runToCompletion(spark, dir, "t_ttl_none")
      .orderBy("user_id", "event_id").collect()
    assert(generous.sameElements(noTimeout))
    // short TTL: controlled synthetic gaps (the fixture's users are
    // active in every batch, so nothing there ever times out). A
    // timeout fires only in a batch where the key has NO data and the
    // watermark has passed its (last event + TTL) — so user 1 must sit
    // out a whole batch after the watermark moves: it is evicted in
    // batch 3 (absent; watermark t+60 > t0+5min) and restarts from 1
    // when it returns in batch 4. User 2 stays active throughout.
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000)
    val synth = Seq(
      (1L, 101L, 1.0, at(0)), (2L, 201L, 1.0, at(0)),     // batch 1
      (2L, 202L, 1.0, at(60)),                            // batch 2: u1 absent
      (2L, 203L, 1.0, at(70)),                            // batch 3: u1 evicted here
      (1L, 104L, 1.0, at(120)), (2L, 204L, 1.0, at(121))  // batch 4: u1 returns
    ).toDF("user_id", "event_id", "value", "ts")
    val synthDir = s"$work/synth"
    Seq(Seq(101L, 201L), Seq(202L), Seq(203L), Seq(104L, 204L)).foreach { ids =>
      synth.filter(col("event_id").isin(ids: _*))
        .coalesce(1).write.mode("append").parquet(synthDir)
      Thread.sleep(1100)
    }
    val byEvent = run(synthDir, synth.schema, 5L * 60 * 1000, "t_ttl_short").collect()
      .map(r => r.getLong(r.fieldIndex("event_id")) -> r.getLong(r.fieldIndex("n_events"))).toMap
    assert(byEvent(101L) == 1)
    assert(byEvent(104L) == 1, s"user 1's state must restart after TTL, got ${byEvent(104L)}")
    assert(byEvent(202L) == 2 && byEvent(203L) == 3)
    assert(byEvent(204L) == 4, s"active user 2 must keep its state, got ${byEvent(204L)}")
  }

  test("transformWithState running totals equal the flatMapGroupsWithState twin") {
    import graft.streaming.Stateful
    val tws = Stateful.runTwsToCompletion(spark, dir, "t_tws")
      .orderBy("user_id", "event_id").collect()
    val fmgws = Stateful.runToCompletion(spark, dir, "t_fmgws")
      .orderBy("user_id", "event_id").collect()
    assert(tws.nonEmpty)
    assert(tws.sameElements(fmgws))
    // the RocksDB provider conf must not leak into the session
    assert(spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      .forall(!_.contains("RocksDB")))
  }

  test("harness runs leave shuffle partitions and the state-store provider " +
    "exactly as found: preset, absent, and when the stream throws mid-run") {
    import graft.streaming.Stateful
    val partitions = "spark.sql.shuffle.partitions"
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    def found = Seq(partitions, provider).map(k => k -> spark.conf.getAll.get(k)).toMap
    val suiteState = found
    def harnessRuns(): Unit = {
      Stateful.runTwsToCompletion(spark, dir, "t_conf_tws").count()
      Streams.runToCompletion(spark,
        Streams.tumblingCounts(Streams.eventStream(spark, dir)), "t_conf_tumble").count()
      // a stream that throws in its first micro-batch, after observing
      // the harness values in effect
      val inRun = new java.util.concurrent.atomic.AtomicReference[Map[String, Option[String]]]()
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        Streams.runHarnessQuery(spark, "t_conf_throw", Map(provider -> rocks)) { ckpt =>
          Streams.eventStream(spark, dir).writeStream
            .option("checkpointLocation", ckpt)
            .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
              inRun.set(found)
              throw new IllegalStateException("stream fails mid-run (simulated)")
            }
            .start()
        }
      }
      assert(inRun.get == Map(partitions -> Some("4"), provider -> Some(rocks)))
    }
    try {
      spark.conf.set(partitions, "7")
      spark.conf.set(provider,
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
      val preset = found
      harnessRuns()
      assert(found == preset)
      spark.conf.unset(partitions)
      spark.conf.unset(provider)
      harnessRuns()
      assert(found == Map(partitions -> None, provider -> None))
    } finally {
      suiteState.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      Seq("t_conf_tws", "t_conf_tumble").foreach(spark.catalog.dropTempView)
    }
  }

  test("streaming session windows match batch gaps-and-islands") {
    val streamed = Streams.runToCompletion(spark,
      Streams.sessionCounts(Streams.eventStream(spark, dir)), "t_session")
      .orderBy("user_id", "session_start").collect()
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts")
    val batch = Tables.load(spark, dir, "events")
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("new_s", when(col("prev").isNull ||
        col("ts").cast("long") - col("prev").cast("long") >= 1800, 1).otherwise(0))
      .withColumn("sid", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(min(col("ts")).as("session_start"), count(lit(1)).as("n_events"),
           max(col("ts")).as("last_ts"))
      .select("session_start", "user_id", "n_events", "last_ts")
      .orderBy("user_id", "session_start").collect()
    assert(streamed.sameElements(batch))
  }

  test("s12 corpus dedup: TTL evicts state (expired-horizon dup re-emits); resident state dedups") {
    import java.nio.file.Files
    import java.sql.Timestamp
    val work = Files.createTempDirectory("graft_s12_ttl").toString
    // batch-per-doc replay: doc 4 repeats doc 1's text 1 h later. With a
    // 10 s TTL the watermark (1 s delay) passes doc 1's horizon at batch
    // 2 (event time 10:30), so its key state is REMOVED before the
    // duplicate arrives — it re-emits, proving eviction happened. With a
    // generous TTL the fingerprint is still resident and suppresses it.
    val docsDf = Seq(
      (1L, "web", 3L, "AAA", Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, "web", 3L, "BBB", Timestamp.valueOf("2024-01-01 10:30:00")),
      (3L, "web", 3L, "CCC", Timestamp.valueOf("2024-01-01 10:30:05")),
      (4L, "web", 3L, "AAA", Timestamp.valueOf("2024-01-01 11:00:00")))
      .toDF("doc_id", "source", "n_chars", "text", "ingest_ts")
    val schema = Streams.writeOrderedReplay(docsDf, "doc_id", 4, s"$work/in")
    val emptyCorpus = Seq.empty[(Long, String)].toDF("_h", "_seen_text")
    def run(name: String, ttlMs: Long): Seq[Long] =
      Streams.runToCompletionAppend(spark,
        Streams.corpusIncrementalDedup(spark,
          Streams.replayStream(spark, s"$work/in", schema, maxFilesPerTrigger = 1),
          emptyCorpus, watermarkDelay = "1 second", stateTtlMs = ttlMs),
        name).select("doc_id").as[Long].collect().sorted.toSeq
    assert(run("t_s12_ttl_short", 10000L) == Seq(1L, 2L, 3L, 4L),
      "short TTL must evict doc 1's fingerprint and re-emit the late duplicate")
    assert(run("t_s12_ttl_long", 24L * 3600 * 1000) == Seq(1L, 2L, 3L),
      "resident state must suppress the duplicate")
    Tables.deleteRecursively(work)
  }

  test("s12 corpus dedup replay is micro-batch-boundary-invariant: random " +
    "corpora at random chunk counts equal global batch dedup") {
    // round 12 (verdict Next #4): the stateful cross-batch fingerprint
    // set must make the RESULT independent of where micro-batch
    // boundaries fall — any nChunks replay of a doc_id-ordered corpus
    // equals the batch-global min-doc_id-per-novel-text rule
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import java.nio.file.Files
    import java.sql.Timestamp
    val pool = Seq("AAA", "BBB", "CCC", "DDD") // tiny pool → dense dups
    val gen = for {
      nd    <- Gen.chooseNum(4, 10)
      texts <- Gen.listOfN(nd, Gen.oneOf(pool))
      nSeen <- Gen.chooseNum(0, 2)
      seen  <- Gen.pick(nSeen, pool)
      nc    <- Gen.chooseNum(2, 6)
    } yield (texts, seen.toSeq, nc)
    val cases = (0 until 5).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(1200L + i)))
    cases.zipWithIndex.foreach { case ((texts, seen, nc), it) =>
      val nChunks = math.max(2, math.min(nc, texts.length))
      val docs = texts.zipWithIndex.map { case (t, i) =>
        (i + 1L, "web", t.length.toLong, t,
          new Timestamp(1700000000000L + (i + 1) * 60000L))
      }
      val work = Files.createTempDirectory(s"graft_s12_rand$it").toString
      val schema = Streams.writeOrderedReplay(
        docs.toDF("doc_id", "source", "n_chars", "text", "ingest_ts"),
        "doc_id", nChunks, s"$work/in")
      val corpusSeen =
        if (seen.isEmpty) Seq.empty[(Long, String)].toDF("_h", "_seen_text")
        else seen.toDF("_seen_text")
          .select(xxhash64(col("_seen_text")).as("_h"), col("_seen_text"))
      val got = Streams.runToCompletionAppend(spark,
          Streams.corpusIncrementalDedup(spark,
            Streams.replayStream(spark, s"$work/in", schema, maxFilesPerTrigger = 1),
            corpusSeen, watermarkDelay = "1 second",
            stateTtlMs = 24L * 3600 * 1000),
          s"t_s12_rand$it")
        .select("doc_id").as[Long].collect().toSet
      val ref = docs.filterNot(d => seen.contains(d._4))
        .groupBy(_._4).map(_._2.map(_._1).min).toSet
      assert(got == ref,
        s"texts=$texts seen=$seen nChunks=$nChunks got=$got ref=$ref")
      Tables.deleteRecursively(work)
    }
  }

  test("stateful running totals are micro-batch-boundary-invariant: random " +
    "event sets at random chunk counts equal a driver-side fold") {
    // round-12 extension of the fixture-level batch-window pin
    // (StatefulExtensionsSpec): the flatMapGroupsWithState operator's
    // cross-batch state must make the result independent of where
    // micro-batch boundaries fall in an event_id-ordered replay. The
    // driver reference folds each user's events in event_id order —
    // sequential double accumulation, so equality is EXACT (the
    // streaming side accumulates per user in the same order)
    import graft.streaming.Stateful
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import java.nio.file.Files
    val gen = for {
      n  <- Gen.chooseNum(4, 14)
      us <- Gen.listOfN(n, Gen.chooseNum(1L, 4L))
      vs <- Gen.listOfN(n, Gen.chooseNum(-500, 500).map(_ / 100.0))
      nc <- Gen.chooseNum(2, 6)
    } yield (us, vs, nc)
    val cases = (0 until 4).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(3200L + i)))
    cases.zipWithIndex.foreach { case ((us, vs, nc), it) =>
      // unique event_ids: the within-batch sort is keyed on event_id,
      // so duplicates would have no deterministic fold order
      val rows = us.zip(vs).zipWithIndex.map { case ((u, v), i) =>
        (u, (i + 1).toLong, v)
      }
      val work = Files.createTempDirectory(s"graft_s3_rand$it").toString
      val df = rows.toDF("user_id", "event_id", "value")
      val nChunks = math.max(2, math.min(nc, rows.length))
      val schema = Streams.writeOrderedReplay(df, "event_id", nChunks, s"$work/in")
      def replay = Streams.replayStream(spark, s"$work/in", schema,
        maxFilesPerTrigger = 1)
      val got = Streams.runToCompletionAppend(spark,
          Stateful.runningTotals(spark, replay).toDF(), s"t_s3_rand$it")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      // the transformWithState twin shares the fold by construction —
      // pin it against the same reference (RocksDB provider scoped to
      // this run, as in Stateful.runTwsToCompletion)
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
      val gotTws =
        try Streams.runToCompletionAppend(spark,
            Stateful.runningTotalsTws(spark, replay).toDF(), s"t_tws_rand$it")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
          .toSet
        finally prev match {
          case Some(v) => spark.conf.set(key, v)
          case None    => spark.conf.unset(key)
        }
      val ref = rows.groupBy(_._1).flatMap { case (u, es) =>
        var n = 0L
        var tot = 0.0
        es.sortBy(_._2).map { case (_, eid, v) =>
          n += 1; tot += v; (u, eid, n, tot)
        }
      }.toSet
      assert(got == ref, s"rows=$rows nChunks=$nChunks got=$got ref=$ref")
      assert(gotTws == ref,
        s"tws: rows=$rows nChunks=$nChunks got=$gotTws ref=$ref")
      Tables.deleteRecursively(work)
    }
  }

  test("TTL running totals equal a driver-side state-machine replay at " +
    "random activity patterns, TTLs, and chunk counts") {
    // round-12 randomized extension of the hand-built eviction pins
    // below: the driver model replays Spark's documented semantics —
    // the watermark for batch B is the max event time through batch
    // B-1 (delay 0, advanced at batch boundaries); a key WITH data in
    // a batch always folds onto its existing state (an expired timer
    // fires only for keys WITHOUT data); eviction emits nothing and a
    // returning key restarts from zero; the re-armed timer is
    // max(batch-max-ts + ttl, watermark + 1). Event times sit on a
    // minute grid and TTLs carry a +17 ms offset so no timer ever TIES
    // the watermark — boundary semantics stay out of the generated
    // domain. Time-ordered chunking (replay by ts) means no late data.
    import graft.streaming.Stateful
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import java.nio.file.Files
    val t0 = 1700000000000L
    def refTtl(rows: Seq[(Long, Long, Double, Long)], // (user, eid, value, ts)
               chunks: Seq[Seq[Long]], // event_ids per batch, ts-ordered
               ttlMs: Long): Set[(Long, Long, Long, Double)] = {
      val byId = rows.map(r => r._2 -> r).toMap
      var wm = Long.MinValue // watermark during the current batch
      var seenMax = Long.MinValue // max event time through this batch
      val state = collection.mutable.Map[Long, (Long, Double, Long)]() // u -> (n, tot, timer)
      val out = collection.mutable.Buffer[(Long, Long, Long, Double)]()
      chunks.foreach { ids =>
        val batch = ids.map(byId)
        val withData = batch.map(_._1).toSet
        // expired timers fire for keys WITHOUT data in this batch
        state.keys.toSeq.foreach { u =>
          if (!withData(u) && state(u)._3 < wm) state.remove(u)
        }
        batch.groupBy(_._1).foreach { case (u, es) =>
          var (n, tot, _) = state.getOrElse(u, (0L, 0.0, 0L))
          es.sortBy(_._2).foreach { case (_, eid, v, _) =>
            n += 1; tot += v; out += ((u, eid, n, tot))
          }
          val timer = math.max(es.map(_._4).max + ttlMs, wm + 1)
          state(u) = (n, tot, timer)
        }
        seenMax = math.max(seenMax, batch.map(_._4).max)
        wm = seenMax // the NEXT batch sees this watermark
      }
      out.toSet
    }
    val gen = for {
      n   <- Gen.chooseNum(5, 14)
      us  <- Gen.listOfN(n, Gen.chooseNum(1L, 3L))
      mins<- Gen.listOfN(n, Gen.chooseNum(0, 9)) // minute grid
      vs  <- Gen.listOfN(n, Gen.chooseNum(-300, 300).map(_ / 100.0))
      ttl <- Gen.oneOf(90017L, 150017L, 240017L) // 1.5/2.5/4 min + offset
      nc  <- Gen.chooseNum(2, 5)
    } yield (us, mins, vs, ttl, nc)
    val cases = (0 until 4).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(4200L + i)))
    cases.zipWithIndex.foreach { case ((us, mins, vs, ttl, nc), it) =>
      // unique ts per row (minute grid + per-index ms) keeps chunk cuts
      // clean; event_id order matches ts order for a deterministic fold
      val sorted = us.indices.map { i =>
        (us(i), t0 + mins(i) * 60000L + i)
      }.sortBy(_._2)
      val rows = sorted.zipWithIndex.map { case ((u, ts), i) =>
        (u, (i + 1).toLong, vs(i), ts)
      }
      val work = Files.createTempDirectory(s"graft_ttl_rand$it").toString
      val df = rows.map { case (u, eid, v, ts) =>
        (u, eid, v, new java.sql.Timestamp(ts))
      }.toDF("user_id", "event_id", "value", "ts")
      val nChunks = math.max(2, math.min(nc, rows.length))
      val schema = Streams.writeOrderedReplay(df, "event_id", nChunks, s"$work/in")
      val got = Streams.runToCompletionAppend(spark,
          Stateful.runningTotalsWithTTL(spark,
            Streams.replayStream(spark, s"$work/in", schema,
              maxFilesPerTrigger = 1), ttl).toDF(),
          s"t_ttl_rand$it")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      // replicate the replay's chunking exactly: writeOrderedReplay cuts
      // at percentiles of the sort column — recompute the same cuts
      val ids = rows.map(_._2.toDouble)
      val qs = (1 until nChunks).map(_.toDouble / nChunks)
      def pct(xs: Seq[Double], q: Double): Double = { // Spark percentile (linear)
        val s = xs.sorted
        val pos = q * (s.length - 1)
        val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
        s(lo) + (pos - lo) * (s(hi) - s(lo))
      }
      val cuts = qs.map(pct(ids, _))
      val edges = (Double.MinValue +: cuts) :+ Double.MaxValue
      val chunks = edges.sliding(2).map { case Seq(lo, hi) =>
        rows.filter(r => r._2 > lo && r._2 <= hi).map(_._2)
      }.filter(_.nonEmpty).toSeq
      val ref = refTtl(rows, chunks, ttl)
      assert(got == ref,
        s"rows=$rows ttl=$ttl nChunks=$nChunks chunks=$chunks\ngot=$got\nref=$ref")
      Tables.deleteRecursively(work)
    }
  }

  test("cdcApply replay equals per-key latest-wins at random change sets, " +
    "arrival permutations, and chunk counts") {
    // round-12 generalization of the fwd/rev permutation pins below:
    // the mirror must equal the batch latest-change-per-key rule for
    // ANY arrival order and ANY micro-batch chunking (tombstone
    // retention is what makes this hold)
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import java.nio.file.Files
    val gen = for {
      n    <- Gen.chooseNum(4, 10)
      keys <- Gen.listOfN(n, Gen.chooseNum(1L, 4L))
      tss  <- Gen.listOfN(n, Gen.chooseNum(1L, 6L))
      ops  <- Gen.listOfN(n, Gen.oneOf("upsert", "delete"))
      perm <- Gen.chooseNum(0, 1000)
      nc   <- Gen.chooseNum(2, 5)
    } yield (keys, tss, ops, perm, nc)
    val cases = (0 until 4).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(2200L + i)))
    cases.zipWithIndex.foreach { case ((keys, tss, ops, permSeed, nc), it) =>
      val changes = keys.indices.map { i =>
        (keys(i), tss(i), 100L + i, ops(i), (100 + i).toDouble)
      }
      // deterministic pseudo-random arrival order from permSeed
      val arrival = changes.indices
        .sortBy(i => graft.functions.Mix64.mix(permSeed * 1000L + i))
      val rows = changes.zip(arrival.map(_.toLong + 1))
        .map { case ((k, ts, eid, op, v), arr) => (k, ts, eid, op, v, arr) }
      val work = Files.createTempDirectory(s"graft_s22_rand$it").toString
      val df = rows.toDF("user_id", "ts", "event_id", "op", "value", "arrival")
      val nChunks = math.max(2, math.min(nc, rows.length))
      val schema = Streams.writeOrderedReplay(df, "arrival", nChunks, s"$work/in")
      val got = Streams.cdcApply(spark,
          Streams.replayStream(spark, s"$work/in", schema, maxFilesPerTrigger = 1),
          "user_id", "ts", "event_id", "op", "value", s"$work/state")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val ref = changes.groupBy(_._1).flatMap { case (k, cs) =>
        val latest = cs.maxBy(c => (c._2, c._3))
        if (latest._4 == "upsert") Some(k -> latest._5) else None
      }
      assert(got == ref,
        s"changes=$changes arrival=$arrival nChunks=$nChunks got=$got ref=$ref")
      Tables.deleteRecursively(work)
    }
  }

  test("cdcApply: tombstones block older late upserts; newer upserts resurrect; any arrival order") {
    import java.nio.file.Files
    val work = Files.createTempDirectory("graft_cdc").toString
    // `arrival` controls replay chunking, `ts` is event time — decoupled
    // so a LATE-ARRIVING older change can cross a micro-batch boundary
    def rows(perm: Seq[Long]) = Seq(
      (1L, 3L, 101L, "upsert", 30.0, perm(0)),
      (1L, 10L, 102L, "delete", 0.0, perm(1)),
      (1L, 5L, 103L, "upsert", 50.0, perm(2)), // older than the tombstone
      (2L, 1L, 201L, "upsert", 10.0, perm(3)),
      (2L, 2L, 202L, "upsert", 20.0, perm(4)),
      (3L, 1L, 301L, "delete", 0.0, perm(5)),
      (3L, 2L, 302L, "upsert", 7.0, perm(6)),  // NEWER than the delete
      (4L, 7L, 401L, "upsert", 1.0, perm(7)),
      (4L, 7L, 402L, "upsert", 2.0, perm(8))   // ts tie → higher id wins
    ).toDF("user_id", "ts", "event_id", "op", "value", "arrival")
    def run(tag: String, perm: Seq[Long]): Map[Long, Double] = {
      val in = s"$work/$tag/in"
      val schema = Streams.writeOrderedReplay(rows(perm), "arrival", 3, in)
      Streams.cdcApply(spark,
          Streams.replayStream(spark, in, schema, maxFilesPerTrigger = 1),
          "user_id", "ts", "event_id", "op", "value", s"$work/$tag/state")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    // key 1 stays deleted (ts=10 tombstone beats the ts=5 late upsert),
    // key 3 resurrects (ts=2 upsert beats the ts=1 delete)
    val expected = Map(2L -> 20.0, 3L -> 7.0, 4L -> 2.0)
    assert(run("fwd", 1L to 9L) == expected)
    // tombstone retention makes the merge arrival-order-insensitive
    assert(run("rev", (1L to 9L).reverse) == expected)
    Tables.deleteRecursively(work)
  }

  test("scd2JoinAtEventTime: boundary event takes the NEWER interval, gaps stay null") {
    val spark2 = spark
    import spark2.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // customer 1: tier A valid [Jan 1, Feb 1), tier B [Feb 1, open)
    val dim = Seq(
      (1L, "A", ts("2024-01-01 00:00:00"), Option(ts("2024-02-01 00:00:00"))),
      (1L, "B", ts("2024-02-01 00:00:00"), None: Option[java.sql.Timestamp])
    ).toDF("cust", "tier", "valid_from", "valid_to")
    val events = Seq(
      (10L, 1L, ts("2024-01-15 12:00:00")),  // mid-A
      (11L, 1L, ts("2024-02-01 00:00:00")),  // EXACTLY the boundary → B
      (12L, 1L, ts("2024-03-01 00:00:00")),  // open-ended current → B
      (13L, 1L, ts("2023-12-01 00:00:00")),  // before any interval → null
      (14L, 2L, ts("2024-01-15 00:00:00"))   // unknown customer → null
    ).toDF("event_id", "user_id", "ts")
    val out = Streams.scd2JoinAtEventTime(events, dim, "cust")
      .select(col("event_id"), col("tier"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out == Map(10L -> Some("A"), 11L -> Some("B"), 12L -> Some("B"),
      13L -> None, 14L -> None), s"got $out")
    // every event appears exactly once: intervals partition time
    assert(Streams.scd2JoinAtEventTime(events, dim, "cust").count() == 5)
  }

  test("one-conf-line durable posture extends to streaming (r15): with " +
    "spark.graft.checkpointDir set, harness checkpoints — offset WAL " +
    "and state store — land under the conf dir, and s1/s13/s22 replay " +
    "to identical results") {
    val names = Seq("s1_stream_tumble", "s13_stream_ann_ingest", "s22_cdc_apply")
    // a consumed result releases its backing cut (s13's), as Verify does
    def run(n: String): Set[Seq[Any]] = {
      val df = SparkEntry.queries(n)(spark, dir)
      try df.collect().map(_.toSeq).toSet
      finally graft.operators.Ckpt.releaseResult(df)
    }
    val plain = names.map(run)
    val confDir = java.nio.file.Files
      .createTempDirectory("graft-stream-conf-").toString
    try {
      spark.conf.set("spark.graft.checkpointDir", confDir)
      // placement: the minted per-run dir resolves under the conf dir
      // (the conf, when set, is the harness base; the mint returns a
      // qualified `file:` URI)
      val ckpt = graft.streaming.Streams.harnessCheckpointDir(spark, "posture")
      val ckptPath = java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(ckpt).toUri.getPath)
      assert(ckptPath.normalize()
          .startsWith(java.nio.file.Paths.get(confDir).normalize()),
        s"harness checkpoint $ckpt not under conf dir $confDir")
      // the real artifacts land there: run a stream against that dir
      // and observe the offset WAL + state store on disk before the
      // harness's per-run cleanup would remove them
      val q = Streams.tumblingCounts(Streams.eventStream(spark, dir))
        .writeStream.format("memory").queryName("posture_pin")
        .option("checkpointLocation", ckpt).outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      val entries = {
        val s = java.nio.file.Files.walk(ckptPath)
        try { import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString).toSet }
        finally s.close()
      }
      assert(entries.contains("offsets") && entries.contains("commits"),
        s"expected offset/commit WALs under $ckpt, found $entries")
      spark.catalog.dropTempView("posture_pin")
      org.apache.commons.io.FileUtils.deleteDirectory(ckptPath.toFile)
      // replay equivalence: the packaged streaming queries run under
      // the durable posture unchanged
      assert(names.map(run) == plain,
        "conf-dir posture changed a streaming query's result")
      // each harness run deletes its own dir and never the base
      val root = new java.io.File(confDir)
      assert(root.isDirectory, s"conf dir $confDir was removed")
      assert(root.list().isEmpty,
        s"residue under $confDir: ${root.list().mkString(", ")}")
    } finally {
      spark.conf.unset("spark.graft.checkpointDir")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(confDir))
    }
  }
}
