package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — driver runs this per round against
  * SPARK_GRAFT_SF_DIR (sf0.1) and records the JSON line.
  *
  * Each query is fully materialized through the `noop` sink: unlike
  * `count()`, noop cannot be satisfied by metadata or column pruning, so
  * the measured time includes the whole physical plan.
  *
  * Batch queries report the MEDIAN of 3 runs AFTER one unmeasured
  * warmup execution (multi-second queries: MIN of 2 — see the adaptive
  * tier below). Two reasons, both measured in round 6 (PLANS.md):
  * the bench box demand-pages fresh anon memory at ~ms/fault, so the
  * first execution of a query can spend tens of seconds in page-fault
  * sys time (q9_range_join: 0.7 s steady state, 39-80 s cold spikes on
  * UNCHANGED code — the round-5 "regression"); and the first execution
  * also pays janino + C2 JIT compilation of that query's generated
  * code (40+ CPU-seconds observed). Both are per-process constants,
  * not per-row costs — at the 100 TB design point they amortize to
  * zero, so steady-state is the honest number. Round-2's 11× one-off
  * on an untouched query was the same fault tax, now explained.
  * Streaming queries run once — their time is micro-batch harness
  * latency, already reported separately — and additionally report the
  * sum of their micro-batch durations (`stream_batch_sum`), splitting
  * per-trigger plan cost from the replay rig's start/stop overhead.
  *
  * Output is THREE JSON lines: the full per-query line, a headline
  * summary (totals + slowest-5 with env/phase records), and finally a
  * ≤200-byte totals-only MICRO line. The driver keeps only the tail of
  * stdout; prior rounds lost the head of the long line, and round 14's
  * driver artifact lost even the summary's own total — the micro line
  * is short enough to survive any tail capture that keeps one line.
  */
object Bench {
  /** JIT code-cache telemetry (round 10): the full-surface bench
    * generates thousands of whole-stage-codegen classes; if the
    * reserved code cache fills mid-run the JIT stops compiling and the
    * tail runs interpreted at 2-6× steady state (the round-8/9
    * driver-vs-builder divergence). Reporting used/max per CodeHeap
    * pool at start and end makes the artifact itself prove or refute
    * that hypothesis for the JVM it actually ran in. */
  private def codeCacheJson(): String = {
    import scala.jdk.CollectionConverters._
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getName.toLowerCase.contains("codeheap"))
    val per = pools.map { p =>
      val u = p.getUsage
      "\"" + p.getName.replace("'", "") + "\":{\"used_mb\":" +
        (u.getUsed / (1024 * 1024)) + ",\"max_mb\":" + (u.getMax / (1024 * 1024)) + "}"
    }.mkString("{", ",", "}")
    val used = pools.map(_.getUsage.getUsed).sum / (1024 * 1024)
    val max = pools.map(_.getUsage.getMax).sum / (1024 * 1024)
    s"""{"used_mb":$used,"max_mb":$max,"pools":$per}"""
  }

  /** Per-query environment telemetry (round 12): the driver's r11 run
    * inflated the localCheckpoint-iterative family 2-7× at the SAME
    * HEAD where judge+builder replications read steady state, and the
    * round-11 artifact's own storage/code-cache numbers disprove both
    * previously instrumented mechanisms for that run. The open
    * hypothesis is this box's documented ms-scale anon-page fault tax
    * (build.sbt notes) landing on fresh memory commits during
    * checkpoint materialization under a cold/contended host — which GC
    * time, process RSS, and major-fault counters would name directly.
    * So each query now records deltas of GC time + count
    * (GarbageCollectorMXBeans), minor/major page faults and RSS
    * (/proc/self/stat), plus every INDIVIDUAL rep time (a 6/40/41
    * split is warmup fault tax; 40/41/42 is sustained contention).
    * Done = a bad driver run carries the numbers that name its own
    * mechanism, no replication run needed to adjudicate. */
  private def gcTotals(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val beans =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(b => math.max(b.getCollectionTime, 0L)).sum,
      beans.map(b => math.max(b.getCollectionCount, 0L)).sum)
  }
  /** (minflt, majflt, rss_pages) from /proc/self/stat — fields 10, 12,
    * 24 (1-indexed; comm is parsed by the last ')' so embedded spaces
    * can't shift fields). (-1,-1,-1) on non-procfs platforms. */
  private def procStat(): (Long, Long, Long) = try {
    val s = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/self/stat")))
    val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
    (rest(7).toLong, rest(9).toLong, rest(21).toLong)
  } catch { case _: Throwable => (-1L, -1L, -1L) }
  private val pageKb: Long = 4 // Linux x86-64/arm64 base pages

  /** (steal, iowait, total) cpu ticks from /proc/stat's aggregate cpu
    * line — the HOST-contention channel the JVM-side counters cannot
    * see (round 15: two full-bench walls read 258/275 s against a
    * 215 s floor while contention_index read 1.00/0.66 — GC and
    * paging were clean because the missing time was stolen by the
    * hypervisor, which is exactly what the steal counter counts; high
    * iowait instead names a storage stall). (-1,-1,-1) off-procfs. */
  private def cpuStat(): (Long, Long, Long) = try {
    val line = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("/proc/stat")).get(0)
    val f = line.trim.split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal [guest guest_nice]
    // — guest/guest_nice are already folded into user by the kernel, so
    // the denominator sums fields 0-7 only (ADVICE/VERDICT r15: summing
    // all fields double-counts guest ticks and under-reads steal_pct on
    // guest-running hosts)
    (if (f.length > 7) f(7) else 0L, if (f.length > 4) f(4) else 0L,
      f.take(8).sum)
  } catch { case _: Throwable => (-1L, -1L, -1L) }

  /** One query's environment record, JSON-rendered into the artifact.
    * `rep_min`/`rep_median` (round 14) make the adjudication pair
    * explicit for the multi-rep tiers: min is the steady-state
    * estimator the headline uses, median shows how contended the run
    * was around it. */
  private final case class QueryEnv(warm: Double, reps: Seq[Double],
                                    gcMs: Long, gcN: Long, minflt: Long,
                                    majflt: Long, rssMb: Long, dRssMb: Long) {
    def json: String = {
      val r = reps.map(v => f"$v%.3f").mkString("[", ",", "]")
      val ok = reps.filter(_ >= 0)
      val mm = if (ok.isEmpty) "" else {
        val s = ok.sorted
        f""""rep_min":${s.head}%.3f,"rep_median":${s(s.length / 2)}%.3f,"""
      }
      f"""{"warm":$warm%.3f,"reps":$r,$mm"gc_ms":$gcMs,"gc_n":$gcN,""" +
        s""""minflt":$minflt,"majflt":$majflt,"rss_mb":$rssMb,""" +
        s""""d_rss_mb":$dRssMb}"""
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build("graft-bench")
    val ccStart = codeCacheJson()
    val (steal0, iow0, cpu0) = cpuStat()

    // Storage-block hygiene + telemetry (round 11): the iterative
    // operators (pagerank/triangles/dup-clusters/k-core) localCheckpoint
    // per round, and checkpoint blocks are only reclaimed when the RDD
    // object is GC'd and the ContextCleaner runs — on this 128 GiB-heap
    // rig that can be never. Across a 270-query run the block manager
    // accumulates dead blocks, and storage pressure (unified memory:
    // storage borrows from execution) inflated the LATE iterative
    // queries 2-4× vs fresh-JVM probes in rounds 8-10 (the code-cache
    // hypothesis was instrumented the same way and disproven in r10).
    // A real deployment runs one job per application, so blocks die
    // with the job; this rig must emulate that per query. After each
    // query: unpersist every still-persistent RDD (between queries
    // nothing is legitimately persisted — each query is self-contained)
    // and clear leaked DataFrame cache entries. Peak/end storage and
    // the number of leaked RDDs cleaned are reported in the artifact so
    // it proves or refutes the mechanism for the run it measured.
    var peakMemMb = 0L; var peakRdds = 0; var peakAt = ""
    var leakedRdds = 0L
    var resultCkpts = 0L
    val leakedAfter = collection.mutable.ListBuffer[String]()
    def reclaimAfter(name: String, keepFixtures: Boolean): Unit = {
      val infos = spark.sparkContext.getRDDStorageInfo
      val mem = infos.map(_.memSize).sum / (1024L * 1024L)
      // strict > (ADVICE r11): on ties — the common all-zero run — keep
      // the FIRST query that reached the peak instead of overwriting
      // peakAt with whatever ran last
      if (mem > peakMemMb || peakAt.isEmpty) {
        peakMemMb = mem; peakRdds = infos.length; peakAt = name
      }
      // round 13: graft operators now release superseded per-round
      // checkpoints themselves (Ckpt/CkptChain); the one RESULT-backing
      // checkpoint a call returns is caller-owned, and the bench IS the
      // caller — after the noop sink completes the result is fully
      // consumed, so free those deterministically via the operator
      // library's own release API. Counted separately from leaks: a
      // leak is storage nothing will ever reclaim by design, which
      // after this round should be ~0.
      resultCkpts += graft.operators.Ckpt.releaseIssued(spark)
      if (keepFixtures) return
      // deliberate fixture storage (the media tier's synthesized binary
      // column — the stand-in for a STORED parquet column) is released
      // through its own hook so it never reads as an operator leak;
      // `keepFixtures` skips this blanket sweep between adjacent
      // m-queries so the fixture survives the media block intact
      graft.multimodal.Multimodal.releaseBinaryCache()
      val persistent = spark.sparkContext.getPersistentRDDs
      if (persistent.nonEmpty) {
        leakedRdds += persistent.size
        leakedAfter += name // name the culprit in the artifact
        persistent.values.foreach(_.unpersist(blocking = false))
      }
      spark.catalog.clearCache()
    }

    // JVM/codegen warmup on the flagship query (not measured)
    try SparkEntry.queries("q1_agg")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    // a failed query records -1 (NOT its partial elapsed time) and lands
    // in "failed" — a broken query must never read as a fast pass.
    // Round 14: the result DataFrame is retained and its graft-issued
    // checkpoints released AFTER the timer stops (Ckpt.releaseResult —
    // deterministic for BOTH backends: under the conf-dir reliable
    // posture every result-backing cut is durable files that the
    // persistent-RDD sweep in reclaimAfter would never see, so each
    // rep frees its own files instead of accumulating them across
    // reps+queries). Plan construction stays INSIDE the timer: the
    // iterative operators execute during it (eager per-round cuts).
    // Round 15 (ADVICE r14): the release runs in its OWN try — the
    // measurement is complete once the sink returns, so a release
    // hiccup (e.g. unpersist on a stopping context) logs but can no
    // longer overwrite a valid rep with -1. `dataDir` defaults to the
    // sweep's SF dir; the scale-decade gate points it at the sf1.0
    // fixture.
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                dataDir: String = sfDir): Double = {
      val t0 = System.nanoTime()
      val measured =
        try {
          val df = fn(spark, dataDir)
          df.write.format("noop").mode("overwrite").save()
          Some(((System.nanoTime() - t0) / 1e9, df))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          None
        }
      measured match {
        case Some((dt, df)) =>
          try resultCkpts += graft.operators.Ckpt.releaseResult(df)
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name release failed (rep kept): ${e.getMessage}")
          }
          dt
        case None => -1.0
      }
    }
    // s* queries run the Structured Streaming harness: their time is
    // dominated by micro-batch scheduling + memory-sink latency, not plan
    // cost — reported separately so batch-plan regressions aren't masked
    val isStreaming = (n: String) => n.matches("s\\d+_.*")

    // per-query micro-batch cost attribution (round 9): an s* query's
    // wall time conflates plan cost with per-micro-batch machinery
    // (trigger scheduling, state-store commits, memory-sink appends).
    // Sum StreamingQueryProgress.batchDuration across the measured run
    // and report it NEXT TO wall time — batch_sum is the part a real
    // always-on deployment pays per trigger; wall − batch_sum is
    // start/stop harness overhead this replay rig pays per run.
    val batchDurMs = new java.util.concurrent.atomic.AtomicLong(0L)
    // per-micro-batch phase attribution (round 13): wall − batch_sum
    // separated harness overhead from per-trigger cost, but a slow
    // trigger itself still conflated compute (addBatch) with machinery
    // (offset-log walCommit/commitOffsets, state-store update/commit).
    // Sum every StreamingQueryProgress.durationMs phase plus the state
    // operators' update/commit times across the measured run — on a
    // driver rig whose s-walls read 2× builder replications, the
    // artifact now shows WHICH phase absorbed the difference (fault-tax
    // inflation lands in walCommit/addBatch wall, not in extra batches).
    // round 14 (ADVICE r13): the phase accumulation is keyed by runId
    // instead of relying on a sleep to drain the warmup's async events —
    // only runs STARTED inside the measured window count, so a slow
    // final progress event from the warmup can neither contaminate nor
    // be confused with the measured run's sums; and the measured
    // window's end drains the listener bus, so every event of the runs
    // it started has been dispatched (deterministic, not
    // timing-heuristic).
    val progLock = new Object
    val progDur = collection.mutable.Map[String, Long]()
    var progBatches = 0L
    val measuredRuns =
      java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    @volatile var capturing = false
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit =
          if (capturing) measuredRuns.add(e.runId)
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          if (!measuredRuns.contains(e.progress.runId)) return
          batchDurMs.addAndGet(e.progress.batchDuration)
          progLock.synchronized {
            progBatches += 1
            e.progress.durationMs.forEach { (k: String, v: java.lang.Long) =>
              progDur(k) = progDur.getOrElse(k, 0L) + v
            }
            e.progress.stateOperators.foreach { so =>
              progDur("stateAllUpdates") =
                progDur.getOrElse("stateAllUpdates", 0L) + so.allUpdatesTimeMs
              progDur("stateCommit") =
                progDur.getOrElse("stateCommit", 0L) + so.commitTimeMs
            }
          }
        }
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      })
    // local-probe knob ONLY (regex, substring-matched): lets a builder
    // iterate on one query family without the 270-query sweep. The
    // driver never sets it — an artifact produced under a filter is a
    // probe, not a round bench.
    val nameFilter = sys.env.get("SPARK_GRAFT_QUERY_FILTER").map(_.r)

    // ---- scale-decade measurement (round 15, VERDICT r14 #3) ----
    // The five heavy-family members run against a persisted sf1.0
    // fixture (disjoint-copy ×10 of the sweep's own SF dir, generator-
    // versioned — a stale or wrong-base fixture regenerates). Measured
    // FIRST, at process start: measured after the 270-query sweep, the
    // long-lived JVM's expanded old gen inflated c57 3× against a
    // fresh-JVM floor on the same fixture minutes apart (171/104 s vs
    // 33 s — PLANS.md r15), which would have failed the gate on JVM
    // state rather than plan shape. Two reps, min, both recorded:
    // rep 1 pays JIT + first-touch faults, rep 2 is warm, and the
    // sweep-side denominator is a warmed minimum too. Ratios are
    // assembled after the sweep; skipped under a query filter or
    // SPARK_GRAFT_SCALE_DECADE=0.
    val decadeFixture = sys.env.getOrElse("SPARK_GRAFT_DECADE_DIR",
      "/root/repo/scale_fixtures/sf10")
    val decadeEnabled =
      sys.env.getOrElse("SPARK_GRAFT_SCALE_DECADE", "1") != "0" && nameFilter.isEmpty
    var decadeError: Option[String] = None
    // rows01/rows10 are None when the row observation did not arrive:
    // the member is reported unobserved and its row law is left out of
    // the gate (a lost listener event is not a plan regression)
    final case class DecadeRow(q: String, reps: Seq[Double], gcMs: Long,
                               minflt: Long, dRssMb: Long,
                               rows01: Option[Long], rows10: Option[Long]) {
      def best: Double = {
        val ok = reps.filter(_ >= 0); if (ok.isEmpty) -1.0 else ok.min
      }
      def unobserved: Boolean = rows01.isEmpty || rows10.isEmpty
    }
    // round 17 (VERDICT r16 #2, carried from r15 #1): every decade run
    // also OBSERVES its output row count — a count(1) collected during
    // the noop sink's own job (Dataset.observe), not a second execution
    // — so the gate can assert the generator's ×k ROW LAW next to the
    // time ratio. Rows are host-noise-immune: a plan/fixture regression
    // moves rows, a bad host window only moves seconds — exactly the
    // adjudicator the r16 ambiguous sf10 readings lacked.
    def observedQuery(q: String): ((SparkSession, String) => org.apache.spark.sql.DataFrame, () => Option[Long]) = {
      val obs = org.apache.spark.sql.Observation()
      val fn = (s: SparkSession, d: String) =>
        SparkEntry.queries(q)(s, d).observe(obs,
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("rows"))
      val read = () => org.apache.spark.graft.ListenerBusAccess
        .observed(spark.sparkContext, obs, 30000L).map(_.getAs[Long]("rows"))
      (fn, read)
    }
    def decadeRun(q: String): (Double, Long, Long, Long, Option[Long]) = {
      val (gc0, _) = gcTotals(); val (mf0, _, rss0) = procStat()
      val (fn, rows) = observedQuery(q)
      val t = runOnce(q, fn, decadeFixture)
      val n = rows()
      reclaimAfter(q, keepFixtures = false)
      val (gc1, _) = gcTotals(); val (mf1, _, rss1) = procStat()
      (t, gc1 - gc0, if (mf0 < 0) -1L else mf1 - mf0,
        if (rss0 < 0) -1L else (rss1 - rss0) * pageKb / 1024L, n)
    }
    val decadeMeasured: Option[(Boolean, Seq[DecadeRow])] =
      if (!decadeEnabled) None
      else try {
        val generated = ScaleDecade.ensureFixture(spark, sfDir, decadeFixture, 10)
        Some((generated, ScaleDecade.Queries.map { q =>
          // sf0.1-side row count: one observed, UNMEASURED run on the
          // sweep dir (the timed sweep denominator stays untouched)
          val (fn01, rows01f) = observedQuery(q)
          runOnce(q, fn01): Unit
          val rows01 = rows01f()
          reclaimAfter(q, keepFixtures = false)
          val (t1, g1, m1, r1, n1) = decadeRun(q)
          val (t2, g2, m2, r2, n2) = decadeRun(q)
          DecadeRow(q, Seq(t1, t2), g1 + g2, math.max(m1, 0) + math.max(m2, 0),
            math.max(r1, r2), rows01, (n1 ++ n2).maxOption)
        }))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] scale_decade failed: ${e.getMessage}")
        decadeError = Some(e.getClass.getSimpleName)
        None
      }

    val reps = 3
    val streamBatchSum = collection.mutable.Map[String, Double]()
    val streamProgress = collection.mutable.Map[String, (Long, Map[String, Long])]()
    val queryEnv = collection.mutable.Map[String, QueryEnv]()
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => nameFilter.forall(_.findFirstIn(n).isDefined) }
    val results = sorted.zipWithIndex.map { case ((name, fn), qi) =>
      // round 13: pin the media tier's binary fixture BEFORE the
      // per-query block, so neither the warmup nor any measured rep —
      // nor the query's gc/fault env record — pays fixture synthesis;
      // the scaling audit's m-family ratios then compare operator work,
      // not fixture-rebuild cadence at whichever SF last swept it
      if (name.startsWith("m"))
        graft.multimodal.Multimodal.attachBinaryCached(spark, sfDir)
      // env snapshot spans the whole per-query block (warmup included:
      // warmup-side faults/GC are exactly the signal that distinguishes
      // cold-page tax from sustained contention when read next to the
      // individual rep times)
      val (gcMs0, gcN0) = gcTotals()
      val (minf0, majf0, rss0) = procStat()
      def envRecord(warm: Double, measured: Seq[Double]): QueryEnv = {
        val (gcMs1, gcN1) = gcTotals()
        val (minf1, majf1, rss1) = procStat()
        QueryEnv(warm, measured, gcMs1 - gcMs0, gcN1 - gcN0,
          if (minf0 < 0) -1L else minf1 - minf0,
          if (majf0 < 0) -1L else majf1 - majf0,
          if (rss1 < 0) -1L else rss1 * pageKb / 1024L,
          if (rss0 < 0) -1L else (rss1 - rss0) * pageKb / 1024L)
      }
      val timing: (String, Double) =
      // streaming gets ONE unmeasured warmup too (round 6): the first
      // execution of a streaming query pays state-store + micro-batch
      // machinery JIT on top of the fault tax (measured: the s* suite
      // runs 33.3 s cold, 20.8 s on the immediate second pass); the
      // warmed run is the honest harness-latency number, same rationale
      // as the batch warmup
      if (isStreaming(name)) {
        val warm = runOnce(name, fn)
        if (warm < 0) { queryEnv(name) = envRecord(warm, Nil); (name, -1.0) }
        else {
          // the warmup's runs were started with capturing=false, so
          // their (possibly still in-flight) events are ignored by
          // runId — no drain sleep needed before the reset
          spark.streams.resetTerminated()
          batchDurMs.set(0L)
          progLock.synchronized { progDur.clear(); progBatches = 0L }
          measuredRuns.clear()
          capturing = true
          // capturing stays true through the event wait: a very fast
          // run's started-event could otherwise be processed after
          // runOnce returns and be dropped (no stream starts between
          // runOnce and the wait, so the window admits only our runs)
          // runOnce returned, so every event of the measured runs is
          // already posted: the drain dispatches them all
          val wall = try {
            val w = runOnce(name, fn)
            org.apache.spark.graft.ListenerBusAccess.waitUntilEmpty(spark.sparkContext, 2000)
            w
          } finally { capturing = false }
          if (wall >= 0) {
            streamBatchSum(name) = batchDurMs.get() / 1e3
            streamProgress(name) =
              progLock.synchronized { (progBatches, progDur.toMap) }
          }
          queryEnv(name) = envRecord(warm, Seq(wall))
          (name, wall)
        }
      }
      else {
        // unmeasured warmup rep: absorbs first-touch page faults and
        // JIT/janino compilation of this query's generated code
        val warm = runOnce(name, fn)
        if (warm < 0) { queryEnv(name) = envRecord(warm, Nil); (name, -1.0) }
        else if (warm > 2.0) {
          // adaptive reps for the multi-second tier (rounds 8-9): their
          // fault/JIT tax is already amortized by the warmup, so the
          // cheap queries' median-of-3 protection matters least here —
          // but round 8 showed ONE measured rep makes a single GC/AQE
          // hiccup THE reported number (driver read c104 at 17.9 s vs
          // 5.3 s steady). Two reps, min: timing noise is additive, so
          // min is the steady-state estimator, at half the cost of a
          // median-of-3. Round 14: a rep spread above 2× means at least
          // one rep was contention-inflated and the min itself is
          // suspect — run ONE extra rep so the reported min rests on
          // two plausible readings and the env record's min/median pair
          // shows the spread (the r13 driver's c57 read [15.5, 20.0]
          // against a 5.6 s probed floor; a third rep in-run is cheaper
          // than an adjudication re-run after the fact).
          val a = runOnce(name, fn)
          val b = runOnce(name, fn)
          val base = Seq(a, b)
          val all = if (a >= 0 && b >= 0 && math.max(a, b) > 2.0 * math.min(a, b))
            base :+ runOnce(name, fn) else base
          queryEnv(name) = envRecord(warm, all)
          (name, if (all.exists(_ < 0)) -1.0 else all.min)
        }
        else {
          val samples = Iterator.continually(runOnce(name, fn))
            .take(reps).takeWhile(_ >= 0).toSeq
          queryEnv(name) = envRecord(warm, samples)
          // any failed rep marks the query failed; otherwise the median
          (name, if (samples.length < reps) -1.0 else samples.sorted.apply(reps / 2))
        }
      }
      // fixture survives between ADJACENT media queries (it is the
      // stored-column stand-in, not per-query state); both sides of the
      // boundary must be media — the non-media query just before the
      // m-block must still get its full sweep and leak accounting, or
      // its residue would ride through the whole media block and land
      // in leaked_after under the wrong name
      reclaimAfter(name, keepFixtures = name.startsWith("m") &&
        qi + 1 < sorted.length && sorted(qi + 1)._1.startsWith("m"))
      timing
    }
    val resultsMap = collection.mutable.LinkedHashMap(results: _*)

    // rep-spread predicate (round 15, ADVICE r14): compare the TWO
    // SMALLEST reps — "the min is still suspect" means its nearest
    // corroborating rep disagrees by >2×. The old max>2·min form was
    // tautological for any query that triggered the in-band extra rep
    // (a superset can only widen min/max), so a fast-confirmed min
    // stayed flagged forever.
    def spreadFlagged(e: QueryEnv): Boolean = {
      val ok = e.reps.filter(_ >= 0).sorted
      ok.length >= 2 && ok.head > 2.0 && ok(1) > 2.0 * ok.head
    }

    // post-sweep re-probe (round 15, VERDICT r14 #1b): a flagged query
    // gets ONE more rep after the sweep — usually past whatever
    // transient hog inflated it mid-run — and BOTH readings go in the
    // artifact. A confirming re-probe lowers the reported number and
    // clears the flag (self-correcting); a still-spread one leaves the
    // flag as evidence. The env record keeps its sweep-time gc/fault
    // deltas (the contention calibration is sweep-scoped); only the
    // rep list grows.
    val reprobed = collection.mutable.LinkedHashMap[String, (Double, Double, Double)]()
    // streaming queries are NOT re-probed (their single measured rep is
    // harness latency, and re-running the replay rig mid-artifact would
    // re-enter the capturing machinery); the exclusion is RECORDED so a
    // reader knows a flagged s* query was never adjudicated (VERDICT
    // r15 nit #1) rather than silently skipped
    val reprobeSkipped = queryEnv.toSeq.sortBy(_._1).collect {
      case (name, e) if spreadFlagged(e) && isStreaming(name) => name
    }
    val fnByName = sorted.toMap
    queryEnv.toSeq.sortBy(_._1).foreach { case (name, e) =>
      if (spreadFlagged(e) && !isStreaming(name)) {
        if (name.startsWith("m"))
          graft.multimodal.Multimodal.attachBinaryCached(spark, sfDir)
        val before = resultsMap(name)
        val extra = runOnce(name, fnByName(name))
        reclaimAfter(name, keepFixtures = false)
        if (extra >= 0) {
          val withExtra = e.copy(reps = e.reps :+ extra)
          queryEnv(name) = withExtra
          val after = withExtra.reps.filter(_ >= 0).min
          resultsMap(name) = after
          reprobed(name) = (before, extra, after)
        } else reprobed(name) = (before, -1.0, before)
      }
    }

    val failed = resultsMap.toSeq.collect { case (k, v) if v < 0 => k }
    val passed = resultsMap.toSeq.filter(_._2 >= 0)
    val batchSec = passed.filterNot(kv => isStreaming(kv._1)).map(_._2).sum
    val streamingSec = passed.filter(kv => isStreaming(kv._1)).map(_._2).sum
    val qs = resultsMap.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // per-s*-query micro-batch-duration sums, a SIBLING map so the
    // "queries" values stay plain numbers for the driver's baseline diff
    val sbs = streamBatchSum.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val streamBatchSec = streamBatchSum.values.sum
    val total = batchSec + streamingSec
    val ccEnd = codeCacheJson()
    val ccJson = s""""code_cache":{"start":$ccStart,"end":$ccEnd}"""
    val endInfos = spark.sparkContext.getRDDStorageInfo
    val endMemMb = endInfos.map(_.memSize).sum / (1024L * 1024L)
    val storageJson = s""""storage":{"peak":{"mem_mb":$peakMemMb,""" +
      s""""rdds":$peakRdds,"after":"$peakAt"},""" +
      s""""end":{"mem_mb":$endMemMb,"rdds":${endInfos.length}},""" +
      s""""result_ckpts_released":$resultCkpts,""" +
      s""""leaked_rdds_unpersisted":$leakedRdds,""" +
      s""""leaked_after":${leakedAfter.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
    // per-s*-query micro-batch phase sums (round 13): batches counted
    // plus every StreamingQueryProgress.durationMs phase and the state
    // operators' update/commit ms, summed over the measured run. ONE
    // serializer for both artifact sections so the truncation-proof
    // summary can never drift from the full line.
    def progressJson(k: String, nb: Long, m: Map[String, Long]): String = {
      val phases = m.toSeq.sortBy(_._1)
        .map { case (p, ms) => "\"" + p + "_ms\":" + ms }.mkString(",")
      "\"" + k + "\":{\"batches\":" + nb +
        (if (phases.nonEmpty) "," + phases else "") + "}"
    }
    val spJson = streamProgress.toSeq.sortBy(_._1)
      .map { case (k, (nb, m)) => progressJson(k, nb, m) }
      .mkString("{", ",", "}")
    // per-query environment records (round 12) — a SIBLING map keyed
    // like "queries"; run-wide aggregates repeated on the
    // truncation-proof summary line together with the slowest-5's
    // individual records so a truncated artifact still names the
    // mechanism of its own slow queries
    val envJson = queryEnv.toSeq.sortBy(_._1)
      .map { case (k, e) => "\"" + k + "\":" + e.json }.mkString("{", ",", "}")
    val gcTotalMs = queryEnv.values.map(_.gcMs).sum
    val majfltTotal = queryEnv.values.map(e => math.max(e.majflt, 0L)).sum
    val minfltTotal = queryEnv.values.map(e => math.max(e.minflt, 0L)).sum
    val (_, _, rssEndPages) = procStat()
    // run-level contention index (round 14): the run's gc_ms_total and
    // minflt_total normalized against the steady-state envelope of the
    // last uncontended FULL driver sweep on this rig (r12: 5 671 ms GC,
    // 14.5 M minflt — the r13 driver window that needed adjudication
    // read 10 957 / 23.4 M). index ≈ 1 means the JVM did r12-steady
    // amounts of GC and paging; ≥ 1.5 flags the run as contended
    // IN-ARTIFACT, so a round-over-round total comparison can be
    // discounted without a replication run. Calibrated for the full
    // unfiltered sf0.1 sweep ONLY — a filtered/partial run does less
    // total work and reads low by construction (a rate-per-second form
    // was tried and rejected: JVM startup + warmup first-touch faults
    // dominate short runs and read as false contention).
    val gcRefMs = 5671.0; val minfltRef = 14.5e6
    val contentionIdx =
      0.5 * (gcTotalMs / gcRefMs) + 0.5 * (minfltTotal / minfltRef)
    // scale-free companion channel: the multi-second queries whose
    // measured rep spread stayed above 2× even after the extra rep —
    // the per-query signature of contention (the r13 driver's c57 read
    // [15.5, 20.0] against a 5.6 s floor), valid at any scale factor or
    // filter. The forced-contention A/B (PLANS.md r14) showed why both
    // channels are needed: a CPU/IO hog tripled the sf0.01 run's total
    // and doubled its GC, but the index's minflt term is sf0.1-sized so
    // the composite read only 1.11 — while the spread flags fired on
    // exactly the three slowest queries. ≥2 flagged queries ⇒
    // contended (one flag alone could be a single AQE/GC hiccup; every
    // clean run measured to date reads zero flags).
    // computed AFTER the re-probe pass, so a flag here means the min
    // stayed uncorroborated even with the post-sweep reading in hand
    val spreadFlags = queryEnv.toSeq
      .filter { case (_, e) => spreadFlagged(e) }.map(_._1).sorted
    // third, INDEPENDENT contention channel (round 15): host CPU steal
    // and iowait over the whole run, from /proc/stat. The index above
    // sees only the JVM's own GC/paging; a hypervisor-starved window
    // leaves those clean while inflating every wall (two full benches
    // read 258/275 s vs the 215 s floor at index 1.00/0.66, and a
    // probe during that window read 6% steal against the ~0–2% of a
    // clean box — correlating with +15–25% walls). Steal ≥ 5% of
    // machine time marks the run contended on its own.
    val (steal1, iow1, cpu1) = cpuStat()
    val (stealPct, iowaitPct) =
      if (cpu0 < 0 || cpu1 <= cpu0) (-1.0, -1.0)
      else (100.0 * (steal1 - steal0) / (cpu1 - cpu0),
            100.0 * (iow1 - iow0) / (cpu1 - cpu0))
    val contended =
      contentionIdx >= 1.5 || spreadFlags.size >= 2 || stealPct >= 5.0
    val contentionJson =
      f""""contention_index":$contentionIdx%.2f,""" +
        f""""steal_pct":$stealPct%.1f,"iowait_pct":$iowaitPct%.1f,""" +
        f""""contended":$contended,""" +
        s""""contention_ref":{"gc_ms":${gcRefMs.toLong},"minflt":${minfltRef.toLong}},""" +
        s""""rep_spread_flags":${spreadFlags.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    val envAggJson = s""""env":{"gc_ms_total":$gcTotalMs,""" +
      s""""majflt_total":$majfltTotal,"minflt_total":$minfltTotal,""" +
      s""""rss_end_mb":${if (rssEndPages < 0) -1L else rssEndPages * pageKb / 1024L},""" +
      contentionJson + "}"
    // both readings of every flagged-then-reprobed query, so the
    // artifact shows the correction instead of only its result
    val reprobeJson = "\"reprobe\":" + reprobed.map { case (k, (b, r, a)) =>
      f""""$k":{"before":$b%.3f,"rep":$r%.3f,"after":$a%.3f}"""
    }.mkString("{", ",", "}") +
      (if (reprobeSkipped.isEmpty) ""
       else ",\"reprobe_skipped\":" +
         reprobeSkipped.map("\"" + _ + "\"").mkString("[", ",", "]"))

    // ---- scale-decade gate assembly (measured at process start, see
    // decadeMeasured above): ratio = best sf1.0 rep / the query's
    // just-measured sweep number. The gate threshold is 20× on 10×
    // data — a SUPERLINEAR-BLOWUP detector, not the sublinearity proof
    // (that lives in the clean-rig tables, PLANS.md r14–15): this
    // box's documented anon-fault tax swings the multi-GB sf1.0 BSP
    // readings 2–3× for tens of minutes at a time (c104 measured 25 s
    // and 82 s on the same HEAD two hours apart, with the 9.8 M-minflt
    // / 38 GB-ΔRSS env record naming the mechanism), while a real plan
    // regression at this scale — a lost broadcast, a degenerate join —
    // reads 50×+. Each member carries its reps AND its gc/minflt/ΔRSS
    // deltas so an inflated reading self-adjudicates; a member still
    // above threshold after the sweep gets ONE more rep (min can only
    // improve) before the gate fails. ----
    val decadeThreshold = 20.0
    val decade: Option[(Boolean, String)] =
      if (!decadeEnabled) None
      else decadeMeasured match {
        case None =>
          Some((false, s""""scale_decade":{"ok":false,""" +
            s""""error":"${decadeError.getOrElse("unknown")}"},"""))
        case Some((generated, rows0)) =>
          val rowLaw = ScaleDecade.rowLaw(10)
          val rows = rows0.map { r =>
            val base = resultsMap.get(r.q).filter(_ > 0)
            val over = base.exists(b => r.best < 0 || r.best / b > decadeThreshold)
            if (!over) r
            else { // post-sweep retry for an over-threshold reading
              val (t3, g3, m3, r3, n3) = decadeRun(r.q)
              r.copy(reps = r.reps :+ t3, gcMs = r.gcMs + g3,
                minflt = r.minflt + math.max(m3, 0),
                dRssMb = math.max(r.dRssMb, r3),
                rows10 = (r.rows10 ++ n3).maxOption)
            }
          }
          // the gate holds iff BOTH channels pass per member: the time
          // ratio (superlinear-blowup detector, host-noise-tolerant at
          // 20×) AND the ×k row law (host-noise-immune; round 17) —
          // the latter only where both row counts were observed
          def rowsOk(r: DecadeRow): Boolean =
            r.unobserved || rowLaw.get(r.q).forall(k =>
              r.rows01.exists(n => n > 0 && r.rows10.contains(n * k)))
          val ok = rows.forall { r =>
            resultsMap.get(r.q).filter(_ > 0)
              .exists(b => r.best >= 0 && r.best / b <= decadeThreshold) &&
              rowsOk(r) }
          val qjson = rows.map { r =>
            val base = resultsMap.get(r.q).filter(_ > 0).getOrElse(-1.0)
            val reps = r.reps.map(v => f"$v%.2f").mkString("[", ",", "]")
            f""""${r.q}":{"sf01":$base%.2f,"sf10":${r.best}%.2f,""" +
              f""""reps":$reps,""" +
              f""""ratio":${if (r.best < 0 || base <= 0) -1.0 else r.best / base}%.2f,""" +
              s""""rows_sf01":${r.rows01.getOrElse(-1L)},""" +
              s""""rows_sf10":${r.rows10.getOrElse(-1L)},""" +
              s""""row_law_x":${rowLaw.getOrElse(r.q, -1L)},""" +
              s""""rows_ok":${rowsOk(r)},"rows_unobserved":${r.unobserved},""" +
              s""""gc_ms":${r.gcMs},"minflt":${r.minflt},"d_rss_mb":${r.dRssMb}}"""
          }.mkString("{", ",", "}")
          Some((ok, s""""scale_decade":{"ok":$ok,""" +
            s""""threshold":$decadeThreshold,""" +
            s""""gen":"${ScaleDecade.GenVersion}",""" +
            s""""generated_this_run":$generated,"fixture":"$decadeFixture",""" +
            s""""queries":$qjson},"""))
      }
    val decadeJson = decade.map(_._2).getOrElse("")
    println(s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""batch_sec":$batchSec,"streaming_sec":$streamingSec,""" +
      s""""stream_batch_sum_sec":$streamBatchSec,""" +
      s""""reps":$reps,"failed":$failedJson,"queries":$qs,""" +
      s""""stream_batch_sum":$sbs,"stream_progress":$spJson,""" +
      s""""query_env":$envJson,$envAggJson,$reprobeJson,$decadeJson""" +
      s"""$ccJson,$storageJson,"sf":"$sfDir"}""")
    // truncation-proof headline: totals + failures + 5 slowest queries
    // (with their environment records)
    val slowest5 = passed.sortBy(-_._2).take(5)
    val slowest = slowest5
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val slowestEnv = slowest5.flatMap { case (k, _) =>
      queryEnv.get(k).map(e => "\"" + k + "\":" + e.json) }
      .mkString("{", ",", "}")
    // the slowest streaming queries' phase records repeat on the
    // truncation-proof line: they are exactly the rows a driver-rig
    // inflation dispute needs
    val slowestSp = slowest5.flatMap { case (k, _) =>
      streamProgress.get(k).map { case (nb, m) => progressJson(k, nb, m) }
    }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""batch_sec":$batchSec,"streaming_sec":$streamingSec,""" +
      s""""stream_batch_sum_sec":$streamBatchSec,""" +
      s""""reps":$reps,"failed":$failedJson,"slowest":$slowest,""" +
      s""""slowest_env":$slowestEnv,""" +
      s""""slowest_stream_progress":$slowestSp,$envAggJson,""" +
      s"""$reprobeJson,$decadeJson""" +
      s"""$ccJson,$storageJson,"sf":"$sfDir"}""")
    // totals-only MICRO line — the LAST bytes of stdout (round 15,
    // VERDICT r14 #1a: the r14 driver artifact lost its own headline
    // when tail-capture truncated the longer lines). ≤200 bytes by
    // construction: fixed keys, bounded-precision numbers — survives
    // any tail truncation that keeps even one full line.
    val microDecade =
      decade.map { case (ok, _) => s""","scale_decade_ok":$ok""" }.getOrElse("")
    println(f"""{"metric":"total","value":$total%.1f,"unit":"sec",""" +
      f""""batch_sec":$batchSec%.1f,"streaming_sec":$streamingSec%.1f,""" +
      s""""failed_n":${failed.size},""" +
      f""""contention_index":$contentionIdx%.2f,"steal_pct":$stealPct%.1f,""" +
      f""""contended":$contended""" +
      s"""$microDecade}""")
    spark.stop()
  }
}
