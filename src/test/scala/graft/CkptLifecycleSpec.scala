package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Ckpt, CkptChain, Dedup, Graph, TextAnalysis}

/** Round-13 checkpoint LIFECYCLE pins (the r12 verdict's top item):
  *
  *   1. iterative operators release every SUPERSEDED per-round
  *      checkpoint themselves — after a call returns, exactly the
  *      result-backing cut(s) remain persisted, no matter how many
  *      rounds ran (O(1) storage held, not O(rounds));
  *   2. `Ckpt.releaseResult(result)` frees those too — a caller that
  *      has consumed the result can return storage to baseline;
  *   3. the reliable backend (session conf `spark.graft.checkpointDir`)
  *      is value-identical to the local backend AND deletes superseded
  *      round FILES from the checkpoint dir as it goes (durable storage
  *      must not accumulate either);
  *   4. a cut runs ONE Spark job on either backend.
  */
class CkptLifecycleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def edgesIn(s: SparkSession) = s.createDataFrame(Seq(
    ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("a", "c"), ("x", "y")
  )).toDF("src", "dst")
  private def kedgesIn(s: SparkSession) = s.createDataFrame(Seq(
    (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L),
    (5L, 6L))).toDF("a", "b")
  private def edges = edgesIn(spark)
  private def kedges = kedgesIn(spark)

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
  private def deleteDir(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))

  /** Run `body` with `spark.graft.checkpointDir` set to `dir` on `s`
    * (the shared session by default), unsetting it afterwards. */
  private def underConf[A](dir: String, s: SparkSession = spark)(body: => A): A = {
    s.conf.set("spark.graft.checkpointDir", dir)
    try body finally s.conf.unset("spark.graft.checkpointDir")
  }

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Run `op`, assert it left exactly `expectHeld` new persistent RDDs
    * (the result-backing cuts), then release the result and assert
    * storage returned to baseline. Returns the collected rows. */
  private def pinHeld(expectHeld: Int)(op: => DataFrame): Set[Seq[Any]] = {
    val base = persistedIds
    val out = op
    val rows = out.collect().map(_.toSeq).toSet
    val added = persistedIds -- base
    assert(added.size == expectHeld,
      s"expected $expectHeld result-backing checkpoint(s), found ${added.size}")
    Ckpt.releaseResult(out)
    assert((persistedIds -- base).isEmpty,
      "Ckpt.releaseResult(result) must return storage to baseline")
    rows
  }

  test("pageRank holds ONE checkpoint after 5 iterations; release frees it") {
    // without the chain this loop would hold nodes + contrib + 6 rank
    // vectors = 8 cuts
    pinHeld(1)(Graph.pageRank(edges, "src", "dst", iters = 5))
  }

  test("bfsHops holds ONE checkpoint across its frontier rounds") {
    pinHeld(1)(Graph.bfsHops(edges, "src", "dst", "a", maxHops = 10))
  }

  test("kCoreBounded holds ONE checkpoint across its peel rounds") {
    pinHeld(1)(Graph.kCoreBounded(kedges, "a", "b", k = 2, rounds = 8))
  }

  test("triangleCounts holds exactly its two result-backing cuts") {
    pinHeld(2)(Graph.triangleCounts(kedges, "a", "b"))
  }

  test("dupClusters holds ONE checkpoint; pair cut released at return") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val nodes = (1L to 12L).toDF("doc_id")
    val rows = pinHeld(1)(Dedup.dupClusters(pairs, nodes, "doc_id"))
    // sanity: transitivity landed (1-2-3 collapse to rep 1)
    assert(rows.contains(Seq(3L, 1L)) && rows.contains(Seq(11L, 10L)))
  }

  test("bpeMergeTable holds ZERO checkpoints after returning " +
    "(driver-local result; the whole chain is released)") {
    val docs = Seq("banana bandana banana", "band anna banana",
      "nab ban anna").toDF("text")
    val base = persistedIds
    val merges = TextAnalysis.bpeMergeTable(docs, "text", numMerges = 3)
    assert(merges.count() == 3)
    assert((persistedIds -- base).isEmpty,
      "bpeMergeTable must release every per-round checkpoint")
  }

  test("releaseIssued frees graft-issued checkpoints but not foreign caches") {
    val base = persistedIds
    val pr = Graph.pageRank(edges, "src", "dst", iters = 3)
    pr.collect()
    val foreign = kedges.persist()
    foreign.count()
    assert(Ckpt.releaseIssued(spark) >= 1)
    val remaining = persistedIds -- base
    // the foreign cache must survive a graft sweep
    assert(remaining.nonEmpty && foreign.storageLevel.useMemory,
      "foreign cache must not be swept by releaseIssued")
    foreign.unpersist(blocking = true)
    assert((persistedIds -- base).isEmpty)
  }

  // ---- reliable backend (spark.graft.checkpointDir) ----

  private def rddDirCount(root: String): Int = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) 0
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(q => java.nio.file.Files.isDirectory(q) &&
          q.getFileName.toString.startsWith("rdd-")).count().toInt
      finally s.close()
    }
  }

  test("reliable checkpointDir: value-identical to local backends, " +
    "superseded round files deleted, release empties the dir, " +
    "nothing persisted in the block manager") {
    val dir = tempDir("graft-ckpt-")
    try {
      val base = persistedIds
      def ops: Seq[() => DataFrame] = Seq(
        () => Graph.pageRank(edges, "src", "dst", iters = 3),
        () => Graph.bfsHops(edges, "src", "dst", "a", maxHops = 10),
        () => Graph.kCoreBounded(kedges, "a", "b", k = 2, rounds = 3),
        () => Dedup.dupClusters(Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b"),
          (1L to 5L).toDF("doc_id"), "doc_id"))
      val localV = ops.map { op =>
        val df = op(); val r = df.collect().map(_.toSeq).toSet
        Ckpt.releaseResult(df); r
      }
      assert((persistedIds -- base).isEmpty)

      def withDirCheck(df: DataFrame, expectDirs: Int): Set[Seq[Any]] = {
        val rows = df.collect().map(_.toSeq).toSet
        // superseded rounds' files are deleted as the loop advances:
        // only the result-backing cut(s) remain on disk
        assert(rddDirCount(dir) == expectDirs,
          s"checkpoint dir must hold exactly $expectDirs rdd dirs " +
            s"after the call, found ${rddDirCount(dir)}")
        Ckpt.releaseResult(df)
        assert(rddDirCount(dir) == 0,
          "release must delete the result-backing checkpoint files")
        rows
      }
      val relV = underConf(dir)(ops.map(op => withDirCheck(op(), 1)))
      localV.zip(relV).zipWithIndex.foreach { case ((l, r), i) =>
        assert(l == r, s"operator $i differs between local and reliable backends")
      }
      // reliable cuts write files, not block-manager entries
      assert((persistedIds -- base).isEmpty,
        "reliable mode must not leave persistent RDDs behind")
    } finally deleteDir(dir)
  }

  test("a failing operator releases every held checkpoint " +
    "(bpeMergeTable's exhausted-pairs guard fires with a round cut held)") {
    val base = persistedIds
    // one mergeable pair only: round 1 merges (a,b) and CUTS the new
    // segmentation; round 2 finds no adjacent pairs and throws — the
    // failure path must release the held words + seg cuts
    val docs = Seq("ab ab", "ab").toDF("text")
    intercept[IllegalArgumentException] {
      TextAnalysis.bpeMergeTable(docs, "text", numMerges = 3)
    }
    assert((persistedIds -- base).isEmpty,
      "failed bpeMergeTable must strand no checkpoints")
  }

  test("reliable cuts under spark.graft.checkpointDir do not hijack the " +
    "application's own checkpoint dir (each cut restores it exactly)") {
    val appDir = tempDir("graft-app-ckpt-")
    val opDir = tempDir("graft-op-ckpt-")
    try {
      spark.sparkContext.setCheckpointDir(appDir)
      val pr = underConf(opDir)(Graph.pageRank(edges, "src", "dst", iters = 2))
      pr.collect(); Ckpt.releaseResult(pr)
      // getCheckpointDir returns a URI (file:/...) of a UUID subdir —
      // containment of the app's root is the restore guarantee
      val after = spark.sparkContext.getCheckpointDir.get
      assert(after.contains(appDir),
        s"app checkpoint dir hijacked by operator call: $after")
    } finally { deleteDir(appDir); deleteDir(opDir) }
  }

  test("reliable mode leaves NO checkpoint-dir residue when the app had " +
    "none (exact restore to None — the public API cannot unset)") {
    val sc = spark.sparkContext
    val opDir = tempDir("graft-op-ckpt2-")
    val prior = org.apache.spark.graft.CheckpointDirAccess.get(sc)
    try {
      org.apache.spark.graft.CheckpointDirAccess.restore(sc, None)
      val pr = underConf(opDir)(Graph.pageRank(edges, "src", "dst", iters = 2))
      pr.collect(); Ckpt.releaseResult(pr)
      assert(sc.getCheckpointDir.isEmpty,
        "operator call must not leave its dir set on the context " +
          s"(found ${sc.getCheckpointDir})")
    } finally {
      org.apache.spark.graft.CheckpointDirAccess.restore(sc, prior)
      deleteDir(opDir)
    }
  }

  test("two CONCURRENT reliable-mode chains with different dirs place " +
    "every cut in their own dir (per-cut lock, r13's documented race)") {
    val dirA = tempDir("graft-ckpt-a-")
    val dirB = tempDir("graft-ckpt-b-")
    // two sessions of the one context, each with its own conf dir: the
    // context's checkpoint dir is shared, the session confs are not
    val (sa, sb) = (spark.newSession(), spark.newSession())
    sa.conf.set("spark.graft.checkpointDir", dirA)
    sb.conf.set("spark.graft.checkpointDir", dirB)
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val fa = Future(Graph.pageRank(edgesIn(sa), "src", "dst", iters = 4))
      val fb = Future(Graph.kCoreBounded(kedgesIn(sb), "a", "b", k = 2, rounds = 4))
      val (pa, pb) = (Await.result(fa, 120.seconds), Await.result(fb, 120.seconds))
      val (ra, rb) = (pa.collect().map(_.toSeq).toSet, pb.collect().map(_.toSeq).toSet)
      // each chain's result-backing cut must sit in ITS dir — under the
      // r13 set-at-construction scheme one chain's rounds could land in
      // the other's directory
      assert(rddDirCount(dirA) == 1 && rddDirCount(dirB) == 1,
        s"cut placement raced: dirA=${rddDirCount(dirA)} dirB=${rddDirCount(dirB)}")
      // values match the serial local-backend runs
      val la = Graph.pageRank(edges, "src", "dst", iters = 4)
      val lb = Graph.kCoreBounded(kedges, "a", "b", k = 2, rounds = 4)
      assert(ra == la.collect().map(_.toSeq).toSet)
      assert(rb == lb.collect().map(_.toSeq).toSet)
      Seq(pa, pb, la, lb).foreach(Ckpt.releaseResult)
      assert(rddDirCount(dirA) == 0 && rddDirCount(dirB) == 0)
    } finally { deleteDir(dirA); deleteDir(dirB) }
  }

  test("releaseIssued prunes stopped-application residue and deletes " +
    "current-app reliable FILES for dropped results") {
    val dir = tempDir("graft-ckpt-sweep-")
    try {
      // stopped-context residue: an entry under a foreign applicationId
      // can never be acted on (one live context per JVM) — one sweep
      // must drop it
      val before = Ckpt.issuedCount
      Ckpt.registerForTest("app-stopped-000", 123456, "")
      assert(Ckpt.issuedCount == before + 1)
      Ckpt.releaseIssued(spark)
      assert(Ckpt.issuedCount == 0,
        "stopped-app residue must be pruned by releaseIssued")
      // reliable files of a result the caller dropped without release:
      // the harness sweep deletes them deterministically (pre-r14 they
      // waited for the GC-timed ContextCleaner)
      underConf(dir)(Graph.pageRank(edges, "src", "dst", iters = 2)).collect()
      assert(rddDirCount(dir) == 1)
      assert(Ckpt.releaseIssued(spark) >= 1)
      assert(rddDirCount(dir) == 0,
        "releaseIssued must delete current-app reliable checkpoint files")
    } finally deleteDir(dir)
  }

  test("Ckpt.cut (the non-iterative plan-flattening sites) honors the " +
    "conf posture: triangleCounts' two cuts land as reliable FILES " +
    "under spark.graft.checkpointDir, zero block-manager residue, " +
    "values identical to local mode") {
    val confDir = tempDir("graft-cut-conf-")
    try {
      val localV = {
        val t = Graph.triangleCounts(kedges, "a", "b")
        val r = t.collect().map(_.toSeq).toSet; Ckpt.releaseResult(t); r
      }
      val base = persistedIds
      val t = underConf(confDir)(Graph.triangleCounts(kedges, "a", "b"))
      val rows = t.collect().map(_.toSeq).toSet
      assert(rows == localV, "conf-mode triangleCounts must match local")
      assert((persistedIds -- base).isEmpty,
        "conf-mode cuts must not persist block-manager RDDs")
      assert(rddDirCount(confDir) == 2,
        s"expected the 2 result-backing cuts as files, found ${rddDirCount(confDir)}")
      Ckpt.releaseResult(t)
      assert(rddDirCount(confDir) == 0)
    } finally deleteDir(confDir)
  }

  test("the lineage-truncation log filter denies exactly the deliberate-" +
    "release warning and passes other warnings through the same loggers") {
    Ckpt.quietDeliberateUnpersistWarnings()
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.LoggerContext
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    Seq("org.apache.spark.rdd.MapPartitionsRDD",
        "org.apache.spark.sql.execution.SQLExecutionRDD").foreach { logger =>
      val lc = cfg.getLoggerConfig(logger)
      // the config that handles this logger is one of ours (a prefix
      // config carrying the filter), not root
      assert(lc.getName == "org.apache.spark.rdd" ||
        lc.getName == "org.apache.spark.sql.execution",
        s"logger $logger resolved to config ${lc.getName}")
      val f = lc.getFilter
      assert(f != null, s"no filter installed on ${lc.getName}")
      import org.apache.logging.log4j.core.Filter.Result
      import org.apache.logging.log4j.core.impl.Log4jLogEvent
      import org.apache.logging.log4j.message.SimpleMessage
      def eventFor(msg: String) = Log4jLogEvent.newBuilder()
        .setLoggerName(logger)
        .setLevel(org.apache.logging.log4j.Level.WARN)
        .setMessage(new SimpleMessage(msg)).build()
      assert(f.filter(eventFor("RDD 5 was locally checkpointed, its " +
        "lineage has been truncated and cannot be recomputed after " +
        "unpersisting")) == Result.DENY,
        "the deliberate-release warning must be denied")
      assert(f.filter(eventFor("Block rdd_5_0 could not be removed")) !=
        Result.DENY,
        "an accidental-unpersist-style warning must pass through")
    }
  }

  test("spark.graft.checkpointDir conf turns default-args calls reliable " +
    "(the one-conf-line cluster posture) for its own session only") {
    val confDir = tempDir("graft-ckpt-conf-")
    try {
      val base = persistedIds
      val other = spark.newSession()
      val (pr, local) = underConf(confDir) {
        // a packaged-query-shaped call: nothing but the conf selects
        // the backend
        val pr = Graph.pageRank(edges, "src", "dst", iters = 3)
        pr.collect()
        assert((persistedIds -- base).isEmpty,
          "conf-selected reliable mode must not persist block-manager RDDs")
        assert(rddDirCount(confDir) == 1,
          "default-args call must checkpoint into the conf directory")
        // the conf is session-scoped: a session without it stays local
        val local = Graph.pageRank(edgesIn(other), "src", "dst", iters = 3)
        local.collect()
        (pr, local)
      }
      assert(rddDirCount(confDir) == 1,
        "a session without the conf must not write into another's dir")
      assert((persistedIds -- base).size == 1,
        "the conf-less session's result must be a local block checkpoint")
      Ckpt.releaseResult(pr); Ckpt.releaseResult(local)
      assert(rddDirCount(confDir) == 0 && (persistedIds -- base).isEmpty)
    } finally deleteDir(confDir)
  }

  /** EVERY filesystem entry under `root` (files and dirs, root itself
    * excluded) — unlike [[rddDirCount]] this sees the per-chain UUID
    * subdirs, the residue class ADVICE r14 flagged as invisible to the
    * rdd-dir pins. */
  private def totalEntries(root: String): Int = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) 0
    else {
      val s = java.nio.file.Files.walk(p)
      try s.count().toInt - 1
      finally s.close()
    }
  }

  test("release removes the per-chain UUID subdirs too: the checkpoint " +
    "dir is COMPLETELY empty after release — iterative chain, conf-" +
    "posture Ckpt.cut, and the releaseIssued sweep all covered " +
    "(ADVICE r14: rdd-dir pins could not see empty-UUID-dir residue)") {
    val confDir = tempDir("graft-cut-empty-")
    try underConf(confDir) {
      // (1) iterative chain: its rounds all share one UUID subdir;
      // releasing the result must take the subdir with it
      val pr = Graph.pageRank(edges, "src", "dst", iters = 3)
      pr.collect()
      assert(totalEntries(confDir) > 0, "reliable run must have written files")
      Ckpt.releaseResult(pr)
      assert(totalEntries(confDir) == 0,
        s"release left ${totalEntries(confDir)} entries (UUID-dir residue?) in $confDir")
      // (2) Ckpt.cut sites: triangleCounts makes TWO cuts, each a
      // throwaway one-cut chain with its own UUID subdir
      val t = Graph.triangleCounts(kedges, "a", "b")
      t.collect()
      Ckpt.releaseResult(t)
      assert(totalEntries(confDir) == 0,
        s"Ckpt.cut release left ${totalEntries(confDir)} entries in $confDir")
      // (3) the harness sweep path: result dropped without release,
      // releaseIssued deletes files AND their emptied parent subdirs
      Graph.pageRank(edges, "src", "dst", iters = 2).collect()
      assert(Ckpt.releaseIssued(spark) >= 1)
      assert(totalEntries(confDir) == 0,
        s"releaseIssued left ${totalEntries(confDir)} entries in $confDir")
    } finally deleteDir(confDir)
  }

  // ---- counted cuts and jobs per cut ----

  test("cutCounted returns the cut relation AND its row count from the " +
    "materializing job, on both backends") {
    val df = (1L to 257L).toDF("v").repartition(7)
    val expect = (1L to 257L).map(Seq(_)).toSet

    def check(): Unit = {
      val ch = new CkptChain(spark)
      val (cut, n) = ch.cutCounted("s")(df)
      assert(n == 257L, s"materializing count must equal the row count, got $n")
      assert(cut.collect().map(_.toSeq).toSet == expect,
        "counted cut must return the same relation as a plain cut")
      ch.close()
    }

    check() // local DISK_ONLY (default)
    val dir = tempDir("graft-cc-")
    try underConf(dir)(check()) // reliable
    finally deleteDir(dir)
    assert(Ckpt.releaseIssued(spark) == 0,
      "close() must have released every counted cut")
  }

  test("one Spark job per cut: Ckpt.cut and CkptChain.cutCounted, on the " +
    "local backend and under spark.graft.checkpointDir") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .toSeq.flatMap(_.split(",")).filter(_.startsWith("graft-ckpt-jobs-"))
          .foreach(t => jobs.merge(t, 1, (a, b) => a + b))
    }
    // a shuffle-free plan: the cut's own materializing job is the only
    // job it can run; a fresh DataFrame per cut so no stage is reused
    def input = spark.range(0, 1000, 1, 4).selectExpr("id", "id * 2 AS v")
    def tagged(tag: String)(f: => Unit): Unit = {
      sc.addJobTag(s"graft-ckpt-jobs-$tag")
      try f finally sc.removeJobTag(s"graft-ckpt-jobs-$tag")
    }
    def cutBoth(backend: String): Unit = {
      tagged(s"$backend-cut")(Ckpt.releaseResult(Ckpt.cut(input)))
      tagged(s"$backend-counted") {
        val ch = new CkptChain(spark)
        assert(ch.cutCounted("s")(input)._2 == 1000L)
        ch.close()
      }
    }
    sc.addSparkListener(listener)
    val dir = tempDir("graft-ckpt-jobs-")
    try {
      cutBoth("local")
      underConf(dir)(cutBoth("reliable"))
      assert(org.apache.spark.graft.ListenerBusAccess.waitUntilEmpty(sc, 30000L))
    } finally { sc.removeSparkListener(listener); deleteDir(dir) }
    import scala.jdk.CollectionConverters._
    val got = jobs.asScala.map { case (k, v) =>
      k.stripPrefix("graft-ckpt-jobs-") -> v.intValue }.toMap
    // a reliable counted cut ran count() and then a second file-writing
    // job before the count moved into the materializing job
    val expect = Map("local-cut" -> 1, "local-counted" -> 1,
      "reliable-cut" -> 1, "reliable-counted" -> 1)
    assert(got == expect, s"jobs per cut: $got")
  }
}
