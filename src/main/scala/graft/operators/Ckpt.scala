package graft.operators

import org.apache.spark.graft.CheckpointDirAccess
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftCheckpointBridge, SparkSession}

/** Lineage-flattening checkpoint plumbing for the iterative operator
  * families ([[Graph]]'s traversals, [[Dedup.dupClusters]]'s
  * min-label propagation, [[TextAnalysis.bpeMergeTable]]'s merge loop)
  * and the one-off plan-flattening cuts. Every cut runs the one
  * materializing body of [[CkptChain]], which picks the backend:
  *
  *   - '''Backend.''' Local DISK_ONLY `localCheckpoint` by default:
  *     fast, but its blocks have no lineage fallback, so one executor
  *     loss mid-iteration kills the job. With the session conf
  *     `spark.graft.checkpointDir` set, every cut is instead a reliable
  *     checkpoint into that directory (a durable write per cut,
  *     survives executor loss). The two backends are value-identical
  *     (GraphSpec and CkptLifecycleSpec pin both).
  *
  *   - '''Release.''' [[CkptChain]] releases round N−1's storage as
  *     soon as round N is eagerly materialized, so a loop holds O(1)
  *     checkpoints instead of O(rounds) — block-manager blocks (local)
  *     and checkpoint FILES (reliable) alike.
  *
  *   - '''The result-backing checkpoint.''' The final round's
  *     checkpoint backs the RETURNED DataFrame, so exactly one
  *     checkpoint per call (two for [[Graph.triangleCounts]], whose
  *     result reads both cuts) outlives the call, caller-owned.
  *     Callers that have fully consumed the result free it with
  *     [[Ckpt.releaseResult]]; harnesses that know ALL outstanding
  *     results are consumed (the bench, after each query's sink
  *     completes) use [[Ckpt.releaseIssued]], which frees every
  *     graft-issued checkpoint still held — blocks AND reliable files
  *     (their paths are recorded at issue time) — and leaves foreign
  *     blocks alone.
  */
object Ckpt {

  /** (applicationId, rddId) → checkpoint file path ("" for local-mode
    * block checkpoints) of checkpoint RDDs issued by graft operators
    * and not yet released. Ids + paths only — holding the RDDs
    * themselves would extend their lifetime past the ContextCleaner's
    * weak-reference reclaim and turn the registry into its own leak.
    * Scoping by applicationId matters in a long-lived JVM: RDD ids
    * restart at 0 per SparkContext, so a bare-id registry carrying a
    * stale entry from a stopped context could match — and
    * [[releaseIssued]] would then unpersist — a FOREIGN cache in the
    * next context that happened to get the same id. Pruned on every
    * [[releaseIssued]]: live-context entries against the persistent
    * set, and (round 14) ALL entries of other applicationIds — only
    * one SparkContext can be active per JVM, so a foreign app key is
    * stopped-context residue by construction. */
  private val issued =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), String]()
  private def key(rdd: RDD[_]): (String, Int) =
    (rdd.context.applicationId, rdd.id)

  /** Serializes reliable-mode cuts process-wide: the checkpoint
    * directory is SparkContext-GLOBAL state, so the
    * [point at chain's dir → eager checkpoint → exact-restore prior]
    * window of one cut must not interleave with another chain's. Held
    * for the duration of the eager checkpoint job — two CONCURRENT
    * reliable-mode operators therefore serialize their cuts, and since
    * a BSP loop does most of its compute inside the eager cut, that
    * means largely serializing the loops themselves (placement
    * correctness over overlap — the judged alternative, failing fast on
    * a dir conflict, turns a benign race into an error; local-mode
    * callers never touch the lock). An application thread calling its own
    * `df.checkpoint()` concurrently does not take this lock and can
    * still land in the chain's dir during a cut window — inherent to
    * Spark's context-global API; the exact-restore keeps the window as
    * narrow as one cut. */
  private[operators] val reliableLock = new Object

  /** Test-only registry injection (CkptLifecycleSpec's stopped-context
    * residue pin). */
  private[graft] def registerForTest(app: String, id: Int, file: String): Unit =
    issued.put((app, id), file)

  @volatile private var quieted = false

  /** Suppress exactly the one warning the release path makes deliberate
    * noise of — Spark's per-RDD "lineage has been truncated and cannot
    * be recomputed after unpersisting" — via a log4j2 RegexFilter on
    * that message, NOT a logger level change (round 14, was a blanket
    * MapPartitionsRDD→ERROR raise): an ACCIDENTAL unpersist elsewhere
    * logs a different message through the same loggers and must stay
    * visible, and checkpoint RDDs of other concrete classes share the
    * fate. The filter is installed on the `org.apache.spark.rdd` and
    * `org.apache.spark.sql.execution` logger configs (DENY on match,
    * NEUTRAL otherwise), covering every RDD subclass that can back a
    * local checkpoint. Explicit OPT-IN for harnesses
    * (GraftSession/TestSpark call it); deliberately NOT a class-load
    * side effect, so an application that merely links the library keeps
    * its own warning trail. Idempotent. */
  def quietDeliberateUnpersistWarnings(): Unit = {
    if (quieted) return
    try {
      import org.apache.logging.log4j.core.Filter.Result
      import org.apache.logging.log4j.core.LoggerContext
      import org.apache.logging.log4j.core.config.LoggerConfig
      import org.apache.logging.log4j.core.filter.RegexFilter
      val ctx = org.apache.logging.log4j.LogManager.getContext(false)
        .asInstanceOf[LoggerContext]
      val cfg = ctx.getConfiguration
      Seq("org.apache.spark.rdd", "org.apache.spark.sql.execution")
        .foreach { name =>
          val resolved = cfg.getLoggerConfig(name)
          val lc =
            if (resolved.getName == name) resolved
            else { // no config at this name yet: add an additive one
              val nu = new LoggerConfig(name, resolved.getLevel, true)
              cfg.addLogger(name, nu)
              nu
            }
          lc.addFilter(RegexFilter.createFilter(
            ".*truncated and cannot be recomputed after unpersisting.*",
            null, false, Result.DENY, Result.NEUTRAL))
        }
      ctx.updateLoggers()
      quieted = true
    } catch { case _: Throwable => () }
  }

  /** The checkpoint-backing RDDs under a Dataset: `checkpoint()` /
    * `localCheckpoint()` return a Dataset whose analyzed plan is a
    * `LogicalRDD` leaf wrapping the materialized RDD; plans DERIVED
    * from checkpointed relations carry those leaves below projections
    * and joins, so a collect over the analyzed tree finds every
    * checkpoint a result still depends on. */
  private def backingRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  private[operators] def track(df: DataFrame): DataFrame = {
    backingRdds(df).foreach { r =>
      issued.put(key(r), r.getCheckpointFile.getOrElse(""))
    }
    df
  }

  /** One-off cut for the NON-iterative plan-flattening sites
    * (triangleCounts' edge/orientation cuts, neighborJaccard's dedup,
    * clusterMedoids' verified-pair cut, s13's index-lifetime cut): a
    * throwaway one-cut [[CkptChain]], so the same backend choice —
    * local, or reliable under `spark.graft.checkpointDir` — covers
    * EVERY graft checkpoint (a local cut truncates lineage, so on a
    * cluster an executor loss after the cut kills the job exactly like
    * a mid-loop loss would).
    *
    * Each call mints its OWN UUID subdir rather than sharing one per
    * (app, conf-dir): the released-when-empty cleanup in [[deleteFile]]
    * reduces the residue of per-call isolation to zero, and a shared
    * subdir would couple unrelated results' lifecycles. */
  def cut(df: DataFrame): DataFrame =
    new CkptChain(df.sparkSession).cut("cut")(df)

  /** Free one checkpoint RDD's storage: block-manager blocks (local
    * mode; no-op for reliable cuts, which persist nothing) and the
    * checkpoint files (reliable mode). */
  private def free(rdd: RDD[_], hadoopConf: org.apache.hadoop.conf.Configuration): Unit = {
    rdd.unpersist(blocking = false)
    rdd.getCheckpointFile.foreach(deleteFile(_, hadoopConf))
  }

  private def deleteFile(f: String,
                         hadoopConf: org.apache.hadoop.conf.Configuration): Unit = {
    val p = new org.apache.hadoop.fs.Path(f)
    try {
      val fs = p.getFileSystem(hadoopConf)
      fs.delete(p, true)
      // the rdd-N dir's parent is the per-chain UUID subdir minted by
      // CkptChain — removing the LAST rdd dir must remove the now-empty
      // parent too (ADVICE r14: a reliable-mode 270-query sweep left
      // hundreds of empty UUID dirs). The
      // non-recursive delete fails harmlessly if a concurrent cut
      // repopulated it between the emptiness check and the delete; a
      // later cut that still holds the path re-mkdirs it on write.
      val parent = p.getParent
      if (parent != null && fs.listStatus(parent).isEmpty)
        fs.delete(parent, false)
    } catch { case _: java.io.IOException => () }
  }

  /** Release the storage behind a consumed result: frees exactly the
    * backing `LogicalRDD` leaves this library created (registry hit) —
    * blocks unpersisted, reliable files deleted — and leaves any other
    * leaf, e.g. a cached fixture the caller built from an RDD,
    * untouched. The DataFrame (and any view built on it) is unusable
    * afterwards: local-checkpointed data has no lineage to recompute
    * from and reliable files are deleted. [[CkptChain]] frees its
    * superseded rounds through the same path. Returns the number of
    * checkpoints freed. */
  def releaseResult(df: DataFrame): Int = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    var n = 0
    backingRdds(df).foreach { rdd =>
      if (issued.remove(key(rdd)) != null) { free(rdd, conf); n += 1 }
    }
    n
  }

  /** Release every graft-issued checkpoint still held against `spark`'s
    * context and return how many were freed. For harnesses that know
    * all outstanding operator results are consumed (the bench calls
    * this after each query's sink completes) — a deterministic backstop
    * behind per-result [[releaseResult]] calls when a result itself is
    * out of scope. Local-mode entries are matched against the context's
    * persistent set and unpersisted; reliable-mode entries (round 14)
    * carry their checkpoint file path in the registry, so their FILES
    * are deleted here too — previously they were caller-owned only and
    * a full sweep under the conf-dir posture accumulated files until
    * the GC-timed ContextCleaner backstop. Foreign persistent RDDs
    * (caches the caller created) are never touched. */
  def releaseIssued(spark: SparkSession): Int = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val app = sc.applicationId
    // snapshot the registry FIRST (ADVICE r14): every phase below acts
    // only on entries that existed when the sweep began. A checkpoint
    // issued CONCURRENTLY by another thread (a pattern reliableLock
    // explicitly supports) lands after this snapshot and is neither
    // swept (its result is still live) nor pruned (a prune over the
    // live key set raced against an earlier `persistent` snapshot
    // silently dropped such entries from the registry, stranding their
    // blocks on the GC-timed ContextCleaner) — it is simply left for
    // the next sweep, by which point its result is consumed.
    val snapshot = issued.keySet.asScala.toSet
    val persistent = sc.getPersistentRDDs
    var n = 0
    persistent.foreach { case (id, rdd) =>
      if (snapshot.contains((app, id)) && issued.remove((app, id)) != null) {
        rdd.unpersist(blocking = false); n += 1
      }
    }
    // current-app reliable entries: not persistent RDDs, but their file
    // paths were recorded at issue time — delete and count them
    snapshot.filter(_._1 == app).foreach { k =>
      val f = issued.get(k)
      if (f != null && f.nonEmpty && issued.remove(k) != null) {
        deleteFile(f, sc.hadoopConfiguration); n += 1
      }
    }
    // prune (snapshot-scoped): current-app local entries no longer
    // persistent are gone for good (ContextCleaner property once
    // unreachable), and ANY other-app entry is stopped-context residue
    // (one live context per JVM) that this registry could never act on
    // — drop both, so the registry is bounded by the number of LIVE
    // checkpoints, period.
    issued.keySet.removeIf(k => snapshot.contains(k) &&
      (k._1 != app || !persistent.contains(k._2)))
    n
  }

  /** Number of graft-issued checkpoints not yet released (diagnostic). */
  def issuedCount: Int = issued.size()
}

/** One operator call's chain of per-round checkpoints.
  * `cutCounted(slot)(df)` checkpoints `df` eagerly under a named slot,
  * returns it with its row count, and RELEASES the slot's previous
  * checkpoint — safe because the successor is fully materialized before
  * the predecessor's storage is dropped, so nothing can ever need to
  * re-read it. A loop that cuts the same slot each round therefore
  * holds O(1) checkpoints instead of O(rounds). `close(keep*)` releases
  * every still-held slot except the ones backing the returned result
  * (those are caller-owned — see [[Ckpt]]'s lifecycle note).
  *
  * Backend: reliable into the session conf `spark.graft.checkpointDir`
  * when it is set on the operator's session — one conf line turns the
  * WHOLE family durable without editing any call site — otherwise
  * local DISK_ONLY blocks. Both run the same one-job materializing
  * body, [[org.apache.spark.sql.GraftCheckpointBridge.cutCounted]].
  *
  * Reliable mode routes through the context-global `setCheckpointDir`
  * state; every cut runs under a process-wide lock as
  * [set this chain's dir → eager checkpoint → exact-restore the prior
  * value]. Two concurrent chains whose sessions set DIFFERENT dirs
  * therefore place every cut correctly — their durable writes
  * serialize on the lock — and the application's own checkpoint dir is
  * untouched outside cut windows, INCLUDING the had-none case: the
  * exact restore puts back `None` rather than leaving graft's dir set
  * (the public API has no unset — see
  * [[org.apache.spark.graft.CheckpointDirAccess]]). */
private[graft] final class CkptChain(spark: SparkSession) {
  private val dir: Option[String] = spark.conf.getOption("spark.graft.checkpointDir")
  // the chain's UUID subdir under `dir`, created by the first cut (the
  // public setCheckpointDir mints one per call; reusing it keeps all of
  // one call's rounds under a single subdir)
  private var ourSub: Option[String] = None
  private var held = Map.empty[String, DataFrame]

  private def inOwnDir[A](d: String)(cut: => A): A =
    Ckpt.reliableLock.synchronized {
      val sc = spark.sparkContext
      val prior = CheckpointDirAccess.get(sc)
      val sub = ourSub.getOrElse {
        // mint the UUID subdir ourselves (the same layout the public
        // setCheckpointDir creates) instead of calling it and reading
        // the result back — an app thread racing its own
        // setCheckpointDir between our set and our read could otherwise
        // be adopted as this chain's directory
        val path = new org.apache.hadoop.fs.Path(d,
          java.util.UUID.randomUUID().toString)
        val fs = path.getFileSystem(sc.hadoopConfiguration)
        fs.mkdirs(path)
        val s = fs.getFileStatus(path).getPath.toString
        ourSub = Some(s)
        s
      }
      CheckpointDirAccess.restore(sc, Some(sub))
      try cut
      finally CheckpointDirAccess.restore(sc, prior)
    }

  /** [[cutCounted]] without the count. */
  def cut(slot: String)(df: DataFrame): DataFrame = cutCounted(slot)(df)._1

  /** Cut `df` into `slot`, returning the cut and its row count, read off
    * the checkpoint's own materializing job — one job per cut on both
    * backends, so a convergence-checked loop pays one job per round. */
  def cutCounted(slot: String)(df: DataFrame): (DataFrame, Long) = {
    val (cur, n) = dir match {
      case Some(d) => inOwnDir(d)(GraftCheckpointBridge.cutCounted(df, reliable = true))
      case None    => GraftCheckpointBridge.cutCounted(df, reliable = false)
    }
    Ckpt.track(cur)
    held.get(slot).foreach(Ckpt.releaseResult)
    held += slot -> cur
    (cur, n)
  }

  /** Release every held checkpoint except the `keep` slots. Call once
    * on EVERY exit path — right before returning the result, and with
    * no `keep` from a failure handler (a loop that throws mid-round
    * must not strand its held rounds; see the operators' try/catch).
    * The context checkpoint dir needs no restore here: each cut
    * restores it exactly. */
  def close(keep: String*): Unit = {
    val ks = keep.toSet
    held.foreach { case (slot, df) => if (!ks.contains(slot)) Ckpt.releaseResult(df) }
    held = held.filter { case (slot, _) => ks.contains(slot) }
  }
}
