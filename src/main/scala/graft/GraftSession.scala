package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * One `SparkSession` per process (SURVEY.md §3.3): UTC timezone for
  * oracle parity, AQE on for runtime re-planning (skew joins, partition
  * coalescing), and shuffle partitions sized to the local core count
  * rather than the 200 default — on a real cluster this would be set to
  * 2-3× total executor cores.
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def build(appName: String = "graft", master: String = s"local[$cpus]"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // safety net under the round-13 checkpoint lifecycle: operators
      // release superseded rounds themselves and callers release
      // result-backing cuts (Ckpt.releaseResult / releaseIssued), but a
      // caller that drops a reliable-mode result without releasing it
      // would otherwise strand its files in the checkpoint dir forever;
      // with this set the ContextCleaner deletes them when the RDD is
      // GC'd. (Local-mode blocks already get that treatment by
      // default.) Deterministic release remains the primary path — GC
      // timing is a backstop, not a budget.
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // round 14: the durable-posture end-to-end proof needs the WHOLE
      // packaged surface (verify sweep + bench) runnable in reliable
      // mode without code edits — the env var feeds the session conf
      // that CkptChain resolves (conf set → reliable, else local). Unset =
      // unchanged local-checkpoint behavior.
      .config(sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR")
        .map(d => Map("spark.graft.checkpointDir" -> d))
        .getOrElse(Map.empty[String, String]))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // harness opt-in: the checkpoint lifecycle's deliberate
    // unpersist-of-superseded-rounds otherwise logs one scary (and
    // here meaningless) lineage-truncation warning per released round
    graft.operators.Ckpt.quietDeliberateUnpersistWarnings()
    spark
  }
}
