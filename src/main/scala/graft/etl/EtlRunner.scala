package graft.etl

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import java.util.concurrent.atomic.LongAdder

/** Sequential job orchestration with row accounting — the reference's
  * main lifecycle (`EtlMain.kt:28-37,42-62`) on Spark's execution model.
  *
  * The coroutine channel + chunked loader (`EtlMain.kt:51,72-88`)
  * disappears: scan→transform→write pipelines inside executor tasks with
  * bounded memory, and JDBC sinks batch via the writer's `batchsize`
  * option (2000, matching `EtlMain.kt:74`). The reference's
  * sent/received counters (`EtlMain.kt:48-50,60-61`) map to:
  *  - sent: an `Observation` on the written plan (no second scan);
  *  - received: executor task output metrics summed by a listener.
  */
class EtlRunner(spark: SparkSession) {

  /** Result of one job: sent == received is the reference's end-of-job
    * invariant (`EtlMain.kt:60-61`). */
  final case class JobResult(name: String, rowsSent: Long, rowsWritten: Long,
                             elapsedSec: Double) {
    def balanced: Boolean = rowsSent == rowsWritten
  }

  private val written = new LongAdder
  // Scope counting to THIS job group: stages belonging to other
  // concurrent actions on the session must not pollute the count.
  private val myGroup = s"graft-etl-${System.nanoTime()}"
  private val myStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .map(_.getProperty("spark.jobGroup.id")).orNull
      if (group == myGroup) e.stageIds.foreach(id => myStages.add(id))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null && myStages.contains(e.stageId))
        written.add(e.taskMetrics.outputMetrics.recordsWritten)
  }

  /** Execute a DDL job's statement exactly once — against the target
    * database for jdbc jobs, else against the engine's own catalog. The
    * reference routed DDL through the per-row insert path (quirk Q4,
    * `application.properties:12-15`); here it never touches row flow. */
  private def runDdl(job: EtlJob, format: String,
                     options: Map[String, String]): Unit =
    if (format == "jdbc") {
      val props = new java.util.Properties()
      options.get("user").foreach(props.setProperty("user", _))
      options.get("password").foreach(props.setProperty("password", _))
      val conn = java.sql.DriverManager.getConnection(options("url"), props)
      try { val st = conn.createStatement(); try st.execute(job.write) finally st.close() }
      finally conn.close()
    } else {
      // file sinks have no table to create — but the DDL may still be
      // meaningful engine-side (CREATE VIEW etc.). Try it; if Spark's
      // parser/analyzer rejects it (target-database dialect, e.g. the
      // reference's column-level PRIMARY KEY), skip with a note instead
      // of aborting the whole job sequence: file formats are
      // schema-on-write and need no setup.
      try spark.sql(job.write)
      catch { case e: org.apache.spark.sql.AnalysisException =>
        println(s"[etl] ddl job ${job.name} skipped for format=$format " +
          s"(statement is target-database dialect: ${e.getSimpleMessage})")
      }
    }

  /** Run `extract` natively (Spark SQL over whatever views the caller
    * registered), normalize names, project to the target schema, write. */
  def runJob(job: EtlJob, targetDir: String,
             format: String = "parquet",
             options: Map[String, String] = Map.empty): JobResult = {
    val t0 = System.nanoTime()
    if (job.mode.equalsIgnoreCase("ddl")) {
      runDdl(job, format, options)
      return JobResult(job.name, 0L, 0L, (System.nanoTime() - t0) / 1e9)
    }
    val extracted = spark.sql(job.extract)
    val normalized = SchemaTools.normalizeUppercase(extracted)
    val projected = SchemaTools.projectToTarget(normalized, job.targetColumns)

    val obs = new Observation(s"etl_${job.name}_${System.nanoTime()}")
    val observed = projected.observe(obs, count(lit(1)).as("sent"))

    // accept the same mode strings DataFrameWriter.mode(String) accepts
    val saveMode = job.mode.toLowerCase match {
      case "append" => SaveMode.Append
      case "overwrite" => SaveMode.Overwrite
      case "ignore" => SaveMode.Ignore
      case "error" | "errorifexists" | "default" => SaveMode.ErrorIfExists
      case other => throw new IllegalArgumentException(s"unknown save mode: $other")
    }
    written.reset()
    myStages.clear()
    spark.sparkContext.setJobGroup(myGroup, s"etl:${job.name}")
    spark.sparkContext.addSparkListener(listener)
    val (sent, rowsWritten) =
      try {
        val writer = observed.write
          .mode(saveMode)
          .format(format)
          .options(options)
        val isJdbc = format == "jdbc"
        if (isJdbc)
          // batched inserts, 2000 rows per batch — parity with the
          // reference's chunked loader (EtlMain.kt:74); concurrent
          // connections bounded by partition count (pool-parity with
          // max 5, DatabaseBean.kt:59).
          writer.option("batchsize", "2000").option("dbtable", job.write).save()
        else writer.save(s"$targetDir/${job.write}")
        // Both counters are listener-delivered: the observation completes
        // on the listener bus, and so do the task-end events that feed
        // `written`. `observed` drains the bus first, so both are final
        // here, while the listener is still attached.
        val sent = org.apache.spark.graft.ListenerBusAccess
          .observed(spark.sparkContext, obs, 60000L)
          .map(_.getAs[Long]("sent"))
          .getOrElse(throw new IllegalStateException(
            s"etl job ${job.name}: the write finished but its sent-row " +
              "observation did not arrive within 60 s"))
        // Spark's v1 JDBC writer does not populate task output metrics,
        // so listener accounting would report 0 forever. A successful
        // save() committed every partition, i.e. every observed row
        // reached the database — the observed count IS the written
        // count. Listener accounting covers file formats only; there a
        // failed task attempt reports no records written, so a retried
        // task is counted once (EtlSpec's retried-write case).
        (sent, if (isJdbc) sent else written.sum())
      } finally {
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.removeSparkListener(listener)
      }

    JobResult(job.name, sent, rowsWritten, (System.nanoTime() - t0) / 1e9)
  }

  /** Run all jobs sequentially (reference `EtlMain.kt:28-37`), logging
    * per-job totals like the reference's end-of-job accounting. DDL jobs
    * execute first-in-sequence like any other (the reference lists its
    * `tableCreate` job before the loads). */
  def runAll(jobs: Seq[EtlJob], targetDir: String,
             format: String = "parquet",
             options: Map[String, String] = Map.empty): Seq[JobResult] =
    jobs.map { job =>
      val r = runJob(job, targetDir, format, options)
      println(f"[etl] job ${r.name}: sent=${r.rowsSent} written=${r.rowsWritten} " +
        f"balanced=${r.balanced} in ${r.elapsedSec}%.1f s")
      r
    }
}

object EtlRunner {
  /** Read a source table into a temp view for extract SQL to reference —
    * the Spark analog of the reference's `source` datasource
    * (`DatabaseBean.kt:26-30`): format+options instead of a JDBC pool. */
  def registerSource(spark: SparkSession, viewName: String, path: String,
                     format: String = "parquet",
                     options: Map[String, String] = Map.empty): DataFrame = {
    val df = spark.read.format(format).options(options).load(path)
    df.createOrReplaceTempView(viewName)
    df
  }
}
