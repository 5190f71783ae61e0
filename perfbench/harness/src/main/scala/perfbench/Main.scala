package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{GraftSession, SparkEntry, Tables}
import graft.etl.{EtlJob, EtlRunner, Generator}
import graft.operators.Ckpt

/** The benchmark's JVM side: executes one plan (written by run.py from
  * the workload seed) in one fresh JVM, one client thread, closed loop.
  *
  * Plan lines are tab-separated; the first field is the pass (`warm` or
  * a number) or a directive:
  *   expect  <key> oracle <parquet path> | pin <fingerprint>
  *   source  <view> gen <rows> | file <table>
  *   <pass>  query|stream <key>
  *   <pass>  ddl  <name> <statement>
  *   <pass>  etl  <name> <format> <target> <mode> <columns> <extract sql>
  *   <pass>  jdbc <statement>            (target reset; errors ignored)
  *
  * Warm steps read `warm dir`: the measured tables, or a smaller copy of
  * them when the warm-up only has to compile and JIT code that does not
  * depend on the scale.
  *
  * Usage: perfbench.Main <plan.tsv> <data dir> <warm dir> <work dir> <result.json> <trace 0|1>
  */
final case class Step(pass: String, kind: String, f: IndexedSeq[String])

object Main {
  def main(args: Array[String]): Unit = {
    val Array(planPath, dataDir, warmDir, work, outPath, traceFlag) = args
    val traced = traceFlag == "1"
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val trace = new Trace(traced)
    val setup = mutable.LinkedHashMap.empty[String, Double]
    def timed[T](layer: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try trace(layer)(body) finally setup(s"${layer}_ms") = (System.nanoTime() - t0) / 1e6
    }

    val spark = timed("session.build")(GraftSession.build("perfbench"))
    val probes = if (traced) Some(new Probes(spark)) else None
    val etl = new EtlSide(spark, work, dataDir)
    val (plan, expects) = timed("inputs.prep") {
      val lines = scala.io.Source.fromFile(planPath).getLines().filter(_.nonEmpty)
        .map(_.split("\t", -1).toIndexedSeq).toIndexedSeq
      lines.filter(_.head == "source").foreach(l => etl.registerSource(l(1), l(2), l(3)))
      (lines.filterNot(l => l.head == "expect" || l.head == "source")
        .map(l => Step(l.head, l(1), l.drop(2))),
        lines.filter(_.head == "expect").map(l => l(1) -> (l(2), l(3))).toMap)
    }
    timed("tables.load")(for (d <- Seq(dataDir, warmDir).distinct; t <- Tables.all)
      Tables.load(spark, d, t).schema)

    val runner = new OpRunner(spark, trace, probes, etl)
    var opId = 0
    def run(step: Step): Option[OpRecord] = step.kind match {
      case "jdbc" => etl.exec(step.f(0)); None
      case _ =>
        opId += 1
        Some(runner.run(opId, step, if (step.pass == "warm") warmDir else dataDir))
    }

    val warmed = timed("warm")(plan.filter(_.pass == "warm").flatMap(run))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val s0 = Host.snap()
    val records = plan.filterNot(_.pass == "warm").flatMap(run)
    val s1 = Host.snap()
    val rssMb = Host.rssPeakMb
    val checked = runner.check(records, expects)
    etl.close()

    val out = Json.obj(
      "setup_s" -> setupS,
      "wall_s" -> (s1.ns - s0.ns) / 1e9,
      "rss_peak_mb" -> rssMb,
      "setup_layers_ms" -> setup.toMap,
      "host" -> Host.delta(s0, s1),
      "env" -> Json.obj(
        "cpus" -> GraftSession.cpus,
        "spark" -> spark.version,
        "java" -> System.getProperty("java.version"),
        "jvm_flags" -> scala.jdk.CollectionConverters.ListHasAsScala(
          java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments).asScala.toSeq),
      "spans" -> trace.summary.map { case (n, (c, t, s)) =>
        n -> Json.obj("n" -> c, "total_ms" -> t, "self_ms" -> s) },
      "warm_ops" -> warmed.map(r => Json.obj("name" -> r.name, "ms" -> r.ms, "ok" -> r.ok)),
      "ops" -> checked.map(_.json))
    writeFile(outPath, out.json)
    if (traced) {
      val originNs = System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
      writeFile(s"$work/trace.json", trace.json(originNs).json)
    }
    spark.stop()
  }

  def writeFile(path: String, s: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), s.getBytes("UTF-8")): Unit
}

/** One measured op's outcome. */
final case class OpRecord(id: Int, pass: String, kind: String, name: String, ms: Double,
                          ok: Boolean, err: String, fields: Map[String, Any]) {
  def json: Json.Raw = Json.obj((Seq[(String, Any)](
    "id" -> id, "pass" -> pass, "kind" -> kind, "name" -> name, "ms" -> ms,
    "ok" -> ok, "err" -> err) ++ fields.toSeq): _*)
}

/** Row count plus an order-insensitive fingerprint: the sum of a 64-bit
  * row hash, split into two halves so the sums cannot overflow. Columns
  * are hashed in name order, so column order does not matter either. */
object Fingerprint {
  private def q(c: String) = col(s"`${c.replace("`", "``")}`")

  private def aggs(names: Seq[String]): Seq[Column] = {
    val h = xxhash64(names.map(q): _*)
    Seq(count(lit(1)).as("n"), sum(shiftrightunsigned(h, 32)).as("hi"),
      sum(h.bitwiseAND(lit(0xFFFFFFFFL))).as("lo"))
  }

  def observe(df: DataFrame, obs: Observation): DataFrame = {
    val a = aggs(df.columns.sorted.toSeq)
    df.observe(obs, a.head, a.tail: _*)
  }

  def render(m: Map[String, Any]): String =
    Seq("n", "hi", "lo").map(k => Option(m.getOrElse(k, null)).getOrElse(0L)).mkString(":")

  /** The fingerprint of a DuckDB oracle result, its columns cast to the
    * engine result's types first so both sides hash identical values.
    * Cached next to the oracle file, per result schema. */
  def ofOracle(spark: SparkSession, path: String, schema: StructType): String = {
    val digest = java.security.MessageDigest.getInstance("SHA-1")
      .digest(schema.json.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString
    val cache = java.nio.file.Paths.get(s"$path.$digest.fp")
    if (java.nio.file.Files.exists(cache)) new String(java.nio.file.Files.readAllBytes(cache), "UTF-8")
    else {
      val fp = compute(spark, path, schema)
      java.nio.file.Files.write(cache, fp.getBytes("UTF-8"))
      fp
    }
  }

  private def compute(spark: SparkSession, path: String, schema: StructType): String = {
    val o = spark.read.parquet(path)
    val want = schema.fieldNames.sorted.toSeq
    val have = o.columns.sorted.toSeq
    if (want != have) s"columns ${have.mkString(",")} != ${want.mkString(",")}"
    else {
      val cast = o.select(want.map(n => q(n).cast(schema(n).dataType).as(n)): _*)
      val r: Row = cast.agg(aggs(want).head, aggs(want).tail: _*).head()
      render(Map("n" -> r.get(0), "hi" -> r.get(1), "lo" -> r.get(2)))
    }
  }
}

/** Sources, targets and the JDBC side of the ETL workload. */
final class EtlSide(spark: SparkSession, work: String, dataDir: String) {
  val url = "jdbc:derby:memory:perfbench;create=true"
  lazy val conn: java.sql.Connection = java.sql.DriverManager.getConnection(url)
  val targetDir = s"$work/etl"

  def registerSource(view: String, how: String, arg: String): Unit = how match {
    case "gen" =>
      val path = s"$work/src/$view"
      Generator.addresses(spark, arg.toLong).write.mode("overwrite").parquet(path)
      EtlRunner.registerSource(spark, view, path)
    case "file" => EtlRunner.registerSource(spark, view, s"$dataDir/$arg.parquet")
  }

  /** Target reset between passes; a DROP of a missing table is not an error here. */
  def exec(stmt: String): Unit = {
    val st = conn.createStatement()
    try st.execute(stmt)
    catch { case _: java.sql.SQLException if stmt.trim.toUpperCase.startsWith("DROP") => () }
    finally st.close()
  }

  def readBack(format: String, target: String): Long =
    if (format == "jdbc") {
      val st = conn.createStatement()
      try { val rs = st.executeQuery(s"SELECT COUNT(*) FROM $target"); rs.next(); rs.getLong(1) }
      finally st.close()
    } else spark.read.parquet(s"$targetDir/$target").count()

  def close(): Unit = try conn.close() catch { case _: Exception => () }
}

/** Runs single ops and reclaims after each, as Bench does: release the
  * result's checkpoints, then every graft-issued one, then the cache;
  * RDDs still persisted after that are counted as leaked and unpersisted. */
final class OpRunner(spark: SparkSession, trace: Trace,
                     probes: Option[Probes], etl: EtlSide) {
  private val runnerEtl = new EtlRunner(spark)
  private val schemas = mutable.Map.empty[String, StructType]
  private val originNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private def tagged[T](id: Int)(body: => T): T = probes.fold(body)(_.around(id)(body))

  def run(id: Int, step: Step, dataDir: String): OpRecord = step.kind match {
    case "query" | "stream" => query(id, step, dataDir)
    case "ddl" | "etl" => etlJob(id, step)
  }

  private def reclaim(id: Int, df: Option[DataFrame]): Map[String, Any] = {
    val t0 = System.nanoTime()
    var released = 0
    trace("ckpt.release", id) {
      df.foreach(d => released += Ckpt.releaseResult(d))
      released += Ckpt.releaseIssued(spark)
      spark.catalog.clearCache()
    }
    val persistent = spark.sparkContext.getPersistentRDDs
    persistent.values.foreach(_.unpersist(blocking = false))
    Map("release_ms" -> (System.nanoTime() - t0) / 1e6, "released" -> released,
      "leaked" -> persistent.size)
  }

  private def counters(id: Int): Map[String, Any] = probes.fold(Map.empty[String, Any]) { p =>
    val c = p.finish(id)
    val parent = trace.lastId("streams.replay", id)
    c.triggers.foreach { case (startMs, dur) =>
      trace.record("stream.trigger", originNs + startMs * 1000000L,
        originNs + (startMs + dur) * 1000000L, parent, id)
    }
    Map("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
      "failed_tasks" -> c.failedTasks, "run_ms" -> c.runMs, "cpu_ms" -> c.cpuNs / 1e6,
      "shuffle_read" -> c.shuffleRead, "shuffle_write" -> c.shuffleWrite,
      "spill" -> c.spill, "output_bytes" -> c.outputBytes, "task_skew" -> c.skew,
      "analysis_ms" -> c.analysisMs, "optimization_ms" -> c.optimizationMs,
      "planning_ms" -> c.planningMs, "qe_n" -> c.qeN,
      "batches" -> c.batches, "trigger_ms" -> c.triggerMs, "add_batch_ms" -> c.addBatchMs,
      "query_planning_ms" -> c.planningStreamMs, "wal_commit_ms" -> c.walCommitMs,
      "commit_offsets_ms" -> c.commitOffsetsMs, "state_rows" -> c.stateRows,
      "state_mem_bytes" -> c.stateMemBytes,
      "etl_spark_first_ms" -> (if (c.etlFirstStart == Long.MaxValue) 0L else c.etlFirstStart),
      "etl_spark_last_ms" -> c.etlLastEnd)
  }

  private def query(id: Int, step: Step, dataDir: String): OpRecord = {
    val key = step.f(0)
    val obs = Observation(s"perfbench_$id")
    val buildSpan = if (step.kind == "stream") "streams.replay" else "queries.build"
    var buildMs, sinkMs = 0.0
    val t0 = System.nanoTime()
    val result = try tagged(id) {
      val df = trace(buildSpan, id)(SparkEntry.queries(key)(spark, dataDir))
      val t1 = System.nanoTime()
      buildMs = (t1 - t0) / 1e6
      trace("queries.sink", id)(
        Fingerprint.observe(df, obs).write.format("noop").mode("overwrite").save())
      sinkMs = (System.nanoTime() - t1) / 1e6
      Right(df)
    } catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val c = counters(id)
    val fp = result match {
      case Right(df) => schemas(key) = df.schema; Fingerprint.render(obs.get)
      case Left(_) => ""
    }
    val rc = reclaim(id, result.toOption)
    // replay inputs and checkpoints of stream keys live under the
    // process work dir; remove them so nothing accumulates across passes
    if (step.kind == "stream")
      Option(new java.io.File(Tables.processWorkDir).listFiles()).foreach(
        _.foreach(f => Tables.deleteRecursively(f.getPath)))
    val rows = if (fp.isEmpty) 0L else fp.takeWhile(_ != ':').toLong
    OpRecord(id, step.pass, step.kind, key, ms, result.isRight,
      result.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}").getOrElse(""),
      Map("rows" -> rows, "fp" -> fp, "build_ms" -> buildMs,
        "sink_ms" -> sinkMs) ++ rc ++ c)
  }

  private def etlJob(id: Int, step: Step): OpRecord = {
    val (job, format, target) = step.kind match {
      case "ddl" => (EtlJob(step.f(0), "select 1", step.f(1), mode = "ddl"), "jdbc", "")
      case _ =>
        val Seq(name, format, target, mode, cols, extract) = step.f.take(6)
        (EtlJob(name, extract, target, mode, cols.split(",").toSeq), format, target)
    }
    val options = if (format == "jdbc") Map("url" -> etl.url) else Map.empty[String, String]
    val t0 = System.nanoTime()
    val result = try Right(tagged(id)(trace("etl.runJob", id)(
      runnerEtl.runJob(job, etl.targetDir, format, options))))
    catch { case e: Throwable => Left(e) }
    val returnedMs = System.currentTimeMillis()
    val ms = (System.nanoTime() - t0) / 1e6
    val c = counters(id)
    val rc = reclaim(id, None)
    val fields = result match {
      case Right(r) =>
        val back = if (step.kind == "ddl") 0L else etl.readBack(format, target)
        Map("rows" -> r.rowsWritten, "sent" -> r.rowsSent, "written" -> r.rowsWritten,
          "balanced" -> r.balanced, "readback" -> back, "job_s" -> r.elapsedSec,
          "returned_ms" -> returnedMs, "format" -> format, "extract" -> job.extract)
      case Left(_) => Map("rows" -> 0L, "format" -> format, "extract" -> job.extract)
    }
    OpRecord(id, step.pass, step.kind, job.name, ms,
      result.isRight && fields.getOrElse("balanced", step.kind == "ddl") == true,
      result.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}")
        .getOrElse(if (fields.getOrElse("balanced", true) == true) "" else "unbalanced"),
      fields ++ rc ++ c)
  }

  /** Compares every query/stream op's fingerprint with its key's
    * expectation and marks mismatches failed (in place of the record). */
  def check(records: IndexedSeq[OpRecord],
            expects: Map[String, (String, String)]): IndexedSeq[OpRecord] = {
    val want = mutable.Map.empty[String, String]
    def expected(key: String): String = want.getOrElseUpdate(key, expects.get(key) match {
      case Some(("pin", fp)) => fp
      case Some(("oracle", path)) => schemas.get(key).fold("no result")(
        sc => try Fingerprint.ofOracle(spark, path, sc)
        catch { case e: Exception => s"oracle unreadable: ${e.getMessage}" })
      case _ => "no expectation"
    })
    records.map {
      case r if r.ok && (r.kind == "query" || r.kind == "stream") =>
        val fp = r.fields("fp").toString
        val exp = expected(r.name)
        if (fp == exp) r.copy(fields = r.fields + ("expected" -> exp))
        else r.copy(ok = false, err = s"fingerprint $fp != expected $exp",
          fields = r.fields + ("expected" -> exp))
      case r => r
    }
  }
}

/** Prints `SparkEntry.oracleSql` for the given keys as one JSON object;
  * keys without an oracle are left out. */
object OracleSql {
  def main(keys: Array[String]): Unit = {
    val all = SparkEntry.oracleSql
    println(Json.value(keys.toSeq.flatMap(k => all.get(k).map(k -> _)).toMap))
  }
}
