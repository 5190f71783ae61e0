package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import graft.etl._

class EtlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("normalizeUppercase uppercases and rejects duplicates") {
    val df = Seq((1, "a")).toDF("id", "name")
    assert(SchemaTools.normalizeUppercase(df).columns.sameElements(Array("ID", "NAME")))
    val dup = Seq((1, 2)).toDF("id", "ID")
    val e = intercept[IllegalArgumentException](SchemaTools.normalizeUppercase(dup))
    assert(e.getMessage.contains("appeared twice"))
  }

  test("projectToTarget drops extra columns case-insensitively, keeps order") {
    val df = Seq((1, "x", "drop")).toDF("ID", "NAME", "EXTRA")
    val out = SchemaTools.projectToTarget(df, Seq("name", "id"))
    assert(out.columns.sameElements(Array("NAME", "ID")))
    val e = intercept[IllegalArgumentException](
      SchemaTools.projectToTarget(df, Seq("missing")))
    assert(e.getMessage.contains("missing"))
  }

  test("generator is deterministic and respects reference value domains") {
    val a = Generator.addresses(spark, 100).collect()
    val b = Generator.addresses(spark, 100).repartition(7).collect()
    assert(a.sortBy(_.getInt(0)).sameElements(b.sortBy(_.getInt(0))))
    assert(a.length == 100)
    val states = a.map(_.getAs[String]("state")).toSet
    assert(states.subsetOf(Set("CA", "NY", "TX", "FL", "IL")))
    val zips = a.map(_.getAs[String]("postal_code").toInt)
    assert(zips.forall(z => z >= 10000 && z <= 99999))
  }

  test("job config parses the reference properties layout") {
    val props = new java.util.Properties()
    props.setProperty("loader.jobs[0].name", "tableCreate")
    props.setProperty("loader.jobs[0].extract", "select 1")
    props.setProperty("loader.jobs[0].write", "setup")
    props.setProperty("loader.jobs[1].name", "addrx")
    props.setProperty("loader.jobs[1].extract", "SELECT * FROM addresses WHERE id < 13422")
    props.setProperty("loader.jobs[1].write", "addrx")
    props.setProperty("loader.jobs[1].columns", "id, city")
    val jobs = EtlJob.fromProps(props)
    assert(jobs.map(_.name) == Seq("tableCreate", "addrx"))
    assert(jobs(1).targetColumns == Seq("id", "city"))
  }

  test("fromProps recognizes the reference's DDL and INSERT write shapes") {
    // verbatim shapes from the reference application.properties:12-21
    val props = new java.util.Properties()
    props.setProperty("loader.jobs[0].name", "tableCreate")
    props.setProperty("loader.jobs[0].extract", "select 1")
    props.setProperty("loader.jobs[0].write",
      "CREATE TABLE IF NOT EXISTS addrx (id INTEGER PRIMARY KEY," +
        "street_address VARCHAR(100),city VARCHAR(50))")
    props.setProperty("loader.jobs[1].name", "addrx")
    props.setProperty("loader.jobs[1].extract",
      "select id,street_address,city from addresses where id <13422")
    props.setProperty("loader.jobs[1].write",
      "INSERT INTO addrx  (id, street_address, city)  " +
        "VALUES ( :ID,:STREET_ADDRESS,:CITY)")
    val jobs = EtlJob.fromProps(props)
    assert(jobs(0).mode == "ddl")
    assert(jobs(0).write.startsWith("CREATE TABLE"))
    assert(jobs(1).mode == "append")
    assert(jobs(1).write == "addrx")
    assert(jobs(1).targetColumns == Seq("id", "street_address", "city"))
  }

  test("CLI default path: DDL job with database-dialect SQL is skipped for file sinks") {
    val work = Files.createTempDirectory("graft_etl_ddl_file").toString
    Generator.addresses(spark, 100).write.mode("overwrite")
      .parquet(s"$work/addresses")
    EtlRunner.registerSource(spark, "addresses", s"$work/addresses")
    val props = new java.util.Properties()
    props.setProperty("loader.jobs[0].name", "tableCreate")
    props.setProperty("loader.jobs[0].extract", "select 1")
    // column-level PRIMARY KEY is target-database dialect Spark rejects —
    // the run must continue to the load job, not abort
    props.setProperty("loader.jobs[0].write",
      "CREATE TABLE IF NOT EXISTS addrx (id INTEGER PRIMARY KEY, city VARCHAR(50))")
    props.setProperty("loader.jobs[1].name", "addrx")
    props.setProperty("loader.jobs[1].extract", "select id, city from addresses")
    props.setProperty("loader.jobs[1].write", "addrx")
    props.setProperty("loader.jobs[1].mode", "overwrite")
    val results = new EtlRunner(spark).runAll(EtlJob.fromProps(props), work)
    assert(results.forall(_.balanced))
    assert(results(1).rowsSent == 100)
    assert(spark.read.parquet(s"$work/addrx").count() == 100)
  }

  test("INSERT without a column list parses; unparseable INSERT fails fast") {
    val props = new java.util.Properties()
    props.setProperty("loader.jobs[0].name", "nocols")
    props.setProperty("loader.jobs[0].extract", "select 1")
    props.setProperty("loader.jobs[0].write", "INSERT INTO addrx VALUES (:ID, :CITY)")
    val jobs = EtlJob.fromProps(props)
    assert(jobs(0).write == "addrx" && jobs(0).targetColumns.isEmpty)

    val bad = new java.util.Properties()
    bad.setProperty("loader.jobs[0].name", "weird")
    bad.setProperty("loader.jobs[0].extract", "select 1")
    bad.setProperty("loader.jobs[0].write", "INSERT OVERWRITE addrx SELECT 1")
    val e = intercept[IllegalArgumentException](EtlJob.fromProps(bad))
    assert(e.getMessage.contains("could not be parsed"))
  }

  test("reference job sequence: DDL once, then batched JDBC load (Derby)") {
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    val work = Files.createTempDirectory("graft_etl_jdbc").toString
    Generator.addresses(spark, 20000).write.mode("overwrite")
      .parquet(s"$work/addresses")
    EtlRunner.registerSource(spark, "addresses", s"$work/addresses")

    val url = "jdbc:derby:memory:etlSeq;create=true"
    val props = new java.util.Properties()
    props.setProperty("loader.jobs[0].name", "tableCreate")
    props.setProperty("loader.jobs[0].extract", "select 1")
    // Derby has no IF NOT EXISTS; semantics of reference job 0 otherwise
    props.setProperty("loader.jobs[0].write",
      "CREATE TABLE addrx (id INTEGER PRIMARY KEY," +
        "street_address VARCHAR(100),city VARCHAR(50),state VARCHAR(50)," +
        "postal_code VARCHAR(20),country VARCHAR(50))")
    props.setProperty("loader.jobs[1].name", "addrx")
    props.setProperty("loader.jobs[1].extract",
      "select id,street_address,city,state,postal_code,country " +
        "from addresses where id <13422")
    props.setProperty("loader.jobs[1].write",
      "INSERT INTO addrx (id, street_address, city, state, postal_code, country) " +
        "VALUES ( :ID,:STREET_ADDRESS,:CITY,:STATE,:POSTAL_CODE,:COUNTRY)")

    val jobs = EtlJob.fromProps(props)
    val results = new EtlRunner(spark).runAll(jobs, work, "jdbc", Map("url" -> url))
    assert(results.forall(_.balanced))
    assert(results(1).rowsSent == 13421)
    assert(results(1).rowsWritten == 13421)

    // read back through the partitioned JDBC source — full round trip
    val back = graft.sources.Sources.jdbc(spark, url, "addrx",
      partitionColumn = Some(("ID", 0L, 20000L)), numPartitions = 5)
    assert(back.count() == 13421)
    val src = spark.sql("select id from addresses where id < 13422")
      .collect().map(_.getInt(0)).sorted
    val got = back.select("ID").collect().map(_.getInt(0)).sorted
    assert(got.sameElements(src))
  }

  test("runner end-to-end: demo copy job balances sent == written") {
    val work = Files.createTempDirectory("graft_etl").toString
    Generator.addresses(spark, 20000).write.mode("overwrite")
      .parquet(s"$work/addresses")
    EtlRunner.registerSource(spark, "addresses", s"$work/addresses")
    val job = EtlJob(
      name = "addrx",
      extract = "SELECT id, street_address, city, state, postal_code, country " +
        "FROM addresses WHERE id < 13422",
      write = "addrx", mode = "overwrite")
    val r = new EtlRunner(spark).runJob(job, work)
    assert(r.rowsSent == 13421)
    assert(r.rowsWritten == 13421)
    assert(r.balanced)
    val readBack = spark.read.parquet(s"$work/addrx")
    assert(readBack.count() == 13421)
    assert(readBack.columns.forall(c => c == c.toUpperCase))
  }

  test("retried write: a task that fails mid-write is counted once") {
    // the shared session runs local[4, 3]: partition 0's first attempt
    // dies after 500 rows reached the writer, the retry succeeds
    import org.apache.spark.TaskContext
    val work = Files.createTempDirectory("graft_etl_retry").toString
    spark.range(0, 4000, 1, 4).as[Long]
      .mapPartitions { it =>
        val ctx = TaskContext.get()
        it.zipWithIndex.map { case (id, i) =>
          if (ctx.partitionId() == 0 && ctx.attemptNumber() == 0 && i == 500)
            throw new RuntimeException("first attempt dies mid-write (simulated)")
          id
        }
      }
      .toDF("id").createOrReplaceTempView("flaky_src")
    val job = EtlJob(name = "flaky", extract = "SELECT id FROM flaky_src",
      write = "flaky", mode = "overwrite")
    val failedAttempts = new java.util.concurrent.atomic.AtomicInteger
    val seen = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.reason != org.apache.spark.Success) failedAttempts.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(seen)
    // runJob drains the listener bus before returning, so `seen` is final
    val r = try new EtlRunner(spark).runJob(job, work)
      finally spark.sparkContext.removeSparkListener(seen)
    assert(failedAttempts.get == 1)
    assert(r.rowsSent == 4000)
    assert(r.rowsWritten == r.rowsSent)
    assert(r.balanced)
    assert(spark.read.parquet(s"$work/flaky").count() == 4000)
  }

  test("ListenerBusAccess.observed: Some after the action, bounded None without it") {
    import org.apache.spark.graft.ListenerBusAccess
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions._
    val done = Observation("bus_done")
    spark.range(0, 1234, 1, 4).observe(done, count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    assert(ListenerBusAccess.observed(spark.sparkContext, done, 30000)
      .map(_.getAs[Long]("n")).contains(1234L))
    // observed but never executed: the wait must give up, not hang
    val never = Observation("bus_never")
    spark.range(10).observe(never, count(lit(1)).as("n"))
    val t0 = System.nanoTime()
    assert(ListenerBusAccess.observed(spark.sparkContext, never, 500).isEmpty)
    assert((System.nanoTime() - t0) / 1e6 < 5000)
  }

  test("Dataset.observe: accounting metrics ride the write, no second pass") {
    // the reference's row accounting (EtlRunner parity) as Spark-native
    // observed metrics: aggregates accumulate DURING the action instead
    // of re-scanning the source for a count
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions._
    val obs = Observation("etl_metrics")
    val src = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    val expected = src.count()
    src.observe(obs, count(lit(1)).as("n_rows"),
        sum(col("o_totalprice")).as("total"),
        count(when(col("o_orderstatus") === "F", 1)).as("n_filled"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    assert(m("n_rows") == expected)
    assert(m("n_filled").asInstanceOf[Long] > 0L
      && m("n_filled").asInstanceOf[Long] < expected)
    assert(m("total").asInstanceOf[Double] > 0.0)
  }
}
