package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local iteration
    // only — the driver always passes exactly two args)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
      case _ =>
        System.err.println("usage: graft.Verify <sfDir> <outDir> [key1,key2,...]")
        sys.exit(2)
    }
    val spark = GraftSession.build("graft-verify")
    new java.io.File(outDir).mkdirs()
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None        => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      // round 14 (ADVICE r13): retain the result and release it through
      // Ckpt.releaseResult once the parquet write has consumed it —
      // deterministic for BOTH backends. Under the one-conf-line
      // spark.graft.checkpointDir posture every result-backing cut is
      // reliable FILES, which the old persistent-RDD-only sweep never
      // freed — the 270-query sweep would have accumulated checkpoint
      // dirs until the GC-timed ContextCleaner backstop. releaseIssued
      // stays as the backstop sweep (it too deletes current-app
      // reliable files since round 14).
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        graft.operators.Ckpt.releaseResult(df)
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      graft.operators.Ckpt.releaseIssued(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val oracles = only match {
      case Some(names) => SparkEntry.oracleSql.filter(kv => names(kv._1))
      case None        => SparkEntry.oracleSql
    }
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
