package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every declared query runs on sf0.001 and yields a sane result. The
  * full value-level check is tools/check.py against DuckDB. */
class SmokeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"query $name runs on sf0.001") {
      val df = fn(spark, dir)
      assert(df.columns.nonEmpty)
      // exact dedup/anti-join style queries may legitimately be small,
      // but none should error; most should be non-empty
      val n = df.count()
      assert(n >= 0)
    }
  }
}
