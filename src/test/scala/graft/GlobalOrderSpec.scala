package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.GlobalOrder

/** Round-17 pins for the two-phase global ordering (VERDICT r16 #4):
  * [[GlobalOrder]] must be VALUE-IDENTICAL to the naive
  * single-partition `Window.orderBy` it replaces in c83/c45 —
  * including when the range layout genuinely splits the relation
  * across several partitions, so the partition-boundary offsets are
  * exercised, not just the degenerate one-partition case. */
class GlobalOrderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Deterministic (token, freq) relation with UNIQUE (freq desc,
    * token asc) order keys and enough rows to span range partitions. */
  private def freqs = (1 to 500).map { i =>
    (f"tok$i%04d", (i * 7919L) % 1000 + 1)
  }.toDF("token", "_f")

  private def withMultiPartitions[A](body: => A): A = {
    val coalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try body
    finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", coalesce)
  }

  test("rank + running sum match the naive global window (multi-partition)") {
    withMultiPartitions {
      val order = Seq(col("_f").desc, col("token").asc)
      val w = Window.orderBy(order: _*)
      val naive = freqs
        .withColumn("_rk", row_number().over(w))
        .withColumn("_cum", sum(col("_f"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
        .toSet
      // with AQE coalescing disabled the range exchange keeps the
      // session's 4 shuffle partitions, so the boundary offsets are
      // genuinely exercised (500 rows split 4 ways)
      val staged = GlobalOrder.withRankAndRunningSum(
        freqs, order, Some("_rk"), Some(("_f", "_cum")))
      val twoPhase = staged
        .select(col("token"), col("_f"), col("_rk"), col("_cum"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
        .toSet
      assert(twoPhase == naive)
      graft.operators.Ckpt.releaseIssued(spark)
    }
  }

  test("rank-only and cumsum-only forms match the naive window") {
    withMultiPartitions {
      val order = Seq(col("_f").desc, col("token").asc)
      val w = Window.orderBy(order: _*)
      val naiveRank = freqs.withColumn("r", row_number().over(w))
        .collect().map(r => (r.getString(0), r.getInt(2))).toSet
      val rank = GlobalOrder.withRankAndRunningSum(freqs, order, Some("r"), None)
        .select("token", "r")
        .collect().map(r => (r.getString(0), r.getInt(1))).toSet
      assert(rank == naiveRank)
      val naiveCum = freqs.withColumn("c",
          sum(col("_f")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .collect().map(r => (r.getString(0), r.getLong(2))).toSet
      val cum = GlobalOrder.withRunningSum(freqs, order, "_f", "c")
        .select("token", "c")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(cum == naiveCum)
      graft.operators.Ckpt.releaseIssued(spark)
    }
  }

  test("empty input yields empty output") {
    val empty = freqs.filter(col("_f") < 0)
    assert(GlobalOrder.withRankAndRunningSum(empty, Seq(col("_f").desc),
      Some("r"), None).count() == 0)
    graft.operators.Ckpt.releaseIssued(spark)
  }

  test("output rank column stays IntegerType (schema parity with row_number)") {
    val out = GlobalOrder.withRankAndRunningSum(freqs,
      Seq(col("_f").desc, col("token").asc), Some("r"), None)
    assert(out.schema("r").dataType == org.apache.spark.sql.types.IntegerType)
    graft.operators.Ckpt.releaseIssued(spark)
  }

  test("rank past Int.MaxValue rows throws at the driver instead of wrapping") {
    // fake boundary counts: three partitions totalling 2^31 rows
    val big = Seq((0, 1L << 30, 0L), (1, (1L << 30) - 1, 0L), (2, 1L, 0L))
    val e = intercept[ArithmeticException](GlobalOrder.offsets(big, rank = true))
    assert(e.getMessage.contains("2147483648"))
    // one row fewer fits, and the offsets are the preceding totals
    val fits = big.init :+ ((2, 0L, 5L))
    assert(GlobalOrder.offsets(fits, rank = true) ==
      Seq((0, 0L, 0L), (1, 1L << 30, 0L), (2, Int.MaxValue.toLong, 0L)))
    // a cumsum-only call has no IntegerType column to wrap
    assert(GlobalOrder.offsets(big, rank = false).last._2 == Int.MaxValue.toLong)
  }

  test("a null in the running-sum column fails loudly and holds no checkpoint") {
    val withNull = freqs.withColumn("_f",
      when(col("token") === "tok0250", lit(null)).otherwise(col("_f")))
    val before = graft.operators.Ckpt.issuedCount
    val e = intercept[IllegalArgumentException](GlobalOrder.withRunningSum(
      withNull, Seq(col("_f").desc, col("token").asc), "_f", "c"))
    assert(e.getMessage.contains("1 null"))
    assert(graft.operators.Ckpt.issuedCount == before,
      "the staged cut must be released when the check throws")
  }
}
