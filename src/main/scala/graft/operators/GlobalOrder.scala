package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-phase global ordering (round 17, VERDICT r16 #4 / guide §2):
  * `row_number()` and running sums over a TOTAL order without the
  * single-partition window (`Window.orderBy` with no partitionBy moves
  * the whole relation to ONE task — the classic scale-killer the Verify
  * tail's "No Partition Defined" warnings flag).
  *
  * Phase 1: range-partition by the order key (so partition `i`'s rows
  * all precede partition `i+1`'s in the global order), then compute the
  * PER-PARTITION rank / running sum with a window partitioned on
  * `spark_partition_id()` — parallel across partitions, each task sorts
  * only its slice. Phase 2: per-partition row counts / sums form a
  * partition-boundary table (≤ shuffle-partition-count rows — bounded
  * METADATA, the one collect this helper does), turned into
  * preceding-partition offsets on the driver and broadcast-joined back:
  * global rank = local rank + rows before this partition, global
  * running sum = local running sum + sum before this partition.
  *
  * Value-identity requires the order key to be UNIQUE per row (every
  * caller here orders by a key that includes a tiebreaker column):
  * with unique keys the range partitioner cannot split a tie group
  * across partitions, so local-rank-plus-offset IS the global
  * row_number and the local-cumsum-plus-offset IS the global running
  * sum — pinned against the naive global window in GlobalOrderSpec.
  *
  * The staged relation is checkpoint-cut once so the boundary
  * aggregation and the returned plan read the SAME materialization
  * (`spark_partition_id` is nondeterministic; two independent
  * executions are deterministic on this engine but the cut makes the
  * single-evaluation structural — and the result plan reuses the
  * phase-1 work instead of recomputing it).
  */
object GlobalOrder {

  /** `df` plus `rankOut` = global row_number() over `order` and
    * (optionally) `cumOut` = running sum of `sumSrc` (an integral
    * column) over the same order, currentRow-inclusive.
    *
    * Fails loudly instead of diverging from the naive window:
    *   - the rank column is IntegerType like `row_number()`; past
    *     `Int.MaxValue` rows it would wrap, so [[offsets]] throws an
    *     `ArithmeticException` at the driver instead;
    *   - the running-sum column must hold no nulls. A null at the start
    *     of a partition makes the local running sum null, and null plus
    *     the partition offset stays null where the naive window carries
    *     the preceding sum. The boundary aggregation counts nulls in the
    *     same job and throws an `IllegalArgumentException` if any are
    *     found; callers `coalesce` first if nulls should count as 0. */
  def withRankAndRunningSum(df: DataFrame, order: Seq[Column],
                            rankOut: Option[String],
                            sum2: Option[(String, String)]): DataFrame = {
    require(rankOut.nonEmpty || sum2.nonEmpty, "nothing to compute")
    val spark = df.sparkSession
    sum2.foreach { case (src, _) =>
      val dt = df.schema(src).dataType
      require(dt == org.apache.spark.sql.types.LongType ||
        dt == org.apache.spark.sql.types.IntegerType,
        s"running-sum column '$src' must be integral, got $dt")
    }
    // phase 1: range layout + per-partition window
    val w = Window.partitionBy("_gp").orderBy(order: _*)
    val withLocal0 = df.repartitionByRange(order: _*)
      .withColumn("_gp", spark_partition_id())
      .withColumn("_glr", row_number().over(w))
    val withLocal = sum2.fold(withLocal0) { case (src, _) =>
      withLocal0.withColumn("_glc", sum(col(src))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    }
    val staged = Ckpt.cut(withLocal)
    // phase 2: boundary table → preceding-partition offsets (driver-side
    // over ≤ #partitions rows — bounded metadata, not data)
    val aggs = Seq(count(lit(1)).as("_gn")) ++ sum2.toSeq.flatMap { case (src, _) =>
      Seq(sum(col(src)).as("_gs"),
        count(when(col(src).isNull, lit(1))).as("_gz"))
    }
    val offsetRows = try {
      val bounds = staged.groupBy(col("_gp")).agg(aggs.head, aggs.tail: _*)
        .orderBy("_gp").collect()
      sum2.foreach { case (src, _) =>
        val nulls = bounds.map(_.getLong(3)).sum
        require(nulls == 0, s"running-sum column '$src' holds $nulls null " +
          "value(s); coalesce it first if nulls should count as 0")
      }
      offsets(bounds.map(r =>
        (r.getInt(0), r.getLong(1), if (sum2.nonEmpty) r.getLong(2) else 0L)).toSeq,
        rank = rankOut.nonEmpty)
    } catch { case t: Throwable => Ckpt.releaseResult(staged); throw t }
    import spark.implicits._
    val offDf = offsetRows.toDF("_gp", "_gro", "_gso")
    val joined = staged.join(broadcast(offDf), "_gp")
    val withRank = rankOut.fold(joined)(n =>
      joined.withColumn(n, (col("_glr") + col("_gro")).cast("int")))
    val withCum = sum2.fold(withRank) { case (_, out) =>
      withRank.withColumn(out, col("_glc") + col("_gso"))
    }
    withCum.drop("_gp", "_glr", "_glc", "_gro", "_gso")
  }

  /** Preceding-partition offsets from the boundary table: for each
    * (partition, rows, sum) in partition order, the partition with the
    * row count and sum of every partition before it. With `rank`, a
    * total above `Int.MaxValue` rows throws instead of letting the
    * IntegerType rank wrap. */
  private[graft] def offsets(bounds: Seq[(Int, Long, Long)],
                             rank: Boolean): Seq[(Int, Long, Long)] = {
    val total = bounds.map(_._2).sum
    if (rank && total > Int.MaxValue)
      throw new ArithmeticException(
        s"global rank over $total rows overflows the IntegerType rank column")
    bounds.zip(bounds.scanLeft((0L, 0L)) { case ((r, s), (_, n, x)) => (r + n, s + x) })
      .map { case ((p, _, _), (rOff, sOff)) => (p, rOff, sOff) }
  }

  /** Global running sum (currentRow-inclusive) of `sumSrc` over `order`
    * as `out` — the cumsum-only form. */
  def withRunningSum(df: DataFrame, order: Seq[Column], sumSrc: String,
                     out: String): DataFrame =
    withRankAndRunningSum(df, order, None, Some((sumSrc, out)))
}
