package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Mechanical assertions for the physical-plan claims in PLANS.md —
  * the shapes that make queries survive a 100× scale-up must hold in
  * the actual executed plans, not just in prose. */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  // formatted mode prints full scan details (the default toString
  // truncates ReadSchema); codegen mode reports WholeStageCodegen
  // subtrees even under AQE's not-yet-final plan
  private def planAs(name: String, mode: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString(mode))

  test("filter pushdown and column pruning reach the parquet scan (a12)") {
    val p = planAs("a12_filter_project", "formatted")
    assert(p.contains("PushedFilters: ["), s"no pushed filters:\n$p")
    assert("PushedFilters: \\[[^\\]]*LessThan".r.findFirstIn(p).isDefined,
      "the < predicate must be pushed to the scan")
    // projection pruning: the lineitem scan must not read all 16 columns
    val readSchema = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p)
    assert(readSchema.isDefined)
    val nCols = readSchema.get.group(1).split(",").length
    assert(nCols <= 6, s"scan reads $nCols columns — pruning failed:\n$p")
  }

  test("star join broadcasts every dimension, fact side never sort-merges (q3)") {
    val p = plan("q3_star_join")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 4, s"expected >=4 broadcast joins, got $broadcasts:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dimension join fell back to SMJ:\n$p")
  }

  test("top-k plans as TakeOrderedAndProject, not global sort (q22)") {
    val p = plan("q22_topk")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator:\n$p")
  }

  test("text quality/token features stay on the columnar/codegen path (c8, c9)") {
    for (q <- Seq("c8_text_quality", "c9_token_count")) {
      // AQE reports codegen only on the FINAL plan — execute first;
      // codegen stages print as "*(n)" prefixes in the adaptive plan.
      // (c8's stopword lambda is a higher-order function and evaluates
      // interpreted within its Project — bounded by stoplist size per
      // word — while everything around it stays codegen'd.)
      val df = SparkEntry.queries(q)(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("*("), s"$q has no codegen stage markers:\n$p")
      assert(!p.contains("DeserializeToObject"),
        s"$q fell out of the columnar/codegen path into object ops:\n$p")
    }
  }

  test("exact dedup pre-aggregates before the semi join (c1)") {
    val p = plan("c1_dedup_exact")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"two-level aggregation missing:\n$p")
    assert(p.toLowerCase.contains("leftsemi"), s"semi join missing:\n$p")
  }

  test("decontamination broadcasts the benchmark shingles, never sort-merges (c25)") {
    val p = plan("c25_decontam")
    assert(p.contains("BroadcastHashJoin"), s"benchmark side not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled against the benchmark set:\n$p")
  }

  test("quantile gate broadcasts one scalar threshold; data side never shuffles (c26)") {
    val df = SparkEntry.queries("c26_quantile_filter")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"threshold not broadcast-crossed:\n$p")
    // the only exchanges allowed are the 1-row threshold aggregate's
    // (SinglePartition) and the final presentation sort (range) — the
    // data rows must never hash-repartition on their way to the filter
    assert(!p.contains("Exchange hashpartitioning"),
      s"unexpected data shuffle:\n$p")
  }

  test("passage chunking is shuffle-free: one codegen pass + explode (c47)") {
    // the OPERATOR, not the query (whose orderBy adds a range exchange):
    // no exchange of any kind — chunking is embarrassingly parallel
    val p = graft.operators.TextAnalysis.chunkPassages(
        graft.Tables.load(spark, dir, "documents"), "doc_id", "text", 16, 8)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"chunking introduced a shuffle:\n$p")
    assert(p.contains("Generate posexplode"), s"no posexplode generate:\n$p")
    // the whole operator is ONE whole-stage-codegen span over a
    // 2-column pruned scan
    assert(p.contains("*(1) Generate"), s"explode fell out of codegen:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan not pruned to (id, text):\n$p")
  }

  test("model-sized relations broadcast, corpus never sort-merges (c45, c46, c48)") {
    // CCNet buckets / DSIR ratios / NB grid+priors are all bounded by
    // (vocab|buckets|V×C) — every join against the corpus-sized stream
    // must be broadcast or shuffled-hash, never a sort-merge of the corpus
    for (n <- Seq("c45_ccnet_buckets", "c46_dsir_weights", "c48_nb_classifier")) {
      val p = plan(n)
      assert(!p.contains("SortMergeJoin"), s"$n sort-merges:\n$p")
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
        s"$n never broadcasts its model relation:\n$p")
    }
  }

  test("ngram novelty never joins on the shingle string (c59)") {
    // the min-id aggregation must absorb the shingle text; the only
    // join is the doc-keyed stitch of two doc-sized aggregates
    val p = plan("c59_ngram_novelty")
    assert(!"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[_s".r
      .findFirstIn(p).isDefined, s"c59 joins on the shingle string:\n$p")
    assert(p.contains("partial_min") || p.contains("partial_count"),
      s"c59 aggregations are not map-side combined:\n$p")
  }

  test("hard negatives broadcast the corpus, one scoring pass (c58)") {
    val p = plan("c58_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"c58 never broadcasts:\n$p")
    assert(!p.contains("SortMergeJoin"), s"c58 sort-merges:\n$p")
  }

  // ---------------------------------------------------------------------
  // Regression SWEEP over every SparkEntry.queries plan — the spot checks
  // above pin specific claims; this locks the general discipline so a NEW
  // query silently introducing a scale-killer turns the suite red.
  //
  // Streaming (s*) keys are excluded: their returned frame is a
  // memory-sink LocalTableScan (the plan that matters ran inside the
  // stream), and constructing one replays a whole stream. Their state
  // and watermark discipline is asserted in StreamingSpec instead.
  // ---------------------------------------------------------------------

  // the operators a key may keep, read from its declaration (each
  // allowance states its reason there)
  private lazy val allowed: Map[String, Set[String]] =
    SparkEntry.declared.map(d => d.key -> d.allow.map(_.operator).toSet).toMap

  // operators allowed ABOVE the single presentation sort: output shaping
  // only. A global Sort below anything else is a mid-plan total order —
  // the thing that dies at 100 TB unless bounded by a limit.
  private val presentationOps = Set(
    "AdaptiveSparkPlan", "Project", "Coalesce", "ColumnarToRow",
    "WholeStageCodegen", "ResultQueryStage", "InputAdapter",
    // sort under a limit is bounded (the offset/limit spellings that do
    // not collapse into TakeOrderedAndProject)
    "GlobalLimit", "LocalLimit", "CollectLimit", "CollectOrderedLimit")

  private def opName(line: String): String =
    line.dropWhile(!_.isLetter).takeWhile(_.isLetter)

  // an executed AQE plan prints Final then Initial sections; judge only
  // the final one (pre-AQE sort-merge joins are expected noise)
  private def finalSection(p: String): String =
    p.split("== Initial Plan ==").head

  private def globalSortViolation(p: String): Option[String] = {
    val lines = p.linesIterator.toVector
    val sortIdx = lines.zipWithIndex.collect {
      case (l, i) if """Sort \[[^\]]*\], true,""".r.findFirstIn(l).isDefined => i
    }
    if (sortIdx.isEmpty) None
    else if (sortIdx.length > 1) Some(s"${sortIdx.length} global sorts")
    else {
      val above = lines.take(sortIdx.head)
        .filterNot(_.contains("== Final Plan ==")) // AQE section marker
        .map(opName)
        .filterNot(n => n.isEmpty || presentationOps(n))
      above.headOption.map(op => s"global sort below operator $op")
    }
  }

  // the driver's checker pandas-sorts every output column; an array/
  // map/struct cell crashes its lexsort (the r8 c89/q96 red rows).
  // Nested outputs must ride flattened — CSV-join (c38 convention) or
  // scalar expansion (c71/q96 convention). Batch only: s* frames are
  // checked in the streaming twin below.
  test("sweep: no array/map/struct-typed output column in any batch query") {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val bad = collection.mutable.Buffer[String]()
    for (name <- SparkEntry.queries.keys.toSeq.sorted if !name.startsWith("s")) {
      val schema = SparkEntry.queries(name)(spark, dir).schema
      for (f <- schema.fields
           if f.dataType.isInstanceOf[ArrayType] ||
             f.dataType.isInstanceOf[MapType] ||
             f.dataType.isInstanceOf[StructType])
        bad += s"$name.${f.name}: ${f.dataType.simpleString}"
    }
    assert(bad.isEmpty,
      s"nested output columns crash the driver's pandas sort — flatten " +
        s"them (array_join CSV or element_at expansion):\n${bad.mkString("\n")}")
  }

  test("sweep: no cartesian outside q10, no mid-plan global sort, no post-AQE sort-merge join") {
    val bad = collection.mutable.Buffer[String]()
    for (name <- SparkEntry.queries.keys.toSeq.sorted if !name.startsWith("s")) {
      val df = SparkEntry.queries(name)(spark, dir)
      def current = finalSection(df.queryExecution.executedPlan.toString)
      var p = current
      val suspicious = p.contains("CartesianProduct") ||
        p.contains("SortMergeJoin") || globalSortViolation(p).isDefined
      // only pay an execution when the STATIC plan looks off — AQE may
      // legitimately fix it (e.g. broadcast a post-aggregate side whose
      // size statically read as unknown)
      if (suspicious) { df.collect(); p = current }
      if (p.contains("CartesianProduct") && !allowed(name)("CartesianProduct"))
        bad += s"$name: CartesianProduct"
      if (p.contains("SortMergeJoin") && !allowed(name)("SortMergeJoin"))
        bad += s"$name: SortMergeJoin survived AQE"
      globalSortViolation(p).foreach(v => bad += s"$name: $v")
    }
    assert(bad.isEmpty,
      s"plan-discipline violations:\n${bad.mkString("\n")}")
  }
}
