package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.Tables

/** Structured Streaming over the `events` fixture (SURVEY.md §2.2
  * "Streaming"): the reference's channel pipeline (`EtlMain.kt:51`) is
  * pipelined *batch*; this module is the real unbounded path —
  * `readStream` → windowed/stateful transforms → sink, with watermarks
  * bounding state.
  *
  * For verification the parquet fixture is replayed through the file
  * source and the streaming query runs to completion into a memory sink;
  * the result must equal the batch-equivalent plan (checked against a
  * DuckDB oracle). Same code shape serves a Kafka source in production —
  * only the `readStream.format` changes.
  */
object Streams {

  /** Streaming DataFrame over the events parquet (file source replay).
    * Schema comes from a batch peek — a streaming source needs it
    * up front. */
  def eventStream(spark: SparkSession, dir: String): DataFrame = {
    // schema must reflect the RAW file layout (nanos-as-long or native
    // micros, fixture-dependent — see Tables.normalizeTs) — the batch
    // loader's converted schema would make the file source mis-read it.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // inferred-once schema cache (round 16): the batch peek otherwise
    // re-reads footers on the driver per rep (~280 ms, see Tables)
    val rawSchema = Tables.parquetSchema(spark, s"$dir/events.parquet")
    graft.Tables.normalizeTs(spark.readStream
      .schema(rawSchema)
      // the file source needs a directory or glob, not a bare file —
      // the single-char glob makes it resolve $dir as the base
      .parquet(s"$dir/events.parque[t]"))
  }

  /** Replay a directory of already-normalized parquet files as a stream,
    * `maxFilesPerTrigger` files per micro-batch — the harness for
    * exercising stateful operators ACROSS batch boundaries (a
    * single-batch replay never tests state merge). */
  def replayStream(spark: SparkSession, path: String,
                   schema: org.apache.spark.sql.types.StructType,
                   maxFilesPerTrigger: Int): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)

  private def windowCounts(events: DataFrame, slide: Option[String]): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(slide.fold(window(col("ts"), "1 hour"))(s =>
        window(col("ts"), "1 hour", s)), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** Tumbling-window counts per event type, 1 h windows, with a
    * watermark bounding state at 2 h of event time. */
  def tumblingCounts(events: DataFrame): DataFrame =
    windowCounts(events, None)

  /** SCD2 point-in-time join: each event matched to the dimension row
    * valid AT ITS EVENT TIME. `dim` carries half-open validity
    * [valid_from, valid_to) with NULL valid_to on the current row, so an
    * event matches at most one dimension row and an event exactly AT a
    * boundary belongs to the NEWER interval — the convention that makes
    * consecutive intervals partition time with no gap and no overlap
    * (spec-pinned in StreamingSpec). left_outer keeps events before any
    * interval. Works identically on a streaming `events` side (the
    * static dim is broadcast per micro-batch — s20's configuration).
    * Both join sides are parameterized (`eventKeyCol`/`eventTimeCol`
    * for the fact side, `dimKeyCol` for the dimension) so the contract
    * is symmetric — any event schema binds explicitly instead of
    * assuming the fixture's user_id/ts names. */
  def scd2JoinAtEventTime(events: DataFrame, dim: DataFrame,
                          dimKeyCol: String,
                          eventKeyCol: String = "user_id",
                          eventTimeCol: String = "ts"): DataFrame =
    events.join(dim,
      events(eventKeyCol) === dim(dimKeyCol) &&
        events(eventTimeCol) >= dim("valid_from") &&
        (dim("valid_to").isNull || events(eventTimeCol) < dim("valid_to")),
      "left_outer")

  /** Sliding (overlapping) window counts per event type: 1 h windows
    * every 30 min, so each event lands in two windows. Same state-
    * eviction story as tumbling — the watermark retires a window once it
    * passes window end; overlap multiplies state by windows-per-event
    * (here 2), not by stream length. Streaming counterpart of the batch
    * `q70_sliding_window`. */
  def slidingCounts(events: DataFrame): DataFrame =
    windowCounts(events, Some("30 minutes"))

  /** Session windows per user: events within a 30-minute gap merge into
    * one session. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_ts"))
      .select(col("session_window.start").as("session_start"),
              col("user_id"), col("n_events"), col("last_ts"))

  /** Streaming event-rate anomaly: per-window volume z-scored against a
    * BASELINE mean/σ passed as literals (in production: fit on history;
    * here: the batch stats over the same bounded replay, making the
    * result equal to the batch c88) — the traffic-spike alarm at
    * ingest. One watermarked windowed count; the scoring is a stateless
    * projection, so state is one count per window in the horizon. */
  def windowRateAnomaly(events: DataFrame, mu: Double, sd: Double): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("n_events"),
        round((col("n_events") - lit(mu)) / lit(sd), 4).as("z"))
      .withColumn("is_anomaly", abs(col("z")) >= 2.0)

  /** Streaming token-distribution drift: each arriving document's
    * tokens score −ln p̂ under a STATIC corpus unigram LM (add-one
    * smoothed; `probs` = (token, _lp) with `unkLp` the smoothing floor
    * for unseen tokens — both computed batch-side, the LM is vocab-
    * sized and broadcasts), aggregated to a per-ingest-window average —
    * c82's generalization probe AT INGEST. A crawl slice that stops
    * looking like the corpus (template flood, language shift,
    * mis-crawl) spikes the window average in the micro-batch it
    * arrives. Stateless until the single windowed aggregation; state
    * is one (window, sum, count) row per window inside the watermark
    * horizon. */
  def windowTokenDrift(docs: DataFrame, probs: DataFrame,
                       unkLp: Double): DataFrame =
    docs
      .select(col("ingest_ts"),
        explode(split(lower(col("text")), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .join(probs, Seq("token"), "left")
      .withColumn("_nll", -coalesce(col("_lp"), lit(unkLp)))
      .withWatermark("ingest_ts", "2 hours")
      .groupBy(window(col("ingest_ts"), "1 hour"))
      .agg(round(avg(col("_nll")), 6).as("avg_nll"),
        count(lit(1)).as("n_tokens"))
      .select(col("window.start").as("window_start"),
        col("avg_nll"), col("n_tokens"))

  /** Windowed approximate-distinct users via the mergeable DataSketches
    * HLL — the q97 sketch inside a watermarked streaming aggregation.
    * Per-window state IS the fixed-size sketch (~4 KB at lgK=12),
    * merged across micro-batches by the aggregate's partial-merge path,
    * so distinct-counting an unbounded stream costs CONSTANT state per
    * window regardless of user cardinality — where an exact streaming
    * count-distinct would hold every user id in state. The streaming
    * face of q97's shard-rollup argument. */
  def windowApproxUsers(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12)))
          .as("approx_users"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
        col("approx_users"), col("n_events"))

  /** Quality-gated streaming ingest: filter arriving documents by a
    * cheap stateless quality signal (word count in [40, 100] — the c8
    * family applied in-stream, before anything pays shuffle or state
    * for a doc that will be dropped), then count survivors per
    * (1 h ingest window, source) under a 2 h watermark. The gate is a
    * stateless codegen projection — per-arrival-batch cost, no state;
    * only GATED rows reach the windowed aggregation, so state is
    * bounded by the watermark horizon over the SURVIVOR rate, not the
    * raw ingest rate. That ordering (filter before stateful op) is the
    * 100 TB point: a quality gate that runs after the aggregation
    * would pay window state for 100 % of the crawl. */
  def qualityGateCounts(docs: DataFrame): DataFrame =
    docs
      .filter(size(split(col("text"), "\\s+")).between(40, 100))
      .withWatermark("ingest_ts", "2 hours")
      .groupBy(window(col("ingest_ts"), "1 hour"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("window.start").as("window_start"), col("source"),
        col("n_docs"), col("sum_chars"))

  /** Ingest-time benchmark decontamination: each arriving document's
    * 30-char windows (stateless codegen CharNgrams + explode) join the
    * STATIC deduped benchmark-window relation — a stream-static inner
    * join, stateless on the stream side — and matches aggregate to a
    * per-document contaminated-window count under the ingest-time
    * watermark. The c77 detection stage applied at the door: a
    * contaminated crawl page is flagged the micro-batch it arrives,
    * before it ever reaches the corpus. At 100 TB the benchmark window
    * relation is model-sized (eval suites, not crawls) and broadcasts;
    * per-batch cost is the batch's own window volume. `benchWins` must
    * be (`_h`, `_bwin`) = (xxhash64 of window, window string), distinct
    * — string equality in the join discards hash collisions. */
  def ingestDecontam(docs: DataFrame, benchWins: DataFrame,
                     windowChars: Int): DataFrame =
    docs
      .select(col("doc_id"), col("ingest_ts"),
        explode(graft.functions.ChunkFunctions.char_ngrams(
          col("text"), windowChars, lowercase = false)).as("_w"))
      .select(col("doc_id"), col("ingest_ts"),
        xxhash64(col("_w")).as("_h"), col("_w").as("_win"))
      .join(benchWins, Seq("_h"))
      .filter(col("_win") === col("_bwin"))
      .withWatermark("ingest_ts", "2 hours")
      .groupBy(window(col("ingest_ts"), "1 hour"), col("doc_id"))
      .agg(count(lit(1)).as("n_contam_windows"))
      .select(col("doc_id"), col("n_contam_windows"))

  /** Watermarked stream-stream inner join: purchases within 1 h after a
    * click by the same user. Both sides carry event-time watermarks AND
    * the join condition bounds purchase_ts relative to click_ts — the
    * two things Spark needs to evict join state: a click's state can be
    * dropped once the watermark passes click_ts + 1 h, so state stays
    * O(events-per-watermark-window) regardless of total stream length.
    * Inner joins emit on match (append mode), nothing held back. */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
              col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
              col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "2 hours")
    clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
              col("click_ts"), col("purchase_ts"))
  }

  /** Watermarked stream-stream LEFT OUTER join — same state bounds as
    * the inner `clickPurchaseJoin`, plus null-augmented rows for clicks
    * that found no purchase. Outer rows can only emit once the
    * watermark proves no future match is possible (click state expires
    * at click_ts + 1 h); clicks still inside that horizon when the
    * stream ends stay in state and never emit their null row — the
    * batch-equivalence oracle must carry the same cutoff. */
  def clickPurchaseLeftJoin(events: DataFrame): DataFrame = {
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
              col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
              col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "2 hours")
    clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
        "left_outer")
      .select(col("user_id"), col("click_id"), col("purchase_id"),
              col("click_ts"), col("purchase_ts"))
  }

  /** Watermarked stream-stream LEFT SEMI join: clicks that led to a
    * purchase within 1 h, emitted ONCE on first match — the
    * "did-it-convert" filter without duplicating a click per purchase.
    * Same state bounds as the inner [[clickPurchaseJoin]] (click state
    * evicts at click_ts + 1 h past watermark); matched rows emit
    * immediately, so unlike the left-outer twin no result waits on the
    * watermark — the batch equivalence is exactly DISTINCT matched
    * clicks with no cutoff term. */
  def clickPurchaseSemiJoin(events: DataFrame): DataFrame = {
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
              col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
              col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "2 hours")
    clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
        "left_semi")
  }

  /** Write `df` as `nChunks` CONTIGUOUS chunks of `sortCol` order, one
    * file each, with strictly increasing modification times — a
    * `maxFilesPerTrigger = 1` replay then processes them in `sortCol`
    * order deterministically (the file source orders by mtime; explicit
    * stamps replace the sleep-for-distinct-seconds trick). Contiguity is
    * what makes replayed min-per-key semantics equal the batch oracle:
    * the first chunk containing a key holds that key's global minimum.
    * Returns the written schema (a streaming source needs it up front). */
  def writeOrderedReplay(df: DataFrame, sortCol: String, nChunks: Int,
                         dir: String): org.apache.spark.sql.types.StructType = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    require(nChunks >= 2 && nChunks <= 64, s"unreasonable nChunks $nChunks")
    new java.io.File(dir).mkdirs()
    val qs = (1 until nChunks).map(_.toDouble / nChunks)
    // ONE aggregation pass computes the chunk cuts AND the double-exact
    // guard: cuts and range filters go through double, so keys beyond
    // 2^53 would round and could strand a row in the wrong chunk,
    // silently breaking the contiguity the first-seen == min-key oracle
    // depends on
    val statsRow = df
      .selectExpr(
        s"percentile(cast($sortCol as double), array(${qs.mkString(",")})) as c",
        s"max(abs(cast($sortCol as double))) as m")
      .collect().head
    require(!statsRow.isNullAt(1),
      s"writeOrderedReplay: empty input or all-null $sortCol")
    require(statsRow.getDouble(1) < (1L << 53).toDouble,
      s"$sortCol exceeds the double-exact range (max |v| = ${statsRow.getDouble(1)})")
    val cuts = statsRow.getSeq[Double](0)
    val edges = (Double.MinValue +: cuts) :+ Double.MaxValue
    edges.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), k) =>
      val tmp = s"$dir/_tmp$k"
      df.filter(col(sortCol).cast("double") > lo && col(sortCol).cast("double") <= hi)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val written = Option(new java.io.File(tmp).listFiles()).getOrElse(
        sys.error(s"chunk write produced no directory at $tmp"))
      val part = written
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .headOption.getOrElse(sys.error(s"no part file written under $tmp"))
      val dest = new java.io.File(dir, f"chunk$k%03d.parquet")
      Files.move(part.toPath, dest.toPath, StandardCopyOption.REPLACE_EXISTING)
      // the file source orders by mtime — a silently failed stamp would
      // fall back to copy order and break the replay-order contract
      require(dest.setLastModified(1700000000000L + k * 60000L),
        s"cannot stamp mtime on $dest; replay order would be undefined")
      new java.io.File(tmp).listFiles().foreach(_.delete())
      Files.deleteIfExists(Paths.get(tmp))
    }
    df.schema
  }

  case class DocIn(doc_id: Long, source: String, n_chars: Long,
                   _h: Long, _fp: Long, ingest_ts: java.sql.Timestamp)
  case class DocKeep(doc_id: Long, source: String, n_chars: Long)

  /** Ingest-time corpus-incremental dedup — the streaming composition of
    * the batch [[graft.operators.Dedup.incrementalDedup]] (c31): arriving
    * documents are (1) anti-joined against the STATIC corpus fingerprint
    * relation `corpusSeen` (`_h` = xxhash64(text), `_seen_text` for
    * collision verification — the persisted (hash, text) table a real
    * ingest maintains) via a stateless stream-static LEFT ANTI join, then
    * (2) deduped within the stream itself by content across micro-batch
    * boundaries: per-hash `flatMapGroupsWithState` keeps the seen
    * fingerprint set, so a document seen in an earlier batch inside the
    * state horizon never re-emits, and within a batch the minimum doc_id
    * copy wins (the c31 winner rule).
    *
    * State is bounded three ways — this is what makes the operator
    * survive an unbounded ingest stream:
    *   - the anti-join runs FIRST, so the stateful stage only ever
    *     stores entries for NOVEL texts (state grows with new-content
    *     volume, not ingest volume);
    *   - state holds 8-byte fingerprints, never text payloads: the
    *     shuffle/state key is `xxhash64(text)` (the c31 8-byte-key
    *     discipline) and the stored set is a SECOND independent 64-bit
    *     hash (`xxhash64(seed, text)`), so a key collision merges groups
    *     without merging documents (128 combined bits; a false dedup
    *     needs both hashes to collide);
    *   - `EventTimeTimeout` evicts a key's state once the ingest-time
    *     watermark passes its last sighting + `stateTtlMs` — the horizon
    *     after which the persisted corpus relation (which a production
    *     sink folds committed batches into) owns dedup, and the stream
    *     state no longer has to.
    *
    * `docs` must carry an `ingest_ts` timestamp column (arrival time at
    * the source in production; the replay harness synthesizes it from
    * doc_id). Defaults keep every key resident for the bounded
    * verification replay, matching the global-dedup batch oracle. */
  def corpusIncrementalDedup(spark: SparkSession, docs: DataFrame,
                             corpusSeen: DataFrame,
                             watermarkDelay: String = "48 hours",
                             stateTtlMs: Long = 7L * 24 * 3600 * 1000): DataFrame = {
    import spark.implicits._
    val fresh = docs
      .select(col("doc_id").cast("long").as("doc_id"), col("source"),
        col("n_chars").cast("long").as("n_chars"), col("text"),
        col("ingest_ts"))
      .join(corpusSeen,
        xxhash64(col("text")) <=> col("_h") &&
          col("text") <=> col("_seen_text"),
        "left_anti")
      // the payload is dropped HERE — nothing downstream (shuffle, state
      // store) ever carries the text, only two 8-byte hashes
      .select(col("doc_id"), col("source"), col("n_chars"),
        xxhash64(col("text")).as("_h"),
        xxhash64(lit("graft-fp2"), col("text")).as("_fp"),
        col("ingest_ts"))
      .withWatermark("ingest_ts", watermarkDelay)
    fresh.as[DocIn]
      .groupByKey(_._h)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: Long, rows: Iterator[DocIn], state: GroupState[Seq[Long]]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val seen = scala.collection.mutable.Set[Long](
              state.getOption.getOrElse(Seq.empty): _*)
            val out = scala.collection.mutable.ArrayBuffer[DocKeep]()
            val batch = rows.toSeq
            batch.sortBy(_.doc_id).foreach { d =>
              if (!seen(d._fp)) {
                seen += d._fp
                out += DocKeep(d.doc_id, d.source, d.n_chars)
              }
            }
            state.update(seen.toSeq)
            // retire the key stateTtlMs after its LAST sighting (the
            // timeout must stay ahead of the already-advanced watermark)
            val lastSeenMs = batch.iterator.map(_.ingest_ts.getTime).max
            state.setTimeoutTimestamp(
              math.max(lastSeenMs + stateTtlMs, state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
        })
      .toDF()
  }

  /** Replayed verification runs execute several tiny micro-batches into
    * a memory sink; their wall time is per-batch HARNESS overhead, not
    * plan cost, and it scales with the shuffle partition count (each
    * stateful operator keeps one state-store instance per partition per
    * batch — a stream-stream join keeps four). Results are
    * partition-count independent, so the harness plans its micro-batches
    * over a few partitions instead of the session's 32; a production
    * stream sizes this to its executor count instead. The session conf
    * is restored afterwards — batch queries are untouched. */
  private[streaming] def withHarnessPartitions[T](spark: SparkSession)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    // overridable for profiling and for harness runs whose single
    // micro-batch does real aggregation work (see PLANS.md on s1)
    val n = spark.conf.getOption("graft.streaming.harnessPartitions").getOrElse("4")
    spark.conf.set(key, n)
    try f finally spark.conf.set(key, prev)
  }

  /** Fresh checkpoint dir for ONE harness replay run. Base resolution
    * (round 15, VERDICT r14 #2 — explicit override > conf > tmpfs/temp):
    *
    *   1. `GRAFT_HARNESS_CKPT_BASE` env — the explicit override
    *      (probing; hosts whose tmpfs is too small for replay state);
    *   2. `spark.graft.checkpointDir` session conf — the same ONE CONF
    *      LINE that turns every batch-side graft checkpoint durable
    *      extends to the streaming entry points: with it set, offset/
    *      commit WALs and state stores land under the durable dir, the
    *      posture a production deployment wants (its streams additionally
    *      pass their own long-lived `checkpointLocation`s; the conf
    *      covers the packaged replay-harness paths);
    *   3. tmpfs (/dev/shm) when present, else java.io.tmpdir — the
    *      bench-right default (round 13): the replay harness is not
    *      measuring WAL durability, and host-disk fsync stalls land in
    *      the measured streaming wall (the r13 inflated artifact shows
    *      s14 stateCommit 23.7 s vs 0.7 s steady — pure rig).
    *
    * Unique dir per RUN in every mode (a fixed root would make rep 2
    * RESUME the finished rep-1 checkpoint instead of replaying);
    * deleted by the caller after stop — a COMPLETED replay's checkpoint
    * is transient state in any posture.
    *
    * URI-schemed base values (`hdfs://nn/ckpt`, `s3a://bucket/ckpt`)
    * resolve through Hadoop Path/FileSystem, exactly like the batch
    * side's CkptChain resolves the SAME conf key (ADVICE r15:
    * java.nio.Paths would silently turn them into a relative LOCAL
    * dir, defeating the one-conf-line durable posture on a cluster).
    * Scheme-less values are local paths by definition and keep the
    * java.nio fast path. */
  private[graft] def harnessCheckpointDir(spark: SparkSession, name: String): String = {
    val base = sys.env.get("GRAFT_HARNESS_CKPT_BASE")
      .orElse(spark.conf.getOption("spark.graft.checkpointDir"))
    val scheme = base.flatMap(b =>
      Option(new org.apache.hadoop.fs.Path(b).toUri.getScheme))
    if (base.isDefined && scheme.exists(_ != "file")) {
      val p = new org.apache.hadoop.fs.Path(base.get,
        s"graft-ckpt-$name-" + java.util.UUID.randomUUID().toString)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(p)
      fs.getFileStatus(p).getPath.toString
    } else {
      val root = base
        .map(b => java.nio.file.Paths.get(
          // a file:-schemed value still resolves to its local path
          if (scheme.isDefined) new org.apache.hadoop.fs.Path(b).toUri.getPath
          else b))
        .getOrElse {
          val shm = new java.io.File("/dev/shm")
          if (shm.isDirectory && shm.canWrite) shm.toPath
          else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
        }
      java.nio.file.Files.createDirectories(root)
      java.nio.file.Files.createTempDirectory(root, s"graft-ckpt-$name-").toString
    }
  }

  /** Start a harness streaming query with a fresh [[harnessCheckpointDir]],
    * drain it, stop it, and remove the checkpoint (scheme-aware: a
    * Hadoop-minted dir is deleted through its own FileSystem). */
  private[graft] def runHarnessQuery(spark: SparkSession, name: String)(
      start: String => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val ckpt = harnessCheckpointDir(spark, name)
    try {
      val q = start(ckpt)
      try q.processAllAvailable() finally q.stop()
    } finally {
      val p = new org.apache.hadoop.fs.Path(ckpt)
      if (Option(p.toUri.getScheme).exists(_ != "file"))
        try { p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true); () }
        catch { case t: Throwable =>
          // best-effort cleanup stays best-effort, but a leaked DURABLE
          // checkpoint dir must leave a trace (ADVICE r16) — unlike the
          // local path, nothing else will ever reclaim it
          System.err.println(
            s"[streams] failed to delete checkpoint $ckpt: $t")
        }
      else graft.Tables.deleteRecursively(ckpt)
    }
  }

  private def runToMemorySink(spark: SparkSession, streamingDf: DataFrame,
                              name: String, outputMode: String): DataFrame =
    withHarnessPartitions(spark) {
      spark.catalog.dropTempView(name)
      runHarnessQuery(spark, name) { ckpt =>
        streamingDf.writeStream
          .format("memory")
          .queryName(name)
          .option("checkpointLocation", ckpt)
          .outputMode(outputMode)
          .start()
      }
      spark.table(name)
    }

  /** Run an append-mode streaming query (stream-stream joins support
    * only append) to completion into a memory sink. */
  def runToCompletionAppend(spark: SparkSession, streamingDf: DataFrame,
                            name: String): DataFrame =
    runToMemorySink(spark, streamingDf, name, "append")

  /** Streaming CDC APPLY: maintain a keyed mirror table from a change
    * stream via a foreachBatch merge — the INGEST half of the CDC loop
    * whose extract side is q109's snapshot diff and whose batch apply
    * is q63's upsert-merge. Each change row carries
    * (keyCol, tsCol, tieCol, opCol ∈ {upsert, delete}, valueCol).
    *
    * Per micro-batch: the batch collapses to its latest change per key
    * (ts, then tieCol — batch-local window), then ONE union + per-key
    * latest-wins window merges it with the current mirror. Deletes are
    * retained as TOMBSTONES inside the mirror (the op column rides
    * along), so a late-arriving older upsert can never resurrect a
    * deleted key — which makes the merge ORDER-INSENSITIVE across
    * micro-batches and idempotent under batch replay: applying any
    * permutation of the same changes yields the same mirror. The
    * returned table filters tombstones out.
    *
    * The mirror persists as a batchId-versioned parquet dir (the
    * no-ACID-table fallback: a lakehouse table format would replace
    * the versioned rewrite with MERGE INTO); rewriting batch i from
    * state i−1 is byte-stable, so sink retries are safe. Versions
    * accumulate one key-sized dir per batch — a deployment prunes all
    * but the last k as part of its checkpoint retention, exactly like
    * state-store version cleanup.
    *
    * Scale shape: mirror state is key-cardinality-sized, never
    * stream-length; the per-batch merge shuffles on the key only. At
    * 1000 executors the mirror becomes a bucketed table so the merge
    * co-locates, and tombstones age out by a retention window rather
    * than living forever. */
  def cdcApply(spark: SparkSession, changes: DataFrame, keyCol: String,
               tsCol: String, tieCol: String, opCol: String,
               valueCol: String, workDir: String): DataFrame =
    withHarnessPartitions(spark) {
      import org.apache.spark.sql.expressions.Window
      val cols = Seq(keyCol, opCol, valueCol, tsCol, tieCol).map(col)
      val byLatest = Window.partitionBy(keyCol)
        .orderBy(col(tsCol).desc, col(tieCol).desc)
      val latestDir = new java.util.concurrent.atomic.AtomicReference[String](null)
      runHarnessQuery(spark, "cdc_apply") { ckpt =>
        changes.writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: DataFrame, id: Long) =>
            val latest = batch.select(cols: _*)
              .withColumn("_rk", row_number().over(byLatest))
              .filter(col("_rk") === 1).drop("_rk")
            val merged = Option(latestDir.get()) match {
              case None    => latest
              case Some(d) =>
                spark.read.parquet(d).unionByName(latest)
                  .withColumn("_rk", row_number().over(byLatest))
                  .filter(col("_rk") === 1).drop("_rk")
            }
            merged.write.mode("overwrite").parquet(s"$workDir/state_$id")
            latestDir.set(s"$workDir/state_$id")
          }
          .start()
      }
      // at least one micro-batch always runs on a non-empty replay
      spark.read.parquet(latestDir.get())
        .filter(col(opCol) =!= "delete")
        .select(col(keyCol), col(valueCol), col(tsCol))
    }

  /** Run a streaming aggregation to completion into a memory sink and
    * return the final result as a batch DataFrame. `complete` output
    * mode keeps every window in the sink so the result is comparable to
    * the batch equivalent (append mode would hold back windows newer
    * than the final watermark). */
  def runToCompletion(spark: SparkSession, streamingDf: DataFrame,
                      name: String): DataFrame =
    runToMemorySink(spark, streamingDf, name, "complete")
}
