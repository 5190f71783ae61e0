package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Persistence for the near-dup detection tier — the text-dedup
  * counterpart of [[AnnIndex]]: [[Dedup.ngramJaccardPairsAcross]]
  * rebuilds the corpus side's hashed inverted shingle index on every
  * ingest, but that index is a pure function of the corpus and is the
  * expensive corpus-sized pass (shingle + explode + hash over every
  * document). A production ingest pipeline builds it ONCE, probes each
  * arriving batch against it, and appends the batch's own rows after
  * the batch is admitted — per-ingest cost becomes proportional to the
  * batch, not the corpus.
  *
  * Layout: one parquet relation under `root/index` with columns
  * (id_b, _nb, _s) = (doc id, shingle-set size, 64-bit shingle hash) —
  * [[Dedup.invertedIndex]]'s exact output, written verbatim (stays
  * distributed; no driver-sized collect anywhere).
  *
  * Correctness contract: `probe` runs the same two-tier candidate
  * pipeline as the inline join — hashed-index candidates with the
  * size-ratio prune (full recall: hash collisions only inflate the
  * common count), then exact string-set Jaccard verification on the
  * survivors — so probing a persisted index equals
  * `ngramJaccardPairsAcross(newDocs, corpus)` row for row (pinned in
  * DedupSpec, oracle-checked as c70).
  *
  * IMPORTANT: the `corpus` relation passed to `probe` must cover the
  * texts of EVERY document in the index — after `append`, that means
  * the original corpus PLUS every appended batch. The verify stage
  * inner-joins candidate ids back to `corpus` for their texts, so a
  * candidate whose id is indexed but text-less (absent OR null text)
  * would be silently dropped (duplicate admitted). `probe` guards
  * this by default against the doc-count-sized `ids` SIDECAR relation
  * (written by save/append precisely so the guard never scans the
  * posting-list-sized index); disable via `checkCoverage = false` on
  * hot paths where the caller guarantees coverage.
  */
object DedupIndex {

  /** Build and persist the corpus inverted index, plus the
    * doc-count-sized `ids` sidecar the probe's coverage guard reads. */
  def save(spark: SparkSession, root: String, corpus: DataFrame,
           idCol: String, textCol: String, shingleN: Int): Unit = {
    val index = Dedup.invertedIndex(corpus, idCol, textCol, shingleN, "id_b", "_nb")
    index.write.mode(SaveMode.Overwrite).parquet(s"$root/index")
    val ids = corpus.select(col(idCol).as("id_b")).distinct()
    ids.write.mode(SaveMode.Overwrite).parquet(s"$root/ids")
    // an overwritten artifact may change layout: record the schema just
    // written so the next readStable is neither stale nor re-inferring
    // (ADVICE r16; fidelity pinned in SimilaritySpec)
    graft.Tables.recordSchema(s"$root/index", index.schema)
    graft.Tables.recordSchema(s"$root/ids", ids.schema)
  }

  /** Append an admitted batch's rows to the persisted index — the
    * ingest-side update ([[AnnIndex.ingestStream]]'s pattern; parquet
    * append is at-least-once under retry, so production writes through
    * a batch-id subdir or transactional format). After the append, the
    * index equals a from-scratch [[save]] over corpus ∪ batch (pinned
    * in DedupSpec). */
  def append(spark: SparkSession, root: String, batch: DataFrame,
             idCol: String, textCol: String, shingleN: Int): Unit = {
    Dedup.invertedIndex(batch, idCol, textCol, shingleN, "id_b", "_nb")
      .write.mode(SaveMode.Append).parquet(s"$root/index")
    batch.select(col(idCol).as("id_b")).distinct()
      .write.mode(SaveMode.Append).parquet(s"$root/ids")
  }

  /** Reload the persisted index relation. */
  def load(spark: SparkSession, root: String): DataFrame =
    graft.Tables.readStable(spark, s"$root/index")

  /** Near-dup pairs (id_a from `newDocs`, id_b in the index) with exact
    * shingle-set Jaccard ≥ `threshold`. Only `newDocs` is shingled;
    * the corpus side scans the persisted index. `corpus` supplies
    * texts for the survivor-pair verification and must cover every
    * indexed id (see the object scaladoc). */
  def probe(spark: SparkSession, root: String, newDocs: DataFrame,
            corpus: DataFrame, idCol: String, textCol: String,
            shingleN: Int, threshold: Double,
            checkCoverage: Boolean = true): DataFrame = {
    val index = load(spark, root)
    if (checkCoverage) {
      // sidecar-ids anti-join (doc-count-sized on BOTH sides — never the
      // posting-list index): an indexed id whose corpus text is absent
      // or NULL would silently drop its candidate pairs in verify
      val uncovered = graft.Tables.readStable(spark, s"$root/ids")
        .join(corpus.filter(col(textCol).isNotNull)
          .select(col(idCol).as("id_b")), Seq("id_b"), "left_anti")
        .limit(5).collect().map(_.get(0))
      require(uncovered.isEmpty,
        s"index contains ids with no (non-null) text in the corpus " +
          s"relation (e.g. ${uncovered.mkString(", ")}) — after append(), " +
          "pass corpus PLUS every appended batch")
    }
    val candidates = Dedup.survivorsFromIndexes(
      Dedup.invertedIndex(newDocs, idCol, textCol, shingleN, "id_a", "_na"),
      index, threshold, sameRelation = false)
    Dedup.verifyJaccardAcross(candidates, newDocs, corpus, idCol, textCol,
      threshold, shingleN)
  }
}
