package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persistence for the ANN retrieval tiers — the train→persist→serve
  * loop: [[Similarity.pqTrain]]/[[Similarity.ivfPqTrain]] fit the model
  * once, [[Similarity.pqEncode]]/[[Similarity.ivfPqEncode]] code the
  * corpus once, and every later session reloads both and runs only the
  * cheap search stage ([[Similarity.pqSearch]]/[[Similarity.ivfPqSearch]])
  * — at 100 TB the encode is the expensive corpus-sized pass, so paying
  * it per query session would dwarf the queries themselves.
  *
  * Layout (two parquet relations under one root, the FAISS
  * codebook/codes split re-expressed as tables):
  *  - `<root>/model`: one row per centroid —
  *    (kind: 'coarse'|'pq', subspace: int, centroid: int,
  *    vec: array<double>). Model-sized (nCells + m×ksub rows).
  *  - `<root>/codes`: the coded corpus from the encode stage, written
  *    verbatim — (nn_id, [_cell,] codes: array<int>, cn: double).
  *
  * Doubles round-trip parquet bit-exactly and the encode is a
  * deterministic function of (model, vector), so a reloaded index
  * answers IDENTICALLY to the in-memory path — asserted in
  * SimilaritySpec's round-trip test, not assumed. */
object AnnIndex {

  /** Persist a PQ or IVF+PQ index: codebooks (+ coarse centroids when
    * present) and the coded corpus. */
  def save(spark: SparkSession, root: String,
           codebooks: Seq[Seq[Seq[Double]]], coded: DataFrame,
           coarse: Option[Seq[Seq[Double]]] = None): Unit = {
    import spark.implicits._
    val pqRows = for {
      (book, j) <- codebooks.zipWithIndex
      (cen, c) <- book.zipWithIndex
    } yield ("pq", j, c, cen)
    val coarseRows = coarse.toSeq.flatMap(_.zipWithIndex.map {
      case (cen, c) => ("coarse", 0, c, cen)
    })
    val model = (pqRows ++ coarseRows)
      .toDF("kind", "subspace", "centroid", "vec")
      // model-sized → one file; repartition(1) keeps the directory tidy
      .repartition(1)
    model.write.mode(SaveMode.Overwrite).parquet(s"$root/model")
    coded.write.mode(SaveMode.Overwrite).parquet(s"$root/codes")
    // an overwritten artifact may change layout: record the schema just
    // written so the next readStable is neither stale nor re-inferring
    // (ADVICE r16; fidelity pinned in SimilaritySpec)
    graft.Tables.recordSchema(s"$root/model", model.schema)
    graft.Tables.recordSchema(s"$root/codes", coded.schema)
  }

  /** Reload the PQ codebooks: codebooks(j)(c) = centroid vector. */
  def loadCodebooks(spark: SparkSession, root: String): Seq[Seq[Seq[Double]]] = {
    val rows = graft.Tables.readStable(spark, s"$root/model")
      .filter(col("kind") === "pq")
      .select("subspace", "centroid", "vec")
      .collect()
    rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
      rs.sortBy(_.getInt(1)).toSeq.map(_.getSeq[Double](2))
    }
  }

  /** Reload the coarse (IVF) centroids; empty for a flat-PQ index. */
  def loadCoarse(spark: SparkSession, root: String): Seq[Seq[Double]] =
    graft.Tables.readStable(spark, s"$root/model")
      .filter(col("kind") === "coarse")
      .select("centroid", "vec")
      .collect()
      .sortBy(_.getInt(0)).toSeq.map(_.getSeq[Double](1))

  /** Reload the coded corpus — the search stage's scan relation. */
  def loadCodes(spark: SparkSession, root: String): DataFrame =
    graft.Tables.readStable(spark, s"$root/codes")

  /** Streaming index ingest — the freshness half of the
    * train→persist→serve loop: each micro-batch of NEW vectors is
    * encoded with the already-trained PQ model (`encode`, typically
    * `Similarity.pqEncode(_, …, codebooks, dim)`) and APPENDED to the
    * persisted codes relation, so the served index grows with the
    * stream without ever re-encoding the existing corpus. Encoding is
    * deterministic given the model, so the ingested index answers
    * identically to a from-scratch full encode (pinned in
    * SimilaritySpec).
    *
    * Runs the stream to completion (the replay-harness contract).
    * Parquet append is at-least-once under batch RETRY; a production
    * sink writes each batch to a `batch_<id>` subdir (the
    * [[graft.streaming.Stateful.writeViaForeachBatch]] idempotency
    * hook) or through a transactional table format. */
  def ingestStream(spark: SparkSession, newVecs: DataFrame, root: String,
                   encode: DataFrame => DataFrame): Unit =
    graft.streaming.Streams.runHarnessQuery(spark, "ann_ingest") { ckpt =>
      newVecs.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          encode(batch).write.mode(SaveMode.Append).parquet(s"$root/codes")
        }
        .start()
    }
}
