package graft.streaming

import java.io.File
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.SelectionOps

/** STREAMING suffix-array maintenance — the q194 merge-append driven by
  * a real ingest stream (round-8 verdict task 7): a `foreachBatch`
  * sink that merges each arriving micro-batch of documents into a
  * LIVE, parquet-persisted suffix array via
  * [[SelectionOps.saMerge]] — the index is append-maintained, never
  * rebuilt (the q161 "append, never rebuild" rule made operational for
  * the one index that used to exist only as a batch twin).
  *
  * State layout under `root`:
  *  - `docs_b<id>/` — the documents of micro-batch `id`, written
  *    BEFORE the merged SA is published;
  *  - `sa_b<id>/` — the merged suffix array as of batch `id`
  *    (sa_pos, doc_id, pos — the same 64-char-free representation
  *    [[SelectionOps.saMerge]]'s scaladoc documents); publishing this
  *    directory IS the commit point, and on publish every older
  *    `sa_b*` is deleted, so storage holds one SA plus the doc shards.
  *
  * Crash/replay safety (the idempotent-foreachBatch contract the
  * [[DurableEventLog]] sink follows): micro-batch ids are monotone, a
  * replayed batch whose `sa_b<id>` already exists is a no-op, and the
  * base docs for a merge are ONLY the `docs_b*` shards at or below
  * the last published SA id — a `docs_b` orphaned by a crash between
  * the two writes is invisible until its retry republishes, and the
  * retry's overwrite converges.
  *
  * Scale: each append costs one [[SelectionOps.saMerge]] — shuffle ∝
  * batch + touched buckets (BASELINE.md round 9's measured curve), plus the
  * corpus-linear untouched projection this local parquet layout pays
  * to rewrite one file set; the bucket-partitioned layout the saMerge
  * scaladoc describes drops that term on a cluster by rewriting only
  * touched buckets' files. */
final class SaIndexStream(spark: SparkSession, root: String) {
  new File(root).mkdirs()

  private def batchIds(prefix: String): Seq[Long] =
    Option(new File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .map(_.getName.stripPrefix(prefix).toLong).toSeq.sorted

  /** Micro-batch ids whose merged SA was published (commit points). */
  def appliedBatches: Seq[Long] = batchIds("sa_b")

  private def emptySa: DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Long)].toDF("sa_pos", "doc_id", "pos")
  }

  private def emptyDocs: DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, String)].toDF("doc_id", "text")
  }

  /** The live index: the SA as of the last applied micro-batch. */
  def currentSa: DataFrame = appliedBatches.lastOption
    .map(id => spark.read.parquet(s"$root/sa_b$id"))
    .getOrElse(emptySa)

  /** The documents the live index covers: doc shards at or below the
    * last commit point (an orphaned shard from a crashed batch is not
    * part of the index until its retry publishes). */
  def currentDocs: DataFrame = {
    val upTo = appliedBatches.lastOption.getOrElse(-1L)
    val shards = batchIds("docs_b").filter(_ <= upTo)
      .map(id => s"$root/docs_b$id")
    if (shards.isEmpty) emptyDocs
    else spark.read.parquet(shards: _*).select(col("doc_id"), col("text"))
  }

  /** The foreachBatch sink: merge-append one micro-batch. Idempotent
    * on replay; empty batches are no-ops. */
  def sink(batch: Dataset[Row], batchId: Long): Unit = synchronized {
    if (!new File(s"$root/sa_b$batchId").exists()) {
      val b = batch.select(col("doc_id"), col("text")).localCheckpoint(true)
      if (!b.isEmpty) {
        val before = appliedBatches
        val merged = SelectionOps.saMerge(currentSa, currentDocs, b)
          .select(col("sa_pos"), col("doc_id"), col("pos"))
        b.write.mode("overwrite").parquet(s"$root/docs_b$batchId")
        merged.write.mode("overwrite").parquet(s"$root/tmp_b$batchId")
        // publish = the rename; then drop superseded SA versions
        require(new File(s"$root/tmp_b$batchId")
          .renameTo(new File(s"$root/sa_b$batchId")),
          s"could not publish sa_b$batchId")
        before.foreach { old =>
          val dir = new File(s"$root/sa_b$old")
          Option(dir.listFiles()).foreach(_.foreach(_.delete()))
          dir.delete()
        }
      }
    }
  }
}
