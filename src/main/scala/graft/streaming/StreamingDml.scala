package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import graft.sources.GraftTable

/** Streaming ingestion into a `GraftTable` — the missing edge between the
  * engine's two round-6 additions: Structured Streaming micro-batches
  * land as DML commits on the manifest table, giving a queryable,
  * time-travelable, continuously-ingesting table (the streaming face of
  * the reference's INSERT path,
  * `src/execution/operator/persistent/physical_insert.cpp`, whose batch
  * face is `GraftTable.insert`).
  *
  * EXACTLY-ONCE table state: Structured Streaming replays the last
  * micro-batch after a restart (at-least-once delivery to foreachBatch);
  * each commit here carries a `(queryName, batchId)` transaction marker
  * INSIDE the atomically-moved manifest, and a replayed batch whose id is
  * ≤ the table's recorded marker is skipped. Apply + record are one
  * filesystem move, so there is no crash window between them — the same
  * txn-in-commit-log design every production table format uses.
  *
  * Scale posture: each micro-batch appends files (insert) or marks the
  * matched rows deleted and appends one file (upsert); no state is kept on executors beyond the
  * batch, and the driver-side work per batch is O(#files touched).
  */
object StreamingDml {

  /** Append-only streaming INSERT sink. */
  def insertSink(stream: DataFrame, root: String, queryName: String,
      checkpoint: String): StreamingQuery =
    stream.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyBatch(root, queryName, id) {
          GraftTable.insert(batch.sparkSession, root, batch,
            txn = Some((queryName, id)))
        }
        ()
      }
      .start()

  /** Streaming UPSERT sink: each micro-batch MERGEs on `keys` (last write
    * per key wins within the stream's arrival order across batches; rows
    * within one batch must be unique per key — MERGE's cardinality
    * contract, enforced by GraftTable). */
  def upsertSink(stream: DataFrame, root: String, keys: Seq[String],
      queryName: String, checkpoint: String): StreamingQuery =
    stream.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyBatch(root, queryName, id) {
          GraftTable.merge(batch.sparkSession, root, batch, keys,
            txn = Some((queryName, id)))
        }
        ()
      }
      .start()

  /** Idempotence guard: apply the batch only if its id is newer than the
    * table's recorded marker for this query. Returns true if applied. */
  def applyBatch(root: String, queryName: String, batchId: Long)
      (apply: => Unit): Boolean = {
    val done = GraftTable.lastTxn(root, queryName).exists(_ >= batchId)
    if (!done) apply
    !done
  }
}
