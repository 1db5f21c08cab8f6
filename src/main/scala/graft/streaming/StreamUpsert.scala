package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ManifestStore

/** Streaming upsert into a manifest-committed table — the lakehouse sink:
  * each micro-batch merges into a [[graft.sources.ManifestStore]] table
  * atomically, so readers always see a consistent snapshot and never a
  * half-applied batch. This is the streaming half of the reference's
  * incremental-load loop (etl_cron picks up the day's payload and merges
  * it, cubicerpetl/etl_cron.py) re-expressed as Structured Streaming over
  * an ACID table format, the way Delta/Iceberg streaming sinks work.
  *
  * Delivery contract: `foreachBatch` under a checkpoint is AT-LEAST-ONCE —
  * a crash between the merge commit and the checkpoint commit replays the
  * batch. The merge itself is idempotent per key (re-upserting the same
  * rows rewrites the same partitions to the same state), so replays
  * converge; the remaining cost of a replay is one redundant commit.
  * Passing `writerId` closes even that gap by FENCING: the merge records
  * (writerId, batchId) in the manifest atomically with the data and
  * skips batches the snapshot already records — the txn-action pattern
  * public table formats use (ManifestStore's txn fence). The gate's
  * correctness claim (final table ≡ batch upsert) holds under both
  * contracts because upserts commute per key.
  *
  * Scale: per micro-batch cost is O(touched partitions), not O(table) —
  * ManifestStore.merge prunes to the partitions the batch touches and
  * rewrites only those. State lives in the table + checkpoint, not in
  * executor memory, so an unbounded stream runs in bounded resources.
  *
  * The deterministic file-per-batch replay harness is [[Replay]]'s.
  */
object StreamUpsert {

  /** Replay `updates` (pre-assigned to arrival batches via `batchCol`)
    * through a streaming query whose every micro-batch runs `transform`
    * and merges the result into the ManifestStore table at `tablePath`
    * (which must already exist — `ManifestStore.write` the base snapshot
    * first).
    *
    * `transform` is the full streaming-funnel seam between the decoded
    * arrivals and the merge: quality gates, stream-static dedup probes
    * against persisted stores, projections. It must be deterministic and
    * per-row/stream-static only (no cross-batch state beyond the stores
    * it joins), which keeps the at-least-once replay convergent and the
    * txn fence sufficient for exactly-once.
    *
    * `writerId` upgrades the sink from at-least-once-convergent to
    * EXACTLY-ONCE: each merge records (writerId, batchId) in the
    * manifest atomically with the data, and a batch the snapshot
    * already records is skipped — the fencing the scaladoc above
    * describes, actually wired. The id names the logical stream and
    * must be stable across restarts/replays of that stream (and unique
    * among writers of the table), exactly the public txnAppId contract.
    */
  def replayedPipeline(
      spark: SparkSession,
      updates: DataFrame,
      dataCols: Seq[String],
      batchCol: String,
      scratch: String,
      tablePath: String,
      keyCols: Seq[String],
      partitionCols: Seq[String],
      transform: DataFrame => DataFrame = identity,
      writerId: Option[String] = None): Unit =
    Replay.foreachBatch(spark, updates.select((dataCols :+ batchCol).map(col): _*),
      col(batchCol), scratch, "graft_stream_upsert") { (batch, batchId) =>
      // batch belongs to the stream's session; keep the merge (its
      // snapshot read + upsert plan join) in that same session
      ManifestStore.merge(batch.sparkSession, tablePath, transform(batch.drop(batchCol)),
        keyCols, partitionCols, txn = writerId.map(w => (w, batchId)))
    }
}
