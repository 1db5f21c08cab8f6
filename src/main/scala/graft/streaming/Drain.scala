package graft.streaming

import org.apache.spark.sql.streaming.StreamingQuery

/** Drain a bounded (AvailableNow or one-shot) streaming query: wait up
  * to `timeoutMs` for it to terminate, throwing `<name>: drain timeout`
  * when it does not. The query is stopped only while it is still
  * active: a query that terminated on its own has nothing to stop, and
  * stopping it anyway makes Spark cancel its already-finished job group
  * while the query thread winds down (two "Failed to cancel job group"
  * warnings per drain). A failed query rethrows its failure here.
  * Checkpoint cleanup stays with the caller.
  */
object Drain {
  def apply(q: StreamingQuery, name: String, timeoutMs: Long): Unit =
    try {
      if (!q.awaitTermination(timeoutMs))
        throw new RuntimeException(s"$name: drain timeout")
    } finally if (q.isActive) q.stop()
}
