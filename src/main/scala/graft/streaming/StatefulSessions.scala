package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Custom streaming state via `flatMapGroupsWithState` — gap-based
  * sessionization with explicit per-user state, the streaming twin of
  * [[graft.ext.Events.sessionizeBatch]] for cases the built-in
  * `session_window` can't express (custom merge logic, emission of
  * intermediate session versions, side metrics).
  *
  * State per user = the one open session (start, end, count). An incoming
  * event either extends it (gap ≤ `gapMs`) or closes it — closed sessions
  * are EMITTED (append mode) and a new session opens. A processing-time
  * timeout flushes sessions for users that went quiet.
  *
  * Scale: state is O(active users) × 24 bytes, partitioned by the group
  * key across executors; each micro-batch shuffles only that batch's
  * events on the same key. This is the canonical bounded-state streaming
  * shape — no unbounded buffering, timeout-driven eviction.
  */
object StatefulSessions {

  final case class Event(user_id: Long, ts: Long)
  final case class OpenSession(start: Long, end: Long, n: Long)
  final case class Session(user_id: Long, session_start: Long, session_end: Long, n_events: Long)

  /** @param timeoutMs Some(ms) evicts quiet users' sessions after a
    *        processing-time timeout; None disables eviction (sessions
    *        close only when a later event arrives). NOTE: with a timeout
    *        enabled, Spark keeps scheduling empty micro-batches to check
    *        timers — a drain-style `processAllAvailable()` never settles,
    *        so timeouts suit long-running queries, not drain-and-stop.
    */
  def sessionize(
      events: Dataset[Event],
      gap: Long,
      timeoutMs: Option[Long] = None): Dataset[Session] = {
    implicit val stateEnc = Encoders.product[OpenSession]
    implicit val outEnc = Encoders.product[Session]
    implicit val longEnc = Encoders.scalaLong

    val timeoutConf =
      if (timeoutMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append(), timeoutConf) {
        (userId: Long, batch: Iterator[Event], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            // quiet user: flush the open session and clear
            val out = state.getOption.map(s => Session(userId, s.start, s.end, s.n)).toSeq
            state.remove()
            out.iterator
          } else {
            val sorted = batch.toSeq.sortBy(_.ts)
            var open = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              open match {
                case Some(s) if e.ts - s.end <= gap =>
                  open = Some(OpenSession(s.start, e.ts, s.n + 1))
                case Some(s) =>
                  closed += Session(userId, s.start, s.end, s.n)
                  open = Some(OpenSession(e.ts, e.ts, 1))
                case None =>
                  open = Some(OpenSession(e.ts, e.ts, 1))
              }
            }
            open.foreach { s =>
              state.update(s)
              timeoutMs.foreach(state.setTimeoutDuration)
            }
            closed.result().iterator
          }
      }
  }

  /** Deterministic single-batch replay of [[sessionize]] over a
    * pre-sorted event frame (`user_id` LONG, `ts` LONG event-time
    * micros) — the x33 gate harness. Shares [[LateData]]'s cost model:
    * the sorted input file is staged ONCE per JVM per scratch key
    * (it is a pure function of the input), and the drain runs in the
    * small-reducer replay session with a tmpfs checkpoint — the
    * state-store commit floor, not the data, dominates this workload.
    */
  def replayedSessionize(
      spark: SparkSession,
      events: DataFrame,
      gap: Long,
      scratch: String,
      queryName: String,
      timeoutMs: Long = 300000L): DataFrame = {
    import org.apache.spark.sql.functions.col
    val root = s"${scratch}_${LateData.jvmToken}"
    val in = LateData.stagedDirs.computeIfAbsent(root, _ => {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      events.select(col("user_id"), col("ts"))
        .orderBy("user_id", "ts").coalesce(1)
        .write.parquet(s"$root/in")
      sys.addShutdownHook {
        try fs.delete(new org.apache.hadoop.fs.Path(root), true)
        catch { case _: Throwable => () }
      }
      s"$root/in"
    })
    val run = LateData.runCounter.incrementAndGet()
    val qn = s"${queryName}_r$run"
    val ss = LateData.replaySession(spark)
    implicit val evEnc = Encoders.product[Event]
    val stream = ss.readStream.schema(evEnc.schema).parquet(in).as[Event]
    Option(LateData.lastView.put(root, qn)).foreach(ss.catalog.dropTempView(_))
    val ckpt = LateData.ckptDir(run)
    val q = sessionize(stream, gap)
      .writeStream.format("memory").queryName(qn)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    try Drain(q, qn, timeoutMs)
    finally {
      val fs = new org.apache.hadoop.fs.Path(ckpt)
        .getFileSystem(spark.sessionState.newHadoopConf())
      try fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
      catch { case _: java.io.IOException => () }
    }
    ss.table(qn)
  }
}
