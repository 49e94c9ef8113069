package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY.md §2.4): the reference tool
  * is batch (monthly report windows), but the same event data arrives
  * continuously at scale — this is the streaming twin of
  * q_window_time (windowed aggregation with a watermark) and a
  * bounded-state frequent-items summary.
  *
  * Scale: state is partitioned by the group key; the watermark bounds
  * state size; event-time timeouts evict closed windows instead of
  * accumulating them.
  */
object EventStream {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Tumbling 1-hour counts per event_type with a 10-minute watermark
    * (late data beyond the watermark is dropped, state is bounded).
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  final case class HeavyHitter(window_start: Timestamp, item: String,
      est_count: Long, max_err: Long, rank: Int)
  final case class HHItem(item: String, count: Long, err: Long)
  final case class HHState(n: Long, items: Seq[HHItem])

  /** Streaming frequent items per tumbling window — SpaceSaving
    * (Metwally et al. 2005) with `capacity` counters per window, the
    * constant-memory answer to "top domains/users this hour" over an
    * unbounded high-cardinality stream. An exact windowed count
    * (windowedCounts) keys state by ITEM — state grows with the
    * number of distinct items per window, unbounded for
    * high-cardinality keys; SpaceSaving keeps exactly `capacity`
    * counters per window and still GUARANTEES every item with true
    * count > N/capacity is in the summary, with
    * est_count − max_err ≤ true ≤ est_count.
    *
    * State is keyed by window start and evicted by EventTimeTimeout
    * when the watermark passes the window end (clamped to watermark + 1
    * when the end is already behind it, so no window stays registered
    * forever) — in-flight windows × capacity counters, regardless of
    * stream length or item cardinality. Rows are folded in
    * (ts, item) order per micro-batch so a given batch split is
    * deterministic; like any streaming sketch, the summary (not the
    * guarantee) depends on arrival order across batches.
    */
  def heavyHitters(events: DataFrame, itemCol: String, capacity: Int = 8,
      windowMinutes: Int = 60, delay: String = "10 minutes")
      : Dataset[HeavyHitter] = {
    import events.sparkSession.implicits._
    val windowMs = windowMinutes * 60000L
    events
      .withWatermark("ts", delay)
      .select(col("ts"), col(itemCol).cast("string").as("item"))
      // null ts cannot be windowed, a null item cannot be counted —
      // drop both instead of NPE-killing the query (the driftStream
      // guard)
      .filter(col("ts").isNotNull && col("item").isNotNull)
      .as[(Timestamp, String)]
      // floorDiv: plain division truncates toward zero and would
      // misassign pre-epoch event times (backfills) to the window
      // AFTER them — Spark's window() floors, so must we
      .groupByKey { case (t, _) => Math.floorDiv(t.getTime, windowMs) * windowMs }
      .flatMapGroupsWithState[HHState, HeavyHitter](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (winStart: Long, rows: Iterator[(Timestamp, String)],
            state: GroupState[HHState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            s.items.sortBy(i => (-i.count, i.item)).zipWithIndex.iterator
              .map { case (i, r) =>
                HeavyHitter(new Timestamp(winStart), i.item, i.count, i.err,
                  r + 1)
              }
          } else {
            val counters = scala.collection.mutable.LinkedHashMap(
              state.getOption.map(_.items.map(i => i.item -> i)).getOrElse(Nil): _*)
            var n = state.getOption.map(_.n).getOrElse(0L)
            rows.toSeq.sortBy { case (t, i) => (t.getTime, i) }.foreach {
              case (_, item) =>
                n += 1
                counters.get(item) match {
                  case Some(c) =>
                    counters(item) = c.copy(count = c.count + 1)
                  case None if counters.size < capacity =>
                    counters(item) = HHItem(item, 1L, 0L)
                  case None =>
                    // evict the deterministic min (count, item); the
                    // newcomer inherits its count as the error bound
                    val victim = counters.values.minBy(c => (c.count, c.item))
                    counters.remove(victim.item)
                    counters(item) =
                      HHItem(item, victim.count + 1, victim.count)
                }
            }
            state.update(HHState(n, counters.values.toSeq))
            state.setTimeoutTimestamp(math.max(winStart + windowMs,
              state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }
}
