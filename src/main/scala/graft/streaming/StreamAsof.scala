package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming as-of join — the event-time-correct streaming counterpart of
  * `operators/AsofJoin` (for each left event, the LATEST right event with
  * `right.ts <= left.ts` on the same key).
  *
  * Spark's stream-stream joins cover equi and interval conditions but not
  * "latest prior per event", so this is custom keyed state via
  * `flatMapGroupsWithState`:
  *
  *   - both streams are unioned into one keyed stream with a side tag (a
  *     stream-stream union is append-only and needs no state of its own);
  *   - per key, arriving events buffer in state; a left event is emitted
  *     ONLY once the watermark passes its timestamp — at that point every
  *     right event at-or-before it has arrived (the watermark contract), so
  *     late/out-of-order rights within the allowed lateness can never
  *     invalidate an emitted row. Results equal the batch as-of join of the
  *     same data, which the spec pins;
  *   - state is BOUNDED: emitted lefts leave state immediately; rights
  *     older than every remaining left AND the watermark compact to the
  *     single latest such right (it stays the "current value" for future
  *     lefts); an event-time timeout re-fires the group when the watermark
  *     reaches the earliest still-buffered left, so emission needs no new
  *     arrivals on the key.
  *
  * Output is Append-mode (each joined left exactly once), deterministic
  * (ties `right.ts == left.ts` resolve to the right event, matching the
  * batch operator; rights at equal ts resolve to the largest value-ordering
  * stated below).
  */
object StreamAsof {

  /** Unioned input: `side` is "l" or "r". */
  final case class AsofInput(key: Long, ts: java.sql.Timestamp, side: String,
                             value: Double)
  final case class AsofJoined(key: Long, ts: java.sql.Timestamp,
                              left_value: Double,
                              right_ts: Option[java.sql.Timestamp],
                              right_value: Option[Double])
  /** Buffered per-key state: unemitted lefts, candidate rights. */
  final case class AsofState(lefts: List[(Long, Double)],
                             rights: List[(Long, Double)])

  /** The join itself. `input` must carry a watermark on `ts` (the spec and
    * [[start]] apply `.withWatermark` before calling). */
  def asofJoin(input: Dataset[AsofInput]): Dataset[AsofJoined] = {
    implicit val outEnc = Encoders.product[AsofJoined]
    implicit val stateEnc = Encoders.product[AsofState]
    input.groupByKey(_.key)(Encoders.scalaLong)
      .flatMapGroupsWithState[AsofState, AsofJoined](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: Long, batch: Iterator[AsofInput], state: GroupState[AsofState]) =>
          val prev = state.getOption.getOrElse(AsofState(Nil, Nil))
          var lefts = prev.lefts
          var rights = prev.rights
          batch.foreach { e =>
            val t = e.ts.getTime
            if (e.side == "l") lefts = (t, e.value) :: lefts
            else rights = (t, e.value) :: rights
          }
          val wm = state.getCurrentWatermarkMs()
          // finalize every left at-or-before the watermark. INCLUSIVE is
          // safe because Spark's stateful late-row filter is itself
          // inclusive: an event with ts <= wm is dropped before reaching
          // this function (pinned by StreamAsofSpec's boundary test), so
          // no right at-or-before an emitted left can arrive afterwards.
          // (wm == 0 before the first watermark — nothing emits early.)
          val (ready, pending) = lefts.partition(_._1 <= wm)
          val sortedRights = rights.sortBy { case (t, v) => (t, v) }
          val out = ready.sortBy(_._1).map { case (lt, lv) =>
            sortedRights.takeWhile(_._1 <= lt).lastOption match {
              case Some((rt, rv)) => AsofJoined(key, new java.sql.Timestamp(lt),
                lv, Some(new java.sql.Timestamp(rt)), Some(rv))
              case None => AsofJoined(key, new java.sql.Timestamp(lt),
                lv, None, None)
            }
          }
          // compact rights: anything at-or-before BOTH the watermark and
          // every pending left collapses to the single latest such right
          // (safe for the same inclusive-late-filter reason: no new right
          // can tie a timestamp at-or-below the watermark)
          val bound = (wm :: pending.map(_._1)).min
          val (old, live) = sortedRights.partition(_._1 <= bound)
          val kept = (old.lastOption.toList ++ live)
          if (pending.isEmpty && kept.isEmpty) state.remove()
          else {
            state.update(AsofState(pending, kept))
            // re-fire when the watermark reaches the earliest pending left,
            // so its emission doesn't wait for new traffic on this key
            // (pending lefts have ts > wm, so the timestamp is valid)
            if (pending.nonEmpty) {
              val next = pending.map(_._1).min
              if (next > wm) state.setTimeoutTimestamp(next)
            }
          }
          out.iterator
      }
  }

  /** Streaming driver: watermark + join + append-mode memory sink. */
  def start(input: Dataset[AsofInput], delay: String, queryName: String) =
    asofJoin(input.withWatermark("ts", delay)).writeStream
      .outputMode(OutputMode.Append())
      .format("memory").queryName(queryName)
      .start()
}
