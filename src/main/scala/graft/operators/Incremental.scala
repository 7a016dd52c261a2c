package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Incremental-extraction logic (SURVEY.md §2.6).
  *
  * The reference tracks extracted data-object ids in an append-only history
  * and pulls `lake_ids − history` each run (`utilities/utilities.py:208-224`,
  * `datalakewrapper.py:180-195`). That set-difference is
  * [[Upsert.insertOnly]]; this object keeps the watermark-id math.
  */
object Incremental {

  /** The reference's watermark: 05:00 local at a fixed UTC−6 offset. */
  private val CutoffHour = 5
  private val UtcOffsetHours = -6

  /** Daily watermark id (reference `utilities/utilities.py:792-808`):
    * the epoch second of 05:00 local time (fixed-offset UTC−6) of the
    * effective day — the previous day when local time is before the cutoff
    * hour. Reimplemented with explicit offsets (the reference hand-rolls a
    * fixed 21600 s subtraction) but yielding the same id values.
    *
    * @param ts timestamp column (UTC)
    */
  def incrementalId(ts: Column): Column = {
    val local = ts + expr(s"INTERVAL $UtcOffsetHours HOURS")
    val effectiveDay = when(hour(local) < CutoffHour,
      date_sub(to_date(local), 1)).otherwise(to_date(local))
    // local CutoffHour:00 on day D = epoch(D midnight UTC) + cutoff − offset
    (unix_timestamp(effectiveDay.cast("timestamp"))
      + lit((CutoffHour - UtcOffsetHours) * 3600L))
  }

  /** Precomputed daily schedule ids (reference
    * `utilities/utilities.py:706-709`): `start + 86400·i`. */
  def scheduleIds(startEpoch: Long, days: Int): Seq[Long] =
    (0 until days).map(i => startEpoch + 86400L * i)
}
