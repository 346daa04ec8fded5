package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Semantics pins for the CDC + time-series family on crafted frames:
  * SCD2 interval chaining (contiguity, tie-break, open tail), MERGE
  * apply (replace/remove/pass-through, delete-of-absent no-op),
  * gap-fill forward-fill behavior (leading nulls, multi-day carry,
  * same-day last-write-wins), and the integer 3σ rule against a
  * driver-side double computation.
  */
class CdcTimeseriesSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def events(rows: Seq[(Long, String, Long, String, Double)]): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(rows)
      .toDF("event_id", "tss", "user_id", "event_type", "value")
      .select(col("event_id"), to_timestamp(col("tss")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
  }

  test("scd2: intervals chain contiguously, ties break on event_id, tail open") {
    val ev = events(Seq(
      (1L, "2024-01-01 10:00:00", 7L, "a", 1.00),
      (2L, "2024-01-01 11:00:00", 7L, "a", 2.00),
      // same timestamp as event 2 — must order AFTER it (higher id)
      (3L, "2024-01-01 11:00:00", 7L, "a", 3.00),
      (9L, "2024-01-01 09:00:00", 8L, "a", 5.00)))
    val out = Cdc.scd2Intervals(ev)
      .orderBy("user_id", "valid_from_us", "event_id").collect()

    val u7 = out.filter(_.getLong(0) == 7L)
    assert(u7.map(_.getLong(1)).toSeq === Seq(1L, 2L, 3L))
    // each interval closes exactly where the next opens
    assert(u7(0).getLong(4) === u7(1).getLong(3))
    assert(u7(1).getLong(4) === u7(2).getLong(3))
    // tie pair: event 2's interval is empty (closes at its own open)
    assert(u7(1).getLong(3) === u7(1).getLong(4))
    // tails are open and flagged current
    assert(u7(2).isNullAt(4) && u7(2).getBoolean(5))
    val u8 = out.filter(_.getLong(0) == 8L)
    assert(u8.length === 1 && u8(0).isNullAt(4) && u8(0).getBoolean(5))
  }

  test("merge: upsert replaces, delete removes, absent-key delete is a no-op") {
    import spark.implicits._
    val base = Seq((1L, "one"), (2L, "two"), (3L, "three"))
      .toDF("doc_id", "text")
    val delta = Seq(
      (2L, "upsert", "TWO"),   // replace
      (3L, "delete", ""),      // remove
      (4L, "upsert", "four"),  // brand-new key
      (99L, "delete", "")      // delete of a key base never had
    ).toDF("doc_id", "op", "text")

    val out = Cdc.mergeUpserts(base, delta).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def h(s: String) = spark.range(1)
      .select(md5(lit(s))).head.getString(0)
    assert(out === Array(
      (1L, h("one"), "base"),
      (2L, h("TWO"), "delta"),
      (4L, h("four"), "delta")))
  }

  test("gap fill: daily grid spans corpus range, ffill carries, leading nulls") {
    val ev = events(Seq(
      // user 1: days 0 and 2 of the range; day 1 is a gap
      (1L, "2024-03-01 08:00:00", 1L, "a", 1.00),
      (2L, "2024-03-01 12:00:00", 1L, "a", 2.00), // same-day later write wins
      (3L, "2024-03-03 09:00:00", 1L, "a", 9.00),
      // user 2 starts on day 2 → days 0-1 are leading nulls
      (4L, "2024-03-03 10:00:00", 2L, "a", 5.00)))
    val out = Timeseries.gapFillDaily(ev).orderBy("user_id", "day").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getBoolean(3)))
    assert(out === Array(
      (1L, Some(200L), true),  // day 0: last write of the day
      (1L, Some(200L), false), // day 1: gap, carried forward
      (1L, Some(900L), true),  // day 2: new observation
      (2L, None, false),       // leading nulls before first obs
      (2L, None, false),
      (2L, Some(500L), true)))
  }

  test("integer 3-sigma rule agrees with the double formula") {
    // one far outlier in a tight cluster; values exact in cents
    val vals = Seq.tabulate(40)(i => 10.00 + (i % 5) * 0.01) :+ 99.99
    val ev = events(vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, "2024-01-01 00:00:00", 1L, "t", v) })
    val got = Timeseries.outlierEvents(ev).collect()
      .map(_.getLong(0)).toSet

    val cents = vals.map(v => math.round(v * 100))
    val n = cents.size.toDouble
    val mu = cents.sum / n
    val sigma = math.sqrt(cents.map(c => (c - mu) * (c - mu)).sum / n)
    val want = cents.zipWithIndex
      .filter { case (c, _) => math.abs(c - mu) > 3 * sigma }
      .map(_._2.toLong).toSet
    assert(want.nonEmpty && got === want)
  }

  test("madOutliers: modified z-score flags vs a driver-side reference") {
    // type t: tight cluster + one wild value. Median/MAD are discrete
    // (smallest value whose cumulative count reaches (n+1) div 2).
    val vals = Seq(10.00, 10.01, 10.02, 10.01, 10.03, 10.02, 99.99)
    val ev = events(vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, "2024-01-01 00:00:00", 1L, "t", v) })
    val got = Timeseries.madOutliers(ev).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSet

    val cents = vals.map(v => math.round(v * 100)).sorted
    val med = cents((cents.size + 1) / 2 - 1) // 1002
    val ads = vals.map(v => math.abs(math.round(v * 100) - med)).sorted
    val mad = ads((ads.size + 1) / 2 - 1) // 1
    val want = vals.zipWithIndex
      .filter { case (v, _) => 6745L * math.abs(math.round(v * 100) - med) >
        35000L * mad }
      .map { case (_, i) => (i.toLong, med, mad) }.toSet
    assert(med === 1002L && mad === 1L)
    assert(want.nonEmpty && got === want)
  }

  test("madOutliers: MAD=0 degenerates to flagging any deviation") {
    // 5 of 6 values identical ⇒ med = that value, MAD = 0
    val ev = events(Seq.tabulate(5)(i =>
      (i.toLong, "2024-01-01 00:00:00", 1L, "t", 5.00)) :+
      (9L, "2024-01-01 00:00:00", 1L, "t", 5.01))
    val got = Timeseries.madOutliers(ev).collect()
      .map(r => (r.getLong(0), r.getLong(4))).toSet
    assert(got === Set((9L, 0L)))
  }

  test("madOutliers: the mean/σ gate misses what the median gate catches") {
    // two wild values drag σ up enough that 3σ keeps them both; the
    // median is unmoved, so the MAD gate flags them — the robustness
    // motivation, pinned
    val vals = Seq.fill(8)(10.00) ++ Seq(80.00, 80.00)
    val ev = events(vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, "2024-01-01 00:00:00", 1L, "t", v) })
    assert(Timeseries.outlierEvents(ev).count() === 0L)
    assert(Timeseries.madOutliers(ev).collect().map(_.getLong(0)).toSet
      === Set(8L, 9L))
  }

  test("ewmaSmooth: hand-traced trailing fold, frame cap, user isolation") {
    val ev = events(Seq(
      (1L, "2024-01-01 00:00:01", 1L, "t", 1.00), // [100]            → 100
      (2L, "2024-01-01 00:00:02", 1L, "t", 2.00), // [100,200]        → (100+400)/3 = 166
      (3L, "2024-01-01 00:00:03", 1L, "t", 0.50), // [100,200,50]     → (100+400+200)/7 = 100
      (9L, "2024-01-01 00:00:09", 2L, "t", 7.00))) // other user: own frame
    val got = Timeseries.ewmaSmooth(ev, k = 8).collect()
      .map(r => r.getLong(1) -> r.getLong(4)).toMap
    assert(got === Map(1L -> 100L, 2L -> 166L, 3L -> 100L, 9L -> 700L))
  }

  test("ewmaSmooth: frame is capped at k and renormalizes at the head") {
    // k=2: third event sees only [prev, cur] → (prev + 2·cur) div 3
    val ev = events(Seq(
      (1L, "2024-01-01 00:00:01", 1L, "t", 9.00),
      (2L, "2024-01-01 00:00:02", 1L, "t", 3.00),
      (3L, "2024-01-01 00:00:03", 1L, "t", 6.00)))
    val got = Timeseries.ewmaSmooth(ev, k = 2).collect()
      .map(r => r.getLong(1) -> r.getLong(4)).toMap
    // id2: (900 + 2·300)/3 = 500; id3: (300 + 2·600)/3 = 500
    assert(got === Map(1L -> 900L, 2L -> 500L, 3L -> 500L))
  }

  test("ohlc: open/close follow the (time, event_id) order, not arrival order") {
    import spark.implicits._
    // one (type, hour) bar, rows DELIBERATELY out of order; ids at the
    // same second pin the event_id tie-break
    val bar = events(Seq(
      (5L, "2024-01-01 10:40:00", 1L, "click", 3.00),   // close (latest ts)
      (2L, "2024-01-01 10:00:00", 1L, "click", 7.00),   // same ts as id 1
      (1L, "2024-01-01 10:00:00", 1L, "click", 5.00),   // open (ts tie, min id)
      (3L, "2024-01-01 10:20:00", 1L, "click", 9.99),   // high
      (4L, "2024-01-01 10:30:00", 1L, "click", 0.50)))  // low
    val row = Timeseries.resampleOhlc(bar)
      .select("open_cents", "close_cents", "high_cents", "low_cents", "n")
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(row === ((500L, 300L, 999L, 50L, 5L)))
  }

  test("attribution: first/last touch by event time, purchase cents attributed") {
    import spark.implicits._
    val ev = events(Seq(
      // user 1: view -> purchase -> click (entry view, exit click)
      (1L, "2024-01-01 10:00:00", 1L, "view", 1.00),
      (2L, "2024-01-01 11:00:00", 1L, "purchase", 20.00),
      (3L, "2024-01-01 12:00:00", 1L, "click", 1.00),
      // user 2: same entry/exit cell, no purchase
      (4L, "2024-01-02 09:00:00", 2L, "view", 1.00),
      (5L, "2024-01-02 10:00:00", 2L, "click", 1.00),
      // user 3: single event -> first == last
      (6L, "2024-01-03 09:00:00", 3L, "purchase", 5.50)))
    val got = ProductAnalytics.attributionFirstLast(ev)
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got === Map(
      ("view", "click") -> ((2L, 2000L)),
      ("purchase", "purchase") -> ((1L, 550L))))
  }

  test("rollingMedian: discrete lower median over the trailing frame") {
    import spark.implicits._
    def ts(s: Long) = new Timestamp(s * 1000L)
    // user 1 values: 10, 100, 20, 30 (k=3 frames):
    // [10]=10, [10,100]=10 (lower of 2), [10,100,20]=20, [100,20,30]=30
    val ev = Seq(
      (1L, ts(1), 1L, "a", 0.10, ""), (2L, ts(2), 1L, "a", 1.00, ""),
      (3L, ts(3), 1L, "a", 0.20, ""), (4L, ts(4), 1L, "a", 0.30, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Timeseries.rollingMedian(ev, k = 3)
      .select("event_id", "median_cents").as[(Long, Long)].collect().toSeq
      .sortBy(_._1)
    assert(out === Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 30L)))
  }

  test("rollingMedian shrugs off the spike that drags the EWMA") {
    import spark.implicits._
    def ts(s: Long) = new Timestamp(s * 1000L)
    val ev = (1 to 8).map(i =>
      (i.toLong, ts(i.toLong), 1L, "a", if (i == 4) 99.0 else 1.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val med = Timeseries.rollingMedian(ev, k = 3)
      .filter(col("event_id") > 4).select("median_cents").as[Long].collect()
    assert(med.drop(1).forall(_ === 100L),
      "median returns to baseline one step after the spike leaves the center")
  }
}
