package graft

import graft.operators.Sessionize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Station-registry / telemetry analytics (SURVEY.md §2.2 R2–R11 and §2.4
  * A1–A4) as batch queries over the events-as-hits mapping.
  *
  * Determinism rules: rates/stddev are computed from exact integer window
  * counts via the closed-form sqrt((nΣx²−(Σx)²)/(n(n−1))) so both engines
  * evaluate the identical double expression; per-event means go through
  * fixed-point sums (see Relational).
  */
object Registry {

  private val WindowNs = 1800L * 1000000000L   // 30-min rate windows (R2)
  private val DayNs    = 86400L * 1000000000L  // summary/log interval
  final val CounterMod = 65536L                // u16 ublox counter (R4)
  private val ExtremeValue = 300.0             // R5 extreme-timing threshold

  private def hits(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id"), col("user_id").as("station"),
      (expr("ts div 1000") * 1000).as("start_ns"),
      col("event_type"), col("value"))

  /** R2: per-station event-rate mean/stddev over 30-min windows
    * (reference include/analysis/detectorstation.h:123-132 rate rings). */
  private def stationRates(s: SparkSession, dir: String): DataFrame =
    ratesRaw(s, dir)
      .select(col("station"), col("n_windows"),
        col("mean_rate"), col("stddev_rate"))
      .orderBy("station")

  /** Unrounded rate stats, shared with the reliability classifier. */
  private def ratesRaw(s: SparkSession, dir: String): DataFrame =
    hits(s, dir)
      .withColumn("w", floor(col("start_ns") / WindowNs))
      .groupBy("station", "w").agg(count(lit(1)).as("c"))
      .groupBy("station").agg(
        count(lit(1)).as("n_windows"),
        sum("c").as("_sc"),
        sum(col("c") * col("c")).as("_sc2"))
      .select(col("station"), col("n_windows"),
        (col("_sc") / col("n_windows")).as("mean_rate"),
        when(col("n_windows") > 1,
          sqrt((col("n_windows") * col("_sc2") - col("_sc") * col("_sc")) /
            (col("n_windows") * (col("n_windows") - 1))))
          .as("stddev_rate"))

  /** R4: u16 hardware-counter progress with wraparound correction
    * (reference src/analysis/detectorstation.cpp:37-48: when the counter is
    * non-increasing, delta = current + (65535 − last)). */
  private def counterDeltas(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("station").orderBy("start_ns", "event_id")
    hits(s, dir)
      .withColumn("ctr", col("event_id") % CounterMod)
      .withColumn("prev", lag(col("ctr"), 1).over(w))
      .withColumn("delta",
        when(col("prev").isNull, lit(0L))
          .when(col("ctr") > col("prev"), col("ctr") - col("prev"))
          .otherwise(col("ctr") + (CounterMod - 1) - col("prev")))
  }

  private def counterWrap(s: SparkSession, dir: String): DataFrame =
    counterDeltas(s, dir)
      .groupBy("station")
      .agg(count(lit(1)).as("n_events"), sum("delta").as("progress"))
      .orderBy("station")

  /** R5: event accept gate (reference detectorstation.cpp:57-61
    * `time_acc ≤ 1000 && fix == 1`, mapped to this corpus's columns). */
  private def acceptGate(s: SparkSession, dir: String): DataFrame =
    hits(s, dir)
      .groupBy("station")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("value") <= 50.0 && col("event_type") =!= "error", 1L)
          .otherwise(0L)).as("n_accepted"))
      .withColumn("accept_ratio", col("n_accepted") / col("n_total"))
      .orderBy("station")

  /** R6: reliability classifier (reference detectorstation.cpp:89-107):
    * factor > 1.15 ⇒ unreliable, all factors < 0.85 ⇒ reliable, else
    * hysteresis keeps the previous state — batch canonical form reports
    * the in-between band as 'marginal'. */
  private def reliability(s: SparkSession, dir: String): DataFrame = {
    val rates = ratesRaw(s, dir)
    val quality = hits(s, dir).groupBy("station")
      .agg((sum(round(col("value") * 100).cast("long")) / 100.0 /
        count(lit(1))).as("_mean_value"))
    rates.join(quality, Seq("station"))
      .withColumn("f_time", col("_mean_value") / 50.0)
      .withColumn("f_rate",
        coalesce(col("stddev_rate") / (col("mean_rate") * 0.75), lit(0.0)))
      .withColumn("status",
        when(col("f_time") > 1.15 || col("f_rate") > 1.15, "unreliable")
          .when(col("f_time") < 0.85 && col("f_rate") < 0.85, "reliable")
          .otherwise("marginal"))
      .select(col("station"), col("f_time"), col("f_rate"), col("status"))
      .orderBy("station")
  }

  /** R3/A2: last-N ring-buffer means as bounded row windows (reference
    * include/analysis/detectorstation.h:137-139: data_series<double>
    * pulselength{100}, time_acc{100}, reliability_time_acc{5}) — the
    * canonical Spark form is rowsBetween(-(N-1), 0) per station ordered
    * by event time. Means go through exact integer window sums (values
    * are centi/deci fixed-point) so both engines divide the identical
    * exact total — no summation-order ulp drift. */
  private def stationLastN(s: SparkSession, dir: String): DataFrame = {
    val order = Seq(col("start_ns"), col("event_id"))
    val w100 = Window.partitionBy("station").orderBy(order: _*)
      .rowsBetween(-99, 0)
    val w5 = Window.partitionBy("station").orderBy(order: _*)
      .rowsBetween(-4, 0)
    hits(s, dir)
      .withColumn("pl_c", round(col("value") * 100).cast("long"))
      .withColumn("ta_d", round(col("value") * 10).cast("long"))
      .select(col("station"), col("event_id"), col("start_ns"),
        count(lit(1)).over(w100).as("n100"),
        (sum("pl_c").over(w100) / 100.0 / count(lit(1)).over(w100))
          .as("mean_pulselength"),
        (sum("ta_d").over(w100) / 10.0 / count(lit(1)).over(w100))
          .as("mean_time_acc"),
        (sum("ta_d").over(w5) / 10.0 / count(lit(1)).over(w5))
          .as("rel_time_acc"))
      .orderBy("station", "start_ns", "event_id")
  }

  /** R9: event enrichment join + reliability gate (reference
    * src/supervision/station.cpp:28-46): an event whose station hash is
    * unknown is dropped; `det->process(event)` applies the R5 accept gate;
    * the survivor gets the station's location and userinfo attached and is
    * forwarded ONLY while the station is classified reliable.
    *
    * Spark shape: the per-station registry (known set = stations whose
    * detector-info S4 mask has assembled completely at least once over the
    * corpus — the reference registry keeps a station once `detectorinfo`
    * fully arrives, src/supervision/station.cpp:28-34; status = the R6
    * classifier) is tiny relative to the event stream, so it BROADCASTS —
    * the 100 TB event scan never shuffles. */
  private def enrichedEvents(s: SparkSession, dir: String): DataFrame = {
    val known = Tables.events(s, dir).select(
        col("user_id").as("station"),
        (col("event_id") % 6).as("field_id"))
      .groupBy("station")
      .agg(expr("bit_or(shiftleft(1L, cast(field_id AS int)))").as("mask"))
      .filter(col("mask") === 63)
      .select("station")
    val registry = known
      .join(reliability(s, dir).select("station", "status"), Seq("station"))
      .filter(col("status") === "reliable")
      .withColumn("lat", lit(50.0) + (col("station") % 10) * lit(0.02))
      .withColumn("lon", lit(10.0) + (floor(col("station") / 10) % 10) * lit(0.03))
      .withColumn("h", lit(100.0) + (col("station") % 7) * lit(10.0))
      .withColumn("user_name", concat(lit("user_"), col("station")))
    hits(s, dir)
      .filter(col("value") <= 50.0 && col("event_type") =!= "error") // R5 gate
      .join(broadcast(registry), Seq("station"))
      .select("event_id", "station", "start_ns",
        "lat", "lon", "h", "user_name")
      .orderBy("event_id")
  }

  /** R2/A3 sliding form (reference rate_measurement rings: overlapping
    * fixed-length intervals advancing by a sub-multiple,
    * include/analysis/detectorstation.h:123-132): Spark's native sliding
    * `window(ts, 2h, 30m)` — each event lands in len/slide = 4 windows;
    * the cluster-wide incoming rate in Hz per window. */
  private def slidingRates(s: SparkSession, dir: String): DataFrame =
    hits(s, dir)
      .withColumn("ts", timestamp_micros(expr("start_ns div 1000")))
      .groupBy(window(col("ts"), "2 hours", "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select((unix_micros(col("window.start")) * 1000).as("w_start_ns"),
        col("n_events"),
        (col("n_events") / 7200.0).as("rate_hz"))
      .orderBy("w_start_ns")

  /** R8/O7: status-transition trigger emission with reason enum (reference
    * src/analysis/detectorstation.cpp:89-123 + set_status at :71-77: a
    * trigger fires only when the status CHANGES, carrying one of the
    * reason strings of include/messages/detectorstatus.h:18-25).
    *
    * Classifier precedence per (station, day):
    *   any extreme-timing event  → unreliable / time_accuracy_extreme
    *     (the R5 side effect at detectorstation.cpp:57-61; the reference
    *      threshold is 100× max_timing_error — scaled here to the corpus
    *      value range, which tops out at ~490)
    *   f_location > 1.15         → unreliable / location_precision
    *   f_time     > 1.15         → unreliable / time_accuracy
    *   f_rate     > 1.15         → unreliable / rate_unstable
    *   all three  < 0.85         → reliable   / miscellaneous
    *   otherwise                 → hysteresis hold (carry previous state)
    * The hold is a last(ignoreNulls) carry-forward window; transitions are
    * lag() deltas seeded with the 'online' (created) state. O7 columns:
    * per-station topic and the sink line "<date> <status> <reason>". */
  /** Per-(station, active-day) R6 classifier decision (nullable
    * d_status/d_reason inside the dead band) — shared by statusTriggers
    * and clusterLogDetectors. */
  private def dailyClassified(s: SparkSession, dir: String): DataFrame =
    ScanCache.get(s, s"daily-classified:$dir") {
      dailyClassifiedUncached(s, dir) }

  private def dailyClassifiedUncached(s: SparkSession, dir: String)
      : DataFrame = {
    val h = hits(s, dir).withColumn("day", floor(col("start_ns") / DayNs))
    val daily = h.groupBy("station", "day").agg(
      (sum(round(col("value") * 100).cast("long")) / 100.0 /
        count(lit(1)) / 50.0).as("f_time"),
      (max("value") > ExtremeValue).as("extreme"))
    val frate = h.withColumn("w", floor(col("start_ns") / WindowNs))
      .groupBy("station", "day", "w").agg(count(lit(1)).as("c"))
      .groupBy("station", "day").agg(
        count(lit(1)).as("nw"), sum("c").as("sc"),
        sum(col("c") * col("c")).as("sc2"))
      .select(col("station"), col("day"),
        when(col("nw") > 1,
          sqrt((col("nw") * col("sc2") - col("sc") * col("sc")) /
            (col("nw") * (col("nw") - 1))) / (col("sc") / col("nw")) / 0.75)
          .otherwise(lit(0.0)).as("f_rate"))
    val dop = lit(1.0) + (col("station") % 5).cast("double") * lit(0.25)
    val acc2 = ((lit(2) + col("station") % 11) * (lit(2) + col("station") % 11) +
      (lit(3) + col("station") % 13) * (lit(3) + col("station") % 13))
      .cast("double")
    daily.join(frate, Seq("station", "day"))
      .withColumn("f_location", dop * sqrt(acc2) / lit(15.0))
      .withColumn("d_status",
        when(col("extreme"), "unreliable")
          .when(col("f_location") > 1.15, "unreliable")
          .when(col("f_time") > 1.15, "unreliable")
          .when(col("f_rate") > 1.15, "unreliable")
          .when(col("f_location") < 0.85 && col("f_time") < 0.85 &&
            col("f_rate") < 0.85, "reliable"))
      .withColumn("d_reason",
        when(col("extreme"), "time_accuracy_extreme")
          .when(col("f_location") > 1.15, "location_precision")
          .when(col("f_time") > 1.15, "time_accuracy")
          .when(col("f_rate") > 1.15, "rate_unstable")
          .when(col("f_location") < 0.85 && col("f_time") < 0.85 &&
            col("f_rate") < 0.85, "miscellaneous"))
  }

  private def statusTriggers(s: SparkSession, dir: String): DataFrame = {
    val classified = dailyClassified(s, dir)
    val w = Window.partitionBy("station").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wl = Window.partitionBy("station").orderBy("day")
    classified
      .withColumn("status",
        coalesce(last("d_status", ignoreNulls = true).over(w), lit("online")))
      .withColumn("prev_status",
        coalesce(lag("status", 1).over(wl), lit("online")))
      .filter(col("status") =!= col("prev_status"))
      .select(col("station"), col("day"), col("prev_status"), col("status"),
        col("d_reason").as("reason"),
        concat(lit("u"), col("station"), lit("/st"), col("station") % 3)
          .as("topic"),
        concat(date_format(date_add(to_date(lit("1970-01-01")),
            col("day").cast("int")), "yyyy-MM-dd"),
          lit("_00-00-00 UTC "), col("status"), lit(" "),
          col("d_reason")).as("msg"))
      .orderBy("station", "day")
  }

  /** Cluster-log detector counters (reference
    * include/messages/clusterlog.h:24-25 + supervision/state.cpp:24-42:
    * every interval reports the TOTAL tracked detectors and how many are
    * currently reliable): a station×day dimension grid carries each
    * station's last classifier decision forward (online before its first
    * classified day), counted per day. The grid is dimension-sized
    * (stations × days), so the as-of carry-forward is tiny regardless of
    * event volume. */
  private def clusterLogDetectors(s: SparkSession, dir: String): DataFrame = {
    val hd = hits(s, dir).withColumn("day", floor(col("start_ns") / DayNs))
    val days = hd.agg(min("day").as("d0"), max("day").as("d1"))
      .selectExpr("explode(sequence(d0, d1)) AS day")
    val fs = hd.groupBy("station").agg(min("day").as("first_day"))
    val grid = fs.crossJoin(broadcast(days))
    // piecewise-constant status spans [cday, next_cday): each grid day
    // matches exactly one span (or none → online), so the join output is
    // station×days — not the triangular all-priors join
    val wl = Window.partitionBy("cst").orderBy("cday")
    val iv = dailyClassified(s, dir).filter(col("d_status").isNotNull)
      .select(col("station").as("cst"), col("day").as("cday"),
        col("d_status"))
      .withColumn("next_cday", lead("cday", 1).over(wl))
    val counts = grid.join(broadcast(iv),
        grid("station") === iv("cst") && col("day") >= col("cday") &&
          (col("next_cday").isNull || col("day") < col("next_cday")),
        "left")
      .withColumn("status", coalesce(col("d_status"), lit("online")))
      .groupBy("day")
      .agg(
        sum(when(col("day") >= col("first_day"), 1L).otherwise(0L))
          .as("total_detectors"),
        sum(when(col("day") >= col("first_day") &&
          col("status") === "reliable", 1L).otherwise(0L))
          .as("reliable_detectors"))
    // clusterlog.h:23 buffer_length: constructors still open at a log
    // boundary = sessions whose last hit lies within one gap of it
    // (their timeout has not yet expired there). Sampled at HOURLY
    // boundaries — the reference logs on a minutes-scale cadence, and
    // day boundaries observe an always-zero buffer on this corpus —
    // summed per day (open-cluster observations that day). Each session
    // end can satisfy at most one hourly boundary (gap << hour), so the
    // boundary test is a cheap per-session expression, no boundary join.
    val HourNs = 3600L * 1000000000L
    // a boundary B (multiple of an hour) satisfies ce <= B < ce + gap
    // iff (ce-1) div H < (ce+gap-1) div H; B is then ((ce+gap-1) div H)·H
    val buf = Sessionize.withClusterKey(
        hits(s, dir).select("event_id", "station", "start_ns"),
        Detector.GapNs, Detector.BucketNs)
      .groupBy("cluster_key").agg(max("start_ns").as("ce"))
      .filter(expr(s"(ce - 1) div ${HourNs}L") <
        expr(s"(ce + ${Detector.GapNs}L - 1) div ${HourNs}L"))
      .withColumn("day",
        expr(s"((ce + ${Detector.GapNs}L - 1) div ${HourNs}L) * ${HourNs}L" +
          s" div ${DayNs}L"))
      .groupBy("day")
      .agg(count(lit(1)).as("buffer_length"))
    counts.join(buf, Seq("day"), "left")
      .withColumn("buffer_length", coalesce(col("buffer_length"), lit(0L)))
      .orderBy("day")
  }

  /** R10 → T1 link (reference src/analysis/detectorstation.cpp:127-135 +
    * src/supervision/station.cpp:69-81 + src/messages/event.cpp:7-11):
    * per sample day, each RELIABLE station contributes a rate-dip factor
    * (((mean − current)/stddev + 1)·2 when the current rate dips below
    * mean − stddev, else 1.0); the largest factor is truncated to int64
    * and scales the day's timebase into the dynamic cluster timeout,
    * clamped to [2 s, 30 min]. This stays a batch query: the streaming
    * clusterer seals on the fixed session gap (Detector.GapNs). */
  /** R10 rate-dip factor column (reference detectorstation.cpp:127-135);
    * the synthetic corpus never dips below mean − stddev, so the branch
    * is pinned by RegistryFactorSpec on a fixture rather than the oracle. */
  private[graft] def rateDipFactor(cur: org.apache.spark.sql.Column,
                                   mean: org.apache.spark.sql.Column,
                                   sd: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(sd.isNotNull && cur < mean - sd,
      ((mean - cur) / sd + 1.0) * 2.0).otherwise(lit(1.0))

  private def timebaseTimeout(s: SparkSession, dir: String): DataFrame = {
    val h = hits(s, dir).withColumn("day", floor(col("start_ns") / DayNs))
    val rel = reliability(s, dir).select("station", "status")
    val rates = ratesRaw(s, dir).select("station", "mean_rate", "stddev_rate")
    val cur = h.withColumn("w", floor(col("start_ns") / WindowNs))
      .groupBy("station", "day", "w").agg(count(lit(1)).as("c"))
      .groupBy("station", "day")
      .agg((sum("c") / count(lit(1))).as("cur_rate"))
    val factors = cur.join(rates, Seq("station")).join(rel, Seq("station"))
      .filter(col("status") === "reliable")
      .withColumn("factor", rateDipFactor(col("cur_rate"),
        col("mean_rate"), col("stddev_rate")))
      .groupBy("day").agg(max("factor").as("largest"))
    h.groupBy("day")
      .agg((max("start_ns") - min("start_ns")).as("spread"))
      .withColumn("base_ns",
        greatest(least(col("spread"), lit(Detector.BaseMaxNs)),
          lit(Detector.BaseMinNs)))
      .join(factors, Seq("day"), "left")
      .withColumn("factor_i",
        floor(coalesce(col("largest"), lit(1.0))).cast("long"))
      .withColumn("timeout_ns",
        greatest(least(col("base_ns") * col("factor_i"),
          lit(Detector.TimeoutMaxNs)), lit(Detector.TimeoutMinNs)))
      .select("day", "base_ns", "factor_i", "timeout_ns")
      .orderBy("day")
  }

  /** AS-OF join, composed: each event carries the station's status AS OF
    * the event's day — the reference's gate consults the LIVE status at
    * processing time (src/supervision/station.cpp:36-44), which
    * enriched_events flattens to the whole-corpus classification; here
    * the R8 transition stream gives the status timeline and a
    * union + carry-forward window attaches the in-effect value. Spark
    * has no ASOF JOIN operator; this composition is the canonical scale
    * form — ONE shuffle on the station key, no range join, state
    * carried by a running window (transitions sort before same-day
    * events). The DuckDB oracle uses its native ASOF JOIN, proving the
    * composition implements exactly those semantics. */
  private def eventStatusAsof(s: SparkSession, dir: String): DataFrame = {
    val tr = statusTriggers(s, dir)
      .select(col("station"), col("day"), col("status"))
    val ev = hits(s, dir).withColumn("day", floor(col("start_ns") / DayNs))
    val tagged = tr
      .select(col("station"), col("day"), lit(0).as("kind"),
        lit(null).cast("long").as("event_id"),
        lit(null).cast("long").as("start_ns"), col("status"))
      .unionByName(ev.select(col("station"), col("day"), lit(1).as("kind"),
        col("event_id"), col("start_ns"),
        lit(null).cast("string").as("status")))
    val w = Window.partitionBy("station")
      .orderBy(col("day"), col("kind"), col("start_ns"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("status_asof",
        coalesce(last("status", ignoreNulls = true).over(w), lit("online")))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("station"), col("start_ns"),
        col("status_asof"))
      .orderBy("event_id")
  }

  /** R11: periodic per-station summary — incoming count, mean value,
    * counter progress and deadtime = 1 − incoming/progress (1.0 when no
    * progress; reference src/supervision/station.cpp:89-102). */
  private def detectorSummary(s: SparkSession, dir: String): DataFrame =
    counterDeltas(s, dir)
      .withColumn("day", floor(col("start_ns") / DayNs))
      .groupBy("station", "day")
      .agg(count(lit(1)).as("incoming"),
        sum("delta").as("progress"),
        (sum(round(col("value") * 100).cast("long")) / 100.0 /
          count(lit(1))).as("mean_value"))
      .withColumn("deadtime",
        when(col("progress") > 0,
          lit(1.0) - col("incoming") / col("progress"))
          .otherwise(lit(1.0)))
      .orderBy("station", "day")

  /** O6 wire shape: the detector_summary measurement rendered as an
    * InfluxDB line-protocol string (reference include/sink/database.h:
    * 97-113 — measurement name, user/detector/site_id tags, float
    * fields, i-suffixed integer fields, nanosecond timestamp; the
    * site_id tag is username+station_id per userinfo.site_id()). Float
    * fields are rendered via INTEGER arithmetic (value cents × 10⁴ /
    * count; deadtime ppm) formatted as %d.%06d — both engines format
    * the same integers, so float-to-text divergence cannot occur. The
    * deadtime numerator is clamped at 0 on both sides (progress <
    * incoming would otherwise hit the truncate-vs-floor division
    * difference between the engines on a negative numerator). Tag
    * values here are [a-z0-9] so no line-protocol escaping applies. */
  private def influxLineFormat(s: SparkSession, dir: String): DataFrame =
    counterDeltas(s, dir)
      .withColumn("day", floor(col("start_ns") / DayNs))
      .groupBy("station", "day")
      .agg(count(lit(1)).as("incoming"),
        sum("delta").as("progress"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
      .withColumn("rate6", expr("cents * 10000 div incoming"))
      .withColumn("dead6", expr("CASE WHEN progress > 0 THEN " +
        "greatest(progress - incoming, 0L) * 1000000 div progress " +
        "ELSE 1000000L END"))
      .select(col("station"), col("day"),
        concat(
          lit("detector_summary,user=u"), col("station"),
          lit(",detector=st"), col("station") % 3,
          lit(",site_id=u"), col("station"), lit("st"), col("station") % 3,
          lit(" eventrate="),
          format_string("%d.%06d", expr("rate6 div 1000000"),
            expr("rate6 % 1000000")),
          lit(",incoming="), col("incoming"), lit("i"),
          lit(",ublox_counter_progress="), col("progress"), lit("i"),
          lit(",deadtime_factor="),
          format_string("%d.%06d", expr("dead6 div 1000000"),
            expr("dead6 % 1000000")),
          lit(" "), col("day") * DayNs).as("line"))
      .orderBy("station", "day")

  /** A1+A3+A4: cluster-wide daily health log — incoming singles, outgoing
    * coincidences, max multiplicity, mean plausibility (reference
    * src/supervision/state.cpp:44-131). */
  private def clusterLog(s: SparkSession, dir: String): DataFrame = {
    val h = hits(s, dir).select("event_id", "station", "start_ns")
    val incoming = h.withColumn("day", floor(col("start_ns") / DayNs))
      .groupBy("day").agg(count(lit(1)).as("incoming"))
    // single-pass cluster stats (see Detector.clusterAgg): sorted hit
    // array per cluster, pair edges via higher-order functions
    val out = Sessionize.withClusterKey(h, Detector.GapNs, Detector.BucketNs)
      .groupBy("cluster_key")
      .agg(sort_array(collect_list(struct(col("start_ns"), col("event_id"))))
        .as("hits"))
      .withColumn("n", size(col("hits")).cast("long"))
      .filter(col("n") >= 2)
      .selectExpr("n", "element_at(hits, 1).start_ns AS cs",
        "size(filter(flatten(transform(sequence(1, size(hits) - 1), i -> " +
          "transform(slice(hits, cast(i + 1 AS int), " +
          "size(hits) - cast(i AS int)), y -> " +
          "abs(element_at(hits, cast(i AS int)).start_ns - y.start_ns)))), " +
          s"d -> d <= ${Detector.GapNs}L)) AS te")
      .withColumn("p6", col("te") / (col("n") * (col("n") - 1) / lit(2.0)))
      .withColumn("day", floor(col("cs") / DayNs))
      .groupBy("day").agg(
        count(lit(1)).as("outgoing"),
        max("n").as("max_n"),
        (sum(floor(col("p6") * 1000000).cast("long")) / 1000000.0 /
          count(lit(1))).as("mean_plausibility"))
    incoming.join(out, Seq("day"), "left")
      .select(col("day"), col("incoming"),
        coalesce(col("outgoing"), lit(0L)).as("outgoing"),
        coalesce(col("max_n"), lit(0L)).as("max_n"),
        col("mean_plausibility"),
        // clusterlog.h:19 frequency struct: interval counts as Hz (one
        // exact division — engine-portable)
        (col("incoming") / 86400.0).as("frequency_in_hz"),
        (coalesce(col("outgoing"), lit(0L)) / 86400.0)
          .as("frequency_out_hz"))
      .orderBy("day")
  }

  /** O5 `outgoing` multiplicity map (reference
    * include/messages/clusterlog.h:22 map<level, count>; the DB sink at
    * include/sink/database.h:79-93 SKIPS level 1 and appends the total):
    * a real MapType column built with map_from_entries, the level-1 skip
    * expressed as map_filter, presented as a sorted "n:count" join +
    * total for the engine-neutral compare. */
  private def clusterLogMap(s: SparkSession, dir: String): DataFrame = {
    val h = hits(s, dir).select("event_id", "station", "start_ns")
    val byN = Sessionize.withClusterKey(h, Detector.GapNs, Detector.BucketNs)
      .groupBy("cluster_key")
      .agg(count(lit(1)).as("n"), min("start_ns").as("cs"))
      .withColumn("day", floor(col("cs") / DayNs))
      .groupBy("day", "n").agg(count(lit(1)).as("cnt"))
    val m = byN.groupBy("day")
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("n"), col("cnt"))))).as("outgoing_all"))
      .selectExpr("day",
        "map_filter(outgoing_all, (k, v) -> k != 1) AS outgoing")
      .selectExpr("day",
        "array_join(transform(sort_array(map_entries(outgoing)), " +
          "e -> concat(e.key, ':', e.value)), ';') AS outgoing_str",
        "aggregate(map_values(outgoing), 0L, (a, x) -> a + x) " +
          "AS outgoing_total")
    hits(s, dir).withColumn("day", floor(col("start_ns") / DayNs))
      .groupBy("day").agg(count(lit(1)).as("incoming"))
      .join(m, Seq("day"), "left")
      .select(col("day"), col("incoming"),
        coalesce(col("outgoing_str"), lit("")).as("outgoing_str"),
        coalesce(col("outgoing_total"), lit(0L)).as("outgoing_total"))
      .orderBy("day")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "station_rates"    -> stationRates _,
    "sliding_rates"    -> slidingRates _,
    "counter_wrap"     -> counterWrap _,
    "accept_gate"      -> acceptGate _,
    "reliability"      -> reliability _,
    "station_lastn"    -> stationLastN _,
    "enriched_events"  -> enrichedEvents _,
    "status_triggers"  -> statusTriggers _,
    "timebase_timeout" -> timebaseTimeout _,
    "event_status_asof" -> eventStatusAsof _,
    "detector_summary" -> detectorSummary _,
    "influx_line_format" -> influxLineFormat _,
    "cluster_log"      -> clusterLog _,
    "cluster_log_detectors" -> clusterLogDetectors _,
    "cluster_log_map"  -> clusterLogMap _
  )

  def oracleSql: Map[String, String] = {
    val hCte =
      """WITH h AS (
        |  SELECT event_id, user_id AS station, epoch_ns(ts) AS start_ns,
        |         event_type, value
        |  FROM events)""".stripMargin
    val ratesCte =
      s"""$hCte,
         |wc AS (
         |  SELECT station, start_ns // ${WindowNs} AS w, count(*) AS c
         |  FROM h GROUP BY 1, 2),
         |r AS (
         |  SELECT station, count(*) AS n_windows, sum(c) AS sc,
         |         sum(c * c) AS sc2
         |  FROM wc GROUP BY station),
         |rates AS (
         |  SELECT station, n_windows,
         |    sc / n_windows AS mean_rate,
         |    CASE WHEN n_windows > 1 THEN
         |      sqrt((n_windows * sc2 - sc * sc) /
         |           (n_windows * (n_windows - 1)))
         |    END AS stddev_rate
         |  FROM r)""".stripMargin
    val statusCtes =
      s"""$hCte,
           |hd AS (
           |  SELECT *, start_ns // ${DayNs} AS day FROM h),
           |daily AS (
           |  SELECT station, day,
           |    sum(CAST(round(value * 100) AS BIGINT)) / 100.0 / count(*)
           |      / 50.0 AS f_time,
           |    max(value) > ${ExtremeValue} AS extreme
           |  FROM hd GROUP BY 1, 2),
           |wc AS (
           |  SELECT station, day, start_ns // ${WindowNs} AS w, count(*) AS c
           |  FROM hd GROUP BY 1, 2, 3),
           |fr AS (
           |  SELECT station, day, count(*) AS nw, sum(c) AS sc,
           |         sum(c * c) AS sc2
           |  FROM wc GROUP BY 1, 2),
           |frate AS (
           |  SELECT station, day,
           |    CASE WHEN nw > 1 THEN
           |      sqrt((nw * sc2 - sc * sc) / (nw * (nw - 1)))
           |        / (sc / nw) / 0.75
           |    ELSE 0.0 END AS f_rate
           |  FROM fr),
           |cf AS (
           |  SELECT station, day, f_time, f_rate, extreme,
           |    (1.0 + (station % 5) * 0.25) *
           |      sqrt(CAST((2 + station % 11) * (2 + station % 11) +
           |                (3 + station % 13) * (3 + station % 13) AS DOUBLE))
           |      / 15.0 AS f_location
           |  FROM daily JOIN frate USING (station, day)),
           |cls AS (
           |  SELECT station, day,
           |    CASE WHEN extreme THEN 'unreliable'
           |         WHEN f_location > 1.15 THEN 'unreliable'
           |         WHEN f_time > 1.15 THEN 'unreliable'
           |         WHEN f_rate > 1.15 THEN 'unreliable'
           |         WHEN f_location < 0.85 AND f_time < 0.85
           |           AND f_rate < 0.85 THEN 'reliable' END AS d_status,
           |    CASE WHEN extreme THEN 'time_accuracy_extreme'
           |         WHEN f_location > 1.15 THEN 'location_precision'
           |         WHEN f_time > 1.15 THEN 'time_accuracy'
           |         WHEN f_rate > 1.15 THEN 'rate_unstable'
           |         WHEN f_location < 0.85 AND f_time < 0.85
           |           AND f_rate < 0.85 THEN 'miscellaneous' END AS d_reason
           |  FROM cf),
           |st AS (
           |  SELECT *, coalesce(last_value(d_status IGNORE NULLS) OVER
           |      (PARTITION BY station ORDER BY day
           |       ROWS UNBOUNDED PRECEDING), 'online') AS status
           |  FROM cls),
           |tr AS (
           |  SELECT *, coalesce(lag(status) OVER
           |      (PARTITION BY station ORDER BY day), 'online')
           |      AS prev_status
           |  FROM st)""".stripMargin
    Map(
      "station_rates" ->
        s"""$ratesCte
           |SELECT station, n_windows, mean_rate, stddev_rate
           |FROM rates ORDER BY station""".stripMargin,
      "sliding_rates" ->
        s"""$hCte,
           |w AS (
           |  SELECT ((start_ns // 1800000000000) - k) * 1800000000000
           |    AS w_start_ns
           |  FROM h, range(0, 4) r(k))
           |SELECT w_start_ns, count(*) AS n_events,
           |  count(*) / 7200.0 AS rate_hz
           |FROM w GROUP BY 1 ORDER BY w_start_ns""".stripMargin,
      "counter_wrap" ->
        s"""$hCte,
           |d AS (
           |  SELECT station, event_id % ${CounterMod} AS ctr,
           |    lag(event_id % ${CounterMod}) OVER
           |      (PARTITION BY station ORDER BY start_ns, event_id) AS prev
           |  FROM h)
           |SELECT station, count(*) AS n_events,
           |  CAST(sum(CASE WHEN prev IS NULL THEN 0
           |           WHEN ctr > prev THEN ctr - prev
           |           ELSE ctr + ${CounterMod - 1} - prev END) AS BIGINT)
           |    AS progress
           |FROM d GROUP BY station ORDER BY station""".stripMargin,
      "accept_gate" ->
        s"""$hCte
           |SELECT station, count(*) AS n_total,
           |  CAST(sum(CASE WHEN value <= 50.0 AND event_type <> 'error'
           |      THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted,
           |  sum(CASE WHEN value <= 50.0 AND event_type <> 'error'
           |      THEN 1 ELSE 0 END) / (1.0 * count(*)) AS accept_ratio
           |FROM h GROUP BY station ORDER BY station""".stripMargin,
      "reliability" ->
        s"""$ratesCte,
           |q AS (
           |  SELECT station,
           |    sum(CAST(round(value * 100) AS BIGINT)) / 100.0 / count(*)
           |      AS mean_value
           |  FROM h GROUP BY station),
           |f AS (
           |  SELECT rates.station AS station,
           |    q.mean_value / 50.0 AS f_time,
           |    coalesce(rates.stddev_rate / (rates.mean_rate * 0.75), 0.0)
           |      AS f_rate
           |  FROM rates JOIN q ON rates.station = q.station)
           |SELECT station, f_time, f_rate,
           |  CASE WHEN f_time > 1.15 OR f_rate > 1.15 THEN 'unreliable'
           |       WHEN f_time < 0.85 AND f_rate < 0.85 THEN 'reliable'
           |       ELSE 'marginal' END AS status
           |FROM f ORDER BY station""".stripMargin,
      "station_lastn" ->
        s"""$hCte
           |SELECT station, event_id, start_ns,
           |  count(*) OVER w100 AS n100,
           |  sum(CAST(round(value * 100) AS BIGINT)) OVER w100 / 100.0
           |    / count(*) OVER w100 AS mean_pulselength,
           |  sum(CAST(round(value * 10) AS BIGINT)) OVER w100 / 10.0
           |    / count(*) OVER w100 AS mean_time_acc,
           |  sum(CAST(round(value * 10) AS BIGINT)) OVER w5 / 10.0
           |    / count(*) OVER w5 AS rel_time_acc
           |FROM h
           |WINDOW w100 AS (PARTITION BY station ORDER BY start_ns, event_id
           |  ROWS BETWEEN 99 PRECEDING AND CURRENT ROW),
           |w5 AS (PARTITION BY station ORDER BY start_ns, event_id
           |  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
           |ORDER BY station, start_ns, event_id""".stripMargin,
      "enriched_events" ->
        s"""$ratesCte,
           |q AS (
           |  SELECT station,
           |    sum(CAST(round(value * 100) AS BIGINT)) / 100.0 / count(*)
           |      AS mean_value
           |  FROM h GROUP BY station),
           |f AS (
           |  SELECT rates.station AS station,
           |    q.mean_value / 50.0 AS f_time,
           |    coalesce(rates.stddev_rate / (rates.mean_rate * 0.75), 0.0)
           |      AS f_rate
           |  FROM rates JOIN q ON rates.station = q.station),
           |st AS (
           |  SELECT station FROM f
           |  WHERE NOT (f_time > 1.15 OR f_rate > 1.15)
           |    AND f_time < 0.85 AND f_rate < 0.85),
           |kn AS (
           |  SELECT station FROM h GROUP BY station
           |  HAVING bit_or(CAST(1 AS BIGINT) << CAST(event_id % 6 AS INT))
           |    = 63)
           |SELECT e.event_id AS event_id, e.station AS station,
           |  e.start_ns AS start_ns,
           |  50.0 + (e.station % 10) * 0.02 AS lat,
           |  10.0 + ((e.station // 10) % 10) * 0.03 AS lon,
           |  100.0 + (e.station % 7) * 10.0 AS h,
           |  'user_' || e.station AS user_name
           |FROM h e JOIN kn USING (station) JOIN st USING (station)
           |WHERE e.value <= 50.0 AND e.event_type <> 'error'
           |ORDER BY event_id""".stripMargin,
      "timebase_timeout" ->
        s"""$ratesCte,
           |q AS (
           |  SELECT station,
           |    sum(CAST(round(value * 100) AS BIGINT)) / 100.0 / count(*)
           |      AS mean_value
           |  FROM h GROUP BY station),
           |f AS (
           |  SELECT rates.station AS station,
           |    q.mean_value / 50.0 AS f_time,
           |    coalesce(rates.stddev_rate / (rates.mean_rate * 0.75), 0.0)
           |      AS f_rate
           |  FROM rates JOIN q ON rates.station = q.station),
           |rel AS (
           |  SELECT station FROM f
           |  WHERE NOT (f_time > 1.15 OR f_rate > 1.15)
           |    AND f_time < 0.85 AND f_rate < 0.85),
           |hd AS (
           |  SELECT station, start_ns, start_ns // ${DayNs} AS day FROM h),
           |wc2 AS (
           |  SELECT station, day, start_ns // ${WindowNs} AS w,
           |    count(*) AS c
           |  FROM hd GROUP BY 1, 2, 3),
           |cur AS (
           |  SELECT station, day,
           |    CAST(sum(c) AS BIGINT) / count(*) AS cur_rate
           |  FROM wc2 GROUP BY 1, 2),
           |fac AS (
           |  SELECT day, max(CASE WHEN rates.stddev_rate IS NOT NULL
           |      AND cur.cur_rate < rates.mean_rate - rates.stddev_rate
           |    THEN ((rates.mean_rate - cur.cur_rate) / rates.stddev_rate
           |      + 1.0) * 2.0
           |    ELSE 1.0 END) AS largest
           |  FROM cur JOIN rates ON cur.station = rates.station
           |    JOIN rel ON cur.station = rel.station
           |  GROUP BY day),
           |base AS (
           |  SELECT day, greatest(least(max(start_ns) - min(start_ns),
           |    ${Detector.BaseMaxNs}), ${Detector.BaseMinNs}) AS base_ns
           |  FROM hd GROUP BY day)
           |SELECT base.day AS day, base_ns,
           |  CAST(floor(coalesce(largest, 1.0)) AS BIGINT) AS factor_i,
           |  greatest(least(base_ns *
           |    CAST(floor(coalesce(largest, 1.0)) AS BIGINT),
           |    ${Detector.TimeoutMaxNs}), ${Detector.TimeoutMinNs})
           |    AS timeout_ns
           |FROM base LEFT JOIN fac ON base.day = fac.day
           |ORDER BY day""".stripMargin,
      "cluster_log_detectors" ->
        s"""$statusCtes,
           |dr AS (SELECT min(day) AS d0, max(day) AS d1 FROM hd),
           |days AS (SELECT unnest(range(d0, d1 + 1)) AS day FROM dr),
           |fs AS (SELECT station, min(day) AS first_day FROM hd GROUP BY 1),
           |grid AS (SELECT fs.station, fs.first_day, days.day
           |  FROM fs, days),
           |cx AS (SELECT station, day AS cday, d_status FROM cls
           |  WHERE d_status IS NOT NULL),
           |cur AS (
           |  SELECT g.station, g.day, g.first_day,
           |    coalesce(cx.d_status, 'online') AS status
           |  FROM grid g ASOF LEFT JOIN cx
           |    ON g.station = cx.station AND g.day >= cx.cday),
           |sb AS (
           |  SELECT *, CASE WHEN lag(start_ns) OVER w IS NULL
           |    OR start_ns - lag(start_ns) OVER w > ${Detector.GapNs}
           |    THEN 1 ELSE 0 END AS nb
           |  FROM h WINDOW w AS (ORDER BY start_ns, event_id)),
           |cb AS (
           |  SELECT sum(nb) OVER (ORDER BY start_ns, event_id
           |                       ROWS UNBOUNDED PRECEDING) AS cid,
           |    start_ns
           |  FROM sb),
           |ce AS (SELECT cid, max(start_ns) AS ce FROM cb GROUP BY cid),
           |bl AS (
           |  SELECT ((ce + ${Detector.GapNs} - 1) // 3600000000000)
           |      * 3600000000000 // ${DayNs} AS day,
           |    count(*) AS buffer_length
           |  FROM ce
           |  WHERE (ce - 1) // 3600000000000
           |    < (ce + ${Detector.GapNs} - 1) // 3600000000000
           |  GROUP BY 1)
           |SELECT cur.day AS day,
           |  CAST(count(*) FILTER (cur.day >= first_day) AS BIGINT)
           |    AS total_detectors,
           |  CAST(count(*) FILTER (cur.day >= first_day
           |    AND status = 'reliable') AS BIGINT) AS reliable_detectors,
           |  coalesce(any_value(bl.buffer_length), 0) AS buffer_length
           |FROM cur LEFT JOIN bl ON cur.day = bl.day
           |GROUP BY cur.day ORDER BY day""".stripMargin,
      "status_triggers" ->
        s"""$statusCtes
           |SELECT station, day, prev_status, status, d_reason AS reason,
           |  'u' || station || '/st' || (station % 3) AS topic,
           |  strftime(DATE '1970-01-01' + CAST(day AS INTEGER), '%Y-%m-%d')
           |    || '_00-00-00 UTC ' || status || ' ' || d_reason AS msg
           |FROM tr WHERE status <> prev_status
           |ORDER BY station, day""".stripMargin,
      "event_status_asof" ->
        s"""$statusCtes,
           |trans AS (
           |  SELECT station, day, status FROM tr
           |  WHERE status <> prev_status),
           |ev AS (
           |  SELECT event_id, station, start_ns,
           |    start_ns // ${DayNs} AS day
           |  FROM h)
           |SELECT ev.event_id AS event_id, ev.station AS station,
           |  ev.start_ns AS start_ns,
           |  coalesce(trans.status, 'online') AS status_asof
           |FROM ev ASOF LEFT JOIN trans
           |  ON ev.station = trans.station AND ev.day >= trans.day
           |ORDER BY event_id""".stripMargin,
      "detector_summary" ->
        s"""$hCte,
           |d AS (
           |  SELECT station, start_ns, value,
           |    event_id % ${CounterMod} AS ctr,
           |    lag(event_id % ${CounterMod}) OVER
           |      (PARTITION BY station ORDER BY start_ns, event_id) AS prev
           |  FROM h),
           |e AS (
           |  SELECT station, start_ns // ${DayNs} AS day, value,
           |    CASE WHEN prev IS NULL THEN 0
           |         WHEN ctr > prev THEN ctr - prev
           |         ELSE ctr + ${CounterMod - 1} - prev END AS delta
           |  FROM d),
           |g AS (
           |  SELECT station, day, count(*) AS incoming,
           |    CAST(sum(delta) AS BIGINT) AS progress,
           |    sum(CAST(round(value * 100) AS BIGINT)) / 100.0
           |          / count(*) AS mean_value
           |  FROM e GROUP BY station, day)
           |SELECT station, day, incoming, progress, mean_value,
           |  CASE WHEN progress > 0
           |       THEN 1.0 - incoming / (1.0 * progress)
           |       ELSE 1.0 END AS deadtime
           |FROM g ORDER BY station, day""".stripMargin,
      "influx_line_format" ->
        s"""$hCte,
           |d AS (
           |  SELECT station, start_ns, value,
           |    event_id % ${CounterMod} AS ctr,
           |    lag(event_id % ${CounterMod}) OVER
           |      (PARTITION BY station ORDER BY start_ns, event_id) AS prev
           |  FROM h),
           |e AS (
           |  SELECT station, start_ns // ${DayNs} AS day, value,
           |    CASE WHEN prev IS NULL THEN 0
           |         WHEN ctr > prev THEN ctr - prev
           |         ELSE ctr + ${CounterMod - 1} - prev END AS delta
           |  FROM d),
           |g AS (
           |  SELECT station, day, count(*) AS incoming,
           |    CAST(sum(delta) AS BIGINT) AS progress,
           |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           |      AS cents
           |  FROM e GROUP BY station, day),
           |f AS (
           |  SELECT station, day, incoming, progress,
           |    cents * 10000 // incoming AS rate6,
           |    CASE WHEN progress > 0
           |         THEN greatest(progress - incoming, 0) * 1000000
           |           // progress
           |         ELSE 1000000 END AS dead6
           |  FROM g)
           |SELECT station, day,
           |  'detector_summary,user=u' || station
           |    || ',detector=st' || (station % 3)
           |    || ',site_id=u' || station || 'st' || (station % 3)
           |    || ' eventrate='
           |    || printf('%d.%06d', rate6 // 1000000, rate6 % 1000000)
           |    || ',incoming=' || incoming || 'i'
           |    || ',ublox_counter_progress=' || progress || 'i'
           |    || ',deadtime_factor='
           |    || printf('%d.%06d', dead6 // 1000000, dead6 % 1000000)
           |    || ' ' || (day * ${DayNs}) AS line
           |FROM f ORDER BY station, day""".stripMargin,
      "cluster_log_map" ->
        s"""WITH h AS (
           |  SELECT event_id, user_id AS station, epoch_ns(ts) AS start_ns
           |  FROM events),
           |s AS (
           |  SELECT *, CASE WHEN lag(start_ns) OVER w IS NULL
           |    OR start_ns - lag(start_ns) OVER w > ${Detector.GapNs}
           |    THEN 1 ELSE 0 END AS nb
           |  FROM h WINDOW w AS (ORDER BY start_ns, event_id)),
           |c AS (
           |  SELECT event_id, start_ns,
           |    sum(nb) OVER (ORDER BY start_ns, event_id
           |                  ROWS UNBOUNDED PRECEDING) AS cid
           |  FROM s),
           |agg AS (
           |  SELECT cid, count(*) AS n, min(start_ns) AS cs
           |  FROM c GROUP BY cid),
           |byn AS (
           |  SELECT cs // ${DayNs} AS day, n, count(*) AS cnt
           |  FROM agg GROUP BY 1, 2),
           |m AS (
           |  SELECT day,
           |    string_agg(n || ':' || cnt, ';' ORDER BY n)
           |      FILTER (WHERE n <> 1) AS outgoing_str,
           |    CAST(sum(cnt) FILTER (WHERE n <> 1) AS BIGINT)
           |      AS outgoing_total
           |  FROM byn GROUP BY day),
           |inc AS (
           |  SELECT start_ns // ${DayNs} AS day, count(*) AS incoming
           |  FROM h GROUP BY 1)
           |SELECT inc.day AS day, incoming,
           |  coalesce(outgoing_str, '') AS outgoing_str,
           |  coalesce(outgoing_total, 0) AS outgoing_total
           |FROM inc LEFT JOIN m ON inc.day = m.day
           |ORDER BY day""".stripMargin,
      "cluster_log" ->
        s"""WITH h AS (
           |  SELECT event_id, user_id AS station, epoch_ns(ts) AS start_ns
           |  FROM events),
           |s AS (
           |  SELECT *, CASE WHEN lag(start_ns) OVER w IS NULL
           |    OR start_ns - lag(start_ns) OVER w > ${Detector.GapNs}
           |    THEN 1 ELSE 0 END AS nb
           |  FROM h WINDOW w AS (ORDER BY start_ns, event_id)),
           |c AS (
           |  SELECT event_id, station, start_ns,
           |    sum(nb) OVER (ORDER BY start_ns, event_id
           |                  ROWS UNBOUNDED PRECEDING) AS cid
           |  FROM s),
           |agg AS (
           |  SELECT cid, min(start_ns) AS cs, count(*) AS n
           |  FROM c GROUP BY cid),
           |pairs AS (
           |  SELECT a.cid, count(*) AS te FROM c a JOIN c b
           |    ON a.cid = b.cid AND a.event_id < b.event_id
           |   AND abs(a.start_ns - b.start_ns) <= ${Detector.GapNs}
           |  GROUP BY a.cid),
           |cl AS (
           |  SELECT cs // ${DayNs} AS day, n,
           |    coalesce(te, 0) / (n * (n - 1) / 2.0) AS p6
           |  FROM agg LEFT JOIN pairs USING (cid) WHERE n >= 2),
           |outg AS (
           |  SELECT day, count(*) AS outgoing, max(n) AS max_n,
           |    sum(CAST(floor(p6 * 1000000) AS BIGINT)) / 1000000.0
           |          / count(*) AS mean_plausibility
           |  FROM cl GROUP BY day),
           |inc AS (
           |  SELECT start_ns // ${DayNs} AS day, count(*) AS incoming
           |  FROM h GROUP BY 1)
           |SELECT inc.day AS day, incoming,
           |  coalesce(outgoing, 0) AS outgoing,
           |  coalesce(max_n, 0) AS max_n, mean_plausibility,
           |  incoming / 86400.0 AS frequency_in_hz,
           |  coalesce(outgoing, 0) / 86400.0 AS frequency_out_hz
           |FROM inc LEFT JOIN outg ON inc.day = outg.day
           |ORDER BY day""".stripMargin
    )
  }
}
