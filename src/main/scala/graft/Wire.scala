package graft

import graft.sources.MqttParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Wire-format surface: MQTT line parsing (SURVEY §2.1 S1/S2), sink
  * formatting (§2.5 O3/O4), and telemetry-bag assembly (§2.1 S5) —
  * exercised as a round trip: synthesize wire lines from the events table
  * (including deliberately malformed ones), parse them back with the
  * reference's rejection rules, and format cluster/log output lines.
  */
object Wire {

  /** events → synthetic MQTT wire lines. Every 97th event gets a payload
    * starting with '.', every 89th a "cluster" user — both must be
    * rejected by the parser (reference include/source/mqtt.h:218-223,
    * 391-395). Also the input of the `DetectorApp` batch twin and of
    * its spec. */
  private[graft] def wireLinesPublic(s: SparkSession, dir: String): DataFrame =
    wireLines(s, dir)

  private def wireLines(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id"), col("user_id"),
      (expr("ts div 1000") * 1000).as("start_ns"),
      col("event_type"), col("value"))
      // spread the single-row-group driver parquet before the per-row
      // line formatting + parse kernel (the vecs/cdcChunked move): the
      // whole parse_hits pipeline is narrow, so without this exchange
      // every format_string/parse_hit_payload evaluation runs in the
      // scan's ONE task; a real multi-file corpus arrives pre-split and
      // this is a no-op cost (5 narrow columns shipped once)
      .repartition(col("event_id"))
      .withColumn("end_ns", col("start_ns") + (col("event_id") % 1000) * 1000)
      .withColumn("topic",
        when(col("event_id") % 89 === 0,
          lit("muonpi/data/cluster/st0"))
          .otherwise(concat(lit("muonpi/data/u"), col("user_id"),
            lit("/st"), col("user_id") % 3)))
      .withColumn("f0",
        when(col("event_id") % 97 === 0, lit(".12345678901234567"))
          .otherwise(format_string("%d.%09d",
            expr("start_ns div 1000000000"), col("start_ns") % 1000000000L)))
      .withColumn("f1", format_string("%d.%09d",
        expr("end_ns div 1000000000"), col("end_ns") % 1000000000L))
      .withColumn("payload", concat_ws(" ",
        col("f0"), col("f1"),
        round(col("value") * 10).cast("long"),
        col("event_id") % 65536,
        when(col("event_type") === "error", 0).otherwise(1),
        lit(1), lit(1)))
      .select("topic", "payload")

  /** Round trip: wire lines → parser → typed hits (S1+S2). */
  private def parseHits(s: SparkSession, dir: String): DataFrame =
    MqttParser.parseHits({ graft.functions.PolyHash.register(s); wireLines(s, dir) })
      .select("hash", "user", "station_id", "start_ns", "end_ns",
        "time_acc", "ublox_counter", "fix")
      .orderBy("start_ns", "ublox_counter")

  /** O4-shape ASCII line per emitted coincidence (reference
    * include/sink/ascii.h:51-81: multiplicity, plausibility as true_e out
    * of max pairs, conflict flag, coincidence time). */
  private def l1AsciiFormat(s: SparkSession, dir: String): DataFrame =
    Detector.queries("coincidence_l1")(s, dir)
      .select(col("cluster_start"),
        format_string("Event: n=%d %d/%d %s dt=%d",
          col("n"), col("true_e"), expr("(n * (n - 1)) div 2"),
          when(col("conflicting"), "C").otherwise("V"),
          col("cluster_end") - col("cluster_start")).as("line"))
      .orderBy("cluster_start")

  /** S5-shape telemetry bag: per station per hour, the sorted item list
    * (name=value pairs) assembled into one record — collect_list +
    * sort_array presented as a string for engine-neutral comparison. */
  private def logAssembly(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("user_id").as("station"),
      (expr("ts div 1000") * 1000).as("start_ns"),
      concat(col("event_type"), lit("="),
        round(col("value") * 100).cast("long")).as("item"))
      .withColumn("hour", expr("start_ns div 3600000000000"))
      .groupBy("station", "hour")
      .agg(count(lit(1)).as("n_items"),
        concat_ws(";", sort_array(collect_list(col("item")))).as("items_str"))
      .orderBy("station", "hour")

  /** S5/O8 typed bag: synthesize per-item log lines from events (names
    * drawn from the reference's parameter vocabulary incl. one unknown
    * name for the String fallback), run them through the typed assembly
    * (sources.DetectorLog), then project the bag back to per-item rows —
    * the oracle query exercises the full chain: name→type mapping,
    * tagged-union fields, bag collect, O8 explode. */
  private def logAssemblyTyped(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.DetectorLog
    val items = Tables.events(s, dir).select(
      col("user_id").as("station"),
      (expr("ts div 1000") * 1000).as("start_ns"),
      col("event_id"), col("value"))
      .withColumn("hour", expr("start_ns div 3600000000000"))
      .withColumn("name", element_at(
        typedlit(DetectorLog.wireNames),
        (col("event_id") % 8).cast("int") + 1))
      .withColumn("v", round(col("value") * 100).cast("long"))
      .withColumn("value_str",
        when(col("name").isin("gainSwitch", "systemNrCPUs"),
          (col("v") % 1000).cast("string"))
          .otherwise(format_string("%d.%02d",
            expr("v div 100"), col("v") % 100)))
      .select("station", "hour", "name", "value_str")
    DetectorLog.explodeItems(DetectorLog.assemble(DetectorLog.typed(items)))
      .orderBy(col("station"), col("hour"), col("name"),
        col("value_s").asc_nulls_last, col("value_i").asc_nulls_last,
        col("value_d").asc_nulls_last)
  }

  /** O3-shape MQTT broadcast message per cluster member (reference
    * include/sink/mqtt.h:147-184): uuid from the cluster key, 16-digit
    * zero-padded hex station hash, geohash of the station position
    * TRUNCATED to the station's OWN `max_geohash_length` (the per-station
    * anonymization budget of include/messages/detectorinfo.h:46 — here
    * derived from the station key as 4 + station % 3, standing in for the
    * detector-info field), relative time within the cluster. The oracle
    * reproduces the geohash with a 30-step bisection recursive CTE over
    * the distinct stations — the same midpoint arithmetic as
    * functions.Geo.geohash, so the strings compare exactly; truncation is
    * a prefix, so per-station lengths just substr the 6-char hash. */
  private def l1MqttFormat(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Kernel
    Geodesic.sessionedForSinks(s, dir)
      .select(col("cluster_key"), col("event_id"), col("station"),
        col("start_ns"), col("lat"), col("lon"))
      .withColumn("_n", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("cluster_key")))
      .filter(col("_n") >= 2)
      .withColumn("_min", org.apache.spark.sql.functions.min("start_ns")
        .over(org.apache.spark.sql.expressions.Window.partitionBy("cluster_key")))
      .withColumn("_ghlen", (lit(4) + col("station") % 3).cast("int"))
      .select(
        col("cluster_key").as("uuid"),
        concat_ws(" ",
          format_string("%016x", col("station")),
          Kernel.geohash_enc(col("lat"), col("lon"), col("_ghlen")),
          col("_n"),
          col("start_ns") - col("_min"),
          col("start_ns")).as("msg"))
      .orderBy("uuid", "msg")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "parse_hits"         -> parseHits _,
    "l1_ascii_format"    -> l1AsciiFormat _,
    "l1_mqtt_format"     -> l1MqttFormat _,
    "log_assembly"       -> logAssembly _,
    "log_assembly_typed" -> logAssemblyTyped _
  )

  def oracleSql: Map[String, String] = Map(
    "l1_mqtt_format" -> {
      def ch(shift: Int): String =
        s"substr('0123456789bcdefghjkmnpqrstuvwxyz', " +
          s"CAST(((bits >> $shift) & 31) AS INT) + 1, 1)"
      s"""WITH RECURSIVE g AS (
         |  SELECT event_id, user_id AS station, epoch_ns(ts) AS start_ns,
         |    50.0 + (user_id % 10) * 0.02 AS lat,
         |    10.0 + ((user_id // 10) % 10) * 0.03 AS lon
         |  FROM events),
         |s AS (
         |  SELECT *, CASE WHEN lag(start_ns) OVER w IS NULL
         |    OR start_ns - lag(start_ns) OVER w > ${Detector.GapNs}
         |    THEN 1 ELSE 0 END AS nb
         |  FROM g WINDOW w AS (ORDER BY start_ns, event_id)),
         |c AS (
         |  SELECT station, start_ns,
         |    sum(nb) OVER (ORDER BY start_ns, event_id
         |                  ROWS UNBOUNDED PRECEDING) AS cid
         |  FROM s),
         |k AS (
         |  SELECT station, start_ns,
         |    min(start_ns) OVER (PARTITION BY cid) AS ck,
         |    count(*) OVER (PARTITION BY cid) AS n
         |  FROM c),
         |st AS (SELECT DISTINCT station, lat, lon FROM g),
         |bis(station, lat, lon, step, latlo, lathi, lonlo, lonhi, bits) AS (
         |  SELECT station, CAST(lat AS DOUBLE), CAST(lon AS DOUBLE), 0,
         |    CAST(-90.0 AS DOUBLE), CAST(90.0 AS DOUBLE),
         |    CAST(-180.0 AS DOUBLE), CAST(180.0 AS DOUBLE),
         |    CAST(0 AS BIGINT)
         |  FROM st
         |  UNION ALL
         |  SELECT station, lat, lon, step + 1,
         |    CASE WHEN step % 2 = 1 AND lat >= (latlo + lathi) / 2
         |      THEN (latlo + lathi) / 2 ELSE latlo END,
         |    CASE WHEN step % 2 = 1 AND lat < (latlo + lathi) / 2
         |      THEN (latlo + lathi) / 2 ELSE lathi END,
         |    CASE WHEN step % 2 = 0 AND lon >= (lonlo + lonhi) / 2
         |      THEN (lonlo + lonhi) / 2 ELSE lonlo END,
         |    CASE WHEN step % 2 = 0 AND lon < (lonlo + lonhi) / 2
         |      THEN (lonlo + lonhi) / 2 ELSE lonhi END,
         |    bits * 2 + CASE WHEN step % 2 = 0
         |      THEN CASE WHEN lon >= (lonlo + lonhi) / 2 THEN 1 ELSE 0 END
         |      ELSE CASE WHEN lat >= (latlo + lathi) / 2 THEN 1 ELSE 0 END
         |      END
         |  FROM bis WHERE step < 30),
         |ghs AS (
         |  SELECT station,
         |    substr(${ch(25)} || ${ch(20)} || ${ch(15)} || ${ch(10)}
         |      || ${ch(5)} || ${ch(0)},
         |      1, CAST(4 + station % 3 AS INT)) AS gh
         |  FROM bis WHERE step = 30)
         |SELECT k.ck AS uuid,
         |  printf('%016x', k.station) || ' ' || ghs.gh || ' ' || k.n || ' '
         |    || (k.start_ns - k.ck) || ' ' || k.start_ns AS msg
         |FROM k JOIN ghs ON k.station = ghs.station
         |WHERE k.n >= 2
         |ORDER BY uuid, msg""".stripMargin
    },
    "parse_hits" ->
      """WITH raw AS (
        |  SELECT event_id, user_id, epoch_ns(ts) AS start_ns,
        |    epoch_ns(ts) + (event_id % 1000) * 1000 AS end_ns,
        |    event_type, value
        |  FROM events),
        |lines AS (
        |  SELECT
        |    CASE WHEN event_id % 89 = 0 THEN 'muonpi/data/cluster/st0'
        |      ELSE 'muonpi/data/u' || user_id || '/st' || (user_id % 3) END
        |      AS topic,
        |    CASE WHEN event_id % 97 = 0 THEN '.12345678901234567'
        |      ELSE printf('%d.%09d', start_ns // 1000000000,
        |                  start_ns % 1000000000) END AS f0,
        |    printf('%d.%09d', end_ns // 1000000000, end_ns % 1000000000) AS f1,
        |    CAST(round(value * 10) AS BIGINT) AS time_acc,
        |    event_id % 65536 AS ublox,
        |    CASE WHEN event_type = 'error' THEN 0 ELSE 1 END AS fix
        |  FROM raw),
        |tok AS (
        |  SELECT string_split(topic, '/') AS t,
        |    f0, f1, time_acc, ublox, fix FROM lines),
        |ok AS (
        |  SELECT t[3] AS user, t[4] AS station_id, f0, f1, time_acc,
        |    ublox, fix
        |  FROM tok
        |  WHERE length(t) >= 4 AND t[3] <> '' AND t[3] <> 'cluster'
        |    AND length(f0) >= 17 AND length(f1) >= 17
        |    AND substring(f0, 1, 1) <> '.' AND substring(f1, 1, 1) <> '.'),
        |parsed AS (
        |  SELECT
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(user || station_id, ''),
        |        ch -> CAST(ascii(ch) AS BIGINT))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS hash,
        |    user, station_id,
        |    CAST(CAST(f0 AS DECIMAL(30,9)) * 1000000000 AS BIGINT) AS start_ns,
        |    CAST(CAST(f1 AS DECIMAL(30,9)) * 1000000000 AS BIGINT) AS end_ns,
        |    time_acc, CAST(ublox AS INT) AS ublox_counter, CAST(fix AS INT) AS fix
        |  FROM ok)
        |SELECT * FROM parsed WHERE start_ns <= end_ns
        |ORDER BY start_ns, ublox_counter""".stripMargin,
    "l1_ascii_format" -> {
      // reuse the coincidence_l1 session pipeline, then format
      val base = Detector.oracleSql("coincidence_l1")
        .replace("ORDER BY cluster_start", "")
      s"""WITH l1 AS ($base)
         |SELECT cluster_start,
         |  printf('Event: n=%d %d/%d %s dt=%d', n, true_e,
         |    (n * (n - 1)) // 2,
         |    CASE WHEN conflicting THEN 'C' ELSE 'V' END,
         |    cluster_end - cluster_start) AS line
         |FROM l1 ORDER BY cluster_start""".stripMargin
    },
    "log_assembly_typed" -> {
      import graft.sources.DetectorLog
      val intNames = DetectorLog.typeMapping.filter(_._2 == "int")
        .map(n => s"'${n._1}'").mkString(", ")
      val dblNames = DetectorLog.typeMapping.filter(_._2 == "double")
        .map(n => s"'${n._1}'").mkString(", ")
      val unitCase = DetectorLog.unitMapping
        .map { case (k, u) => s"WHEN '$k' THEN '$u'" }.mkString(" ")
      val wireArr = DetectorLog.wireNames
        .map(n => s"'$n'").mkString("[", ", ", "]")
      s"""WITH i AS (
         |  SELECT user_id AS station, epoch_ns(ts) // 3600000000000 AS hour,
         |    $wireArr[CAST(event_id % 8 AS INT) + 1] AS name,
         |    CAST(round(value * 100) AS BIGINT) AS v
         |  FROM events),
         |t AS (
         |  SELECT station, hour, name,
         |    CASE WHEN name IN ($intNames) THEN 'int'
         |         WHEN name IN ($dblNames) THEN 'double'
         |         ELSE 'string' END AS type,
         |    CASE WHEN name IN ($intNames) THEN CAST(v % 1000 AS VARCHAR)
         |         ELSE printf('%d.%02d', v // 100, v % 100) END AS value_str
         |  FROM i),
         |x AS (
         |  SELECT station, hour, name, type,
         |    CASE WHEN type = 'string' THEN value_str END AS value_s,
         |    CASE WHEN type = 'int' THEN CAST(value_str AS INTEGER)
         |      END AS value_i,
         |    CASE WHEN type = 'double' THEN CAST(value_str AS DOUBLE)
         |      END AS value_d,
         |    CASE name $unitCase ELSE '' END AS unit
         |  FROM t),
         |b AS (SELECT station, hour, count(*) AS n_items
         |      FROM x GROUP BY 1, 2)
         |SELECT x.station AS station, x.hour AS hour, n_items, name,
         |  value_s, value_i, value_d, unit, type
         |FROM x JOIN b USING (station, hour)
         |ORDER BY station, hour, name, value_s NULLS LAST,
         |  value_i NULLS LAST, value_d NULLS LAST""".stripMargin
    },
    "log_assembly" ->
      """WITH i AS (
        |  SELECT user_id AS station, epoch_ns(ts) AS start_ns,
        |    event_type || '=' || CAST(round(value * 100) AS BIGINT) AS item
        |  FROM events)
        |SELECT station, start_ns // 3600000000000 AS hour,
        |  count(*) AS n_items,
        |  array_to_string(list_sort(list(item)), ';') AS items_str
        |FROM i GROUP BY 1, 2 ORDER BY station, hour""".stripMargin
  )
}
