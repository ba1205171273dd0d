package graft.streaming

import graft.{Detector, Geodesic}
import graft.functions.Geo
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One hit on the stream (event time = startNs, i64 nanos). */
case class StreamHit(eventId: Long, station: Long, startNs: Long)

/** One clustered hit (station key carries the position — the grid of
  * Geodesic.stationLat/Lon/H derives lat/lon/h deterministically). */
case class GeoMember(eventId: Long, station: Long, startNs: Long)

/** One open criterion component (a reference `event_constructor`,
  * coincidencefilter.h:41-47). */
case class OpenGeoComp(members: List[GeoMember])

/** One open gap-session: the candidate pool for criterion matching. The
  * session layer is load-bearing for batch parity — the batch engine
  * evaluates the C1 criterion WITHIN gap-sessions (Geodesic.geoComps), and
  * criterion edges longer than the session gap (Δt ∈ (gap, maxTime]) must
  * NOT connect events the gap rule separates. It seals once the watermark
  * passes maxStart + Detector.GapNs. */
case class OpenGeoSession(minStart: Long, maxStart: Long,
                          comps: List[OpenGeoComp])

/** The clusterer's state: every open session of the stream. */
case class GeoClusterState(sessions: List[OpenGeoSession])

/** An emitted geodesic coincidence component, members sorted by eventId
  * (the sink formatters fan them out). Singletons are emitted too; sinks
  * filter n ≥ 2 exactly as the reference's sinks do. */
case class EmittedGeoCluster(clusterStart: Long, clusterEnd: Long, n: Long,
                             nStations: Long, conflicting: Boolean,
                             members: List[GeoMember])

/** Structured-Streaming GEODESIC coincidence clustering — the event-time
  * lift of the reference's online filter WITH the space-time criterion
  * (reference src/analysis/coincidencefilter.cpp:94-143: each incoming
  * event is scored against every open constructor via
  * `m_criterion->apply`, joins the first match, and bridge-merges every
  * further match; constructors seal on timeout).
  *
  * Like the reference's one buffer of open constructors, the state is one
  * set of open sessions under one constant key, so no session is ever cut
  * in two. Two levels:
  *   - gap-sessions bound the candidate pool and seal when the event-time
  *     watermark passes maxStart + Detector.GapNs;
  *   - within a session, components are built incrementally by scoring
  *     each event against the open components' members with the C1
  *     chord-distance/ToF criterion (positions derived from the station
  *     key) — `addEvent` mirrors the reference's next_match loop
  *     including the transitive bridge-merge.
  *
  * The watermark bounds the state: it holds only the sessions opened
  * within the last watermark delay plus gap. Sealed output equals the
  * batch `coincidence_geo` components exactly (GeoStreamingSpec proves it
  * on the sf0.001 corpus).
  */
object StreamingGeoCoincidence {

  /** Station-key grid position (scalar twin of Geodesic.stationLat/Lon/H;
    * ECEF through the same Geo.toEcef kernel, so the chord distance is
    * bit-identical to the batch column expressions). */
  private[streaming] def stationEcef(st: Long): (Double, Double, Double) =
    Geo.toEcef(50.0 + (st % 10) * 0.02,
      10.0 + ((st / 10) % 10) * 0.03,
      100.0 + (st % 7) * 10.0)

  /** C1 valid-edge test between two members, with the batch operator's
    * scaled constants (reference src/analysis/coincidence.cpp:14-27 —
    * score > 0 ⇔ Δt below the pair's time-of-flight window). */
  private[streaming] def validEdge(a: GeoMember, b: GeoMember): Boolean = {
    val delta = math.abs(a.startNs - b.startNs)
    if (delta > Geodesic.MaxTimeNs) false
    else {
      val (xa, ya, za) = stationEcef(a.station)
      val (xb, yb, zb) = stationEcef(b.station)
      val dx = xa - xb; val dy = ya - yb; val dz = za - zb
      val dist = math.sqrt(dx * dx + dy * dy + dz * dz)
      delta.toDouble < math.max(dist / Geodesic.SpeedMPerNs, Geodesic.MinTofNs)
    }
  }

  /** Merge an event into the open-session set, scoring component
    * membership with the criterion (the reference's process(event):
    * join the first matching constructor, bridge-merge every further
    * match, open a new constructor when none match —
    * coincidencefilter.cpp:96-143).
    *
    * Invariant: each open session's comps are exactly the connected
    * components of the criterion-edge graph over its members. The common
    * path (event lands in ≤ 1 session) preserves it incrementally —
    * scoring the event against every open component's members is the
    * reference's next_match loop, and edges between EXISTING members are
    * unchanged. An out-of-order event that bridges ≥ 2 open sessions
    * voids the induction (cross-session member pairs were never scored:
    * a Δt ∈ (gap, maxTime] edge can connect them), so that rare path
    * rebuilds components from the pooled members. */
  private[streaming] def addEvent(sessions: List[OpenGeoSession],
                                  e: StreamHit): List[OpenGeoSession] = {
    val gapNs = Detector.GapNs
    val m = GeoMember(e.eventId, e.station, e.startNs)
    val (touching, rest) = sessions.partition(s =>
      e.startNs >= s.minStart - gapNs && e.startNs <= s.maxStart + gapNs)
    val comps =
      if (touching.size <= 1) {
        val pooled = touching.flatMap(_.comps)
        // next_match over every open constructor; all matches bridge-merge
        val (matched, others) =
          pooled.partition(_.members.exists(validEdge(m, _)))
        OpenGeoComp(m :: matched.flatMap(_.members)) :: others
      } else
        rebuildComps(m :: touching.flatMap(_.comps.flatMap(_.members)))
    OpenGeoSession(
      (e.startNs :: touching.map(_.minStart)).min,
      (e.startNs :: touching.map(_.maxStart)).max,
      comps) :: rest
  }

  /** Full criterion union-find over one session's members (the
    * session-bridge repair path). */
  private def rebuildComps(members: List[GeoMember]): List[OpenGeoComp] = {
    val hs = members.sortBy(_.eventId).toArray
    val n = hs.length
    val parent = Array.tabulate(n)(identity)
    def find(i: Int): Int = {
      var r = i; while (parent(r) != r) r = parent(r)
      var c = i
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        if (validEdge(hs(i), hs(j))) {
          val ri = find(i); val rj = find(j)
          if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
        }
        j += 1
      }
      i += 1
    }
    hs.indices.groupBy(find).valuesIterator
      .map(idx => OpenGeoComp(idx.map(hs).toList)).toList
  }

  private def emit(s: OpenGeoSession): Iterator[EmittedGeoCluster] =
    s.comps.iterator.map { c =>
      val starts = c.members.map(_.startNs)
      val nSt = c.members.map(_.station).distinct.size.toLong
      EmittedGeoCluster(starts.min, starts.max, c.members.size.toLong, nSt,
        c.members.size > nSt, c.members.sortBy(_.eventId))
    }

  /** The streaming query: every hit goes to one key, so the open sessions
    * form one set, as the reference's buffer does; sessions seal when the
    * event-time watermark passes maxStart + gap, each sealed session
    * emitting its criterion components. */
  def clusterStream(hits: Dataset[StreamHit],
                    watermarkDelay: String = "30 seconds")
      : Dataset[EmittedGeoCluster] = {
    val spark = hits.sparkSession
    import spark.implicits._
    hits
      .withColumn("ts", timestamp_micros(expr("startNs div 1000")))
      .withWatermark("ts", watermarkDelay)
      .as[(Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(_ => 0L)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(step _)
  }

  private def step(key: Long,
                   events: Iterator[(Long, Long, Long, java.sql.Timestamp)],
                   state: GroupState[GeoClusterState])
      : Iterator[EmittedGeoCluster] = {
    val wmNs = state.getCurrentWatermarkMs() * 1000000L
    var sessions = state.getOption.map(_.sessions).getOrElse(Nil)

    if (!state.hasTimedOut)
      for ((eid, st, startNs, _) <- events)
        sessions = addEvent(sessions, StreamHit(eid, st, startNs))

    val (closed, open) =
      sessions.partition(_.maxStart + Detector.GapNs < wmNs)
    if (open.isEmpty) state.remove()
    else {
      state.update(GeoClusterState(open))
      val deadlineMs = (open.map(_.maxStart).min + Detector.GapNs) / 1000000L + 1
      state.setTimeoutTimestamp(math.max(deadlineMs,
        state.getCurrentWatermarkMs() + 1))
    }
    closed.sortBy(_.minStart).iterator.flatMap(emit)
  }
}
