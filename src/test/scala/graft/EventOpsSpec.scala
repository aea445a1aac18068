package graft

import graft.ops.Events
import org.apache.spark.sql.Row

/** Semantic unit specs for the event-stream operators (SURVEY.md §5.2.2),
  * on hand-checkable fixtures including the §4.3 edge cases.
  */
class EventOpsSpec extends SparkSpecBase {

  // 2024-01-01T00:00:00Z in nanos
  private val T0 = 1704067200L * Ns

  test("q13 sessionize: 24h gap splits sessions per user, ts ties broken by event_id") {
    val dir = tmpDir()
    writeEvents(dir,
      // user 1: two events 1h apart, then a 30h gap -> 2 sessions
      (1L, T0, 1L, "click", 1.0, "{}"),
      (2L, T0 + Hour, 1L, "view", 2.0, "{}"),
      (3L, T0 + 31 * Hour, 1L, "click", 3.0, "{}"),
      // user 2: single event -> 1 session
      (4L, T0, 2L, "view", 4.0, "{}"))
    val out = Events.q13Sessionize(spark, dir).collect()
    assert(out.length == 3)
    val u1 = out.filter(_.getLong(0) == 1L)
    assert(u1.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((1L, 2L), (2L, 1L)))
  }

  test("q14 forward fill: carries last purchase value, null before first") {
    val dir = tmpDir()
    writeEvents(dir,
      (1L, T0, 1L, "click", 9.0, "{}"), // before any purchase -> null
      (2L, T0 + Hour, 1L, "purchase", 5.0, "{}"),
      (3L, T0 + 2 * Hour, 1L, "click", 9.0, "{}"), // -> 5.0
      (4L, T0 + 3 * Hour, 1L, "purchase", 7.0, "{}"),
      (5L, T0 + 4 * Hour, 1L, "view", 9.0, "{}")) // -> 7.0
    val out = Events.q14ForwardFill(spark, dir).collect()
    val ff = out.map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(ff(1L).isEmpty)
    assert(ff(3L).contains(5.0))
    assert(ff(5L).contains(7.0))
  }

  test("q05 dedup: first event per user wins (ts order, event_id tiebreak)") {
    val dir = tmpDir()
    writeEvents(dir,
      (10L, T0, 1L, "late", 1.0, "{}"),
      (9L, T0, 1L, "first", 1.0, "{}"), // same ts, lower id wins
      (11L, T0 - Hour, 2L, "only", 1.0, "{}"))
    val out = Events.q05Dedup(spark, dir).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 9L), (2L, 11L)))
  }

  test("q15 trim: drops min and max group keys") {
    val dir = tmpDir()
    writeEvents(dir,
      (1L, T0, 1L, "a", 1.0, "{}"),
      (2L, T0, 2L, "a", 2.0, "{}"),
      (3L, T0, 3L, "a", 3.0, "{}"),
      (4L, T0, 2L, "a", 4.0, "{}"))
    val out = Events.q15TrimBoundary(spark, dir).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(2L))
    assert(out.head.getLong(1) == 2L) // n_events
    assert(out.head.getDouble(2) == 3.0) // avg of 2,4
  }

  test("q17 last24h anchors to max(ts), not wall clock") {
    val dir = tmpDir()
    writeEvents(dir,
      (1L, T0, 1L, "old", 1.0, "{}"),
      (2L, T0 + 100 * Hour, 1L, "in", 1.0, "{}"),
      (3L, T0 + 110 * Hour, 1L, "anchor", 1.0, "{}"))
    val out = Events.q17Last24h(spark, dir).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(2L, 3L))
  }

  test("q04 group agg: exact decimal avg, count, max ts") {
    val dir = tmpDir()
    writeEvents(dir,
      (1L, T0, 1L, "a", 1.1, "{}"),
      (2L, T0 + Ns, 1L, "a", 2.3, "{}"))
    val r = Events.q04GroupbyAgg(spark, dir).collect().head
    assert(r.getDouble(1) == 1.7)
    assert(r.getLong(2) == 2L)
    assert(r.getTimestamp(3).toInstant.getEpochSecond == T0 / Ns + 1)
  }

  test("q06/q07 extract the props payload") {
    val dir = tmpDir()
    writeEvents(dir,
      (1L, T0, 1L, "a", 0.0, """{"k": 41}"""),
      (2L, T0, 1L, "a", 0.0, """{"k": 1}"""))
    assert(Events.q06RegexExtract(spark, dir).collect().map(_.getLong(1)).toSeq == Seq(41L, 1L))
    val sums = Events.q07JsonParse(spark, dir).collect()
    assert(sums.head.getLong(1) == 42L)
  }

  test("q09 epoch roundtrip truncates us -> ms consistently") {
    val dir = tmpDir()
    // 123456789 ns -> 123456 us -> 123 ms
    writeEvents(dir, (1L, T0 + 123456789L, 1L, "a", 0.0, "{}"))
    val r = Events.q09EpochToTs(spark, dir).collect().head
    assert(r.getLong(1) == (T0 / Ns) * 1000L + 123L)
  }

  test("q150 transitions: per-user consecutive pairs, per-from probabilities sum to 1") {
    val dir = tmpDir()
    writeEvents(dir,
      // user 1: A → B → A → C
      (1L, T0, 1L, "A", 0.0, "{}"),
      (2L, T0 + Hour, 1L, "B", 0.0, "{}"),
      (3L, T0 + 2 * Hour, 1L, "A", 0.0, "{}"),
      (4L, T0 + 3 * Hour, 1L, "C", 0.0, "{}"),
      // user 2: A → B (no cross-user transition to user 1's events)
      (5L, T0, 2L, "A", 0.0, "{}"),
      (6L, T0 + Hour, 2L, "B", 0.0, "{}"))
    val out = Events.q150EventTransitions(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out == Map(
      ("A", "B") -> ((2L, 0.6667)), ("A", "C") -> ((1L, 0.3333)),
      ("B", "A") -> ((1L, 1.0))), out)
  }

  test("q156 session paths: 24h gap splits journeys; same-ts ties order by event_id") {
    val dir = tmpDir()
    writeEvents(dir,
      // user 1 session 1: A>B>C; session 2 (2 days later): D
      (1L, T0, 1L, "A", 0.0, "{}"),
      (2L, T0 + Hour, 1L, "B", 0.0, "{}"),
      (3L, T0 + 2 * Hour, 1L, "C", 0.0, "{}"),
      (4L, T0 + 50 * Hour, 1L, "D", 0.0, "{}"),
      // user 2: A>B>C again (path counted twice overall)
      (5L, T0, 2L, "A", 0.0, "{}"),
      (6L, T0 + Hour, 2L, "B", 0.0, "{}"),
      (7L, T0 + 2 * Hour, 2L, "C", 0.0, "{}"),
      // user 3: two events at the SAME ts — event_id orders the path
      (9L, T0, 3L, "Y", 0.0, "{}"),
      (8L, T0, 3L, "X", 0.0, "{}"))
    val out = Events.q156SessionPaths(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(out.head == ("A>B>C" -> 2L), out.toSeq)
    assert(out.toMap == Map("A>B>C" -> 2L, "D" -> 1L, "X>Y" -> 1L), out.toSeq)
  }

  test("q153 funnel timing: exact type-7 percentiles over converting users only") {
    val dir = tmpDir()
    val Min = 60L * Ns
    writeEvents(dir,
      // user 1 converts fully: view→click 600s, click→purchase 600s
      (1L, T0, 1L, "view", 0.0, "{}"),
      (2L, T0 + 10 * Min, 1L, "click", 0.0, "{}"),
      (3L, T0 + 20 * Min, 1L, "purchase", 0.0, "{}"),
      // user 2 clicks (1800s) but never purchases
      (4L, T0, 2L, "view", 0.0, "{}"),
      (5L, T0 + 30 * Min, 2L, "click", 0.0, "{}"),
      // user 3 views only — contributes to no timing
      (6L, T0, 3L, "view", 0.0, "{}"))
    val r = Events.q153FunnelTiming(spark, dir).collect().head
    assert(r.getLong(0) == 2L && r.getLong(3) == 1L, r)
    assert(r.getDouble(1) == 1200.0, "median of {600, 1800}")
    assert(r.getDouble(2) == 1680.0, "type-7 p90: 600 + 0.9·1200")
    assert(r.getDouble(4) == 600.0 && r.getDouble(5) == 600.0, r)
  }

  test("q151 debounce: bursts chain through consecutive gaps; types debounce independently") {
    val dir = tmpDir()
    val Min = 60L * Ns
    writeEvents(dir,
      // user 1 type A: 3 events each 50min apart — ONE chained burst
      // (first→last is 100min, but every consecutive gap is ≤ 60min)
      (1L, T0, 1L, "A", 0.0, "{}"),
      (2L, T0 + 50 * Min, 1L, "A", 0.0, "{}"),
      (3L, T0 + 100 * Min, 1L, "A", 0.0, "{}"),
      // then a 2h silence — a new burst
      (4L, T0 + 220 * Min, 1L, "A", 0.0, "{}"),
      // type B inside type A's burst window — independent key
      (5L, T0 + 10 * Min, 1L, "B", 0.0, "{}"))
    val out = Events.q151DebounceDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(out == Map(1L -> 3L, 4L -> 1L, 5L -> 1L), out)
  }

  test("q151 pack bounds: max-long event_id and pre-epoch ts round-trip the DECIMAL(38,0) argmin exactly") {
    val dir = tmpDir()
    // the (µs·10¹⁹ + event_id) pack's documented envelope: event_id up
    // to Long.MaxValue (< 10¹⁹, the base), µs of either sign — a
    // silent overflow/misorder would surface here as a wrong witness
    // id or a shifted witness ts
    writeEvents(dir,
      // user 1: ts tie at the pack's id extreme — the LOWER id must win
      (Long.MaxValue, T0, 1L, "A", 0.0, "{}"),
      (Long.MaxValue - 1L, T0, 1L, "A", 0.0, "{}"),
      // user 2: pre-epoch event (negative µs) — ts must unpack exactly
      (5L, -3600L * Ns, 2L, "A", 0.0, "{}"))
    val out = Events.q151DebounceDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(3).getTime, r.getLong(4)))
    assert(out.toSeq == Seq(
      (5L, 2L, -3600L * 1000L, 1L),
      (Long.MaxValue - 1L, 1L, T0 / 1000000L, 2L)), out.toSeq)
  }

  test("q151 pack bounds: a negative event_id fails the query instead of unpacking into the wrong µs bucket") {
    val dir = tmpDir()
    writeEvents(dir,
      (-1L, T0, 1L, "A", 0.0, "{}"),
      (4L, T0 + Hour, 2L, "A", 0.0, "{}"))
    val err = intercept[Throwable](Events.q151DebounceDedup(spark, dir).collect())
    val messages = Iterator.iterate(err)(_.getCause).takeWhile(_ != null).take(8).map(_.getMessage)
    assert(messages.exists(m => m != null && m.contains("negative event_id")), err)
  }

  test("q152 anomalies: outlier beyond 3 sigma flags; sigma-0 type emits null z and never flags") {
    val dir = tmpDir()
    val zeros = (0 until 12).map(i =>
      (i.toLong, T0 + i * Hour, 1L, "A", 0.0, "{}"))
    writeEvents(dir, (zeros :+
      (12L, T0 + 12 * Hour, 1L, "A", 13.0, "{}") :+ // z = 12/sqrt(12) ≈ 3.4641
      (13L, T0, 2L, "C", 5.0, "{}")): _*) // singleton type: sigma 0
    val out = Events.q152ValueAnomalies(spark, dir).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        r.getBoolean(4))).toMap
    assert(out(12L) == ((Some(3.4641), true)), out(12L))
    assert(out(0L) == ((Some(-0.2887), false)), out(0L))
    assert(out(13L) == ((None, false)), "sigma-0 must yield null z, no flag")
  }

  test("q147 grid resample: 6h grid per user span, forward fill, null before first observation") {
    val dir = tmpDir()
    val halfHour = 1800L * Ns
    writeEvents(dir,
      // user 1: obs at T0+30min and T0+7h → grid [T0, T0+6h]
      (1L, T0 + halfHour, 1L, "m", 1.0, "{}"),
      (2L, T0 + 7 * Hour, 1L, "m", 2.0, "{}"),
      // user 2: single on-grid obs — visible to its own grid point
      (3L, T0, 2L, "m", 9.0, "{}"),
      // user 3: two obs at the SAME ts — max event_id wins (determinism)
      (5L, T0 + Hour, 3L, "m", 3.0, "{}"),
      (6L, T0 + Hour, 3L, "m", 4.0, "{}"))
    val out = Events.q147GridResample(spark, dir).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    val t0ms = T0 / 1000000L
    assert(out.toSeq == Seq(
      (1L, t0ms, None), // grid point precedes the first observation
      (1L, t0ms + 6 * 3600 * 1000L, Some(1.0)),
      (2L, t0ms, Some(9.0)),
      (3L, t0ms + 3600 * 1000L, Some(4.0))), out.toSeq)
  }

  test("q162 snapshot diff: added/removed/changed/unchanged; NULL-valued latest event still reads as changed") {
    val dir = tmpDir()
    // span [T0, T0+10h] → cut at T0+5h
    write(dir, "events", df(Tables.eventsRawSchema,
      // user 1: type a → b across the cut           → changed
      org.apache.spark.sql.Row(1L, T0, 1L, "a", 1.0, "{}"),
      org.apache.spark.sql.Row(2L, T0 + 6 * Hour, 1L, "b", 1.0, "{}"),
      // user 2: before the cut only                 → removed
      org.apache.spark.sql.Row(3L, T0 + Hour, 2L, "a", 1.0, "{}"),
      // user 3: after the cut only (also the span max) → added
      org.apache.spark.sql.Row(4L, T0 + 10 * Hour, 3L, "a", 1.0, "{}"),
      // user 4: same (type, value) both sides       → unchanged
      org.apache.spark.sql.Row(5L, T0 + Hour, 4L, "a", 2.0, "{}"),
      org.apache.spark.sql.Row(6L, T0 + 8 * Hour, 4L, "a", 2.0, "{}"),
      // user 5: value 1.0 → NULL with the type equal — the null-safe
      // comparison MUST classify this as changed (a plain =!= slips
      // it through as unchanged)
      org.apache.spark.sql.Row(7L, T0, 5L, "x", 1.0, "{}"),
      org.apache.spark.sql.Row(8L, T0 + 9 * Hour, 5L, "x", null, "{}")))
    val out = Events.q162SnapshotDiff(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("added" -> 1L, "removed" -> 1L, "changed" -> 2L, "unchanged" -> 1L), out)
  }

  test("q179 disorder: lateness vs the running max, including across the 4096-id chunk seam") {
    val dir = tmpDir()
    val S = Ns // one second
    writeEvents(dir,
      // type a, all ids in chunk 0: in-order, 50s regression, new max, 10s regression
      (1L, T0 + 100 * S, 1L, "a", 0.0, "{}"),
      (2L, T0 + 50 * S, 1L, "a", 0.0, "{}"),
      (3L, T0 + 200 * S, 1L, "a", 0.0, "{}"),
      (4L, T0 + 190 * S, 1L, "a", 0.0, "{}"),
      // type b straddles ids 4095|4096 (chunk 0 -> 1): the running max
      // must carry across the chunk boundary via the prior-chunk max
      (4095L, T0 + 10000 * S, 2L, "b", 0.0, "{}"),
      (4096L, T0 + 9000 * S, 2L, "b", 0.0, "{}"),
      (4097L, T0 + 3000 * S, 2L, "b", 0.0, "{}"))
    val out = Events.q179DisorderAudit(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // a: 2 late events, worst 50s, none over a minute
    assert(out("a") == ((4L, 2L, 50L * 1000000, 0L, 0L)), out("a"))
    // b: 1000s and 7000s late — both over 1m, one over 1h
    assert(out("b") == ((3L, 2L, 7000L * 1000000, 2L, 1L)), out("b"))
  }

  test("q190 A/B readout: deterministic arms, conversion/value per arm, cross-multiplied compare") {
    val dir = tmpDir()
    def arm(u: Long): Long = graft.ops.Audit.checksumTermLong(u) % 2
    // pick users so each arm has 2; convert exactly one arm-0 user and
    // both arm-1 users → B's rate (2/2) beats A's (1/2)
    val users = (1L to 20L).toSeq
    val armA = users.filter(arm(_) == 0).take(2)
    val armB = users.filter(arm(_) == 1).take(2)
    val rows =
      Seq((1L, armA(0), "purchase", 10.0), (2L, armA(0), "purchase", 5.0), // converts, 15.0
        (3L, armA(1), "click", 0.0),                                      // does not
        (4L, armB(0), "purchase", 7.0), (5L, armB(1), "purchase", 2.0))
    writeEvents(dir, rows.map { case (id, u, t, v) => (id, T0, u, t, v, "{}") }: _*)
    val r = Events.q190AbReadout(spark, dir).head()
    assert((r.getLong(0), r.getLong(1), r.getDouble(2)) == ((2L, 1L, 15.0)), r)
    assert((r.getLong(3), r.getLong(4), r.getDouble(5)) == ((2L, 2L, 9.0)), r)
    assert(r.getBoolean(6)) // 2*2 > 1*2
  }

  test("q189 inter-arrival: gaps are per (user, type); singletons contribute none; exact order stats") {
    val dir = tmpDir()
    writeEvents(dir,
      // user 1, type a at 0s, 10s, 40s → gaps 10s, 30s
      (1L, T0, 1L, "a", 0.0, "{}"),
      (2L, T0 + 10 * Ns, 1L, "a", 0.0, "{}"),
      (3L, T0 + 40 * Ns, 1L, "a", 0.0, "{}"),
      // user 2, type a single event → no gap
      (4L, T0, 2L, "a", 0.0, "{}"),
      // user 1, type b interleaved with a: must NOT shrink a's gaps
      (5L, T0 + 5 * Ns, 1L, "b", 0.0, "{}"))
    val out = Events.q189InterArrival(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(5)))).toMap
    // type a: 2 gaps (10s, 30s) → median 20s, min 10s, max 30s
    assert(out(("a")) == ((2L, 10000000L, 20000000.0, 30000000L)), out)
    assert(!out.contains("b")) // a single b event yields no gap row
  }

  test("q200 peak concurrency: touching sessions overlap, carry-in crosses days, calendar gaps hold") {
    val dir = tmpDir()
    val Day = 24 * Hour
    writeEvents(dir,
      // day 0: u1 session [0h,2h]; u2 [1h,1h]; u3 [2h,2h] — at 1h u1+u2
      // overlap; at 2h u1 (ending) and u3 (starting) TOUCH → both open
      (1L, T0, 1L, "a", 0.0, "{}"),
      (2L, T0 + 2 * Hour, 1L, "a", 0.0, "{}"),
      (3L, T0 + Hour, 2L, "a", 0.0, "{}"),
      (4L, T0 + 2 * Hour, 3L, "a", 0.0, "{}"),
      // u4: one session spanning day1 0h → day2 10h (gaps 20h, 14h ≤ 24h)
      (5L, T0 + Day, 4L, "a", 0.0, "{}"),
      (6L, T0 + Day + 20 * Hour, 4L, "a", 0.0, "{}"),
      (7L, T0 + 2 * Day + 10 * Hour, 4L, "a", 0.0, "{}"),
      // day 2: u5 [0h,0h] while u4 is carried in → peak 2
      (8L, T0 + 2 * Day, 5L, "a", 0.0, "{}"),
      // day 5 after a silent gap: carry is back to zero
      (9L, T0 + 5 * Day, 6L, "a", 0.0, "{}"))
    val out = Events.q200PeakConcurrency(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val d0 = 1704067200L / 86400
    assert(out.toSeq == Seq(
      (d0, 3L, 3L, 2L),      // u1+u2 at 1h and u1+u3 at the 2h touch
      (d0 + 1, 1L, 0L, 1L),  // u4 opens, nothing closes
      (d0 + 2, 1L, 2L, 2L),  // u4 carried in + u5
      (d0 + 5, 1L, 1L, 1L)), out.toSeq)
    // the sweep over q13's published sessions reproduces q200 exactly
    val sweep = Events.concurrencySweep(Events.q13Sessionize(spark, dir)
        .selectExpr("unix_micros(session_start) AS sus", "unix_micros(session_end) AS eus"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(sweep.toSeq == out.toSeq, sweep.toSeq)
  }

  test("q204 weekday profile: integer dow, hot/quiet share verdicts, pre-epoch day floors correctly") {
    val dir = tmpDir()
    val Day = 24 * Hour
    var id = 0L
    def evs(dayOff: Long, n: Int, tpe: String) = (0 until n).map { k =>
      id += 1; (id, T0 + dayOff * Day + k * Ns, 1L, tpe, 0.0, "{}")
    }
    // T0 = 2024-01-01, a Monday (dow 1 in the 0=Sunday convention).
    // type a: Mon 8, Tue 2, Wed..Sun 1 → 15 total; type b uniform 1×7;
    // type c: ONE pre-epoch event at −1 µs → 1969-12-31, a Wednesday
    val rows = evs(0, 8, "a") ++ evs(1, 2, "a") ++ (2L to 6L).flatMap(evs(_, 1, "a")) ++
      (0L to 6L).flatMap(evs(_, 1, "b")) :+ { id += 1; (id, -1000L, 1L, "c", 0.0, "{}") }
    writeEvents(dir, rows: _*)
    val out = Events.q204WeekdayProfile(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4), r.getBoolean(5)))).toMap
    assert(out(("a", 1L)) == ((8L, 15L, true, false)), out)  // Monday: >2× share
    assert(out(("a", 2L)) == ((2L, 15L, false, false)), out) // neither
    assert(out(("a", 0L)) == ((1L, 15L, false, true)), out)  // Sunday: <½ share
    assert((0L to 6L).forall(d => out(("b", d)) == ((1L, 7L, false, false))), out)
    // pre-epoch floor-div: −1 µs lands on Wednesday 1969-12-31; a
    // single-day type is trivially hot on its only day
    assert(out.keys.count(_._1 == "c") == 1 && out(("c", 3L)) == ((1L, 1L, true, false)), out)
  }

  test("q205 RFM: five distinct users land on the quintile diagonal; views and null users excluded") {
    val dir = tmpDir()
    val Day = 24 * Hour
    // user k: k purchases of value 10k on day k (last at hour k−1) →
    // r_days = 5−k (distinct 0..4), f = k, m = 10k². With five distinct
    // values per metric, interpolated quintile boundaries (e.g. f:
    // 1.8/2.6/3.4/4.2) put user k in bucket k on every axis.
    var id = 0L
    val rows = (1 to 5).flatMap { k =>
      (0 until k).map { h =>
        id += 1
        Row(id, T0 + k * Day + h * Hour, k.toLong, "purchase", 10.0 * k, "{}")
      }
    } ++ Seq(
      Row(90L, T0 + 5 * Day, 1L, "view", 999.0, "{}"),  // non-purchase: ignored
      Row(91L, T0 + 5 * Day, null, "purchase", 999.0, "{}")) // null user: ignored
    write(dir, "events", df(Tables.eventsRawSchema, rows: _*))
    val out = Events.q205RfmSegments(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out.toSeq == (1 to 5).map(k => (k.toLong, k.toLong, k.toLong, 1L, 10.0 * k * k)),
      out.toSeq)
  }

  test("q210 IVM merge: equals q04 recompute incl. null-user group, all-null sums, one-sided users") {
    val dir = tmpDir()
    val rows = Seq[Row](
      // user 1 straddles both shards (ids 1,3 delta; 2 base)
      Row(1L, T0, 1L, "a", 1.0, "{}"), Row(2L, T0 + Ns, 1L, "a", 2.0, "{}"),
      Row(3L, T0 + 2 * Ns, 1L, "a", 3.0, "{}"),
      // user 2 exists only in the delta shard
      Row(5L, T0, 2L, "a", 10.0, "{}"),
      // user 3: all-NULL values → merged avg must stay NULL, not 0
      Row(6L, T0, 3L, "a", null, "{}"), Row(7L, T0 + Ns, 3L, "a", null, "{}"),
      // null user in BOTH shards → must merge to ONE group (<=> join)
      Row(8L, T0, null, "a", 4.0, "{}"), Row(9L, T0 + Ns, null, "a", 6.0, "{}"),
      // null event_id lands deterministically in the base shard
      Row(null, T0 + 3 * Ns, 4L, "a", 8.0, "{}"))
    write(dir, "events", df(Tables.eventsRawSchema, rows: _*))
    def snap(d: org.apache.spark.sql.DataFrame) = d.collect().map(r => (
      if (r.isNullAt(0)) null else r.getLong(0),
      if (r.isNullAt(1)) null else r.getDouble(1),
      r.getLong(2), r.getTimestamp(3))).toSeq
    val merged = snap(Events.q210IvmMerge(spark, dir))
    val recomputed = snap(Events.q04GroupbyAgg(spark, dir))
    assert(merged == recomputed, s"merge != recompute: $merged vs $recomputed")
    assert(merged.count(_._1 == null) == 1, "null-user group must stay ONE group")
    assert(merged.exists(r => r._1 == 3L && r._2 == null), "all-null sum must stay NULL")
  }

  test("q211 JSON profile: partial keys counted, scalars/arrays/malformed/NULL skipped, distinct values exact") {
    val dir = tmpDir()
    val rows = Seq[Row](
      Row(1L, T0, 1L, "a", 0.0, """{"k": 69, "m": "x"}"""),
      Row(2L, T0, 1L, "a", 0.0, """{"k": 70}"""),
      Row(3L, T0, 1L, "a", 0.0, "not json"), // malformed: contributes nothing
      Row(4L, T0, 1L, "a", 0.0, "5"),        // scalar: not an object
      Row(5L, T0, 1L, "a", 0.0, "[1, 2]"),   // array: not an object
      Row(6L, T0, 1L, "a", 0.0, null),       // null payload
      Row(7L, T0, 1L, "a", 0.0, """{"k": 69}"""), // duplicate value of k
      Row(8L, T0, 1L, "a", 0.0, "{'k': 1}"), // single quotes: invalid to BOTH engines
      Row(9L, T0, 1L, "a", 0.0, """{"r": NaN}"""), // NaN literal: invalid to BOTH engines
      Row(10L, T0, 1L, "a", 0.0, """{"m": null}""")) // JSON null: a row, no value
    write(dir, "events", df(Tables.eventsRawSchema, rows: _*))
    val out = Events.q211JsonProfile(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    // n_total counts ALL 10 rows; k appears on 3 with 2 distinct values;
    // m's JSON-null row counts toward n_rows but never toward the values
    assert(out.toSeq == Seq(("k", 3L, 2L, 10L, false), ("m", 2L, 1L, 10L, false)), out.toSeq)
  }

  test("q187 growth: new users count on their FIRST day only; cumulative total runs over gaps") {
    val dir = tmpDir()
    val Day = 24 * Hour
    writeEvents(dir,
      (1L, T0, 1L, "a", 0.0, "{}"),            // user 1 first on day 0
      (2L, T0 + 2 * Day, 1L, "a", 0.0, "{}"),  // returns later: NOT new again
      (3L, T0, 2L, "a", 0.0, "{}"),            // user 2 first on day 0
      (4L, T0 + 5 * Day, 3L, "a", 0.0, "{}"))  // user 3 first on day 5 (gap)
    val out = Events.q187UserGrowth(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val d0 = 1704067200L / 86400
    assert(out.toSeq == Seq((d0, 2L, 2L), (d0 + 5, 1L, 3L)), out.toSeq)
  }

  test("q186 co-occurrence: counts per pair, association flips with the user mix, null users dropped") {
    val dir = tmpDir()
    // users 1-3: {a,b}; user 4: {a}; user 5: {b}; user 6: {a,c}; null user: {a}
    val rows = Seq[(Long, Any, String)](
      (1L, 1L, "a"), (2L, 1L, "b"), (3L, 2L, "a"), (4L, 2L, "b"),
      (5L, 3L, "a"), (6L, 3L, "b"), (7L, 4L, "a"), (8L, 5L, "b"),
      (9L, 6L, "a"), (10L, 6L, "c"), (11L, 6L, "a"), // duplicate (6,a) collapses
      (12L, null, "a")) // basketless: a NULL user must not join or count
    write(dir, "events", df(Tables.eventsRawSchema,
      rows.map { case (id, u, t) => Row(id, T0, u, t, 0.0, "{}") }: _*))
    val out = Events.q186CooccurrenceLift(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    // n_users = 6; a: users 1,2,3,4,6 -> 5; b: 1,2,3,5 -> 4; c: 6 -> 1
    // (a,b): 3 users; 3*6=18 < 5*4=20 -> not associated
    assert(out(("a", "b")) == ((5L, 4L, 3L, 6L, false)), out)
    // (a,c): 1 user; 1*6=6 > 5*1=5 -> associated
    assert(out(("a", "c")) == ((5L, 1L, 1L, 6L, true)), out)
    // no (b,c) pair: no shared user
    assert(!out.contains(("b", "c")))
  }

  test("q183 spikes: 3x-mean flag is strict, arms at 6 baseline hours, gaps stay silent") {
    val dir = tmpDir()
    def at(id: Long, tpe: String, hour: Long) = (id, T0 + hour * Hour, 1L, tpe, 0.0, "{}")
    val a = (0L to 5L).map(h => at(1 + h, "a", h)) ++ (7L to 16L).map(id => at(id, "a", 6))
    val b = (0L to 5L).map(h => at(20 + h, "b", h)) ++ (26L to 28L).map(id => at(id, "b", 6))
    val c = Seq(at(40L, "c", 0), at(41L, "c", 40)) // 40h gap: baseline empty again
    writeEvents(dir, (a ++ b ++ c): _*)
    val out = Events.q183TrafficSpikes(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    val hr0 = 1704067200L / 3600
    // a@6: 10 events vs 6-hour baseline of 6 → 60 > 18 → spike
    assert(out(("a", hr0 + 6)) == ((10L, 6L, 6L, true)))
    // b@6: exactly 3x the mean → strict > → NOT a spike
    assert(out(("b", hr0 + 6)) == ((3L, 6L, 6L, false)))
    // c@40: gap emptied the 24h RANGE frame → unarmed, no spike
    assert(out(("c", hr0 + 40)) == ((1L, 0L, 0L, false)))
    // early hours: under 6 baseline hours → never armed
    assert(!out(("a", hr0 + 3))._4)
  }

  test("q196 level shift: sustained rate alarms, single spike decays to zero, down-shift detected") {
    val dir = tmpDir()
    val Day = 24 * Hour
    var id = 0L
    def burst(tpe: String, day: Long, n: Int): Seq[(Long, Long, Long, String, Double, String)] =
      (0 until n).map { i => id += 1; (id, T0 + day * Day + i * Ns, 1L, tpe, 0.0, "{}") }
    writeEvents(dir, (
      // a: 7 baseline days @10 (S0=70), then 6 days @25 — t_up=140/day,
      // threshold 8*S0=560 → alarms strictly from post-day 5
      (0L to 6L).flatMap(d => burst("a", d, 10)) ++
        (7L to 12L).flatMap(d => burst("a", d, 25)) ++
        // b: 7 baseline @20 (S0=140), then 10 days @1 — t_dn=126/day,
        // threshold 1120 → down-alarm from post-day 9
        (0L to 6L).flatMap(d => burst("b", d, 20)) ++
        (7L to 16L).flatMap(d => burst("b", d, 1)) ++
        // c: one 30-spike then normal — accumulates 210, decays to 0,
        // never alarms (q183 would flag the hour; the CUSUM must not)
        (0L to 6L).flatMap(d => burst("c", d, 10)) ++
        burst("c", 7, 30) ++ (8L to 11L).flatMap(d => burst("c", d, 10))): _*)
    val out = Events.q196LevelShift(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5), r.getBoolean(6)))).toMap
    val d0 = 1704067200L / 86400
    // textbook max(0, C + t) recurrence — independent of the engine's
    // prefix-sum identity
    def cusums(s0: Long, xs: Seq[Long]): Seq[(Long, Long)] =
      xs.scanLeft((0L, 0L)) { case ((up, dn), x) =>
        (math.max(0L, up + 2 * 7 * x - 3 * s0), math.max(0L, dn + s0 - 2 * 7 * x))
      }.drop(1)
    def check(tpe: String, s0: Long, xs: Seq[Long]): Unit =
      cusums(s0, xs).zipWithIndex.foreach { case ((up, dn), i) =>
        val expect = (xs(i), up, dn, up > 8 * s0, dn > 8 * s0)
        assert(out((tpe, d0 + 7 + i)) == expect,
          s"$tpe post-day ${i + 1}: ${out((tpe, d0 + 7 + i))} != $expect")
      }
    check("a", 70L, Seq.fill(6)(25L))
    check("b", 140L, Seq.fill(10)(1L))
    check("c", 70L, 30L +: Seq.fill(4)(10L))
    // alarm timing: a up-alarms on post-days 5-6; b down-alarms on 9-10
    assert(out(("a", d0 + 11))._4 && out(("a", d0 + 12))._4 && !out(("a", d0 + 10))._4)
    assert(out(("b", d0 + 15))._5 && out(("b", d0 + 16))._5 && !out(("b", d0 + 14))._5)
    // c's spike decays back to exactly zero and never alarms
    assert(out(("c", d0 + 11)) == ((10L, 0L, 0L, false, false)))
    assert(out.keys.forall(k => k._2 > d0 + 6)) // baseline days excluded
    assert(out.size == 6 + 10 + 5)
    // type e has only 3 active days (no complete baseline) → no rows;
    // type f's day-7 NULL-user, NULL-value event counts (groups on
    // type + day alone)
    val dir2 = tmpDir()
    id = 0L
    val rows2 = ((0L to 2L).flatMap(d => burst("e", d, 1)) ++
      (0L to 7L).flatMap(d => burst("f", d, 2)))
      .map(r => Row(r._1, r._2, r._3, r._4, r._5, r._6)) :+
      Row(999L, T0 + 7 * Day + Hour, null, "f", null, "{}")
    write(dir2, "events", df(Tables.eventsRawSchema, rows2: _*))
    val out2 = Events.q196LevelShift(spark, dir2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out2.toSeq == Seq(("f", d0 + 7, 3L)), out2.toSeq)
  }

  test("q197 bot cadence: regular and fast actors flag, jitter survives, humans and short runs don't") {
    val dir = tmpDir()
    val Sec = Ns
    var id = 0L
    def run(user: Long, tpe: String, offsetsSec: Seq[Double]): Seq[(Long, Long, Long, String, Double, String)] =
      offsetsSec.map { o => id += 1; (id, T0 + (o * Sec).toLong, user, tpe, 0.0, "{}") }
    writeEvents(dir, (
      // user 1: metronomic 10s cadence → robotic, not superhuman
      run(1L, "a", (0 to 5).map(_ * 10.0)) ++
        // user 2: metronomic 0.5s cadence → robotic AND superhuman
        run(2L, "a", (0 to 5).map(_ * 0.5)) ++
        // user 3: human-irregular gaps (10s, 1s, 50s, 2s, 80s) → neither
        run(3L, "a", Seq(0, 10, 11, 61, 63, 143).map(_.toDouble)) ++
        // user 4: regular but only 2 gaps → unarmed
        run(4L, "a", Seq(0.0, 10.0, 20.0)) ++
        // user 5: 10s cadence with ±0.1s jitter (CV ≈ 0.009) → still robotic
        run(5L, "a", Seq(0.0, 10.1, 19.9, 30.1, 39.9, 50.1))): _*)
    val out = Events.q197BotCadence(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4), r.getBoolean(5)))).toMap
    assert(out((1L, "a")) == ((5L, 50000000L, true, false)), out)
    assert(out((2L, "a")) == ((5L, 2500000L, true, true)), out)
    assert(out((3L, "a")) == ((5L, 143000000L, false, false)), out)
    assert(out((4L, "a")) == ((2L, 20000000L, false, false)), out)
    assert(out((5L, "a"))._3 && !out((5L, "a"))._4, out)
    assert(out.size == 5)
  }

  test("q181 attribution: last preceding touch wins, 7-day boundary inclusive, same-us tiebreak by code") {
    val dir = tmpDir()
    val Day = 24 * Hour
    writeEvents(dir,
      // user 1: click then view then purchase → last touch = view
      (1L, T0, 1L, "click", 0.0, "{}"),
      (2L, T0 + Hour, 1L, "view", 0.0, "{}"),
      (3L, T0 + 2 * Hour, 1L, "purchase", 10.0, "{}"),
      // user 2: touch exactly 7 days before → still attributed (<=)
      (4L, T0, 2L, "click", 0.0, "{}"),
      (5L, T0 + 7 * Day, 2L, "purchase", 20.0, "{}"),
      // user 3: touch strictly beyond 7 days → none
      (6L, T0, 3L, "view", 0.0, "{}"),
      (7L, T0 + 7 * Day + Ns, 3L, "purchase", 40.0, "{}"),
      // user 4: touch only AFTER the purchase → none
      (8L, T0 + Hour, 4L, "click", 0.0, "{}"),
      (9L, T0, 4L, "purchase", 80.0, "{}"),
      // user 5: click and view at the SAME µs → view (code 2) wins
      (10L, T0, 5L, "click", 0.0, "{}"),
      (11L, T0, 5L, "view", 0.0, "{}"),
      (12L, T0 + Hour, 5L, "purchase", 160.0, "{}"),
      // user 6: PRE-EPOCH touch and purchase (negative µs → negative
      // packed value) — the floor-div/pmod decode must still read
      // 'click', not truncate to the wrong µs/code
      (13L, -50 * Day, 6L, "click", 0.0, "{}"),
      (14L, -50 * Day + Hour, 6L, "purchase", 320.0, "{}"))
    val out = Events.q181PurchaseAttribution(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out("view") == ((2L, 170.0)), out)   // users 1 and 5
    assert(out("click") == ((2L, 340.0)), out)  // user 2 at the boundary + pre-epoch user 6
    assert(out("none") == ((2L, 120.0)), out)   // users 3 and 4
  }

  test("q180 streaks: islands split on gaps, duplicate same-day events collapse, singletons count") {
    val dir = tmpDir()
    val Day = 24 * Hour
    writeEvents(dir,
      // user 1: days 0,1,2 then 5,6 then 9 → 6 active days, 3 islands, longest 3
      (1L, T0, 1L, "a", 0.0, "{}"),
      (2L, T0 + 1 * Day, 1L, "a", 0.0, "{}"),
      (3L, T0 + 2 * Day, 1L, "a", 0.0, "{}"),
      (4L, T0 + 2 * Day + Hour, 1L, "b", 0.0, "{}"), // same day, second event
      (5L, T0 + 5 * Day, 1L, "a", 0.0, "{}"),
      (6L, T0 + 6 * Day, 1L, "a", 0.0, "{}"),
      (7L, T0 + 9 * Day, 1L, "a", 0.0, "{}"),
      // user 2: one day only
      (8L, T0, 2L, "a", 0.0, "{}"))
    val out = Events.q180ActivityStreaks(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((6L, 3L, 3L)), out(1L))
    assert(out(2L) == ((1L, 1L, 1L)), out(2L))
  }

  test("q179 disorder: a perfectly ordered type reports all zeros") {
    val dir = tmpDir()
    writeEvents(dir,
      (1L, T0, 1L, "a", 0.0, "{}"),
      (2L, T0 + Hour, 1L, "a", 0.0, "{}"),
      (3L, T0 + Hour, 1L, "a", 0.0, "{}")) // equal ts is NOT late (strict >)
    val out = Events.q179DisorderAudit(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((3L, 0L, 0L)), r)
  }

  test("q171 freshness: lag vs data anchor, 24h boundary inclusive, stale strictly beyond 1h") {
    val dir = tmpDir()
    writeEvents(dir,
      // type a sets the anchor at T0+25h; its older event predates the 24h window
      (1L, T0, 1L, "a", 0.0, "{}"),
      (2L, T0 + 25 * Hour, 1L, "a", 0.0, "{}"),
      // type b: only at T0 → 25h lag, stale, nothing in the window
      (3L, T0, 2L, "b", 0.0, "{}"),
      // type c: exactly ON the 24h boundary (anchor-24h) → counted (>=); lag 24h → stale
      (4L, T0 + Hour, 3L, "c", 0.0, "{}"),
      // type d: exactly 1h of lag → NOT stale (strict >)
      (5L, T0 + 24 * Hour, 4L, "d", 0.0, "{}"),
      // NULL type: its own audited row (22h lag, in the window, stale)
      (6L, T0 + 3 * Hour, 5L, null, 0.0, "{}"))
    val out = Events.q171FreshnessAudit(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(out("a") == ((2L, 0L, 1L, false)), out("a"))
    assert(out("b") == ((1L, 25L * 3600, 0L, true)), out("b"))
    assert(out("c") == ((1L, 24L * 3600, 1L, true)), out("c"))
    assert(out("d") == ((1L, 3600L, 1L, false)), out("d"))
    assert(out(null) == ((1L, 22L * 3600, 1L, true)), out.get(null))
  }

  test("q172 completeness: hour buckets over each type's own span, missing hours counted") {
    val dir = tmpDir()
    val halfHour = Hour / 2
    writeEvents(dir,
      // type a: hours 0, 1, 3 of its span (two events share hour 1) → 3/4 observed
      (1L, T0, 1L, "a", 0.0, "{}"),
      (2L, T0 + Hour, 1L, "a", 0.0, "{}"),
      (3L, T0 + Hour + halfHour, 2L, "a", 0.0, "{}"),
      (4L, T0 + 3 * Hour, 1L, "a", 0.0, "{}"),
      // type b: a single event → full coverage of its 1-hour span
      (5L, T0 + 10 * Hour, 3L, "b", 0.0, "{}"))
    val out = Events.q172CompletenessAudit(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out("a") == ((3L, 4L, 1L, 0.75)), out("a"))
    assert(out("b") == ((1L, 1L, 0L, 1.0)), out("b"))
  }

  test("q172 completeness: pre-epoch timestamps floor into the previous hour (DuckDB // parity)") {
    val dir = tmpDir()
    // 23:30 and 00:30 around the 1970 epoch: FLOOR puts them in hours
    // −1 and 0 (observed 2, span 2); a truncating div would collapse
    // both into hour 0
    writeEvents(dir,
      (1L, -Hour / 2, 1L, "p", 0.0, "{}"),
      (2L, Hour / 2, 1L, "p", 0.0, "{}"))
    val out = Events.q172CompletenessAudit(spark, dir).head()
    assert((out.getLong(1), out.getLong(2), out.getLong(3), out.getDouble(4)) ==
      ((2L, 2L, 0L, 1.0)), out)
  }

  test("q163 SCD2: versions per type change, [valid_from, valid_to) chain, open current version") {
    val dir = tmpDir()
    writeEvents(dir,
      // user 1: a, a (no change), b, back to a → 3 versions
      (1L, T0, 1L, "a", 0.0, "{}"),
      (2L, T0 + Hour, 1L, "a", 0.0, "{}"),
      (3L, T0 + 2 * Hour, 1L, "b", 0.0, "{}"),
      (4L, T0 + 3 * Hour, 1L, "a", 0.0, "{}"),
      // user 2: single event → one open version
      (5L, T0, 2L, "c", 0.0, "{}"))
    val t0ms = T0 / 1000000L
    val out = Events.q163Scd2History(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getTimestamp(3).getTime,
        if (r.isNullAt(4)) None else Some(r.getTimestamp(4).getTime)))
    assert(out.toSeq == Seq(
      (1L, 1L, "a", t0ms, Some(t0ms + 2 * 3600 * 1000L)),
      (1L, 2L, "b", t0ms + 2 * 3600 * 1000L, Some(t0ms + 3 * 3600 * 1000L)),
      (1L, 3L, "a", t0ms + 3 * 3600 * 1000L, None),
      (2L, 1L, "c", t0ms, None)), out.toSeq)
  }

  test("q215 transition dwell: exact per-edge gaps, interpolated percentiles, null users form one partition") {
    val dir = tmpDir()
    val T0 = 1704067200L * Ns
    val S = Ns // one second
    write(dir, "events", df(Tables.eventsRawSchema,
      Row(1L, T0, 1L, "a", 0.0, "{}"),
      Row(2L, T0 + 10 * S, 1L, "b", 0.0, "{}"),
      Row(3L, T0 + 30 * S, 1L, "a", 0.0, "{}"),
      Row(4L, T0, 2L, "a", 0.0, "{}"),
      Row(5L, T0 + 100 * S, 2L, "b", 0.0, "{}"),
      // the null-user pair: ONE partition in both engines (q150's
      // stance) — its a→b hop must fold into the edge's distribution
      Row(6L, T0, null, "a", 0.0, "{}"),
      Row(7L, T0 + 5 * S, null, "b", 0.0, "{}")))
    val out = Events.q215TransitionDwell(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6)))).toMap
    // (a,b): gaps 5s/10s/100s → med = middle order stat, p90 at
    // index 1.8 interpolates 1e7 + 0.8·9e7 = 8.2e7
    assert(out(("a", "b")) == ((3L, 5000000L, 1.0e7, 8.2e7, 100000000L)), out)
    assert(out(("b", "a")) == ((1L, 20000000L, 2.0e7, 2.0e7, 20000000L)), out)
    assert(out.size == 2)
    // a ts tie orders by (ts, event_id): x (id 0) precedes b (id 2) at
    // +10s, so the zero-dwell hop is x→b, never b→x
    val tie = tmpDir()
    writeEvents(tie,
      (1L, T0, 1L, "a", 0.0, "{}"),
      (2L, T0 + 10 * S, 1L, "b", 0.0, "{}"),
      (0L, T0 + 10 * S, 1L, "x", 0.0, "{}"),
      (3L, T0 + 30 * S, 1L, "a", 0.0, "{}"))
    val hops = Events.q215TransitionDwell(spark, tie).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(3))).toSet
    assert(hops == Set(("a", "x", 10000000L), ("x", "b", 0L), ("b", "a", 20000000L)), hops)
  }

  test("q217 session entry/exit: bounces are single-event sessions; same-instant ties break on event_id") {
    val dir = tmpDir()
    val T0 = 1704067200L * Ns
    val Day = 24 * 3600 * Ns
    write(dir, "events", df(Tables.eventsRawSchema,
      // user 1, session 1: a → b; session 2 (25h later): the c bounce
      Row(1L, T0, 1L, "a", 0.0, "{}"),
      Row(2L, T0 + 10 * Ns, 1L, "b", 0.0, "{}"),
      Row(3L, T0 + Day + 3600L * Ns, 1L, "c", 0.0, "{}"),
      // user 2: the a bounce
      Row(4L, T0, 2L, "a", 0.0, "{}"),
      // user 3: two events at the SAME instant — entry/exit must
      // split on event_id (the userWindow tie rule)
      Row(10L, T0, 3L, "x", 0.0, "{}"),
      Row(11L, T0, 3L, "y", 0.0, "{}")))
    val out = Events.q217SessionEntryExit(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(("a", "b")) == ((1L, 0L, 0.25)), out)
    assert(out(("c", "c")) == ((1L, 1L, 0.25)), out)
    assert(out(("a", "a")) == ((1L, 1L, 0.25)), out)
    assert(out(("x", "y")) == ((1L, 0L, 0.25)), out)
    assert(out.size == 4)
    // empty events: no sessions, no rows, no division by zero
    val empty = tmpDir()
    write(empty, "events", df(Tables.eventsRawSchema))
    assert(Events.q217SessionEntryExit(spark, empty).count() == 0)
  }

  test("q223 daily autocorr: alternation → −1, trend → +1, constant → NULL, day gaps zero-fill") {
    val dir = tmpDir()
    val T0 = 1704067200L * Ns // midnight UTC — day-aligned
    val Day = 86400L * Ns
    var id = 0L
    def burst(tpe: String, day: Int, c: Int): Seq[Row] =
      (1 to c).map { k => id += 1; Row(id, T0 + day * Day + k * Ns, 1L, tpe, 0.0, "{}") }
    val rows =
      // alt: [2,0,2,0,2] → perfect alternation, r = −1
      Seq(0, 2, 4).flatMap(d => burst("alt", d, 2)) ++
      // mono: [1,2,3,4,5] → perfect trend, r = +1
      (0 to 4).flatMap(d => burst("mono", d, d + 1)) ++
      // const: [1,1,1,1,1] → zero variance, r NULL (not NaN)
      (0 to 4).flatMap(d => burst("const", d, 1)) ++
      // gap: [3,0,0,0,3] — without zero-fill the only pair would be
      // (3,3); the filled grid makes r = −9/27 = −1/3
      Seq(0, 4).flatMap(d => burst("gap", d, 3))
    write(dir, "events", df(Tables.eventsRawSchema, rows: _*))
    val out = Events.q223DailyAutocorr(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(out.toSeq == Seq(
      ("alt", 4L, Some(-1.0)),
      ("const", 4L, None),
      ("gap", 4L, Some(-0.3333)),
      ("mono", 4L, Some(1.0))), out.toSeq)
  }

  test("q223 daily autocorr: empty events yield no rows") {
    val dir = tmpDir()
    write(dir, "events", df(Tables.eventsRawSchema))
    assert(Events.q223DailyAutocorr(spark, dir).count() == 0)
  }

  test("q240 trend: slopes fit exactly on the zero-filled grid; a one-day span has no trend") {
    val dir = tmpDir()
    val T0 = 1704067200L * Ns
    val Day = 86400L * Ns
    var id = 0L
    def burst(tpe: String, day: Int, c: Int): Seq[Row] =
      (1 to c).map { k => id += 1; Row(id, T0 + day * Day + k * Ns, tpe.hashCode.toLong, tpe, 0.0, "{}") }
    write(dir, "events", df(Tables.eventsRawSchema,
      ((0 to 4).flatMap(d => burst("grow", d, d + 1)) ++      // [1,2,3,4,5] → +1/day
        (0 to 4).flatMap(d => burst("decay", d, 5 - d)) ++    // [5,4,3,2,1] → −1/day
        (0 to 4).flatMap(d => burst("flat", d, 2)) ++         // [2,2,2,2,2] → 0
        Seq(0, 4).flatMap(d => burst("gap", d, 3))): _*))     // [3,0,0,0,3] → 0 (symmetric)
    val out = Events.q240TrafficTrend(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    assert(out == Seq(
      ("decay", 5L, 15L, Some(-1.0)),
      ("flat", 5L, 10L, Some(0.0)),
      ("gap", 5L, 6L, Some(0.0)),
      ("grow", 5L, 15L, Some(1.0))), out)
    // a one-day global span: no trend from one point → NULL
    val one = tmpDir()
    write(one, "events", df(Tables.eventsRawSchema,
      Row(1L, T0, 1L, "a", 0.0, "{}"), Row(2L, T0 + Ns, 2L, "a", 0.0, "{}")))
    val o = Events.q240TrafficTrend(spark, one).collect()(0)
    assert((o.getString(0), o.getLong(1), o.getLong(2), o.isNullAt(3)) == (("a", 1L, 2L, true)), o)
  }

  test("q240 trend: empty events yield no rows") {
    val dir = tmpDir()
    write(dir, "events", df(Tables.eventsRawSchema))
    assert(Events.q240TrafficTrend(spark, dir).count() == 0)
  }

  test("q231 fano: a one-day burst disperses ≫1, a constant rate is 0, a trend sits between; shared global grid") {
    val dir = tmpDir()
    val T0 = 1704067200L * Ns
    val Day = 86400L * Ns
    var id = 0L
    def burst(tpe: String, day: Int, c: Int): Seq[Row] =
      (1 to c).map { k => id += 1; Row(id, T0 + day * Day + k * Ns, 1L, tpe, 0.0, "{}") }
    val rows =
      // burst: [5,0,0,0,0] over the 5-day global grid → (5·25−25)/(5·5) = 4
      burst("burst", 0, 5) ++
      // const: [1,1,1,1,1] → variance 0 → fano 0
      (0 to 4).flatMap(d => burst("const", d, 1)) ++
      // mono: [1,2,3,4,5] → (5·55−225)/(5·15) = 2/3
      (0 to 4).flatMap(d => burst("mono", d, d + 1))
    write(dir, "events", df(Tables.eventsRawSchema, rows: _*))
    val out = Events.q231EventBurstiness(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(out == Seq(
      ("burst", 5L, 5L, 4.0),
      ("const", 5L, 5L, 0.0),
      ("mono", 5L, 15L, 0.6667)), out)
  }

  test("q233 gini: uniform usage is 0, a dominant user concentrates; closed tie-group form matches textbook") {
    val dir = tmpDir()
    val T0 = 1704067200L * Ns
    var id = 0L
    def evs(user: Long, c: Int): Seq[Row] =
      (1 to c).map { k => id += 1; Row(id, T0 + id * Ns, user, "a", 0.0, "{}") }
    // uniform: 4 users × 2 events → G = 0
    write(dir, "events", df(Tables.eventsRawSchema,
      (1L to 4L).flatMap(u => evs(u, 2)): _*))
    val u = Events.q233EventGini(spark, dir).collect()(0)
    assert((u.getLong(0), u.getLong(1), u.getDouble(2)) == ((4L, 8L, 0.0)), u)
    // counts [1,1,1,7]: textbook Σ(2i−n−1)x = −3−1+1+21 = 18 → 18/40
    val dir2 = tmpDir()
    id = 0L
    write(dir2, "events", df(Tables.eventsRawSchema,
      ((1L to 3L).flatMap(u => evs(u, 1)) ++ evs(4L, 7)): _*))
    val c = Events.q233EventGini(spark, dir2).collect()(0)
    assert((c.getLong(0), c.getLong(1), c.getDouble(2)) == ((4L, 10L, 0.45)), c)
    // empty events: one all-NULL report row (both engines)
    val empty = tmpDir()
    write(empty, "events", df(Tables.eventsRawSchema))
    val e = Events.q233EventGini(spark, empty).collect()
    assert(e.length == 1 && e(0).isNullAt(0) && e(0).isNullAt(1) && e(0).isNullAt(2), e.toSeq)
  }

  test("q239 rolling actives: windows slide over the zero-filled grid; repeat activity counts once") {
    val dir = tmpDir()
    val T0 = 1704067200L * Ns
    val Day = 86400L * Ns
    val base = 1704067200L / 86400L // T0's day number
    write(dir, "events", df(Tables.eventsRawSchema,
      // u1: twice on day 0 (DAU counts once) and on day 3
      Row(1L, T0, 1L, "a", 0.0, "{}"), Row(2L, T0 + Ns, 1L, "a", 0.0, "{}"),
      Row(3L, T0 + 3 * Day, 1L, "a", 0.0, "{}"),
      Row(4L, T0, 2L, "a", 0.0, "{}"),
      Row(5L, T0 + 8 * Day, 3L, "a", 0.0, "{}")))
    val out = Events.q239RollingActives(spark, dir).collect()
      .map(r => (r.getLong(0) - base, r.getLong(1), r.getLong(2))).toSeq
    val dau = Seq(2L, 0L, 0L, 1L, 0L, 0L, 0L, 0L, 1L)
    val wau = Seq(2L, 2L, 2L, 2L, 2L, 2L, 2L, 1L, 2L)
    assert(out == (0 to 8).map(i => (i.toLong, dau(i), wau(i))), out)
  }

  test("q233 ≡ textbook rank formula and q239 ≡ brute-force windows on randomized events (seeded)") {
    val rnd = new scala.util.Random(20260815L)
    val T0 = 1704067200L * Ns
    val Day = 86400L * Ns
    val base = 1704067200L / 86400L
    (1 to 3).foreach { trial =>
      val dir = tmpDir()
      var id = 0L
      val nUsers = 5 + rnd.nextInt(20)
      val userDays = (1L to nUsers.toLong).map { u =>
        u -> (0 until 1 + rnd.nextInt(6)).map(_ => rnd.nextInt(15)).distinct
      }
      val rows = userDays.flatMap { case (u, days) =>
        days.flatMap { d =>
          (0 until 1 + rnd.nextInt(3)).map { _ =>
            id += 1; Row(id, T0 + d * Day + id * Ns, u, "a", 0.0, "{}")
          }
        }
      }
      write(dir, "events", df(Tables.eventsRawSchema, rows: _*))
      // q233 vs the textbook sorted-rank sum over per-user TOTALS
      val counts = rows.groupBy(r => r.getLong(2)).values.map(_.size.toLong).toSeq.sorted
      val n = counts.size.toLong
      val sx = counts.sum
      val num = counts.zipWithIndex.map { case (x, i0) => (2L * (i0 + 1) - n - 1) * x }.sum
      val expG = math.floor(num.toDouble / (n * sx).toDouble * 10000.0 + 0.5) / 10000.0
      val g = Events.q233EventGini(spark, dir).collect()(0)
      assert((g.getLong(0), g.getLong(1), g.getDouble(2)) == ((n, sx, expG)), s"trial $trial gini")
      // q239 vs brute-force per-day window distinct
      val active = userDays.flatMap { case (u, ds) => ds.map(d => (u, d)) }.toSet
      val dmin = active.map(_._2).min
      val dmax = active.map(_._2).max
      val exp = (dmin to dmax).map { d =>
        (base + d,
          active.count(_._2 == d).toLong,
          active.collect { case (u, ad) if ad >= d - 6 && ad <= d => u }.size.toLong)
      }
      val got = Events.q239RollingActives(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == exp, s"trial $trial wau: $got vs $exp")
    }
  }

  test("q239 rolling actives: empty events yield no rows") {
    val dir = tmpDir()
    write(dir, "events", df(Tables.eventsRawSchema))
    assert(Events.q239RollingActives(spark, dir).count() == 0)
  }

  test("q236 boxplot: exact quartiles fence the outlier; interpolation and null exclusion pin") {
    val dir = tmpDir()
    val T0 = 1704067200L * Ns
    var id = 0L
    def ev(tpe: String, v: Any): Row = { id += 1; Row(id, T0 + id * Ns, 1L, tpe, v, "{}") }
    write(dir, "events", df(Tables.eventsRawSchema,
      // a: 1..8 + 100 → q25/q50/q75 = 3/5/7, fences (−3, 13), one high
      ((1 to 8).map(v => ev("a", v.toDouble)) :+ ev("a", 100.0)) ++
        // a null reading is excluded before the percentile
        Seq(ev("a", null),
          // b: two points → interpolated quartiles 2.5/5/7.5
          ev("b", 0.0), ev("b", 10.0)): _*))
    val out = Events.q236BoxplotStats(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6), r.getLong(7))).toSeq
    assert(out == Seq(
      ("a", 9L, 3.0, 5.0, 7.0, 4.0, 0L, 1L),
      ("b", 2L, 2.5, 5.0, 7.5, 5.0, 0L, 0L)), out)
  }

  test("q236 boxplot: empty events yield no rows") {
    val dir = tmpDir()
    write(dir, "events", df(Tables.eventsRawSchema))
    assert(Events.q236BoxplotStats(spark, dir).count() == 0)
  }

  test("q235 lorenz: bottom-m cuts land inside tie groups exactly; the whale owns the last decile jump") {
    val dir = tmpDir()
    val T0 = 1704067200L * Ns
    var id = 0L
    def evs(user: Long, c: Int): Seq[Row] =
      (1 to c).map { k => id += 1; Row(id, T0 + id * Ns, user, "a", 0.0, "{}") }
    // counts [1,1,1,7]: m_k = (4k) div 10 → cuts at 0,0,1,1,2,2,2,3,3,4
    write(dir, "events", df(Tables.eventsRawSchema,
      ((1L to 3L).flatMap(u => evs(u, 1)) ++ evs(4L, 7)): _*))
    val out = Events.q235LorenzDeciles(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(out == Seq(
      (1L, 0L, 0L, 0.0), (2L, 0L, 0L, 0.0), (3L, 1L, 1L, 0.1), (4L, 1L, 1L, 0.1),
      (5L, 2L, 2L, 0.2), (6L, 2L, 2L, 0.2), (7L, 2L, 2L, 0.2),
      (8L, 3L, 3L, 0.3), (9L, 3L, 3L, 0.3), (10L, 4L, 10L, 1.0)), out)
    // empty events: 10 rows, NULL members/shares
    val empty = tmpDir()
    write(empty, "events", df(Tables.eventsRawSchema))
    val e = Events.q235LorenzDeciles(spark, empty).collect()
    assert(e.length == 10 && e.forall(r => r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3)), e.toSeq)
  }

  test("q232 twap: time-held weighting pools across users, skips null readings, handles negatives") {
    val dir = tmpDir()
    val T0 = 1704067200L * Ns
    val S = Ns // one second of raw-ts ticks
    write(dir, "events", df(Tables.eventsRawSchema,
      // u1/m: 10 held 1s, 20 held 2s; the 7 at the end holds nothing
      Row(1L, T0, 1L, "m", 10.0, "{}"),
      Row(2L, T0 + S, 1L, "m", 20.0, "{}"),
      Row(3L, T0 + 3 * S, 1L, "m", 7.0, "{}"),
      // a null reading mid-stream is EXCLUDED: 10's interval still
      // spans t0 → t0+1s (to the next KNOWN reading)
      Row(4L, T0 + S / 2, 1L, "m", null, "{}"),
      // u2/m: 0 held 1s — pools with u1: (10·1 + 20·2 + 0·1)/4s = 12.5
      Row(5L, T0, 2L, "m", 0.0, "{}"),
      Row(6L, T0 + S, 2L, "m", 9.0, "{}"),
      // negative readings weight exactly
      Row(7L, T0, 3L, "n", -5.0, "{}"),
      Row(8L, T0 + 2 * S, 3L, "n", 1.0, "{}")))
    val out = Events.q232TimeWeightedValue(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(out == Seq(
      ("m", 3L, 4000000L, 12.5),
      ("n", 1L, 2000000L, -5.0)), out)
  }

  test("q232 twap: empty events yield no rows") {
    val dir = tmpDir()
    write(dir, "events", df(Tables.eventsRawSchema))
    assert(Events.q232TimeWeightedValue(spark, dir).count() == 0)
  }

  test("q231 fano: empty events yield no rows") {
    val dir = tmpDir()
    write(dir, "events", df(Tables.eventsRawSchema))
    assert(Events.q231EventBurstiness(spark, dir).count() == 0)
  }

  test("q228 survival: spans floor to whole days, empty days zero-fill, S(0)=1, reverse counts exact") {
    val dir = tmpDir()
    val T0 = 1704067200L * Ns
    val Day = 86400L * Ns
    write(dir, "events", df(Tables.eventsRawSchema,
      // u1: exactly 3 days → life 3
      Row(1L, T0, 1L, "a", 0.0, "{}"), Row(2L, T0 + 3 * Day, 1L, "a", 0.0, "{}"),
      // u2: single event → life 0
      Row(3L, T0 + Day / 24, 2L, "a", 0.0, "{}"),
      // u3: 1.5 days FLOORS to life 1 — the whole-days contract
      Row(4L, T0, 3L, "a", 0.0, "{}"), Row(5L, T0 + Day + Day / 2, 3L, "a", 0.0, "{}"),
      // u4: 3 days, off-midnight start (span is anchor-free) → life 3
      Row(6L, T0 + Day / 4, 4L, "a", 0.0, "{}"),
      Row(7L, T0 + Day / 4 + 3 * Day, 4L, "a", 0.0, "{}")))
    val out = Events.q228SurvivalCurve(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    // day 2 ends nobody but must still appear (zero-filled grid)
    assert(out == Seq(
      (0L, 1L, 4L, 1.0), (1L, 1L, 3L, 0.75),
      (2L, 0L, 2L, 0.5), (3L, 2L, 2L, 0.5)), out)
  }

  test("q228 survival: empty events yield no rows") {
    val dir = tmpDir()
    write(dir, "events", df(Tables.eventsRawSchema))
    assert(Events.q228SurvivalCurve(spark, dir).count() == 0)
  }
}
