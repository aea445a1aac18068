package graft.ops

import graft.Tables
import graft.stage.Staging.stagedTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Event-stream operators: the reference's Kafka-log ETL vocabulary
  * (sessionization, forward-fill, per-group aggregation, dedup,
  * relative-time filters — SURVEY.md §2.2/§2.4/§2.5) re-expressed as
  * window/aggregate plans over the `events` table.
  *
  * Scale notes (100 TB): every window below is partitioned by `user_id`
  * — partitions are bounded by per-user event counts, never global.
  * There is no driver-side state; the reference's single-threaded
  * mutable-variable loop (main.py:96-153) becomes a shuffle on user_id
  * followed by embarrassingly parallel per-partition window evaluation.
  */
object Events {
  import Det._

  private[graft] val MicrosPerDay = 86400000000L

  /** Per-user event-ordered window; ties on ts broken by event_id so
    * window results are deterministic (determinism rule 1 applied to
    * window ordering, not just output ordering).
    */
  private val userWindow = Window.partitionBy("user_id").orderBy("ts", "event_id")

  /** (µs, event_id) packed into one DECIMAL(38,0) — q88's
    * hash-aggregable argmin/argmax key (Relational.scala's pack
    * discipline) for the event argument sites below (q151/q162/q217):
    * `min(struct(us, event_id, payload…))` plans SortAggregate (a
    * struct aggregation buffer is not UnsafeRow-mutable), which costs
    * two corpus-sized per-partition Sorts around the group exchange.
    * us·10¹⁹ + event_id keeps the identical lexicographic (us,
    * event_id) order inside one decimal — 10¹⁹ > Long.MaxValue, so ANY
    * long µs value (negative included: us·B is monotonic and the
    * magnitude stays under 38 digits) and any NON-NEGATIVE event_id
    * pack losslessly; event_id ≥ 0 is the one assumption (ids are
    * 0-based by generation). pmod unpacking would fold a negative id
    * into the wrong µs bucket, so the pack raises on one instead (the
    * `assert_true` guard of `Similarity.withSetMask`, written as the
    * `raise_error` it expands to so a null id still packs to null).
    * (us, event_id) is unique per event, so argmin/argmax over the pack
    * is exactly the struct tie rule, and a decimal buffer IS mutable —
    * both aggregate phases stay HashAggregate with map-side partials.
    */
  private val EventPackBase = // 10^19
    lit(new java.math.BigDecimal("10000000000000000000"))

  private def packUsEventId: org.apache.spark.sql.Column =
    unix_micros(col("ts")).cast(DecimalType(20, 0)) * EventPackBase +
      when(col("event_id") < 0L, raise_error(lit("packUsEventId: negative event_id")))
        .otherwise(col("event_id"))

  private def unpackEventId(pk: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(pk, EventPackBase).cast(LongType)

  private def unpackTs(pk: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    timestamp_micros(((pk - pmod(pk, EventPackBase)) / EventPackBase).cast(LongType))

  /** The (tid, event_type) dictionary — one row per distinct
    * event_type, ids dense by lexicographic order (nulls first, so a
    * null type keys its own row and the null-safe encode join below
    * loses no rows) — STAGED once per (session, corpus). It exists so
    * the argmin/argmax rewrites (q162/q217) can carry a STRING payload
    * through a hash-aggregable `min_by`/`max_by`: a string aggregation
    * buffer is not UnsafeRow-mutable (→ SortAggregate), a long tid is.
    * Consumers encode with a broadcast null-safe join, aggregate on
    * tid, and decode group-level results through the same dictionary —
    * the dictionary is injective, so tid equality/identity is exactly
    * event_type equality. |event_types| rows (catalog-sized): the
    * single-partition rank window is q187's sanctioned regime.
    */
  private[ops] def stagedEventTypeDict(spark: SparkSession, dir: String): DataFrame =
    stagedTable(spark, dir, "event_type_dict") {
      Tables.events(spark, dir).select("event_type").distinct()
        .withColumn("tid",
          row_number().over(Window.orderBy(col("event_type"))).cast(LongType))
    }

  /** A1 — group-by + avg/count/max (reference main.py:160-171's
    * hand-transposed per-ride aggregation, done natively with
    * partial+final hash aggregation).
    */
  def q04GroupbyAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(
        davg4(col("value")).as("avg_value"),
        count(lit(1)).as("n_events"),
        max("ts").as("max_ts"))
      .orderBy("user_id")

  /** A3 — exact count-distinct per group (reference's `existing_user`
    * set, main.py:85,131). countDistinct shuffles each distinct
    * (event_type, user_id) pair once — partial distinct happens
    * map-side. For 100 TB cardinality estimation the HLL variant
    * `approx_count_distinct` is the first knob to reach for.
    */
  def q04cCountDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        countDistinct("user_id").as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** J6 — first-wins dedup (reference main.py:131-132's
    * first-occurrence-wins user gate). row_number over an explicitly
    * ordered window — NOT dropDuplicates, whose survivor is
    * partition-order-dependent and therefore nondeterministic.
    */
  def q05Dedup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(userWindow))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "ts", "event_type", "value")
      .orderBy("user_id")

  /** F1 — regex extraction (reference main.py:73-74's number/dict
    * regexes). Codegen'd `regexp_extract`, no UDF.
    */
  def q06RegexExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        regexp_extract(col("props"), "(\\d+)", 1).cast(LongType).as("k_num"))
      .orderBy("event_id")

  /** F2 — JSON parsing + aggregation (reference json.loads at
    * main.py:53, literal_eval at main.py:129). Integer sum — exact on
    * both engines.
    */
  def q07JsonParse(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(sum(get_json_object(col("props"), "$.k").cast(LongType)).as("sum_k"))
      .orderBy("event_type")

  /** P4 — date-part derivation + filter (reference api.py:25-27 slices
    * the timestamp *string*; api.py:162's string-vs-int compare is the
    * always-false bug — implemented here with intended semantics per
    * SURVEY.md §4.3.1). Cast to long: DuckDB date parts are BIGINT and
    * the driver compares schemas.
    */
  def q08DateParts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        year(col("ts")).cast(LongType).as("y"),
        month(col("ts")).cast(LongType).as("m"),
        dayofmonth(col("ts")).cast(LongType).as("d"))
      .filter(col("m") === 1 && col("d") <= 15)
      .orderBy("event_id")

  /** F4 — epoch-ms ↔ timestamp conversions (reference main.py:130,137
    * divides epoch-ms by 1000). unix_millis/timestamp_millis are exact
    * integer paths — no double roundtrip.
    */
  def q09EpochToTs(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        unix_millis(col("ts")).as("ms"),
        timestamp_millis(unix_millis(col("ts"))).as("ts_back"))
      .orderBy("event_id")

  /** W1 — gap-based sessionization (24 h gap), the declared analog of the
    * reference's marker-based ride sessions (main.py:99-124; the
    * marker-faithful variant lives in the ETL pipeline). Classic
    * lag-gap-cumsum: new-session flag, running sum per user = session id.
    * Gap compare is µs-exact integer arithmetic on both engines.
    */
  def q13Sessionize(spark: SparkSession, dir: String): DataFrame =
    sessionSpans(spark, dir).orderBy("user_id", "session_id")

  /** The ONE session-span relation (user, session, n_events, start,
    * end) — q13's output without its presentation sort, shared by
    * [[q200PeakConcurrency]] so the sweep and the session report can
    * never disagree on what a session is (the q89-funnel-CTE stance,
    * engine side).
    */
  /** Every event with its session id — the per-EVENT form of the one
    * session definition, shared by [[sessionSpans]] (q13/q200's
    * aggregate view), [[q156SessionPaths]] and [[q217SessionEntryExit]]
    * (which needs the events back to read entry/exit types).
    *
    * STAGED once per (session, corpus) — VERDICT r14 Next #5: four
    * declared keys each re-ran the sessionize window (a corpus shuffle
    * on user_id + per-partition sort) per call for a relation that is
    * a pure function of the corpus. The staged schema is narrowed to
    * what the consumers read — (event_id, user_id, event_type, ts,
    * session_id); longs, a string and a µs timestamp, so the parquet
    * round trip is exact (value/props ride no session consumer).
    */
  private def sessionizedEvents(spark: SparkSession, dir: String): DataFrame =
    stagedTable(spark, dir, "sessionized_events") {
      val e = Tables.events(spark, dir)
      val prevUs = lag(unix_micros(col("ts")), 1).over(userWindow)
      val newSession = when(
        prevUs.isNull || (unix_micros(col("ts")) - prevUs) > MicrosPerDay, 1).otherwise(0)
      e.withColumn("new_s", newSession)
        .withColumn("session_id",
          sum("new_s").over(userWindow.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("event_id", "user_id", "event_type", "ts", "session_id")
    }

  private def sessionSpans(spark: SparkSession, dir: String): DataFrame =
    sessionizedEvents(spark, dir)
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min("ts").as("session_start"),
        max("ts").as("session_end"))

  /** q217 — SESSION ENTRY/EXIT MATRIX: per (entry event type, exit
    * event type) over q13's sessions — session count, BOUNCE count
    * (single-event sessions, where entry IS exit) and the 4-dp share
    * of all sessions. The landing-page/abandonment readout product
    * analytics runs on top of sessionization: which entry points
    * retain (entry ≠ exit, long sessions) vs bounce, feeding q89's
    * funnel-step choice the same way q150 feeds its ordering.
    *
    * Entry/exit are argmin/argmax over the unique (us, event_id) key —
    * the userWindow tie rule expressed as an aggregate, so no second
    * window pass: one groupBy at session cardinality on the staged
    * sessionized relation, one |types|² rollup. The min/max-STRUCT
    * form this replaces planned SortAggregate (struct buffers are not
    * UnsafeRow-mutable): the entry/exit types now ride as dictionary
    * ids through hash-aggregable `min_by`/`max_by` over the
    * [[packUsEventId]] decimal ((us, event_id) is unique, so the
    * argmin is deterministic and identical to the struct tie rule),
    * encoded/decoded through [[stagedEventTypeDict]] — the encode join
    * is a broadcast on the corpus side, the decode joins touch the
    * |types|²-sized rollup. The session total is a global window over
    * that same rollup (q238's shape: Σ n_sessions over all cells IS
    * the session count), not a second pass over `per`.
    */
  def q217SessionEntryExit(spark: SparkSession, dir: String): DataFrame = {
    val dict = stagedEventTypeDict(spark, dir)
    val et = dict.select(col("event_type").as("et"), col("tid"))
    val pk = packUsEventId
    val per = sessionizedEvents(spark, dir)
      .join(broadcast(et), col("event_type") <=> col("et"))
      .select(col("user_id"), col("session_id"), col("tid"), pk.as("pk"))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min_by(col("tid"), col("pk")).as("en_tid"),
        max_by(col("tid"), col("pk")).as("ex_tid"))
    per.groupBy("en_tid", "ex_tid")
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1L, 1L).otherwise(0L)).cast(LongType).as("n_bounces"))
      .withColumn("n_total",
        sum(col("n_sessions")).over(Window.partitionBy(lit(1))).cast(LongType))
      .join(broadcast(dict.select(col("tid").as("en_tid"),
        col("event_type").as("entry_type"))), Seq("en_tid"))
      .join(broadcast(dict.select(col("tid").as("ex_tid"),
        col("event_type").as("exit_type"))), Seq("ex_tid"))
      .select(col("entry_type"), col("exit_type"), col("n_sessions"), col("n_bounces"),
        roundD4(col("n_sessions").cast(org.apache.spark.sql.types.DoubleType)
          / col("n_total")).as("share"))
      .orderBy("entry_type", "exit_type")
  }

  /** q200 — PEAK CONCURRENT SESSIONS (capacity sweep): per active day,
    * how many of [[q13Sessionize]]'s sessions were simultaneously open
    * at the busiest instant — the number that sizes serving capacity,
    * connection pools, and state-store memory for the streaming jobs
    * (a watermark keeps one state entry per OPEN session: q179 bounds
    * the lateness axis, this bounds the concurrency axis). Touching
    * counts as concurrent: a session ending at t and one starting at t
    * overlap at t (inclusive [start, end] spans), resolved by counting
    * an instant's starts before its ends.
    *
    * The sweep-line, decomposed to Spark's execution model in three
    * exact integer passes: (1) session spans become ±1 boundary rows,
    * grouped to per-(day, instant) start/end counts — a shuffle at
    * boundary cardinality (2·sessions), never events; (2) a per-DAY
    * window computes the within-day running sum; the instant's peak
    * candidate is `s_after + n_ends` (= concurrency BEFORE its ends
    * retire, AFTER its starts open — the inclusive-touch rule); (3) a
    * day-level prefix sum supplies each day's carry-in (sessions still
    * open from prior days) — the global window runs over the
    * calendar-bounded day relation (q187's single-partition
    * discipline), never over rows. `max_cand ≥ 0` always (the first
    * instant's candidate is its start count), so carry-in + max_cand
    * also covers the day-start instant where only carried sessions are
    * open. Days with boundary activity appear; a silent day inside a
    * long session does not (its concurrency is the carry level —
    * derivable, not a row).
    */
  def q200PeakConcurrency(spark: SparkSession, dir: String): DataFrame =
    concurrencySweep(sessionSpans(spark, dir).select(
      unix_micros(col("session_start")).as("sus"),
      unix_micros(col("session_end")).as("eus")))

  /** The q200 sweep readout over a span relation (`sus`/`eus` µs
    * columns).
    */
  private[graft] def concurrencySweep(sp: DataFrame): DataFrame = {
    val bounds = sp.select(
        expr(Det.floorDivExpr("sus", MicrosPerDay)).as("day"),
        col("sus").as("us"), lit(1L).as("ds"), lit(0L).as("de"))
      .unionByName(sp.select(
        expr(Det.floorDivExpr("eus", MicrosPerDay)).as("day"),
        col("eus").as("us"), lit(0L).as("ds"), lit(1L).as("de")))
      .groupBy("day", "us")
      .agg(sum("ds").cast(LongType).as("n_starts"),
        sum("de").cast(LongType).as("n_ends"))
    val wDay = Window.partitionBy("day").orderBy("us")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perDay = bounds
      .withColumn("s_after", sum(col("n_starts") - col("n_ends")).over(wDay))
      .groupBy("day")
      .agg(sum("n_starts").cast(LongType).as("n_starts"),
        sum("n_ends").cast(LongType).as("n_ends"),
        max(col("s_after") + col("n_ends")).cast(LongType).as("max_cand"))
    val wDays = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    perDay
      .withColumn("carry_in",
        coalesce(sum(col("n_starts") - col("n_ends")).over(wDays), lit(0L)).cast(LongType))
      .select(col("day"), col("n_starts"), col("n_ends"),
        (col("carry_in") + col("max_cand")).as("peak_concurrent"))
      .orderBy("day")
  }

  /** W2 — forward-fill of slowly-changing state (reference carries
    * last-seen telemetry in mutable locals, main.py:140-153).
    * `last(..., ignoreNulls)` over a running frame — the canonical
    * distributed forward-fill.
    */
  def q14ForwardFill(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
        last(when(col("event_type") === "purchase", col("value")), ignoreNulls = true)
          .over(userWindow.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("value_ff"))
      .orderBy("event_id")

  /** A4 — boundary-group trim (reference main.py:175's `[1:-1]` drops
    * first/last incomplete ride groups; declared with well-defined
    * semantics: drop the min and max group keys). The min/max frame is
    * one row — broadcast, no second shuffle of the aggregate.
    */
  def q15TrimBoundary(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        davg4(col("value")).as("avg_value"))
    val bounds = g.agg(min("user_id").as("lo"), max("user_id").as("hi"))
    g.crossJoin(broadcast(bounds))
      .filter(col("user_id") > col("lo") && col("user_id") < col("hi"))
      .select("user_id", "n_events", "avg_value")
      .orderBy("user_id")
  }

  /** Tumbling-window rollup (SURVEY.md §2.8's `window(ts, "24 hours")`
    * mapping, batch form): epoch-aligned 6-hour buckets with per-bucket
    * count and exact mean.
    */
  def q41TumblingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "6 hours"))
      .agg(count(lit(1)).as("n_events"), davg4(col("value")).as("avg_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("n_events"), col("avg_value"))
      .orderBy("window_start")

  /** P5 — relative-time window (reference main.py:178-182 *intends*
    * "last 24 h" but actually returns identity — implemented with
    * intended semantics, anchored to max(ts) of the data, never
    * `now()` (determinism rule 3). The anchor is a 1-row broadcast.
    */
  def q17Last24h(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val anchor = e.agg(max(unix_micros(col("ts"))).as("max_us"))
    e.crossJoin(broadcast(anchor))
      .filter(unix_micros(col("ts")) >= col("max_us") - MicrosPerDay)
      .select("event_id", "user_id", "event_type", "value", "ts")
      .orderBy("event_id")
  }

  /** q171 — FRESHNESS AUDIT: per event type, how stale its newest
    * event is against the corpus anchor (q17's max-ts discipline — a
    * data-anchored "now", never the wall clock) plus its trailing-24h
    * arrival count — the per-source ingestion-health readout an
    * observability dashboard polls (a type whose producers stopped
    * shows a growing lag and a draining 24h count long before anyone
    * reads its data). One scan: a single groupBy(event_type) computes
    * the per-type max and the conditional 24h count map-side against
    * the broadcast one-row anchor; lag in whole seconds by integer
    * floor-div, exact in both engines.
    */
  def q171FreshnessAudit(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val anchor = e.agg(max(unix_micros(col("ts"))).as("anchor_us"))
    e.crossJoin(broadcast(anchor))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        max(col("ts")).as("max_ts"),
        (first(col("anchor_us")) - max(unix_micros(col("ts")))).as("lag_us"),
        sum(when(unix_micros(col("ts")) >= col("anchor_us") - MicrosPerDay, 1L)
          .otherwise(0L)).as("n_last_24h"))
      .withColumn("lag_sec", expr("lag_us div 1000000"))
      .withColumn("stale", col("lag_sec") > 3600L)
      .select("event_type", "n_events", "max_ts", "lag_sec", "n_last_24h", "stale")
      .orderBy("event_type")
  }

  /** q190 — A/B EXPERIMENT READOUT: users split into two arms by the
    * shared deterministic hash term ([[Audit.checksumTermLong]]'s
    * formula mod 2 — the same user always lands in the same arm, on
    * any engine, with no RNG), conversion = at least one purchase,
    * value = exact decimal purchase revenue. The headline
    * `b_higher_conversion` is the cross-multiplied rate compare
    * (`conv_b·users_a > conv_a·users_b` — q40's boundary trick; a
    * significance test would consume these same four exact counts).
    * One scan → per-user collapse (map-combinable conditional aggs) →
    * ONE single-row conditional aggregate; nothing user-cardinality-
    * sized survives past the collapse.
    */
  def q190AbReadout(spark: SparkSession, dir: String): DataFrame = {
    val P = graft.ops.Audit.ChecksumMod
    val K = graft.ops.Audit.KnuthMult
    val perUser = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("converted"),
        coalesce(sum(when(col("event_type") === "purchase", col("value"))
          .cast(DecimalType(20, 6))), lit(0).cast(DecimalType(20, 6))).as("pvalue"))
      .withColumn("arm", expr(s"(user_id % ${P}L) * ${K}L % ${P}L % 2"))
    def armAgg(a: Int, suffix: String) = Seq(
      sum(when(col("arm") === a, 1L).otherwise(0L)).as(s"n_users_$suffix"),
      sum(when(col("arm") === a, col("converted")).otherwise(0L)).as(s"n_conv_$suffix"),
      round(sum(when(col("arm") === a, col("pvalue"))), 4).cast("double").as(s"value_$suffix"))
    perUser.agg(armAgg(0, "a").head, (armAgg(0, "a").tail ++ armAgg(1, "b")): _*)
      .select(col("n_users_a"), col("n_conv_a"), col("value_a"),
        col("n_users_b"), col("n_conv_b"), col("value_b"),
        (col("n_conv_b").cast(DecimalType(38, 0)) * col("n_users_a") >
          col("n_conv_a").cast(DecimalType(38, 0)) * col("n_users_b"))
          .as("b_higher_conversion"))
  }

  /** q189 — INTER-ARRIVAL PROFILE: per event type, the distribution of
    * gaps between a user's consecutive events of that type — the
    * cadence readout that sizes q13's session gap (a gap threshold
    * should sit past the p90 of within-session cadence), q151's
    * debounce window, and q179's watermark sanity floor. One lag
    * window per (user, type) — fine-grained keys — then a
    * map-combinable aggregate; percentiles are exact raw-µs order
    * statistics (q38's percentile ↔ quantile_cont mapping), min/max
    * exact longs.
    */
  def q189InterArrival(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
    Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("event_type"), col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gap")).as("min_gap_us"),
        Det.roundD4(expr("percentile(gap, 0.5)")).as("med_gap_us"),
        Det.roundD4(expr("percentile(gap, 0.9)")).as("p90_gap_us"),
        max(col("gap")).as("max_gap_us"))
      .orderBy("event_type")
  }

  /** q197 — BOT-CADENCE AUDIT: the per-actor read q189's population
    * profile can't give — a scripted client's inter-arrival gaps are
    * unnaturally REGULAR (low coefficient of variation) or
    * unnaturally FAST (sub-second mean), and this flags both, per
    * (user, event type). The traffic-integrity gate a crawler-heavy
    * corpus pipeline runs before trusting engagement signals (a bot's
    * events poison q181's attribution and q186's associations), armed
    * only at ≥5 gaps so two coincidentally-even clicks can't flag.
    *
    * EXACT integer statistics: the CV test CV = σ/μ < 0.1 squares and
    * cross-multiplies to `100·(n·Σg² − (Σg)²) ≥ 0 ∧ < (Σg)²` with Σg²
    * in DECIMAL(38,0) (µs² second moments overflow BIGINT; 128-bit
    * decimals hold ~10³⁸ — DuckDB's HUGEINT mirror is the same
    * width), so the verdict is bit-identical at any scale and the
    * second moment never leaves the aggregate (the OUTPUT carries
    * only BIGINT-safe columns — the q38b lesson on HUGEINT→float
    * driver casts). The speed test is `Σg < n·10⁶` (mean gap under a
    * second). One lag window over fine-grained (user, type) keys —
    * q189's pass, reused — then a map-combinable aggregate.
    */
  def q197BotCadence(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
    val d38 = DecimalType(38, 0)
    Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("event_type"), col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap")).cast(LongType).as("sum_gap_us"),
        sum(col("gap").cast(d38) * col("gap")).as("q2"))
      .withColumn("robotic",
        col("n_gaps") >= 5L &&
          lit(100L).cast(d38) * (col("n_gaps") * col("q2") -
            col("sum_gap_us").cast(d38) * col("sum_gap_us")) <
            col("sum_gap_us").cast(d38) * col("sum_gap_us"))
      .withColumn("superhuman",
        col("n_gaps") >= 5L && col("sum_gap_us") < col("n_gaps") * 1000000L)
      .select("user_id", "event_type", "n_gaps", "sum_gap_us", "robotic", "superhuman")
      .orderBy("user_id", "event_type")
  }

  /** q187 — USER GROWTH CURVE: per active day, the count of NEW users
    * (first ever seen that day) and the cumulative registered-user
    * total — the "running distinct count over time" every growth
    * dashboard wants, which naive SQL writes as a distinct-inside-
    * window (quadratic rescan per day). The scalable identity: a
    * running distinct count IS the cumulative sum of first-occurrence
    * events — one map-combinable min(day) per user, one day-keyed
    * count, one prefix sum over the calendar-bounded day relation
    * (q118's catalog-sized single-partition discipline). NULL users
    * excluded (q186's basketless stance).
    */
  def q187UserGrowth(spark: SparkSession, dir: String): DataFrame = {
    val firstDay = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), expr(Det.floorDivExpr("unix_micros(ts)", 86400000000L)).as("day"))
      .groupBy("user_id").agg(min(col("day")).as("day"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firstDay.groupBy("day").agg(count(lit(1)).as("n_new_users"))
      .withColumn("n_total_users", sum(col("n_new_users")).over(w).cast(LongType))
      .orderBy("day")
  }

  /** q186 — CO-OCCURRENCE LIFT (market-basket association between
    * event types, basket = user): for every unordered type pair, how
    * many users show both, against the independence expectation —
    * `positively_associated` is the exact cross-multiplied lift test
    * `n_ab·n_users > n_a·n_b` (DECIMAL space, q40's boundary trick: no
    * division, no overflow at any user count — a literal lift ratio
    * would either round engine-dependently or overflow BIGINT at
    * 10⁹ users). The raw counts ship alongside so any downstream
    * ranking can derive lift/confidence/support exactly.
    *
    * Shape: ONE distinct collapse to (user, type) — volume drops to
    * baskets × items before anything joins; the pair builder is a
    * user-keyed equi self-join whose per-user fan-out is bounded by
    * the TYPE vocabulary (≤C(|types|,2) rows per user, never events²);
    * per-type and total-user counts are map-combinable aggregates of
    * the same collapsed relation. NULL users carry no basket
    * (filtered, mirrored in the oracle).
    */
  def q186CooccurrenceLift(spark: SparkSession, dir: String): DataFrame = {
    val ut = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_type")).distinct()
    val pairs = ut.select(col("user_id"), col("event_type").as("type_a"))
      .join(ut.select(col("user_id"), col("event_type").as("type_b")), Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_ab"))
    val perType = ut.groupBy("event_type").agg(count(lit(1)).as("n"))
    val total = ut.agg(countDistinct(col("user_id")).as("n_users"))
    pairs
      .join(perType.select(col("event_type").as("type_a"), col("n").as("n_a")), Seq("type_a"))
      .join(perType.select(col("event_type").as("type_b"), col("n").as("n_b")), Seq("type_b"))
      .crossJoin(broadcast(total))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_ab"),
        col("n_users"),
        (col("n_ab").cast(DecimalType(38, 0)) * col("n_users") >
          col("n_a").cast(DecimalType(38, 0)) * col("n_b")).as("positively_associated"))
      .orderBy("type_a", "type_b")
  }

  /** q183 — TRAFFIC-SPIKE AUDIT (the rate anomaly q152's value z-score
    * does not see): per (event type, hour), the arrival count against
    * its trailing-24-HOUR baseline, flagged when the hour carries >3×
    * the baseline mean — the pager alert for a crawler gone hot, a
    * replay storm, or an attack, and the upstream trigger for q174's
    * salting decision when a spike concentrates on one key. The
    * baseline window is RANGE-framed over the integer hour index
    * (`RANGE 24 PRECEDING AND 1 PRECEDING`), so calendar gaps count as
    * silence instead of stretching the frame (a ROWS frame would reach
    * past quiet hours); the spike test cross-multiplies
    * (`n·hours > 3·Σbaseline` — q40's boundary trick) and arms only
    * with ≥6 baseline hours. The hour-count relation is
    * calendar-bounded (hours × types), so the per-type window is
    * span-sized — the one scan is the only row-sized pass.
    */
  def q183TrafficSpikes(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("hr").rangeBetween(-24, -1)
    Tables.events(spark, dir)
      .select(col("event_type"),
        expr(Det.floorDivExpr("unix_micros(ts)", 3600000000L)).as("hr"))
      .groupBy("event_type", "hr").agg(count(lit(1)).as("n"))
      .withColumn("baseline_sum", coalesce(sum(col("n")).over(w), lit(0L)).cast(LongType))
      .withColumn("baseline_hours", count(col("n")).over(w))
      .withColumn("spike",
        col("baseline_hours") >= 6L &&
          col("n") * col("baseline_hours") > col("baseline_sum") * 3L)
      .orderBy("event_type", "hr")
  }

  /** Baseline length (active days) for [[q196LevelShift]]'s reference
    * mean.
    */
  val CusumBaselineDays: Long = 7L

  /** q196 — CUSUM LEVEL-SHIFT DETECTOR: the SUSTAINED-shift monitor
    * completing the anomaly family — q152 flags point outliers in
    * values, q183 flags single hot hours, but a rate that drifts to
    * 1.6× and STAYS there never trips either; the Page CUSUM
    * accumulates every day's deviation beyond a slack and alarms when
    * the cumulative evidence crosses a threshold. Per event type:
    * baseline mean μ₀ from the first 7 active days, then for each
    * later day the classic recurrences C⁺ = max(0, C⁺ + (x − 1.5μ₀))
    * and C⁻ = max(0, C⁻ + (0.5μ₀ − x)), alarming at 4 baseline-day
    * masses (sustained 2× traffic alarms in ~4 days, 1.75× in ~8).
    *
    * EXACT integer arithmetic throughout (μ₀ never divides out): work
    * in 2·n₀-scaled units — t⁺ = 2n₀x − 3S₀, t⁻ = S₀ − 2n₀x — and
    * resolve the max(0,·) recurrence by the prefix-sum identity
    * C_d = P_d − min(0, min_{j≤d} P_j), two window sums + two running
    * mins over the SAME type-partitioned pass; the alarm compare
    * (C > 8·S₀ in scaled units) cross-multiplies (q40's trick). The
    * day relation is calendar-bounded, so every window is span-sized;
    * the one row-sized pass is the daily-count groupBy. Active-day
    * semantics: silent days are absent rather than zero (the corpus
    * has none; production densifies with a calendar relation upstream,
    * same plan).
    */
  def q196LevelShift(spark: SparkSession, dir: String): DataFrame = {
    val b = CusumBaselineDays
    val byType = Window.partitionBy("event_type").orderBy("day")
    val wRun = byType.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val daily = Tables.events(spark, dir)
      .select(col("event_type"),
        expr(Det.floorDivExpr("unix_micros(ts)", 86400000000L)).as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(byType).cast(LongType))
    val base = daily.filter(col("rn") <= b)
      .groupBy("event_type")
      .agg(sum(col("n")).cast(LongType).as("s0"), count(lit(1)).as("n0"))
    daily.join(base, "event_type")
      .filter(col("n0") === b && col("rn") > b)
      .withColumn("t_up", lit(2L) * col("n0") * col("n") - lit(3L) * col("s0"))
      .withColumn("t_dn", col("s0") - lit(2L) * col("n0") * col("n"))
      .withColumn("p_up", sum(col("t_up")).over(wRun).cast(LongType))
      .withColumn("p_dn", sum(col("t_dn")).over(wRun).cast(LongType))
      .withColumn("cusum_up", col("p_up") - least(min(col("p_up")).over(wRun), lit(0L)))
      .withColumn("cusum_dn", col("p_dn") - least(min(col("p_dn")).over(wRun), lit(0L)))
      // 4 baseline-day masses in 2·n0 units: 4·(2·n0·μ0) = 8·S0
      .withColumn("shift_up", col("cusum_up") > lit(8L) * col("s0"))
      .withColumn("shift_dn", col("cusum_dn") > lit(8L) * col("s0"))
      .select("event_type", "day", "n", "cusum_up", "cusum_dn", "shift_up", "shift_dn")
      .orderBy("event_type", "day")
  }

  /** q210 — INCREMENTAL VIEW MAINTENANCE (partial-aggregate merge):
    * [[q04GroupbyAgg]]'s per-user aggregate computed the way a 100 TB
    * pipeline actually maintains it — a BASE shard and a DELTA shard
    * (here: even/odd event ids, standing in for "yesterday's
    * materialized state" and "today's ingest") aggregated
    * independently and MERGED, never re-scanning history: counts add,
    * exact decimal sums add (decimal addition is associative — the
    * whole point of [[Det.sumDec]]), maxes take greatest, and the mean
    * derives from the merged sums at the END (never an
    * average-of-averages, which is wrong under unequal shard sizes).
    * The oracle is q04's own SQL verbatim: merge ≡ recompute is the
    * declared contract, hash-checked.
    *
    * Merge fine print (exactly the cases a naive IVM gets wrong): the
    * two branches full-outer join NULL-SAFELY (`<=>`) so the null-user
    * group stays ONE group; a user whose values are all NULL keeps a
    * NULL sum (not 0) so the merged mean stays NULL like the
    * recompute's; one-sided users coalesce the missing branch to
    * empty-shard identity (0 count, 0 sum, NULL max).
    */
  def q210IvmMerge(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(20, 6)
    val e = Tables.events(spark, dir)
      .withColumn("shard", coalesce(pmod(col("event_id"), lit(2L)), lit(0L)))
    def part(flag: Long, sfx: String) = e.filter(col("shard") === flag)
      .groupBy("user_id")
      .agg(count(lit(1)).as(s"n$sfx"),
        sum(col("value").cast(dec)).as(s"s$sfx"),
        max("ts").as(s"mx$sfx"))
      .withColumnRenamed("user_id", s"u$sfx")
    // the merged sum collapses back to sum-of-DECIMAL(20,6) width
    // (30,6) before dividing: the (31,6) of adding two partial sums
    // would divide at scale 13, one guard digit under davg4's ≥14
    // tie-exactness bound — merge must round EXACTLY like recompute
    val s = when(col("sa").isNull && col("sb").isNull, lit(null).cast(dec))
      .otherwise(coalesce(col("sa"), lit(0).cast(dec)) + coalesce(col("sb"), lit(0).cast(dec)))
      .cast(DecimalType(30, 6))
    val n = coalesce(col("na"), lit(0L)) + coalesce(col("nb"), lit(0L))
    part(0L, "a").join(part(1L, "b"), col("ua") <=> col("ub"), "full_outer")
      .select(coalesce(col("ua"), col("ub")).as("user_id"),
        col("na"), col("nb"), col("sa"), col("sb"), col("mxa"), col("mxb"))
      .select(col("user_id"),
        round(s / n, 4).cast(org.apache.spark.sql.types.DoubleType).as("avg_value"),
        n.as("n_events"),
        greatest(col("mxa"), col("mxb")).as("max_ts"))
      .orderBy("user_id")
  }

  /** q211 — JSON PAYLOAD PROFILE (semi-structured schema discovery):
    * per key appearing in the `props` JSON objects — presence count,
    * distinct-value count, and whether the key is ubiquitous (present
    * on every event row) — the schema-ON-READ profile q185 can't give
    * (it audits the declared parquet schema; this discovers the
    * undeclared payload schema an upstream team silently evolves:
    * "when did `device` stop being sent?"). Consumers: q07's typed
    * extraction (which keys are safe to promote to columns), DQ
    * constraint authoring, and payload-bloat audits.
    *
    * Semantics both engines agree on: only valid JSON OBJECTS profile
    * (malformed rows, scalars, arrays, NULLs contribute nothing — a
    * `from_json` map parse with `allowSingleQuotes=false` AND
    * `allowNonNumericNumbers=false` on the Spark side, matching the
    * oracle's json_valid/json_type strictness exactly: Jackson's
    * other lenient toggles are already off by default, but
    * NaN/Infinity are NOT symmetric — Spark's from_json default
    * allows them while DuckDB's json_valid is strict RFC 8259
    * (yyjson rejects them), so both engines must reject such
    * payloads); values compare as their scalar string
    * forms, so the distinct COUNT is representation-independent
    * (nested-object values are counted but their spelling is
    * engine-specific — contract: scalar payloads, the testdata's
    * shape). Shape: one row-local parse + explode, one key-keyed
    * map-combinable aggregate, one broadcast scalar total.
    */
  def q211JsonProfile(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val total = e.agg(count(lit(1)).as("n_total"))
    e.filter(col("props").isNotNull)
      .select(explode(expr("from_json(props, 'map<string,string>', " +
        "map('allowSingleQuotes', 'false', 'allowNonNumericNumbers', 'false'))"))
        .as(Seq("key", "value")))
      .groupBy("key")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("value")).as("n_distinct_values"))
      .crossJoin(broadcast(total))
      .select(col("key"), col("n_rows"), col("n_distinct_values"), col("n_total"),
        (col("n_rows") === col("n_total")).as("ubiquitous"))
      .orderBy("key")
  }

  /** q204 — WEEKDAY SEASONALITY PROFILE: the PERIODIC leg of the
    * anomaly family (q183 = single hot hours, q196 = sustained drift —
    * a weekly batch job or a weekend-crawling bot trips neither): per
    * (event type, weekday), exact arrival counts against the type's
    * uniform share, with cross-multiplied verdicts `hot_day`
    * (7·n > 2·n_type — over double the uniform share) and `quiet_day`
    * (14·n < n_type — under half). Consumers: capacity schedules,
    * q137-style mix schedules that must not oversample a weekday
    * batch source, and q183's baseline sanity (a hot DAY is not a hot
    * hour).
    *
    * Weekday is pure integer arithmetic — `pmod(day + 4, 7)` with 0 =
    * Sunday (1970-01-01 was a Thursday), no calendar/timezone
    * functions to diverge between engines, floor-div exact on
    * pre-epoch days ([[Det.floorDivExpr]]; the oracle mirrors pmod as
    * `((x % 7) + 7) % 7` since DuckDB's `%` truncates). One row-sized
    * groupBy to (type, dow) — map-combinable — then a ≤7-row window
    * per type for the share test.
    */
  def q204WeekdayProfile(spark: SparkSession, dir: String): DataFrame = {
    val wType = Window.partitionBy("event_type")
    Tables.events(spark, dir)
      .select(col("event_type"),
        pmod(expr(Det.floorDivExpr("unix_micros(ts)", MicrosPerDay)) + 4L, lit(7L)).as("dow"))
      .groupBy("event_type", "dow").agg(count(lit(1)).as("n"))
      .withColumn("n_type", sum(col("n")).over(wType).cast(LongType))
      .withColumn("hot_day", col("n") * 7L > col("n_type") * 2L)
      .withColumn("quiet_day", col("n") * 14L < col("n_type"))
      .orderBy("event_type", "dow")
  }

  /** q223 — DAILY LAG-1 AUTOCORRELATION: per event type, the Pearson
    * correlation between consecutive days' arrival counts over the
    * DENSE global day grid (zero-filled — a type that skips days is
    * anti-persistent, and dropping the zeros would hide exactly that).
    * The memory-structure read completing the anomaly family's time
    * axis: q204 asks "does the weekday matter", this asks "does
    * yesterday predict today" — r near +1 = momentum/trend (a ramping
    * rollout, an escalating incident), near −1 = alternation (a
    * day-on/day-off batch job), near 0 = memoryless arrivals. Feeds
    * q196's baseline validity (CUSUM assumes independence; high |r|
    * says widen the baseline window).
    *
    * Exactness: all five moments are exact DECIMAL(38,0) sums of
    * integer day counts (products cast before multiplying — day
    * counts to ~10⁹ over ~10³ days keep every product under 10³⁸);
    * ONE double division + sqrt at the edge as the identical IEEE
    * tree on both engines, 4-dp floored. A constant series (either
    * variance 0) yields NULL, not NaN. Scale: the corpus-sized work
    * is one map-combinable (type, day) count; the grid, window and
    * moments all live at type × span cardinality — thousands of rows,
    * each type's ordered partition bounded by the calendar, never by
    * event volume.
    */
  /** The zero-filled (event_type, day) count grid over the GLOBAL day
    * span — (event_type, day, x). Dropping empty days would hide
    * exactly the structure its consumers read (q223's alternation,
    * q231's bursts), so the grid is dense by construction. Shared by
    * q223 (lag-1 memory) and q231 (dispersion); oracle mirror is
    * SparkEntry's denseDayCtes.
    */
  private def denseDailyCounts(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"),
        expr(Det.floorDivExpr("unix_micros(ts)", MicrosPerDay)).as("day"))
    val bounds = ev.agg(min(col("day")).as("dmin"), max(col("day")).as("dmax"))
    val grid = ev.select("event_type").distinct()
      .crossJoin(broadcast(bounds)) // one-row day-span anchor
      .select(col("event_type"), explode(sequence(col("dmin"), col("dmax"))).as("day"))
    val counts = ev.groupBy("event_type", "day").agg(count(lit(1)).as("c"))
    grid.join(counts, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"), coalesce(col("c"), lit(0L)).as("x"))
  }

  def q223DailyAutocorr(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val d38 = DecimalType(38, 0)
    val dense = denseDailyCounts(spark, dir)
    val w = Window.partitionBy("event_type").orderBy("day")
    val pairs = dense.withColumn("y", lead(col("x"), 1).over(w))
      .filter(col("y").isNotNull)
    val agg = pairs.groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
        sum(col("x").cast(d38) * col("y")).as("sxy"),
        sum(col("x").cast(d38) * col("x")).as("sxx"),
        sum(col("y").cast(d38) * col("y")).as("syy"))
    val num = agg("n_pairs") * agg("sxy") - agg("sx") * agg("sy")
    val dx = agg("n_pairs") * agg("sxx") - agg("sx") * agg("sx")
    val dy = agg("n_pairs") * agg("syy") - agg("sy") * agg("sy")
    agg.select(col("event_type"), col("n_pairs"),
      when(dx > 0 && dy > 0,
        roundD4(num.cast(DoubleType)
          / sqrt(dx.cast(DoubleType) * dy.cast(DoubleType))))
        .otherwise(lit(null).cast(DoubleType)).as("r_lag1"))
      .orderBy("event_type")
  }

  /** q233 — EVENT-VOLUME GINI (traffic concentration): the exact Gini
    * coefficient of per-user event counts, with the Lorenz numerator
    * in closed form per TIE GROUP. The one-scalar inequality read
    * behind q174's join-skew audit and q197's bot hunt: G → 0 means
    * uniform usage, G → 1 means a handful of users (bots, crawlers,
    * whales) generate the traffic — the regime where per-user
    * partitions skew and q61's salting earns its keep.
    *
    * THE SCALE FORMULATION IS THE POINT: the textbook
    * G = Σ(2i−n−1)·x₍ᵢ₎ / (n·Σx) needs a global VALUE-SORTED rank —
    * a corpus-sized single-partition window. But Gini is invariant to
    * tie order, so a tie group of n_x users on count x occupying ranks
    * (s, s+n_x] contributes x·(2·s·n_x + n_x(n_x+1) − (n+1)·n_x)
    * IN CLOSED FORM: one map-combinable per-user count, one
    * value-keyed rollup, and a prefix window over DISTINCT count
    * values (grid-class cardinality, ≪ users — the day-grid window
    * discipline), never a per-user rank. All products fold in
    * DECIMAL(38,0) (cast pre-multiply), ONE 4-dp division at the edge.
    * Empty events → one all-NULL report row on both engines.
    */
  /** The tie-group relation behind q233/q235 (ONE definition, mirrored
    * by SparkEntry's tieGroupCtes): distinct per-user event counts
    * (x, nx) with the user prefix `s` and event prefix `ex` (users /
    * events on strictly smaller counts), plus the one-row totals
    * (n, sx). Corpus-sized work = the per-user count; the prefix
    * window runs over DISTINCT count values only.
    */
  private def countTieGroups(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d38 = DecimalType(38, 0)
    val byVal = Tables.events(spark, dir)
      .groupBy("user_id").agg(count(lit(1)).as("x"))
      .groupBy("x").agg(count(lit(1)).as("nx"))
    val w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    val pre = byVal
      .withColumn("s", coalesce(sum(col("nx")).over(w), lit(0L)))
      .withColumn("ex",
        coalesce(sum((col("x").cast(d38) * col("nx"))).over(w), lit(0L).cast(d38)))
    val totals = byVal.agg(sum(col("nx")).cast(LongType).as("n"),
      sum(col("x").cast(d38) * col("nx")).as("sx"))
    (pre, totals)
  }

  def q233EventGini(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val d38 = DecimalType(38, 0)
    val (pre, totals) = countTieGroups(spark, dir)
    val tieGroup = col("s").cast(d38) * 2L * col("nx") +
      col("nx").cast(d38) * (col("nx") + 1L) -
      (col("n") + 1L).cast(d38) * col("nx")
    val numRow = pre.crossJoin(broadcast(totals)) // one-row totals anchor
      .agg(sum(col("x").cast(d38) * tieGroup).as("num"))
    totals.crossJoin(numRow)
      .select(col("n").as("n_users"), col("sx").cast(LongType).as("n_events"),
        when(col("n") > 0L,
          roundD4(col("num").cast(DoubleType)
            / (col("n") * col("sx")).cast(DoubleType)))
          .otherwise(lit(null).cast(DoubleType)).as("gini"))
  }

  /** q239 — ROLLING 7-DAY ACTIVE USERS: per day of the dense observed
    * span, DAU and the exact count of users active in [d−6, d] — the
    * stickiness pair (DAU/WAU ratio) product analytics reads daily,
    * and the exact ground truth q57's HLL rollup approximates. A
    * sliding DISTINCT cannot reuse adjacent windows (users overlap),
    * so the exact relational form is the 7-way FAN-OUT: each distinct
    * (user, active-day) supports the 7 window-ends it can see, one
    * distinct collapse, one count — shuffles 7× the user-day relation,
    * never the raw events. That 7× is the exactness price; at q57's
    * scale regime the HLL sketch table merges 7 day-sketches per
    * window instead (documented swap-in, same output schema).
    *
    * All exact integers; the day grid zero-fills (a dead week must
    * read 0, not vanish — q223's discipline); window-ends past the
    * observed span drop at the grid LEFT-join (the grid stops at dmax,
    * so the ≤6 phantom window-end rows each user's last active day
    * fans past the span never match a grid day). They do ride the wau
    * exchange first — a bounded ≤6-rows-per-user overhang, not a
    * corpus-sized leak — and pre-filtering them would need the dmax
    * scalar replanned under the fan-out, costing more than it trims.
    */
  def q239RollingActives(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"),
        expr(Det.floorDivExpr("unix_micros(ts)", MicrosPerDay)).as("day"))
      .distinct()
    val bounds = ud.agg(min(col("day")).as("dmin"), max(col("day")).as("dmax"))
    val grid = bounds.select(explode(sequence(col("dmin"), col("dmax"))).as("day"))
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"), explode(sequence(col("day"), col("day") + 6L)).as("day"))
      .distinct() // a user active twice inside one window counts once
      .groupBy("day").agg(count(lit(1)).as("wau"))
    grid.join(dau, Seq("day"), "left").join(wau, Seq("day"), "left")
      .select(col("day"), coalesce(col("dau"), lit(0L)).as("dau"),
        coalesce(col("wau"), lit(0L)).as("wau_7d"))
      .orderBy("day")
  }

  /** q239b — ROLLING ACTIVES VIA HLL SKETCH MERGE: [[q239RollingActives]]'
    * documented scale swap-in made a declared key (the q38b/q38
    * exact-vs-sketch pairing), same output schema (day, dau, wau_7d).
    * Instead of fanning every (user, day) row out to its 7 window-ends
    * (exactness price: a 7× shuffle of the user-day relation), ONE
    * fixed-size HLL sketch per day is built (map-side mergeable — the
    * only user-keyed pass), and each 7-day window merges 7 day-sketches
    * via `hll_union_agg`: the moved data drops from 7×|user-days| rows
    * to 7×|days| ~1.5 KB sketches — q57's pre-aggregation pattern
    * applied to the sliding window, and the form that survives 100 TB
    * (the day-sketch table is ALSO the artifact any other window grain
    * rolls up from, after the fact). dau/wau are both sketch estimates
    * so the two columns stay mutually consistent. Sketch registers are
    * engine-specific → rows-only (q47/q57's class);
    * RollingActivesSketchSpec bounds the relative WAU error against
    * exact q239 at sf0.01 and pins the day grid identical.
    *
    * NULL users COUNT, as in exact q239 (whose distinct() keeps a
    * (NULL, day) row): `hll_sketch_agg` would silently skip NULLs, so
    * user_id pre-coalesces to the reserved id Long.MinValue — outside
    * the generator/event-id key space, so it can never collide with a
    * real user — and the sketch leg keeps count parity with the exact
    * leg on null-user corpora (RollingActivesSketchSpec's null-user
    * fixture pins it).
    *
    * wau_7d clamps to ≥ dau at projection: per-day and 7-way-union
    * sketches are INDEPENDENT estimates and HLL union estimates are
    * not monotone in a member's own estimate, so a raw day could read
    * wau_7d < dau — an inconsistency exact q239 can never show. The
    * clamp stays within the sketch error contract (true wau ≥ true
    * dau always) and spares every downstream ratio a divide-by-shrunk
    * guard.
    */
  def q239bRollingActivesHll(spark: SparkSession, dir: String): DataFrame = {
    val ds = Tables.events(spark, dir)
      .select(coalesce(col("user_id"), lit(Long.MinValue)).as("user_id"),
        expr(Det.floorDivExpr("unix_micros(ts)", MicrosPerDay)).as("day"))
      .groupBy("day").agg(hll_sketch_agg(col("user_id")).as("sk"))
    val bounds = ds.agg(min(col("day")).as("dmin"), max(col("day")).as("dmax"))
    val grid = bounds.select(explode(sequence(col("dmin"), col("dmax"))).as("day"))
    val dau = ds.select(col("day"), hll_sketch_estimate(col("sk")).as("dau"))
    val wau = ds
      .select(col("sk"), explode(sequence(col("day"), col("day") + 6L)).as("day"))
      .groupBy("day").agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("wau"))
    grid.join(dau, Seq("day"), "left").join(wau, Seq("day"), "left")
      .select(col("day"), coalesce(col("dau"), lit(0L)).as("dau"),
        greatest(coalesce(col("wau"), lit(0L)), coalesce(col("dau"), lit(0L))).as("wau_7d"))
      .orderBy("day")
  }

  /** q236 — BOXPLOT / TUKEY-FENCE STATS: per event type, n, the
    * quartiles, IQR, and the counts outside the 1.5·IQR fences — the
    * ROBUST distributional readout q152's z-scores can't give (a mean
    * already dragged by the outliers it hunts): quartiles don't move
    * when a bot dumps extreme values, so the fences stay calibrated to
    * the typical mass; n_high ≫ n_low says heavy right tail (price
    * spikes, abuse), symmetric counts say wide-but-honest variance.
    * The boxplot primitive every dashboard draws, as a declared query.
    *
    * Determinism: values µ-rounded onto the 6-dp grid BEFORE the
    * interpolated percentile (both engines then interpolate identical
    * doubles — q38's percentile ↔ quantile_cont mapping), fence
    * arithmetic ONE shared IEEE tree, fence COMPARISONS on the
    * unrounded doubles, quartiles/IQR 4-dp only at the output edge.
    * Scale: one type-keyed percentile aggregate, the type-sized fence
    * frame broadcast back over one map-combinable outlier count pass.
    * NULL values excluded up front (q232's contract).
    */
  def q236BoxplotStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        (floor(col("value") * lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("vq"))
    val qs = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        expr("percentile(vq, array(0.25, 0.5, 0.75))").as("q"))
      .select(col("event_type"), col("n"),
        element_at(col("q"), 1).as("p25"),
        element_at(col("q"), 2).as("p50"),
        element_at(col("q"), 3).as("p75"))
      .withColumn("iqr", col("p75") - col("p25"))
      .withColumn("lo", col("p25") - lit(1.5) * col("iqr"))
      .withColumn("hi", col("p75") + lit(1.5) * col("iqr"))
    val outl = ev.join(broadcast(qs.select("event_type", "lo", "hi")), "event_type")
      .groupBy("event_type")
      .agg(sum(when(col("vq") < col("lo"), 1L).otherwise(0L)).cast(LongType).as("n_low_outliers"),
        sum(when(col("vq") > col("hi"), 1L).otherwise(0L)).cast(LongType).as("n_high_outliers"))
    qs.join(outl, "event_type")
      .select(col("event_type"), col("n"),
        roundD4(col("p25")).as("p25"), roundD4(col("p50")).as("p50"),
        roundD4(col("p75")).as("p75"), roundD4(col("iqr")).as("iqr"),
        col("n_low_outliers"), col("n_high_outliers"))
      .orderBy("event_type")
  }

  /** q235 — LORENZ CURVE AT USER DECILES: the curve behind q233's
    * scalar — per decile k, the bottom ⌊k·n/10⌋ users by event count
    * and the exact share of all events they generate. Where q233 says
    * HOW unequal, this says WHERE the mass sits ("the bottom 80% of
    * users produce 9% of traffic") — the capacity-planning and
    * bot-quota read, and the shape q113's source caps are tuned
    * against on the corpus side.
    *
    * Same no-global-rank discipline as q233: within a tie group the
    * bottom-m cut takes (m − s)·x events in CLOSED FORM, so the curve
    * needs only the distinct-count-value relation with user/event
    * prefix sums (grid-class window), a 10-row decile frame, and ONE
    * containing-group range join of that 10-row broadcast against the
    * value relation — never a per-user rank. All-integer/decimal until
    * the one 4-dp share division. Empty events → 10 NULL-share rows.
    */
  def q235LorenzDeciles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val d38 = DecimalType(38, 0)
    val (pre, totals) = countTieGroups(spark, dir)
    val grid = spark.range(1, 11).select(col("id").as("decile"))
      .crossJoin(broadcast(totals)) // one-row totals anchor
      .withColumn("m", expr("(decile * n) div 10"))
    // the tie group CONTAINING rank m: s < m ≤ s + nx (≤ 10 matches)
    val matched = pre.join(broadcast(grid.select("decile", "m")),
        col("s") < col("m") && col("m") <= col("s") + col("nx"))
      .select(col("decile"),
        (col("ex") + (col("m") - col("s")).cast(d38) * col("x")).as("cum"))
    grid.join(matched, Seq("decile"), "left")
      .select(col("decile"), col("m").as("n_bottom_users"),
        when(col("n") > 0L, coalesce(col("cum"), lit(0L).cast(d38)))
          .otherwise(lit(null).cast(d38)).cast(LongType).as("cum_events"),
        when(col("n") > 0L,
          roundD4(coalesce(col("cum"), lit(0L).cast(d38)).cast(DoubleType)
            / col("sx").cast(DoubleType)))
          .otherwise(lit(null).cast(DoubleType)).as("share"))
      .orderBy("decile")
  }

  /** q232 — TIME-WEIGHTED VALUE (TWAP-style step-function mean): per
    * event type, Σ(value·Δt)/ΣΔt over per-user holding intervals —
    * each non-null reading holds from its event until the user's next
    * non-null event of the same type; the user's last reading holds
    * nothing (no fabricated horizon). The read q04's plain mean gets
    * WRONG whenever sampling is value-correlated (a sensor reporting
    * more often when hot, a price ticking faster in volatility —
    * precisely q231's ≫1 regime): plain averages over-weight the
    * bursts; the step-function integral weights by TIME HELD.
    *
    * Grain choice is the scale design: intervals are USER-local, so
    * the window is user+type-partitioned (many small partitions —
    * q150's shape), never a per-type global ordering (inherently
    * sequential at corpus scale); the pooled per-type ratio then needs
    * only the two interval sums. Exactness: values µ-rounded to 6 dp
    * (exactly representable) → DECIMAL(18,6), Δt exact µs longs, the
    * weighted sum an exact decimal fold, ONE 4-dp-floored division per
    * type. NULL-valued events are excluded UP FRONT (an interval spans
    * to the next KNOWN reading) — the explicit-contract stance, and it
    * keeps the time base and the value sum over the same row set.
    */
  def q232TimeWeightedValue(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts"), col("event_id"))
    val iv = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
        (floor(col("value") * lit(1000000.0) + lit(0.5)) / lit(1000000.0))
          .cast(DecimalType(18, 6)).as("vq"),
        unix_micros(col("ts")).as("us"))
      .withColumn("dt", lead(col("us"), 1).over(w) - col("us"))
      .filter(col("dt").isNotNull)
    iv.groupBy("event_type")
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dt")).cast(LongType).as("total_us"),
        sum(col("vq") * col("dt")).as("swx"))
      .select(col("event_type"), col("n_intervals"), col("total_us"),
        when(col("total_us") > 0L,
          roundD4(col("swx").cast(DoubleType) / col("total_us").cast(DoubleType)))
          .otherwise(lit(null).cast(DoubleType)).as("twap"))
      .orderBy("event_type")
  }

  /** q240 — TRAFFIC TREND (OLS slope of daily counts on day): per
    * event type, the fitted events-per-day-per-day slope over the
    * zero-filled grid — the fourth axis of the day-grid family (q196 =
    * sustained LEVEL shifts, q223 = day-to-day MEMORY, q231 =
    * DISPERSION; this = secular TREND): a positive slope on 'signup'
    * is growth, on 'error' it's a burn-down alarm, and a steep slope
    * invalidates q196's stationary-baseline assumption (its scaladoc's
    * declared blind spot). Dropping empty days would bias the slope UP
    * — the zero-fill is load-bearing, q223's discipline.
    *
    * Exactness: days and counts are integers, so all five OLS moments
    * fold EXACTLY in DECIMAL(38,0) (products cast pre-multiply —
    * q197's second-moment discipline, wide decimals never in the
    * output); slope = (n·Σdy − Σd·Σy)/(n·Σd² − (Σd)²) is ONE IEEE
    * division per type, 4-dp floored, NULL on a single-day span (no
    * trend from one point). Same shared grid as q223/q231 — the
    * family's three readings compose off one relation.
    */
  def q240TrafficTrend(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val d38 = DecimalType(38, 0)
    val agg = denseDailyCounts(spark, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(col("day").cast(d38)).as("sd"),
        sum(col("x").cast(d38)).as("sy"),
        sum(col("day").cast(d38) * col("x")).as("sdy"),
        sum(col("day").cast(d38) * col("day")).as("sdd"))
    val num = agg("n_days") * agg("sdy") - agg("sd") * agg("sy")
    val den = agg("n_days") * agg("sdd") - agg("sd") * agg("sd")
    agg.select(col("event_type"), col("n_days"),
      col("sy").cast(LongType).as("n_events"),
      when(den > 0, roundD4(num.cast(DoubleType) / den.cast(DoubleType)))
        .otherwise(lit(null).cast(DoubleType)).as("slope_per_day"))
      .orderBy("event_type")
  }

  /** q231 — DAILY-ARRIVAL BURSTINESS (Fano factor / index of
    * dispersion): per event type, variance ÷ mean of the zero-filled
    * daily counts. The DISPERSION axis completing the anomaly family's
    * distributional reads (q223 = memory, q204 = seasonality, this =
    * clumping): a Poisson-like arrival process sits at 1 (q196's CUSUM
    * noise model is calibrated for that); ≫ 1 means arrivals clump
    * into bursts (batch jobs, crawler waves — q183's spikes as a
    * standing property, so widen alert bands); ≪ 1 means a scheduler's
    * metronome regularity (q197's robotic verdict at the aggregate
    * grain). Same grid as q223, so a type's two readings compose.
    *
    * Exactness: Fano = ((n·Σx² − (Σx)²)/n²) ÷ (Σx/n) collapses to
    * (n·Σx² − (Σx)²)/(n·Σx) — moments folded in DECIMAL(38,0)
    * (products cast pre-multiply, q197's second-moment discipline,
    * wide decimals never in the output), ONE 4-dp-floored division per
    * type at the edge. Σx ≥ 1 for every type present, but the guard
    * keeps the all-zero case NULL rather than a division error.
    * Corpus-sized work = the one (type, day) count; the moment fold
    * runs at type × span cardinality.
    */
  def q231EventBurstiness(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val d38 = DecimalType(38, 0)
    val agg = denseDailyCounts(spark, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(col("x").cast(d38)).as("s1"),
        sum(col("x").cast(d38) * col("x")).as("s2"))
    val num = agg("n_days") * agg("s2") - agg("s1") * agg("s1")
    val den = agg("n_days") * agg("s1")
    agg.select(col("event_type"), col("n_days"),
      col("s1").cast(LongType).as("n_events"),
      when(col("s1") > 0,
        roundD4(num.cast(DoubleType) / den.cast(DoubleType)))
        .otherwise(lit(null).cast(DoubleType)).as("fano"))
      .orderBy("event_type")
  }

  /** q228 — USER-LIFETIME SURVIVAL CURVE: the empirical survival
    * function of observed activity spans — per day d (dense 0..max),
    * how many users' observed lifetime (whole days between their first
    * and last event, floor) ended exactly at d, how many survived at
    * least d, and the surviving fraction of all users. The
    * product-analytics read q90's cohort matrix and q187's growth
    * accounting both presuppose: HOW LONG an acquired user stays.
    * S(0) = 1 by construction; the curve's knee is the retention
    * cliff a lifecycle intervention targets. Contract: UNCENSORED
    * observed spans (every user's window closes at their last event;
    * a right-censored Kaplan–Meier estimate needs an
    * activity-assumption parameter this declared query doesn't take —
    * the q13/q200 explicit-semantics stance).
    *
    * Exact end-to-end: spans floor-divided in µs-long space
    * (Det.floorDivExpr; non-negative here, but the ONE blessed form),
    * the grid zero-filled (q223's discipline — dropping empty days
    * would hide exactly the cliffs this curve exists to show), the
    * reverse cumulative count an integer window sum over the
    * day-span-sized grid (single partition, catalog-sized by
    * construction), and ONE 4-dp-floored division per row against the
    * one-row user-total broadcast. Corpus-sized work = one user-keyed
    * min/max aggregate; everything after is span-sized.
    */
  def q228SurvivalCurve(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val life = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(min(unix_micros(col("ts"))).as("mn"), max(unix_micros(col("ts"))).as("mx"))
      .select(expr(Det.floorDivExpr("mx - mn", MicrosPerDay)).as("life"))
    val total = life.agg(count(lit(1)).as("n_users"))
    val grid = life.agg(max(col("life")).as("maxd"))
      .select(explode(sequence(lit(0L), col("maxd"))).as("day"))
    val ended = life.groupBy(col("life").as("day"))
      .agg(count(lit(1)).as("n_ended"))
    val w = Window.orderBy(desc("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(ended, Seq("day"), "left")
      .withColumn("n_ended", coalesce(col("n_ended"), lit(0L)))
      .withColumn("n_surviving", sum(col("n_ended")).over(w).cast(LongType))
      .crossJoin(broadcast(total)) // one-row user-total anchor
      .select(col("day"), col("n_ended"), col("n_surviving"),
        Det.roundD4(col("n_surviving").cast(DoubleType)
          / col("n_users").cast(DoubleType)).as("survival"))
      .orderBy("day")
  }

  /** q205 — RFM SEGMENTATION: per purchasing user, quintile scores for
    * Recency (days since last purchase, against the corpus max-purchase
    * anchor — q17's data-anchored stance), Frequency (purchase count)
    * and Monetary (exact decimal purchase sum, 4-dp rounded), rolled up
    * to one row per (r, f, m) segment — ≤125 rows feeding campaign
    * targeting and the churn readout (r_score 1 + m_score 5 = the
    * at-risk whales). Higher is better on every axis (low recency =
    * high score).
    *
    * Quintiles WITHOUT a global sort: a rank-based bucket (`ntile`)
    * would drag every user through one ordered partition and
    * coin-flip ties by row order; instead the four boundary values per
    * metric come from ONE exact interpolated-percentile aggregate
    * (q38's percentile ↔ quantile_cont engine mapping) and each user
    * buckets by comparison against the broadcast 1-row boundary frame
    * — scores = 1 + #(boundaries strictly below), so boundary-tied
    * users land in the SAME bucket deterministically on both engines.
    * Null-valued purchase sums contribute 0 to every strict compare on
    * both engines (score 1). Scale: one user-keyed groupBy, two
    * scalar broadcasts, a ≤125-group rollup.
    */
  def q205RfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val pu = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase" && col("user_id").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("value"))
    val perUser = pu.groupBy("user_id").agg(
      max(col("us")).as("last_us"), count(lit(1)).as("f"),
      dsum4(col("value")).as("m"))
    val anchor = pu.agg(max(col("us")).as("anchor_us"))
    val withR = perUser.crossJoin(broadcast(anchor))
      .withColumn("r_days", expr(Det.floorDivExpr("anchor_us - last_us", 86400000000L)))
    val bounds = withR.agg(
      expr("percentile(r_days, array(0.2, 0.4, 0.6, 0.8))").as("rb"),
      expr("percentile(f, array(0.2, 0.4, 0.6, 0.8))").as("fb"),
      expr("percentile(m, array(0.2, 0.4, 0.6, 0.8))").as("mb"))
    def above(c: String, b: String): org.apache.spark.sql.Column =
      (0 to 3).map(i => when(col(c) > expr(s"$b[$i]"), 1L).otherwise(0L)).reduce(_ + _)
    withR.crossJoin(broadcast(bounds))
      .withColumn("r_score", lit(5L) - above("r_days", "rb"))
      .withColumn("f_score", lit(1L) + above("f", "fb"))
      .withColumn("m_score", lit(1L) + above("m", "mb"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_users"), dsum4(col("m")).as("total_value"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** q181 — LAST-TOUCH ATTRIBUTION: every purchase attributed to the
    * user's most recent preceding touchpoint (click or view) within a
    * 7-day lookback, with purchase counts and exact revenue per
    * attributed channel — the conversion-credit query every growth
    * pipeline runs. The "most recent preceding" argmax never
    * materializes a self-join: touch events pack (µs, channel code)
    * into ONE sortable long (`us·8 + code` — µs dominates, the code is
    * a same-µs tiebreak), a user-partitioned running `max` over rows
    * strictly BEFORE the current one carries the latest touch to every
    * event, and purchase rows decode it — one window, one groupBy,
    * fine-grained user keys. Out-of-window or touchless purchases
    * credit 'none'. Exact decimal revenue ([[Det.dsum4]]).
    */
  def q181PurchaseAttribution(spark: SparkSession, dir: String): DataFrame = {
    val sevenDaysUs = 7L * 86400000000L
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("us"))
      .withColumn("packed",
        expr("CASE event_type WHEN 'click' THEN us * 8 + 1 WHEN 'view' THEN us * 8 + 2 END"))
      .withColumn("carried", max(col("packed")).over(w))
      .filter(col("event_type") === "purchase")
      // floor-div/pmod decode (Det.floorDivExpr discipline): a bare
      // `div`/`%` diverges from the oracle's `//`-based decode on
      // pre-epoch (negative-µs) packed values
      .withColumn("attributed_type",
        when(col("carried").isNotNull &&
          col("us") - expr(Det.floorDivExpr("carried", 8L)) <= sevenDaysUs,
          expr("CASE pmod(carried, 8L) WHEN 1 THEN 'click' ELSE 'view' END"))
          .otherwise(lit("none")))
      .groupBy("attributed_type")
      .agg(count(lit(1)).as("n_purchases"), Det.dsum4(col("value")).as("total_value"))
      .orderBy("attributed_type")
  }

  /** q180 — ACTIVITY STREAKS (gaps-and-islands): per user, the count
    * of distinct active days, the number of maximal consecutive-day
    * runs (islands), and the longest streak — the engagement shape
    * q90's cohort grid summarizes at population level, resolved to the
    * classic island construction: distinct (user, day) → `day −
    * row_number` is constant exactly within a consecutive run → one
    * groupBy per island, one per user. Both windows and both groupBys
    * share the user_id partitioning (fine-grained keys — millions of
    * users, never a coarse serializing key), and the distinct
    * collapses volume to ≤ user·day granularity before any window
    * runs. Day index by exact integer floor-div of µs.
    */
  def q180ActivityStreaks(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .select(col("user_id"), expr(Det.floorDivExpr("unix_micros(ts)", 86400000000L)).as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    days
      .withColumn("anchor", col("day") - row_number().over(w).cast(LongType))
      .groupBy("user_id", "anchor")
      .agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(sum(col("len")).cast(LongType).as("n_active_days"),
        count(lit(1)).as("n_islands"),
        max(col("len")).as("longest_streak"))
      .orderBy("user_id")
  }

  /** q179 — DISORDER AUDIT (the watermark-sizing input): per event
    * type, how far events arrive BEHIND the stream's running maximum
    * event time, with arrival order proxied by the monotone ingest id.
    * `withWatermark("ts", X)` silently DROPS every event later than X —
    * this audit is the only way to pick X from data instead of
    * folklore: `max_late_us` is the X that loses nothing,
    * `n_late_over_1m/1h` say what a tighter bound costs. q171 finds a
    * source gone quiet, q172 the holes left behind; this measures the
    * disorder WITHIN what did arrive.
    *
    * Scale shape: the running max is NOT computed as one window per
    * type (a 5-key partitioning serializes the whole corpus through 5
    * reducers) — arrival chunks of 4096 ids compute a LOCAL running
    * max each (fine-grained (type, chunk) partitions), a chunk-count-
    * sized window prefix-maxes the chunk summaries, and
    * `greatest(local, prior-chunk max)` reassembles the exact global
    * running max — q118's two-level prefix pattern applied to max.
    * Identical output to the naive window (the oracle IS the naive
    * window), scalable construction.
    */
  def q179DisorderAudit(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        expr("event_id div 4096").as("chunk"))
    val localW = Window.partitionBy("event_type", "chunk").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val chunkW = Window.partitionBy("event_type").orderBy("chunk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunkPrefix = ev.groupBy("event_type", "chunk")
      .agg(max(col("us")).as("cmax"))
      .withColumn("prior_max", max(col("cmax")).over(chunkW))
      .select("event_type", "chunk", "prior_max")
    ev.withColumn("local_run", max(col("us")).over(localW))
      .join(chunkPrefix, Seq("event_type", "chunk"))
      .withColumn("late_us",
        greatest(col("local_run"), coalesce(col("prior_max"), col("local_run"))) - col("us"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum((col("late_us") > 0L).cast(LongType)).as("n_late"),
        max(col("late_us")).as("max_late_us"),
        sum((col("late_us") > 60L * 1000000).cast(LongType)).as("n_late_over_1m"),
        sum((col("late_us") > 3600L * 1000000).cast(LongType)).as("n_late_over_1h"))
      .orderBy("event_type")
  }

  /** q172 — COMPLETENESS AUDIT: per event type, hour-bucket coverage
    * over the type's own active span — observed distinct hours vs the
    * [first, last] hour range, the missing-hour count a backfill
    * planner turns directly into work items (q171 tells you a source
    * went quiet NOW; this finds the holes it left BEHIND). Hour index
    * by integer floor-div of exact microseconds, one scan, one
    * groupBy: the distinct-hours count partial-aggregates map-side
    * (hour cardinality per type is bounded by the span, not by row
    * count), and coverage rounds with the engine-agnostic floor
    * formula.
    */
  def q172CompletenessAudit(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        expr(Det.floorDivExpr("unix_micros(ts)", 3600000000L)).as("hr"))
      .groupBy("event_type")
      .agg(countDistinct(col("hr")).as("n_hours_observed"),
        (max(col("hr")) - min(col("hr")) + 1).as("span_hours"))
      .select(col("event_type"), col("n_hours_observed"), col("span_hours"),
        (col("span_hours") - col("n_hours_observed")).as("n_missing_hours"),
        Det.roundD4(col("n_hours_observed").cast("double") / col("span_hours").cast("double"))
          .as("coverage"))
      .orderBy("event_type")

  /** q89 — funnel analysis: per user, the earliest
    * view → click → purchase chain where each step follows the
    * previous within one hour (the product-analytics staple the
    * reference's per-ride pipeline has no answer to). Each correlated
    * "first X after T" decorrelates into filter → per-user min-agg →
    * equi-join on user_id: three aggregates and two hash joins, all
    * partitioned by user — no window over the full event stream and
    * no per-user event buffering, so a 100 TB event table funnels with
    * three user-keyed shuffles. Left joins keep drop-offs (stage 1/2
    * users) with NULL later stages, as a funnel report requires.
    */
  def q89Funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select("user_id", "event_type", "ts")
    val hour = expr("INTERVAL 1 HOUR")
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t_view"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id")
      .filter(col("ts") > col("t_view") && col("ts") <= col("t_view") + hour)
      .groupBy("user_id").agg(min("ts").as("t_click"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("ts") > col("t_click") && col("ts") <= col("t_click") + hour)
      .groupBy("user_id").agg(min("ts").as("t_purchase"))
    v.join(c, Seq("user_id"), "left_outer")
      .join(p, Seq("user_id"), "left_outer")
      .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
        (lit(1L) + col("t_click").isNotNull.cast(LongType) +
          col("t_purchase").isNotNull.cast(LongType)).as("stage"))
      .orderBy("user_id")
  }

  /** q153 — FUNNEL STEP TIMING: how long converting users take between
    * q89's funnel stages — count plus exact median/p90 seconds for
    * view→click and click→purchase. The counts say WHERE the funnel
    * leaks (q89's stage column); the timings say whether the
    * conversion window itself is mis-set — the companion readout that
    * turns q89's 1-hour windows from a guess into a measurement.
    *
    * Composed over q89's frame (one definition of the funnel, two
    * readouts — the q108-over-q62 discipline). Deltas are exact
    * integer-microsecond differences; the percentile interpolation
    * (type-7, q38's operator) runs on exactly representable doubles,
    * so both engines interpolate identical values. Scale: q89's
    * per-user aggregates, then ONE global aggregate over ≤ n_users
    * rows — the percentile state is the sorted converting-user deltas,
    * bounded by conversions, not events.
    */
  def q153FunnelTiming(spark: SparkSession, dir: String): DataFrame = {
    val vc = (unix_micros(col("t_click")) - unix_micros(col("t_view")))
      .cast("double") / lit(1000000.0)
    val cp = (unix_micros(col("t_purchase")) - unix_micros(col("t_click")))
      .cast("double") / lit(1000000.0)
    q89Funnel(spark, dir)
      .select(vc.as("vc"), cp.as("cp"))
      .agg(count(col("vc")).as("n_view_click"),
        roundD4(expr("percentile(vc, 0.5)")).as("med_vc_sec"),
        roundD4(expr("percentile(vc, 0.9)")).as("p90_vc_sec"),
        count(col("cp")).as("n_click_purchase"),
        roundD4(expr("percentile(cp, 0.5)")).as("med_cp_sec"),
        roundD4(expr("percentile(cp, 0.9)")).as("p90_cp_sec"))
  }

  /** q90 — retention cohorts: users grouped by first-activity week,
    * counted in each later week they were active — the
    * (cohort, week-offset) retention triangle. Two user-keyed
    * aggregates (first-seen, distinct active weeks) and one join;
    * the distinct collapses each user's events to ≤ n_weeks rows
    * BEFORE the join, so the join input is users×weeks, not events.
    * Week arithmetic is exact integer µs division — date_trunc is
    * monotonic, so trunc(min) = min(trunc) and offsets are exact
    * multiples of a week.
    */
  def q90RetentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select("user_id", "ts")
    val cohort = e.groupBy("user_id")
      .agg(date_trunc("week", min("ts")).as("cohort_week"))
    val active = e.select(col("user_id"), date_trunc("week", col("ts")).as("week"))
      .distinct()
    active.join(cohort, "user_id")
      .withColumn("week_offset",
        expr("CAST((unix_micros(week) - unix_micros(cohort_week)) div 604800000000 AS BIGINT)"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** q151 — DEBOUNCE DEDUP (dedup with tolerance): collapse bursts of
    * the same (user, event_type) within a 60-minute gap to their first
    * event, carrying the burst size — the repeated-action collapse
    * (double-click, retry storm, duplicate telemetry beacon) that
    * exact dedup (q05: one survivor per user EVER) and sessionization
    * (q13: all-type sessions) both miss. Gap-chained on purpose: a
    * burst extends while any two consecutive events are close, q13's
    * semantics at (user, type) granularity.
    *
    * One window per (user_id, event_type) — finer key than q13's, so
    * partitions are smaller and spread further — then the burst
    * aggregate picks its witness by min over the [[packUsEventId]]
    * decimal (q88's argmin discipline: no second window, and unlike
    * the min-STRUCT form it replaces — whose struct buffer planned
    * SortAggregate — the decimal buffer keeps both aggregate phases
    * HashAggregate with map-side partials). The witness's event_id and
    * ts unpack exactly from the decimal: ts IS its µs value
    * (timestamp_micros of the quotient), event_id the remainder.
    */
  private val DebounceGapUs = 3600000000L // 60 min

  def q151DebounceDedup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    val us = unix_micros(col("ts"))
    val prevUs = lag(us, 1).over(w)
    Tables.events(spark, dir)
      .withColumn("new_b",
        when(prevUs.isNull || (us - prevUs) > DebounceGapUs, 1).otherwise(0))
      .withColumn("burst",
        sum("new_b").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "event_type", "burst")
      .agg(min(packUsEventId).as("first_pk"),
        count(lit(1)).as("burst_size"))
      .select(unpackEventId(col("first_pk")).as("event_id"), col("user_id"),
        col("event_type"), unpackTs(col("first_pk")).as("ts"), col("burst_size"))
      .orderBy("event_id")
  }

  /** q152 — VALUE ANOMALY GATE: z-score every event's value against
    * its type's corpus mean/std, flagging |z| > 3 — the cheap
    * telemetry outlier screen (broken sensor, corrupted beacon) run
    * before values feed any aggregate. Per-type moments come from the
    * q92 discipline: exact wide-decimal sums (order-independent under
    * any partitioning), doubles only in the final mean/std/z
    * arithmetic, the flag compared on the ROUNDED z so both engines
    * decide identical boundaries. A degenerate type (σ = 0: constant
    * or singleton) emits null z and never flags, rather than NaN.
    *
    * The stats frame is |event_types| rows — a broadcast equi-join
    * back onto the stream; everything else is row-local.
    */
  def q152ValueAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val nD = col("n").cast("double")
    val mean = col("sx") / nD
    val variance = (col("sxx") - col("sx") * col("sx") / nD) / nD
    val stats = Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        dsum4w(col("value")).as("sx"),
        dsum4w(col("value") * col("value")).as("sxx"))
      .select(col("event_type"), mean.as("mean"), sqrt(variance).as("std"))
    val z = roundD4((col("value") - col("mean")) / col("std"))
    Tables.events(spark, dir)
      .join(broadcast(stats), "event_type")
      .withColumn("z", when(col("std") > 0.0, z))
      .withColumn("is_anomaly",
        when(col("std") > 0.0, abs(col("z")) > lit(3.0)).otherwise(lit(false)))
      .select("event_id", "event_type", "value", "z", "is_anomaly")
      .orderBy("event_id")
  }

  /** q156 — SESSION PATH MINING: the top-10 most common per-session
    * event-type sequences (q13's 24h-gap sessions, types joined with
    * '>') — the path readout between q150's one-step transition matrix
    * and q89's hand-picked funnel: it shows which full journeys
    * actually occur, and is how funnel steps get picked from data.
    *
    * Determinism: the per-session sequence is built by sorting the
    * collected (epoch, event_id, type) structs — array_sort's
    * lexicographic struct order IS the userWindow tie rule — and the
    * top-10 breaks count ties on the path string. Scale: collect_list
    * is bounded by session length; paths ride one shuffle keyed by
    * the path string (session-length-bounded; a corpus with mile-long
    * sessions keys the count on md5(path) and attaches text to the 10
    * winners — q124's two-pass trade); the top-10 is
    * TakeOrderedAndProject, never a global sort.
    */
  def q156SessionPaths(spark: SparkSession, dir: String): DataFrame = {
    // the ONE session definition, read from its staging table — this
    // was an inline copy of the sessionize window until the family was
    // staged (VERDICT r14 Next #5); the staged read keeps the
    // identical (user, 24h-gap) semantics by construction
    sessionizedEvents(spark, dir)
      .groupBy("user_id", "session_id")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(unix_micros(col("ts")).as("us"),
            col("event_id"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(desc("n_sessions"), asc("path"))
      .limit(10)
  }

  /** q150 — EVENT TRANSITION MATRIX: first-order Markov transitions
    * between consecutive event types per user — (from, to, count,
    * probability) — the flow/Sankey readout behind funnel design
    * (q89's steps are hand-picked; this op is how they get picked) and
    * the drop-off diagnostic every telemetry pipeline ships.
    *
    * One lead() pass over the per-user ordered window (bounded
    * partitions, userWindow's tie rule) into a |types|² aggregate; the
    * per-from probability normalizes over the already-aggregated
    * matrix, so the second window touches matrix rows, never events.
    */
  def q150EventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.events(spark, dir)
      .withColumn("next_type", lead(col("event_type"), 1).over(userWindow))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    t.withColumn("prob",
        roundD4(col("n").cast("double") / sum(col("n")).over(Window.partitionBy("event_type"))))
      .orderBy("event_type", "next_type")
  }

  /** q215 — TRANSITION DWELL PROFILE: q150's matrix priced in TIME —
    * per (from, to) event-type edge, the distribution of how long a
    * user sits on `from` before `to` arrives (count, exact min/max µs,
    * interpolated p50/p90 under q38's percentile ↔ quantile_cont
    * mapping). q150 says WHERE users go; this says how long each hop
    * takes — the latency readout behind funnel-step timeouts (q153
    * prices one hand-picked path; this prices every edge), q151's
    * per-edge debounce windows, and UX "time on step" dashboards.
    *
    * Both leads ride ONE per-user window pass ([[userWindow]]'s tie
    * rule, the same partition-bounded exchange q150 already pays —
    * Spark fuses same-window functions into a single WindowExec), then
    * a map-combinable aggregate at |types|² cardinality. Dwell is
    * exact integer µs (unix_micros before subtraction — never a
    * timestamp diff that could round); NULL-user rows form their own
    * partition in BOTH engines (q150's stance, mirrored verbatim).
    */
  def q215TransitionDwell(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("next_type", lead(col("event_type"), 1).over(userWindow))
      .withColumn("dwell",
        lead(unix_micros(col("ts")), 1).over(userWindow) - unix_micros(col("ts")))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"),
        min(col("dwell")).as("min_dwell_us"),
        roundD4(expr("percentile(dwell, 0.5)")).as("med_dwell_us"),
        roundD4(expr("percentile(dwell, 0.9)")).as("p90_dwell_us"),
        max(col("dwell")).as("max_dwell_us"))
      .orderBy("event_type", "next_type")

  /** q147 — TIME-GRID RESAMPLE with forward fill: each user's irregular
    * event series re-expressed on a regular 6-hour grid spanning
    * [hour-floor(first event), last event], carrying the latest
    * observed `value` at or before each grid point (null before the
    * first observation) — the gap-fill/downsample step every
    * telemetry-to-feature pipeline runs before joining series with
    * different clocks (the feature-store "as-of materialization").
    *
    * One shuffle (q42's union-sentinel as-of discipline): grid points
    * union with observations, a single per-user ordered window
    * forward-fills, grid rows exit. No grid×events join ever forms
    * (plan-pinned join-free). Grid rows are generated from each user's
    * own (lo, hi) span aggregate — per-user bounded, never a global
    * calendar cross join. Duplicate (user, ts) observations collapse
    * to the max-event_id row first, so the filled value is
    * deterministic (userWindow's tie rule expressed as a
    * pre-aggregate).
    *
    * Scale: the window partitions by user (bounded, spreads with user
    * cardinality); grid size is span/step per user — the resample's
    * output IS that size, so nothing intermediate exceeds the answer.
    */
  def q147GridResample(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .groupBy(col("user_id"), col("ts"))
      .agg(max_by(col("value"), col("event_id")).as("v"))
    val span = e.groupBy("user_id")
      .agg(date_trunc("hour", min(col("ts"))).as("lo"), max(col("ts")).as("hi"))
    val grid = span.select(col("user_id"),
      explode(sequence(col("lo"), col("hi"), expr("interval 6 hours"))).as("ts"))
      .withColumn("v", lit(null).cast("double"))
      .withColumn("is_grid", lit(1))
    val union = e.withColumn("is_grid", lit(0)).unionByName(grid)
    // events sort BEFORE the grid point at the same ts, so an exactly
    // on-grid observation is visible to its own grid row
    val w = Window.partitionBy("user_id").orderBy("ts", "is_grid")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    union
      .withColumn("value_ff", last(col("v"), ignoreNulls = true).over(w))
      .filter(col("is_grid") === 1)
      .select(col("user_id"), col("ts").as("grid_ts"), col("value_ff"))
      .orderBy("user_id", "grid_ts")
  }

  /** q162 — STATE SNAPSHOT DIFF (CDC audit): per-user latest state
    * (last event's type+value) in the first half of the corpus window
    * vs the second half, classified added / removed / changed /
    * unchanged — the reconciliation report every incremental
    * ingestion run publishes ("what did this crawl/CDC window change")
    * before the merge is trusted. The cut is data-anchored (midpoint
    * of the corpus time span, q17's max-ts discipline) so the op
    * survives corpus regeneration.
    *
    * Each snapshot's state is ONE aggregate — an argmax on the unique
    * (µs, event_id) key, q88's discipline: map-side combinable, no
    * window over raw events — then a user-keyed full outer join of two
    * user-sized relations. The max-STRUCT form this replaces planned
    * SortAggregate (struct buffers are not UnsafeRow-mutable); the
    * state now rides as hash-aggregable `max_by` payloads over the
    * [[packUsEventId]] decimal — the double `value` directly (doubles
    * are mutable buffer types), the string type as its
    * [[stagedEventTypeDict]] id. Only EQUALITY of the two states is
    * ever read (the output is status counts), and the dictionary is
    * injective, so tid <=> tid is exactly event_type <=> event_type.
    * At 100 TB the events scan dominates; the join touches |users|
    * rows.
    */
  def q162SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    // FLOOR div, not bare `div`: both engines' native integer division
    // truncates toward zero (Det.floorDivExpr scaladoc) — a pre-epoch
    // corpus makes the midpoint sum negative, where floor is the
    // bucket-stable choice; the oracle mirrors with the fdiv pmod form
    val bounds = e.agg(min(col("ts")).as("mn"), max(col("ts")).as("mx"))
      .select(expr(graft.ops.Det.floorDivExpr("unix_micros(mn) + unix_micros(mx)", 2L))
        .as("cut_us"))
    val et = stagedEventTypeDict(spark, dir)
      .select(col("event_type").as("et"), col("tid"))
    val cutApplied = e.crossJoin(broadcast(bounds))
      .join(broadcast(et), col("event_type") <=> col("et"))
    def lastState(df: DataFrame, tag: String) = df
      .groupBy("user_id")
      .agg(max(packUsEventId).as(s"pk_$tag"),
        max_by(col("tid"), packUsEventId).as(s"tid_$tag"),
        max_by(col("value"), packUsEventId).as(s"value_$tag"))
    val a = lastState(cutApplied.filter(unix_micros(col("ts")) < col("cut_us")), "a")
    val b = lastState(cutApplied.filter(unix_micros(col("ts")) >= col("cut_us")), "b")
    // null-SAFE inequality on value: events.value is nullable, and a
    // plain =!= with one NULL side evaluates NULL — the `when` would
    // fall through and report a NULL→42.0 flip as "unchanged". <=> is
    // the only comparison that treats NULL as a value here. pk_{a,b}
    // are non-null whenever the half has rows (ts/event_id are
    // non-null table keys), so they carry the old in_{a,b} presence
    // flags through the full outer join.
    a.join(b, Seq("user_id"), "full_outer")
      .select(when(col("pk_a").isNull, "added")
        .when(col("pk_b").isNull, "removed")
        .when(!(col("tid_a") <=> col("tid_b")) || !(col("value_a") <=> col("value_b")), "changed")
        .otherwise("unchanged").as("status"))
      .groupBy("status").agg(count(lit(1)).as("n_users"))
      .orderBy("status")
  }

  /** q163 — SCD TYPE-2 HISTORY: each user's event-type timeline
    * collapsed into versioned validity intervals — a row per type
    * CHANGE carrying [valid_from, valid_to) with an open (null)
    * valid_to on the current version — the slowly-changing-dimension
    * build every warehouse runs to make "state as of time T" a range
    * lookup instead of an event replay (pairs with q42's as-of join as
    * the consumer).
    *
    * One shuffle: change detection (lag) runs over the raw events,
    * versioning (row_number) and interval closing (lead) over the
    * surviving change rows — two Window operators, but both partition
    * by user_id, so the filter preserves the first exchange's
    * distribution and the second window re-sorts without reshuffling.
    * Bounded partitions, userWindow's tie rule.
    */
  def q163Scd2History(spark: SparkSession, dir: String): DataFrame = {
    val changes = Tables.events(spark, dir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(userWindow))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    changes
      .withColumn("version", row_number().over(userWindow).cast(LongType))
      .withColumn("valid_to", lead(col("ts"), 1).over(userWindow))
      .select(col("user_id"), col("version"), col("event_type"),
        col("ts").as("valid_from"), col("valid_to"))
      .orderBy("user_id", "version")
  }
}
