package graft.ops

import graft.Tables
import graft.functions.GraftFunctions.bloomMightContain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Analytics surface beyond the reference's own queries: hierarchical
  * aggregation (rollup), set operations, the full window-function
  * vocabulary, and a skew-safe two-phase aggregation — rounding out the
  * SURVEY.md §2.4/§2.5/§2.7 "absent in reference" rows so a user of the
  * reference has strictly more, not merely equal, query surface.
  */
object Analytics {
  import Det._

  /** Rollup (hierarchical totals): per (flag,status), per flag, grand
    * total in one pass — Spark expands the grouping sets and still
    * aggregates partial+final. NULLS FIRST ordering pinned on both
    * engines (their defaults differ).
    */
  def q34Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(dsum4(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** Set operations (UNION/INTERSECT/EXCEPT — absent in the reference):
    * high-balance vs BUILDING-segment customers, tagged by set
    * membership. INTERSECT/EXCEPT are set-semantic (distinct), matching
    * SQL.
    */
  def q35SetOps(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val hi = c.filter(col("c_acctbal") > 7000).select("c_custkey")
    val building = c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val both = hi.intersect(building).withColumn("tag", lit("both"))
    val onlyHi = hi.except(building).withColumn("tag", lit("only_hi"))
    val onlyB = building.except(hi).withColumn("tag", lit("only_building"))
    both.unionByName(onlyHi).unionByName(onlyB)
      .orderBy("c_custkey", "tag")
  }

  /** Window-function vocabulary over orders per customer: row_number,
    * exact running sum (DECIMAL accumulation — a double running sum is
    * association-order-dependent and differs between engines), lag and
    * lead. One shuffle on o_custkey serves all four.
    */
  def q36WindowFuncs(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        row_number().over(wOrd).cast(LongType).as("rn"), // BIGINT in DuckDB
        round(sum(col("o_totalprice").cast(DecimalType(20, 6))).over(wRun), 4).cast(DoubleType).as("running"),
        lag(col("o_totalprice"), 1).over(wOrd).as("prev_price"),
        lead(col("o_orderkey"), 1).over(wOrd).as("next_key"))
      .orderBy("o_orderkey")
  }

  /** q60 — top-k PER GROUP (vs q18's global top-k): the 3 highest-value
    * customers per market segment. One row_number window per segment —
    * Spark runs it as a single hash exchange on the group key with
    * rank filtering; at scale this beats any groupBy+collect_list+
    * slice formulation because nothing materializes a per-group buffer.
    * Ties broken by c_custkey so rank order is engine-identical.
    */
  def q60TopkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(desc("c_acctbal"), asc("c_custkey"))
    Tables.customer(spark, dir)
      .withColumn("rk", row_number().over(w).cast(LongType)) // BIGINT in DuckDB
      .filter(col("rk") <= 3)
      .select("c_mktsegment", "rk", "c_custkey", "c_name", "c_acctbal")
      .orderBy("c_mktsegment", "rk")
  }

  /** Percentiles/median (continuous, type-7 interpolation — verified
    * identical between Spark `percentile` and DuckDB `quantile_cont`).
    * Spark's exact percentile collects per-group value buffers — fine
    * for low-cardinality groups; at 100 TB with wide groups switch to
    * `approx_percentile` (KLL-style sketch, mergeable map-side).
    */
  def q38Percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        roundD4(expr("percentile(l_quantity, 0.5)")).as("med_qty"),
        roundD4(expr("percentile(l_quantity, 0.9)")).as("p90_qty"),
        roundD4(expr("percentile(l_extendedprice, 0.5)")).as("med_price"),
        roundD4(expr("percentile(l_extendedprice, 0.9)")).as("p90_price"))
      .orderBy("l_returnflag")

  /** q38b — the 100 TB percentile: same shape as q38 but computed with
    * `approx_percentile` (KLL-style quantile sketch). The sketch is
    * FIXED-SIZE and mergeable, so the aggregation stays partial+final
    * with a bounded shuffle, where exact `percentile` materializes a
    * per-group buffer of every value — the whole column per group at
    * wide groups, an OOM at scale. Accuracy 10000 ⇒ rank error
    * ≤ 1/10000 of the group. Sketch internals are engine-specific, so
    * (like q47) this is declared WITHOUT a DuckDB oracle — its
    * correctness guard is the exact q38 twin beside it plus the
    * AnalyticsSpec bound test against exact percentiles.
    */
  def q38bApproxPercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        roundD4(expr("approx_percentile(l_quantity, 0.5, 10000)")).as("med_qty"),
        roundD4(expr("approx_percentile(l_quantity, 0.9, 10000)")).as("p90_qty"),
        roundD4(expr("approx_percentile(l_extendedprice, 0.5, 10000)")).as("med_price"),
        roundD4(expr("approx_percentile(l_extendedprice, 0.9, 10000)")).as("p90_price"))
      .orderBy("l_returnflag")

  /** Semi-join / EXISTS (the reference's `existing_user` membership
    * checks as a join): customers that placed at least one order. A
    * left_semi join carries no payload from the probe side and
    * short-circuits on first match.
    */
  def q39SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey").as("c_custkey"))
    c.join(o, Seq("c_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** Build a [[graft.functions.BloomFilterLong]] over a BIGINT key
    * column, executor-side: `treeAggregate` ORs per-partition bit
    * arrays up a tree, so only the finished `numBits/8`-byte filter
    * ever reaches the driver (a broadcast variable's lifecycle — the
    * rows never do). Bit-OR is commutative, so the filter is
    * byte-identical under any partitioning.
    */
  def bloomOf(df: DataFrame, keyCol: String, numBits: Int, k: Int): Array[Byte] = {
    import graft.functions.BloomFilterLong
    val words = df.select(col(keyCol).cast(LongType)).na.drop().rdd
      .treeAggregate(BloomFilterLong.emptyWords(numBits))(
        (w, row) => { BloomFilterLong.add(w, k, row.getLong(0)); w },
        (a, b) => { var i = 0; while (i < a.length) { a(i) |= b(i); i += 1 }; a })
    BloomFilterLong.serialize(k, words)
  }

  /** q95 — Bloom-pre-filtered semi-join (the runtime-filter pattern,
    * explicit): customers having a high-value order. The dim-side key
    * set builds a 16 KiB Bloom filter (one executor-side pass, no row
    * reaches the driver); the probe side filters through the native
    * `bloom_might_contain` expression BEFORE its shuffle, so at 100 TB
    * the semi-join's exchange carries only bloom survivors — dim-
    * selectivity × fact instead of fact. False positives (classic
    * (1-e^{-kn/m})^k rate) are killed by the exact semi-join that
    * follows; false negatives cannot exist, so output ≡ q39-style
    * plain semi-join (the oracle) and the bloom is purely a shuffle
    * reducer. This is what Spark's AQE runtime bloom filter injects
    * implicitly; owning it as an operator makes the pruning
    * deterministic, plan-pinnable, and available below the optimizer's
    * size thresholds. (The dim side is scanned twice — build + verify
    * — exactly like the injected runtime filter; it is the small side
    * by construction.)
    */
  def q95BloomSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val high = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 450000.0)
      .select("o_custkey")
    val bloom = bloomOf(high, "o_custkey", numBits = 1 << 17, k = 5)
    Tables.customer(spark, dir)
      .filter(bloomMightContain(bloom, col("c_custkey")))
      .join(high, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy("c_custkey")
  }

  /** Correlated scalar subqueries (customers above their segment's
    * average balance), written AS correlated SQL so Catalyst's
    * decorrelation rewrites both subqueries into one aggregated join —
    * the optimizer capability itself is what this query pins. The
    * comparison is cross-multiplied into exact DECIMAL space
    * (`bal·count > sum`) so the filter boundary cannot drift between
    * engines.
    */
  def q40CorrelatedSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer_q40")
    spark.sql(
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        |FROM customer_q40 c
        |WHERE CAST(c_acctbal AS DECIMAL(20,6)) *
        |  (SELECT count(*) FROM customer_q40 c2 WHERE c2.c_mktsegment = c.c_mktsegment)
        |  > (SELECT sum(CAST(c3.c_acctbal AS DECIMAL(20,6))) FROM customer_q40 c3
        |     WHERE c3.c_mktsegment = c.c_mktsegment)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** Skew-safe two-phase aggregation: q04's per-user aggregate computed
    * via an explicit salt split (phase 1 groups on (key, salt) — a hot
    * key spreads over 16 reducers; phase 2 merges partials). DECIMAL
    * partials keep the result bit-identical to the direct aggregation,
    * so the oracle is q04's own SQL. This is the hand-rolled version of
    * what AQE's skew mitigation does for joins — for 100 TB group-bys
    * with power-law keys it is the standard pattern.
    */
  def q37SaltedAgg(spark: SparkSession, dir: String): DataFrame = {
    val partials = Tables.events(spark, dir)
      .withColumn("_salt", pmod(hash(col("event_id")), lit(16)))
      .groupBy(col("user_id"), col("_salt"))
      .agg(
        sum(col("value").cast(DecimalType(20, 6))).as("psum"),
        count(lit(1)).as("pcnt"),
        max("ts").as("pmax"))
    partials
      .groupBy("user_id")
      .agg(
        // decimal division + decimal-space round, like Det.davg4 — a
        // double quotient would tie-break differently than the oracle
        round(sum(col("psum")) / sum(col("pcnt")), 4).cast(DoubleType).as("avg_value"),
        sum(col("pcnt")).as("n_events"),
        max(col("pmax")).as("max_ts"))
      .orderBy("user_id")
  }

  /** q61 — skew-safe SALTED JOIN: the join-side completion of q37's
    * skew vocabulary. `event_type` is a textbook power-law join key
    * (5 values over 100k+ rows): a plain hash join on it sends every
    * row of the hottest type to ONE reducer — the straggler that kills
    * 100 TB fact⋈dim joins. Mitigation: the fact side salts its key
    * with a deterministic `pmod(hash(event_id), 16)` and the dim side
    * replicates each row across all 16 salts (explode of a literal
    * range — dim volume ×16, fact volume unchanged), so the join keys
    * on (event_type, _salt) and each hot key spreads over 16 reducers.
    * The result is salt-invariant — the oracle is the plain unsalted
    * join — and the plan is a pure equi-join AQE can still re-plan
    * (PlanQualitySpec pins the salted keys with broadcast disabled).
    * This is the explicit form of what AQE skew-join splitting does at
    * runtime; pipelines pin it in the plan when the skew is known ahead
    * of time (AQE only splits sort-merge/shuffle-hash joins it can
    * observe, and its thresholds are tuned for occasional skew, not a
    * 5-value key space).
    *
    * Query semantics: each event joined to its type's corpus-wide
    * average value, reporting the event's deviation — the classic
    * "enrich fact rows with a hot dimension aggregate" shape.
    */
  def q61SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val salts = 16
    val e = Tables.events(spark, dir)
    val dim = e.groupBy("event_type").agg(davg4(col("value")).as("type_avg"))
      .withColumn("_salt", explode(array((0 until salts).map(lit): _*)))
    val fact = e.select(col("event_id"), col("event_type"), col("value"))
      .withColumn("_salt", pmod(hash(col("event_id")), lit(salts)))
    fact.join(dim, Seq("event_type", "_salt"))
      // both inputs are 4-dp doubles, so the difference is computed
      // identically by both engines; round via the floor formula anyway
      // to pin the representation (Det.roundD4 mirror in the oracle)
      .select(col("event_id"), col("event_type"), col("value"),
        roundD4(col("value") - col("type_avg")).as("delta_vs_type"))
      .orderBy("event_id")
  }

  /** CUBE over (returnflag, linestatus) with grouping_id — the full
    * grouping-sets vocabulary beside q34's ROLLUP. Spark's grouping_id
    * bit encoding (1 = column aggregated away, returnflag the high bit)
    * matches DuckDB's GROUPING(a, b), so gid is oracle-comparable.
    * Physically this is still one partial-agg + one shuffle: Spark
    * expands the grouping sets map-side before the exchange.
    */
  /** Bounded sliding frame (ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) —
    * the frame-spec vocabulary beyond q36's running frame: centered
    * moving sum/min/max/count of event values per user. The moving sum
    * accumulates in DECIMAL like every float aggregate (a double moving
    * sum is association-order-dependent across engines). One shuffle on
    * user_id; frames never cross partition keys, so partition sizes —
    * not frame width — bound executor memory.
    */
  def q46SlidingFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 2)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n_frame"),
        round(sum(col("value").cast(DecimalType(20, 6))).over(w), 4).cast(DoubleType).as("mov_sum"),
        min(col("value")).over(w).as("mov_min"),
        max(col("value")).over(w).as("mov_max"))
      .orderBy("event_id")
  }

  /** Explicit GROUPING SETS — the general form beside q34's ROLLUP and
    * q45's CUBE: per-returnflag totals and per-linestatus totals in ONE
    * scan + one shuffle (Expand replicates each row once per set
    * map-side, partial aggregation collapses before the exchange) —
    * where two separate groupBys would scan the fact table twice.
    */
  def q52GroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(dsum4(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_rows"),
        grouping_id().as("gid"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"), asc("gid"))

  /** Bag-semantic set operations (INTERSECT ALL / EXCEPT ALL) beside
    * q35's distinct variants: part keys on returned ('R') vs accepted
    * ('A') lineitems WITH multiplicity — min(m_R, m_A) copies survive
    * the intersection, max(0, m_R - m_A) the difference. Spark compiles
    * both to a count-aggregate + Generate (replicate rows) — one
    * shuffle each, no join; duplicate output rows are legitimate, so
    * the total order is (tag, key) with equal rows interchangeable.
    */
  def q51BagSetOps(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val r = li.filter(col("l_returnflag") === "R").select("l_partkey")
    val a = li.filter(col("l_returnflag") === "A").select("l_partkey")
    r.intersectAll(a).withColumn("tag", lit("intersect_all"))
      .unionByName(r.exceptAll(a).withColumn("tag", lit("except_all")))
      .orderBy("tag", "l_partkey")
  }

  /** Pivot (long→wide): per-user event-value sums, one column per event
    * type. The pivot value list is EXPLICIT — an implicit list makes
    * Spark run a distinct scan over the pivot column first and caps it
    * at spark.sql.pivotMaxValues; at 100 TB the column set must be a
    * declared schema decision, not data-dependent. The engine expands
    * the list into conditional aggregates itself rather than calling
    * `.pivot()`: the built-in plans TWO exchanges (a (key, pivot-col)
    * pre-aggregate, then a `pivotfirst` re-shuffle on the key), where
    * the conditional form is one ordinary partial+final aggregate on
    * the key — half the shuffles for the identical result
    * (PlanQualitySpec pins it).
    */
  def q48Pivot(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(dsum4(when(col("event_type") === types.head, col("value"))).as(types.head),
        types.tail.map(t => dsum4(when(col("event_type") === t, col("value"))).as(t)): _*)
      .orderBy("user_id")
  }

  /** Unpivot / melt (wide→long): lineitem rate columns as (metric, val)
    * rows — row-local expansion (Spark's Expand node), no shuffle at
    * all; output is 3× input rows but each row is narrow. (l_orderkey,
    * l_linenumber) is not unique in this synthetic data, so the total
    * order includes val.
    */
  def q49Unpivot(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")),
        "metric", "val")
      .orderBy("l_orderkey", "l_linenumber", "metric", "val")

  def q45Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(dsum4(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_rows"),
        grouping_id().as("gid"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"), asc("gid"))

  /** q91 — fixed-width histogram: event values bucketed at width 50
    * per event type, with per-bucket count and exact min/max. Binning
    * is row-local (`floor(value/50)` — identical double division both
    * engines), so the whole histogram is one partial+final aggregate
    * on a (type, bin)-sized key: the 100 TB distribution-profiling
    * primitive that never shuffles more than types×bins rows.
    */
  def q91Histogram(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), col("value"),
        floor(col("value") / lit(50.0)).cast(LongType).as("bin"))
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).as("n_events"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .withColumn("bin_lo", col("bin") * lit(50.0))
      .select("event_type", "bin", "bin_lo", "n_events", "min_value", "max_value")
      .orderBy("event_type", "bin")

  /** q176 — EQUI-DEPTH HISTOGRAM (the optimizer-statistics build q91's
    * fixed-width bins can't replace): lineitem quantity summarized as
    * ~16 bins of near-equal ROW mass. Construction is the standard
    * value-indivisible equi-depth build every ANALYZE implementation
    * uses: per-value counts (one map-combinable groupBy — the shuffle
    * is VALUE-DOMAIN-sized, 50 rows here, never row-sized), then a
    * cumulative sweep over the ordered value domain assigns each
    * distinct value wholly to the bin where its first row falls
    * (`bin = rows_before · 16 div n_total`). Heavy values are
    * indivisible, so bin heights vary and some bin ids can be skipped —
    * exactly how real engine histograms behave (a value with >1/16 of
    * the mass owns its bin outright). The single-partition window is
    * correct HERE because its input is the distinct-value relation
    * (q118's catalog-sized discipline); a row-sized global sort never
    * happens. All arithmetic integer-exact: quantities are integral
    * (cast pinned by the spec), `div` on non-negative prefix sums.
    * High-cardinality columns swap in q38b's KLL boundaries and keep
    * this same readout contract.
    */
  def q176EquidepthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.lineitem(spark, dir)
      .select(col("l_quantity").cast(LongType).as("v"))
      .groupBy("v").agg(count(lit(1)).as("cnt"))
    val ord = Window.orderBy("v")
    counts
      .withColumn("rows_before",
        coalesce(sum(col("cnt")).over(ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_total",
        sum(col("cnt")).over(ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("bin_id", expr("(rows_before * 16) div n_total"))
      .groupBy("bin_id")
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"),
        sum(col("cnt")).cast(LongType).as("n_rows"),
        count(lit(1)).as("n_values"))
      .orderBy("bin_id")
  }

  /** q92 — correlation / least-squares regression per group, computed
    * from exact decimal moments: sums of x, y, x², y², x·y accumulate
    * in DECIMAL(28,6) ([[Det.dsum4w]] — order-independent under any
    * partitioning, wide enough for squared price columns at 10¹² rows),
    * then slope/intercept/r derive from the five already-rounded
    * doubles with IEEE-identical arithmetic. ONE partial+final agg
    * pass over the fact table — the textbook mergeable-moments
    * formulation that `corr()`/`regr_slope()` built-ins compute with
    * non-deterministic float partial sums, re-expressed so two engines
    * agree bit-for-bit.
    */
  def q92CorrRegression(spark: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    val n = col("n").cast(DoubleType)
    val slope = (n * col("sxy") - col("sx") * col("sy")) /
      (n * col("sxx") - col("sx") * col("sx"))
    val intercept = (col("sy") - slope * col("sx")) / n
    val r = (n * col("sxy") - col("sx") * col("sy")) /
      sqrt((n * col("sxx") - col("sx") * col("sx")) *
        (n * col("syy") - col("sy") * col("sy")))
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        dsum4w(x).as("sx"), dsum4w(y).as("sy"),
        dsum4w(x * y).as("sxy"), dsum4w(x * x).as("sxx"), dsum4w(y * y).as("syy"))
      .select(col("l_returnflag"), col("n"),
        roundD4(slope).as("slope"),
        roundD4(intercept).as("intercept"),
        roundD4(r).as("corr_xy"))
      .orderBy("l_returnflag")
  }
}
