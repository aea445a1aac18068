package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StringType}

/** Data-governance audits: the cross-replica integrity manifest and the
  * right-to-be-forgotten purge cascade. The reference has no governance
  * layer at all (its pipeline truncates-and-reloads a single Postgres,
  * reference `sql_wrapper.py`); at 100 TB both of these are standing
  * jobs — every replication/backfill ends with a manifest compare, and
  * every deletion request fans out across the foreign-key graph.
  */
object Audit {
  import Det._

  /** Order-independent per-row checksum term for an integer key:
    * `(key mod p) * KnuthMultiplier mod p` with p = 1e9+7. Reducing the
    * key BEFORE the multiply keeps every intermediate under 2^62 for
    * any Long key, so the arithmetic is exact in both engines; the SUM
    * of terms accumulates in DECIMAL(38,0) (exact, associative —
    * order-independent under any partitioning, and with 10^29 headroom
    * over the 10^9-bounded terms it cannot overflow below ~10^29 rows).
    * The PUBLISHED checksum is that sum reduced mod p again — a Long in
    * [0, 1e9+7): additivity survives the mod (incremental loads still
    * maintain it additively, mod p), and the emitted value is integer-
    * exact in BIGINT for both engines at any corpus size (a DOUBLE or
    * raw-DECIMAL output would go engine-ambiguous past 2^53 / rely on
    * pandas decimal semantics). Oracle mirror:
    * `CAST(sum(CAST((k % 1000000007) * 2654435761 % 1000000007 AS
    * DECIMAL(38,0))) % 1000000007 AS BIGINT)`.
    */
  private[graft] val ChecksumMod = 1000000007L
  private[graft] val KnuthMult = 2654435761L

  private def checksumTerm(key: Column): Column =
    ((key % ChecksumMod) * KnuthMult % ChecksumMod).cast(DecimalType(38, 0))

  /** The same per-key term in the Long domain, for computing expected
    * buckets and checksums outside Spark.
    */
  private[graft] def checksumTermLong(k: Long): Long =
    (k % ChecksumMod) * KnuthMult % ChecksumMod

  /** Primary-key expression per table — lineitem's composite key packs
    * as orderkey·10+linenumber (TPC-H linenumber ∈ 1..7).
    */
  private[graft] val TablePk: Seq[(String, String)] = Seq(
    "region" -> "r_regionkey", "nation" -> "n_nationkey",
    "customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey * 10 + l_linenumber",
    "events" -> "event_id", "documents" -> "doc_id",
    "embeddings" -> "vec_id")

  /** q167 — INTEGRITY MANIFEST: one row per source table with its row
    * count and an order-independent key checksum — the artifact a
    * replication/backfill job publishes so the receiving side can
    * verify "same rows arrived" without re-reading the sender
    * (compare two 10-row manifests, not two 100 TB scans). The
    * checksum is a SUM of per-row hash terms: commutative, so any
    * partitioning/ordering of either side produces the same value,
    * and incremental loads can maintain it additively.
    *
    * Scale: ten independent scan→agg pipelines (each a one-pass
    * partial-aggregated count+sum reading ONLY the key columns —
    * column pruning leaves >99% of a wide table unread), unioned at
    * one row each.
    */
  def q167IntegrityManifest(spark: SparkSession, dir: String): DataFrame =
    TablePk.map { case (table, pkExpr) =>
      Tables.all(table)(spark, dir)
        .select(expr(pkExpr).cast(LongType).as("pk"))
        .agg(count(lit(1)).as("n_rows"),
          (sum(checksumTerm(col("pk"))) % ChecksumMod).cast(LongType).as("pk_checksum"))
        .select(lit(table).as("table_name"), col("n_rows"), col("pk_checksum"))
    }.reduce(_ unionByName _).orderBy("table_name")

  /** q168 — PURGE CASCADE (right-to-be-forgotten audit): the deletion
    * set is every closed account (negative balance); the cascade
    * follows the FK graph customer → orders → lineitem and reports,
    * per entity, how many rows the purge removes and how many remain —
    * the audit record a deletion job must emit before the actual
    * delete runs. Spark-shaped as two LEFT SEMI joins: the customer
    * key set is dimension-sized (broadcast), the orders key set
    * shuffles once and the lineitem probe is the only big-table pass.
    * The complement (what a `q16`-style anti-join would keep) is
    * `n_total - n_purged` — counted, not re-scanned.
    */
  def q168PurgeCascade(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val orders = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val delCust = cust.filter(col("c_acctbal") < 0).select("c_custkey")
    val delOrders = orders.join(broadcast(delCust),
      orders("o_custkey") === delCust("c_custkey"), "left_semi").select("o_orderkey")
    val delLi = li.join(delOrders,
      li("l_orderkey") === delOrders("o_orderkey"), "left_semi")
    def row(entity: String, purged: DataFrame, total: DataFrame): DataFrame =
      purged.agg(count(lit(1)).as("n_purged"))
        .crossJoin(total.agg(count(lit(1)).as("n_total")))
        .select(lit(entity).as("entity"), col("n_purged"), col("n_total"),
          (col("n_total") - col("n_purged")).as("n_remaining"))
    row("customer", delCust, cust)
      .unionByName(row("orders", delOrders, orders))
      .unionByName(row("lineitem", delLi, li))
      .orderBy("entity")
  }

  /** The FK edges of the warehouse graph (child table, child key,
    * parent table, parent key) — q169's referential checks and q168's
    * cascade read the same structure.
    */
  private[graft] val FkEdges: Seq[(String, String, String, String)] = Seq(
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"))

  /** Row-local not-null / range constraints per table, fused so each
    * table is scanned ONCE for all its row-local checks. The violation
    * predicate is a SQL string both engines parse identically (the
    * engine via `expr`, the oracle verbatim — q167's one-source-of-
    * truth pattern); a NULL predicate result is NOT a violation,
    * matching SQL CHECK semantics.
    */
  private[graft] val RowConstraints: Seq[(String, Seq[(String, String)])] = Seq(
    "events" -> Seq(
      "event_type_not_null" -> "event_type IS NULL",
      "value_non_negative" -> "value < 0"),
    "documents" -> Seq("text_not_null" -> "text IS NULL"),
    "orders" -> Seq("orderdate_not_null" -> "o_orderdate IS NULL"),
    "lineitem" -> Seq(
      "quantity_range" -> "l_quantity < 1 OR l_quantity > 50",
      "discount_range" -> "l_discount < 0 OR l_discount > 0.1"))

  /** q169 — DATA-QUALITY AUDIT (the Deequ-style constraint suite as a
    * standing job): one row per (table, constraint) with checked/
    * violation counts and a pass flag, across three constraint
    * classes:
    *  - `pk_unique` for every table ([[TablePk]]): Σ(cnt−1) over
    *    duplicated keys — one map-combinable groupBy per table;
    *  - `fk_<parent>` for every [[FkEdges]] edge: non-null child keys
    *    with no parent (LEFT ANTI count) — SQL FK semantics, a NULL
    *    child key passes;
    *  - row-local not-null/range checks ([[RowConstraints]]), all of a
    *    table's predicates counted in ONE pass and exploded to rows.
    *
    * Scale: every class is a single aggregate or anti-join per
    * table/edge — no windows, no joins beyond the FK probes, and the
    * biggest table (lineitem) is touched exactly three times (pk scan,
    * FK probe, fused row-local pass) regardless of how many row
    * constraints it carries.
    */
  def q169DqAudit(spark: SparkSession, dir: String): DataFrame = {
    // uniqueness is checked among NON-NULL keys (Σ(cnt−1) over non-null
    // groups ≡ the oracle's count(pk) − count(DISTINCT pk)); NULL keys
    // are a NOT NULL violation, not a uniqueness one, and counting the
    // whole NULL group as one key would under- or over-report depending
    // on the engine's DISTINCT-NULL convention
    val pkRows = TablePk.map { case (t, pk) =>
      Tables.all(t)(spark, dir)
        .select(expr(pk).cast(LongType).as("pk"))
        .groupBy("pk").agg(count(lit(1)).as("cnt"))
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_checked"),
          coalesce(sum(when(col("pk").isNotNull, col("cnt") - 1).otherwise(0L)), lit(0L))
            .as("n_violations"))
        .select(lit(t).as("table_name"), lit("pk_unique").as("constraint_name"),
          col("n_checked"), col("n_violations"))
    }
    val fkRows = FkEdges.map { case (ct, ck, pt, pk) =>
      val child = Tables.all(ct)(spark, dir).select(col(ck).cast(LongType).as("k"))
      val parent = Tables.all(pt)(spark, dir).select(col(pk).cast(LongType).as("p"))
      val orphans = child.filter(col("k").isNotNull)
        .join(parent, col("k") === col("p"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
      child.agg(count(lit(1)).as("n_checked"))
        .crossJoin(broadcast(orphans))
        .select(lit(ct).as("table_name"), lit(s"fk_$pt").as("constraint_name"),
          col("n_checked"), col("n_violations"))
    }
    val localRows = RowConstraints.map { case (t, cs) =>
      val aggs = cs.map { case (n, cond) => sum(when(expr(cond), 1L).otherwise(0L)).as(n) }
      Tables.all(t)(spark, dir)
        .agg(count(lit(1)).as("n_checked"), aggs: _*)
        .select(col("n_checked"), explode(array(cs.map { case (n, _) =>
          struct(lit(n).as("constraint_name"), coalesce(col(n), lit(0L)).as("n_violations"))
        }: _*)).as("s"))
        .select(lit(t).as("table_name"), col("s.constraint_name"),
          col("n_checked"), col("s.n_violations"))
    }
    (pkRows ++ fkRows ++ localRows).reduce(_ unionByName _)
      .withColumn("pass", col("n_violations") === 0L)
      .orderBy("table_name", "constraint_name")
  }

  /** Profiled columns per table for [[q170TableProfile]]: (column,
    * isNumeric). The q169/q167 one-source-of-truth pattern — the
    * oracle SQL is generated from this same list.
    */
  private[graft] val ProfileColumns: Seq[(String, Seq[(String, Boolean)])] = Seq(
    "customer" -> Seq("c_acctbal" -> true, "c_mktsegment" -> false),
    "documents" -> Seq("lang" -> false, "source" -> false),
    "events" -> Seq("event_type" -> false, "value" -> true),
    "lineitem" -> Seq("l_quantity" -> true, "l_returnflag" -> false),
    "orders" -> Seq("o_orderstatus" -> false, "o_totalprice" -> true))

  /** q170 — TABLE PROFILE (the ANALYZE-TABLE statistics job): one row
    * per profiled column with row/null/exact-distinct counts and
    * type-appropriate extremes (numeric min/max as DOUBLE — raw
    * values, no arithmetic, so they hash-compare exactly; string
    * min/max under binary collation; total string length as the
    * size-estimation input). ALL of a table's columns profile in ONE
    * scan: the multi-column exact distincts compile to a single
    * Expand + aggregate, and the struct-array explode fans the one
    * result row out per column. Exact distinct is the oracle-checkable
    * profile; the sketch swap-in at 100 TB is q47's HLL family.
    */
  def q170TableProfile(spark: SparkSession, dir: String): DataFrame =
    ProfileColumns.map { case (t, cols) =>
      val aggs = cols.flatMap { case (c, isNum) =>
        Seq(count(col(c)).as(s"nn_$c"), countDistinct(col(c)).as(s"nd_$c"),
          min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c")) ++
          (if (!isNum) Seq(sum(length(col(c))).as(s"len_$c")) else Nil)
      }
      Tables.all(t)(spark, dir)
        .agg(count(lit(1)).as("n_rows"), aggs: _*)
        .select(col("n_rows"), explode(array(cols.map { case (c, isNum) =>
          struct(
            lit(c).as("column_name"),
            lit(if (isNum) "num" else "str").as("kind"),
            (col("n_rows") - col(s"nn_$c")).as("n_nulls"),
            col(s"nd_$c").as("n_distinct"),
            (if (isNum) col(s"mn_$c").cast("double") else lit(null).cast("double")).as("min_num"),
            (if (isNum) col(s"mx_$c").cast("double") else lit(null).cast("double")).as("max_num"),
            (if (isNum) lit(null).cast("string") else col(s"mn_$c").cast("string")).as("min_str"),
            (if (isNum) lit(null).cast("string") else col(s"mx_$c").cast("string")).as("max_str"),
            (if (isNum) lit(null).cast(LongType) else coalesce(col(s"len_$c"), lit(0L))).as("total_len"))
        }: _*)).as("s"))
        .select(lit(t).as("table_name"), col("s.column_name"), col("s.kind"),
          col("n_rows"), col("s.n_nulls"), col("s.n_distinct"),
          col("s.min_num"), col("s.max_num"), col("s.min_str"), col("s.max_str"),
          col("s.total_len"))
    }.reduce(_ unionByName _).orderBy("table_name", "column_name")

  /** q173 — INDEX COVERAGE: the corpus↔vector-index drift audit — docs
    * with no embedding (the ANN index is stale: new docs unsearchable),
    * vectors with no doc (deleted docs still surfacing from the
    * index), dimension extremes (a mixed-dim index breaks every dot
    * product) and zero vectors (a broken encoder emits them; cosine
    * against them is undefined). One FULL OUTER equi-join on the id +
    * ONE aggregate — presence flags and per-vector facts (dim,
    * zero-ness) are row-local, so the whole audit is join + partial
    * agg, no scalar-subquery fan-out.
    */
  def q173IndexCoverage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id").as("id"), lit(1L).as("has_doc"))
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), lit(1L).as("has_vec"),
        size(col("embedding")).cast(LongType).as("dim"),
        when(not(exists(col("embedding"), x => x =!= 0.0f)), 1L).otherwise(0L).as("is_zero"))
    docs.join(vecs, Seq("id"), "full_outer")
      .agg(
        coalesce(sum(col("has_doc")), lit(0L)).as("n_docs"),
        coalesce(sum(col("has_vec")), lit(0L)).as("n_vecs"),
        coalesce(sum(when(col("has_vec").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_docs_without_vec"),
        coalesce(sum(when(col("has_doc").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_vecs_without_doc"),
        min(col("dim")).as("min_dim"),
        max(col("dim")).as("max_dim"),
        coalesce(sum(col("is_zero")), lit(0L)).as("n_zero_vectors"))
  }

  /** q178 — MERKLE BUCKET MANIFEST: q167's replica-compare artifact at
    * repair granularity. Each row buckets by its checksum term mod 256
    * (hash-uniform — structured key ranges spread evenly), and the
    * manifest carries per-(table, bucket) row counts and mod-p
    * checksums. Two replicas that disagree compare ~256 rows per
    * table, then exchange ONLY the differing buckets' rows — the
    * anti-entropy repair loop every replicated store runs, and the
    * reason a mismatch never triggers a full-table resend. Same
    * additive-maintenance property as q167 (the bucket sum is
    * commutative and survives mod p), one key-column scan per table,
    * every groupBy partial-aggregated map-side to ≤256 rows. Rows with
    * a NULL key land in a NULL bucket (counted, checksum NULL) so the
    * manifest still covers them.
    */
  def q178MerkleManifest(spark: SparkSession, dir: String): DataFrame =
    // Shape note (rounds 10-11): the union-first alternative was
    // measured head-to-head in one JVM TWICE and lost both times —
    // round 10 with a (table_name, bucket) STRING key (ten-stage
    // 1.93-2.11 s vs 2.20-2.57 s), round 11 with the stronger packed
    // LONG key tbl_id·257+bucket over an int-tagged pre-agg union
    // (1.64 s vs 2.44 s, output-identical proven in-run, SCALING.md
    // §4). The per-table subplans each keep
    // a narrow scan → 256-group map-side partial agg in their own
    // codegen stage; the union forces one generic pipeline over the
    // widened stream. At real scale the per-table aggregates are
    // independent jobs a scheduler overlaps. The 11× rep-spread seen
    // in round-9 FULL-SUITE runs does not reproduce isolated (spread
    // ~1.2 over 8 reps for both shapes): it is inter-query
    // GC/page-cache pollution landing on the suite's widest multi-job
    // query, not a property of this plan.
    TablePk.map { case (table, pkExpr) =>
      Tables.all(table)(spark, dir)
        .select(expr(pkExpr).cast(LongType).as("pk"))
        .withColumn("bucket", (checksumTerm(col("pk")) % 256).cast(LongType))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          (sum(checksumTerm(col("pk"))) % ChecksumMod).cast(LongType).as("checksum"))
        .select(lit(table).as("table_name"), col("bucket"), col("n_rows"), col("checksum"))
    }.reduce(_ unionByName _).orderBy("table_name", "bucket")

  /** q214 — MANIFEST DIFF (anti-entropy repair plan): the CONSUMER of
    * [[q178MerkleManifest]]'s artifact — compare two replicas' bucket
    * manifests and emit, per bucket, both sides' counts and checksums
    * plus the `needs_repair` verdict; the repair loop then exchanges
    * ONLY flagged buckets' rows (at 256 buckets, a single lost row
    * re-sends ~1/256th of a table instead of all of it — exactly why
    * q178 buckets at repair granularity). Replica B is simulated
    * deterministically as the events table minus every 997th event id
    * (a mod drop — the oracle replays it), standing in for a replica
    * that missed a delivery; a production run substitutes two real
    * manifest reads and keeps the diff, which is the operator.
    *
    * Scale: two ≤256-row manifests (each built exactly like q178 —
    * key-column-only scan, map-combined to bucket rows) full-outer
    * joined on bucket — the diff itself never touches table rows, the
    * defining property of anti-entropy. Null-safe compares (`<=>`)
    * make a bucket PRESENT on one side only (possible when a whole
    * bucket's rows are missing) a repair, not a NULL verdict.
    */
  def q214ManifestDiff(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(col("event_id").cast(LongType).as("pk"))
    def manifest(rows: DataFrame, side: String): DataFrame = rows
      .withColumn("bucket", (checksumTerm(col("pk")) % 256).cast(LongType))
      .groupBy("bucket")
      .agg(count(lit(1)).as(s"n_$side"),
        (sum(checksumTerm(col("pk"))) % ChecksumMod).cast(LongType).as(s"ck_$side"))
    val a = manifest(e, "a")
    val b = manifest(e.filter(pmod(col("pk"), lit(997L)) =!= 0L), "b")
    a.join(b, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_a"), lit(0L)).as("n_rows_a"),
        coalesce(col("n_b"), lit(0L)).as("n_rows_b"),
        col("ck_a").as("checksum_a"), col("ck_b").as("checksum_b"),
        (!(col("n_a") <=> col("n_b")) || !(col("ck_a") <=> col("ck_b")))
          .as("needs_repair"))
      .orderBy("bucket")
  }

  /** q182 — JOIN-CARDINALITY AUDIT (q174's companion preflight): the
    * EXACT output size of every FK-edge join, computed WITHOUT running
    * the join — |child ⋈ parent| = Σ_k cnt_child(k)·cnt_parent(k) over
    * the two per-key count relations. The two reads every optimizer
    * estimate approximates, done exactly: `n_join_rows > n_child`
    * means parent keys are duplicated, i.e. what should be a
    * row-preserving FK lookup would EXPLODE (a PK violation q169's
    * uniqueness check prices in rows-out terms); `n_join_rows <
    * n_child_keyed` means orphaned children drop (q169's FK check in
    * the same units). Per-key counts shuffle at key cardinality (not
    * row size), the count-relation equi-join is the only join, and the
    * products accumulate in DECIMAL(38,0) so a 10⁹×10³ hot key cannot
    * overflow. NULL child keys never join — counted separately.
    */
  def q182JoinCardinality(spark: SparkSession, dir: String): DataFrame =
    FkEdges.map { case (child, ck, parent, pk) =>
      val c = Tables.all(child)(spark, dir).select(col(ck).as("k"))
      val p = Tables.all(parent)(spark, dir).select(col(pk).as("k"))
      val cCnt = c.filter(col("k").isNotNull).groupBy("k").agg(count(lit(1)).as("cc"))
      val pCnt = p.filter(col("k").isNotNull).groupBy("k").agg(count(lit(1)).as("pc"))
      val joined = cCnt.join(pCnt, "k")
        .agg(coalesce(sum(col("cc").cast(DecimalType(38, 0)) * col("pc")), lit(0L))
          .cast(LongType).as("n_join_rows"),
          coalesce(sum(col("cc")), lit(0L)).cast(LongType).as("n_matched_child"))
      c.agg(count(col("k")).as("n_child_keyed"),
          coalesce(sum(when(col("k").isNull, 1L).otherwise(0L)), lit(0L))
            .cast(LongType).as("n_child_null"))
        .crossJoin(p.agg(count(lit(1)).as("n_parent")))
        .crossJoin(joined)
        .select(lit(s"$child.$ck -> $parent.$pk").as("edge"),
          col("n_child_keyed"), col("n_child_null"), col("n_parent"),
          col("n_join_rows"),
          (col("n_join_rows") > col("n_child_keyed")).as("explodes"),
          (col("n_matched_child") < col("n_child_keyed")).as("drops_children"))
    }.reduce(_ unionByName _).orderBy("edge")

  /** The join-key columns the skew audit profiles — every key a
    * declared join in this library shuffles on (the FK edges' child
    * sides plus events' two power-law keys).
    */
  private[graft] val SkewKeys: Seq[(String, Seq[String])] = Seq(
    "orders" -> Seq("o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("user_id", "event_type"))

  /** q174 — JOIN-SKEW AUDIT: the pre-flight a 100 TB join runs before
    * choosing its physical shape. Per audited join key: row/null-key
    * counts, distinct-key count, the hottest key's row count and the
    * (deterministic) hottest key itself, plus `salt_recommended` —
    * whether the hottest key carries ≥4× the mean rows per key, i.e.
    * whether a plain hash join would send 4× the average partition to
    * one reducer (the straggler q37/q61's salting exists to kill).
    *
    * Shape: ONE scan per table reading only its audited key columns; a
    * struct-array explode fans each row to its (rel, key) terms, and
    * the per-key count groupBy partial-aggregates AFTER the explode, so
    * the shuffle is key-cardinality-sized, not row-sized. The stats
    * pass and the hottest-key argmin (join-back on `cnt = max`, min
    * key among ties — no window) both run on that keys-sized relation.
    * The skew decision is CROSS-MULTIPLIED into exact integer space
    * (`max·n_keys ≥ 4·n_nonnull` — q40's boundary-pinning trick): no
    * division, no overflow ambiguity, bit-identical in both engines at
    * any corpus size. At 100 TB the per-key count relation is the same
    * size class the join itself would shuffle; the swap-in when even
    * that is too big is a Misra-Gries / count-min heavy-hitter pass,
    * which this audit's contract (top key + threshold flag) is shaped
    * to accept.
    */
  def q174JoinSkewAudit(spark: SparkSession, dir: String): DataFrame =
    skewReadout(SkewKeys.map { case (t, cols) =>
      Tables.all(t)(spark, dir)
        .select(explode(array(cols.map(c =>
          struct(lit(s"$t.$c").as("rel"), col(c).cast(StringType).as("k"))): _*)).as("x"))
        .select("x.*")
    }.reduce(_ unionByName _)
      .groupBy("rel", "k").agg(count(lit(1)).as("cnt")))

  /** q174's readout over a per-key count relation (rel, k, cnt): the
    * per-relation stats, the hottest key and the salt verdict.
    */
  private[graft] def skewReadout(perKey: DataFrame): DataFrame = {
    val stats = perKey.groupBy("rel").agg(
      sum(col("cnt")).cast(LongType).as("n_rows"),
      coalesce(sum(when(col("k").isNull, col("cnt"))), lit(0L)).cast(LongType)
        .as("n_null_rows"),
      count(col("k")).as("n_keys"),
      max(when(col("k").isNotNull, col("cnt"))).as("max_rows_per_key"))
    val hot = perKey
      .join(stats.select(col("rel"), col("max_rows_per_key").as("mx")), Seq("rel"))
      .filter(col("k").isNotNull && col("cnt") === col("mx"))
      .groupBy("rel").agg(min(col("k")).as("hot_key"))
    stats.join(hot, Seq("rel"), "left")
      .select(col("rel"), col("n_rows"), col("n_null_rows"), col("n_keys"),
        col("max_rows_per_key"), col("hot_key"),
        (col("max_rows_per_key").cast(DecimalType(38, 0)) * col("n_keys") >=
          (col("n_rows") - col("n_null_rows")).cast(DecimalType(38, 0)) * 4)
          .as("salt_recommended"))
      .orderBy("rel")
  }

  /** Candidate functional dependencies [[q199FdDiscovery]] tests:
    * (table, lhs, rhs) — a declared list, the q169/q170
    * one-source-of-truth pattern (the oracle SQL generates from the
    * same rows). Mix of expected-true (key → attribute) and
    * expected-false (the data decides) candidates.
    */
  private[graft] val FdCandidates: Seq[(String, String, String)] = Seq(
    ("customer", "c_custkey", "c_mktsegment"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("documents", "doc_id", "lang"),
    ("documents", "source", "lang"),
    ("events", "event_type", "user_id"),
    ("lineitem", "l_orderkey", "l_returnflag"),
    ("nation", "n_nationkey", "n_regionkey"),
    ("orders", "o_custkey", "o_orderstatus"),
    ("orders", "o_orderkey", "o_orderpriority"))

  /** q199 — FUNCTIONAL-DEPENDENCY DISCOVERY: the metadata-mining
    * sibling of q170's column profile — does A determine B in the
    * data? (A → B ⟺ no A-value co-occurs with two distinct Bs.) The
    * read feeds three consumers: schema normalization (an FD that
    * always holds is a table waiting to be factored out), optimizer
    * statistics (FDs license group-by pruning), and drift monitoring
    * (q185's schema drift catches type changes; a BROKEN FD catches
    * semantic changes — "order status suddenly varies per customer").
    * Output per declared candidate: distinct LHS values, the number
    * of LHS values with ≥2 distinct RHS (the violation witnesses a
    * repair would target), and the verdict.
    *
    * Shape: per candidate, groupBy(LHS) + count-distinct(RHS)
    * partial-aggregates at (LHS, RHS)-distinct cardinality, then ONE
    * summary row — candidates are a declared catalog-sized list, so
    * the union is bounded. NULL LHS rows determine nothing (excluded);
    * NULL RHS follows count-distinct semantics (ignored) — both
    * mirrored in the oracle.
    */
  def q199FdDiscovery(spark: SparkSession, dir: String): DataFrame =
    FdCandidates.map { case (t, a, b) =>
      Tables.all(t)(spark, dir)
        .filter(col(a).isNotNull)
        .groupBy(col(a)).agg(countDistinct(col(b)).as("nb"))
        .agg(count(lit(1)).as("n_lhs"),
          coalesce(sum(when(col("nb") > 1L, 1L).otherwise(0L)), lit(0L)).as("n_violating_lhs"))
        .select(lit(t).as("table_name"), lit(a).as("lhs"), lit(b).as("rhs"),
          col("n_lhs"), col("n_violating_lhs"),
          (col("n_violating_lhs") === 0L).as("fd_holds"))
    }.reduce(_ unionByName _).orderBy("table_name", "lhs", "rhs")

  /** The k-anonymity threshold for [[q194KAnonymity]] — the
    * conventional floor below which an equivalence class is considered
    * re-identifiable.
    */
  val KAnonThreshold: Long = 5L

  /** q194 — K-ANONYMITY AUDIT: the release gate a dataset passes
    * before a quasi-identifier projection ships (the privacy
    * counterpart of q63's PII scrub: scrubbing removes DIRECT
    * identifiers; this measures whether the remaining columns still
    * single people out IN COMBINATION). Quasi-identifiers: nation ×
    * market segment × account-balance band (floor(acctbal/1000) — the
    * generalization hierarchy's coarsening step). Per equivalence
    * class: size, `k_anonymous` (size ≥ 5 — a smaller class
    * re-identifies its members by linkage), and the l-diversity read
    * on the sensitive EXACT balance: `l_distinct` counts distinct
    * balances inside the class, and a `homogeneous` class (l = 1)
    * discloses every member's exact balance even when k holds — the
    * homogeneity attack the band was supposed to prevent.
    *
    * Shape: ONE scan, one groupBy at quasi-identifier-combination
    * cardinality; the exact count-distinct collapses at
    * (class, value) cardinality first (partial-aggregated — never
    * row-sized past the first combine), everything else is
    * map-combinable. Fixing a violation = coarsening a band or
    * suppressing the class, then re-running the same audit; both
    * engines floor the identical IEEE division, so bands agree
    * bit-for-bit.
    */
  def q194KAnonymity(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_nationkey").as("nation_key"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") / lit(1000.0)).as("bal_bucket"),
        col("c_acctbal"))
      .groupBy("nation_key", "segment", "bal_bucket")
      .agg(count(lit(1)).as("class_size"),
        countDistinct(col("c_acctbal")).as("l_distinct"))
      .withColumn("k_anonymous", col("class_size") >= lit(KAnonThreshold))
      .withColumn("homogeneous", col("l_distinct") === 1L)
      .orderBy("nation_key", "segment", "bal_bucket")
}
