package graft.ops

import graft.{SparkSpecBase, Tables}
import org.apache.spark.sql.Row

/** Semantic specs for the governance audits (q167 integrity manifest,
  * q168 purge cascade): hand-computed checksum values, row-order /
  * partitioning invariance, the FK cascade on a hand-checkable graph,
  * and the empty-warehouse degenerate (first run of a new replica).
  */
class AuditSpec extends SparkSpecBase {

  private val P = Audit.ChecksumMod
  private val K = Audit.KnuthMult

  /** Independent BigInt reimplementation of the manifest checksum. */
  private def expectedChecksum(keys: Seq[Long]): Long =
    if (keys.isEmpty) -1L
    else (keys.map(k => BigInt(k % P) * K % P).sum % P).toLong

  test("q167 manifest: counts match the tables; checksums match an independent BigInt computation") {
    val dir = tmpDir()
    writeWarehouse(dir)
    val m = Audit.q167IntegrityManifest(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(m("region") == ((2L, expectedChecksum(Seq(0L, 1L)))))
    assert(m("customer") == ((3L, expectedChecksum(Seq(1L, 2L, 3L)))))
    // lineitem's composite key packs as orderkey*10 + linenumber
    assert(m("lineitem") == ((1L, expectedChecksum(Seq(100L * 10 + 1)))))
    assert(m.keySet == Audit.TablePk.map(_._1).toSet)
  }

  test("q167 manifest: checksum is row-order and partitioning independent") {
    val d1 = tmpDir(); val d2 = tmpDir()
    val keys = Seq(101L, 7L, 999999999999L, 42L)
    writeWarehouse(d1, custKeys = keys)
    writeWarehouse(d2, custKeys = keys.reverse)
    // d2 also re-partitions the reversed rows differently
    val shuffled = df(Tables.customerSchema,
      keys.reverse.map(k => Row(k, s"c$k", 0, 1.0, "SEG")): _*).repartition(3)
    shuffled.write.mode("overwrite").parquet(s"$d2/customer.parquet")
    def cust(d: String) = Audit.q167IntegrityManifest(spark, d).collect()
      .find(_.getString(0) == "customer").get
    assert(cust(d1).getLong(2) == cust(d2).getLong(2))
    assert(cust(d1).getLong(2) == expectedChecksum(keys))
  }

  test("q168 cascade: FK graph customer→orders→lineitem, counts per entity") {
    val dir = tmpDir()
    write(dir, "customer", df(Tables.customerSchema,
      Row(1L, "c1", 0, -5.0, "SEG"), // closed → purged
      Row(2L, "c2", 0, 10.0, "SEG"),
      Row(3L, "c3", 0, -1.0, "SEG"))) // closed → purged
    write(dir, "orders", df(Tables.ordersSchema,
      Seq((100L, 1L), (101L, 2L), (102L, 3L), (103L, 1L)).map { case (o, c) =>
        Row(o, c, "O", 1.0, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "1-URGENT")
      }: _*))
    write(dir, "lineitem", df(Tables.lineitemSchema,
      Seq((100L, 1), (100L, 2), (101L, 1), (102L, 1)).map { case (o, ln) =>
        Row(o, 9L, 7L, ln, 1.0, 2.0, 0.0, 0.0, "N", "O",
          java.sql.Timestamp.valueOf("2024-01-02 00:00:00"))
      }: _*))
    val out = Audit.q168PurgeCascade(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out == Map(
      "customer" -> ((2L, 3L, 1L)),
      "orders" -> ((3L, 4L, 1L)),
      "lineitem" -> ((3L, 4L, 1L))), out)
  }

  test("q174 skew audit: counts, hot-key min-tiebreak, null keys excluded, cross-multiplied flag") {
    val dir = tmpDir()
    writeWarehouse(dir)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // events: user 7 carries 4 of the 8 non-null-user rows (5 distinct
    // users), one row has a NULL user; 8 clicks + 1 view
    val evRows = (1 to 8).map(i =>
      Row(i.toLong, ts, if (i <= 4) 7L else 100L + i, "click", 1.0, "{}")) :+
      Row(9L, ts, null, "view", 1.0, "{}")
    write(dir, "events", df(Tables.eventsSchema, evRows: _*))
    val out = Audit.q174JoinSkewAudit(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("orders.o_custkey", "lineitem.l_orderkey",
      "lineitem.l_partkey", "lineitem.l_suppkey", "events.user_id",
      "events.event_type"))
    val u = out("events.user_id")
    assert(u.getLong(1) == 9L && u.getLong(2) == 1L) // 9 rows, 1 null-key row
    assert(u.getLong(3) == 5L)                       // 7, 105..108
    assert(u.getLong(4) == 4L && u.getString(5) == "7")
    // flag follows max*n_keys >= 4*(n_rows - n_nulls): 4*5 >= 4*8 → false
    assert(!u.getBoolean(6))
    val t = out("events.event_type")
    assert(t.getLong(1) == 9L && t.getLong(2) == 0L && t.getLong(3) == 2L)
    assert(t.getLong(4) == 8L && t.getString(5) == "click")
    assert(!t.getBoolean(6)) // 8*2 >= 4*9 → false
  }

  test("q174 skew audit: hot-key ties resolve to the STRING-min key") {
    val dir = tmpDir()
    writeWarehouse(dir)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // users 7 and 105 tie at 2 rows each → "105" < "7" as strings
    val rows = Seq(7L, 7L, 105L, 105L).zipWithIndex.map { case (uid, i) =>
      Row(i.toLong, ts, uid, "click", 1.0, "{}")
    }
    write(dir, "events", df(Tables.eventsSchema, rows: _*))
    val u = Audit.q174JoinSkewAudit(spark, dir).collect()
      .find(_.getString(0) == "events.user_id").get
    assert(u.getLong(4) == 2L && u.getString(5) == "105")
  }

  test("q174 skew audit: a 4x-mean hot key flips salt_recommended") {
    val dir = tmpDir()
    writeWarehouse(dir)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // 10 rows for user 1, one row each for users 2..5 → 14 rows, 5 keys,
    // max 10: 10*5 = 50 >= 4*14 = 56? No. Push to 20 rows hot:
    // 20+4 = 24 rows, 5 keys, max 20: 100 >= 96 → true.
    val rows = (1 to 20).map(i => Row(i.toLong, ts, 1L, "click", 1.0, "{}")) ++
      (2 to 5).map(u => Row(100L + u, ts, u.toLong, "click", 1.0, "{}"))
    write(dir, "events", df(Tables.eventsSchema, rows: _*))
    val u = Audit.q174JoinSkewAudit(spark, dir).collect()
      .find(_.getString(0) == "events.user_id").get
    assert(u.getLong(4) == 20L && u.getString(5) == "1" && u.getBoolean(6))
  }

  test("q178 merkle manifest: buckets roll up to the q167 checksum; one changed row touches one bucket") {
    val d1 = tmpDir(); val d2 = tmpDir()
    val keys = (1L to 50L)
    writeWarehouse(d1, custKeys = keys)
    writeWarehouse(d2, custKeys = keys :+ 9999L) // one extra row on the replica
    def cust(d: String) = Audit.q178MerkleManifest(spark, d).collect()
      .filter(_.getString(0) == "customer")
      .map(r => (if (r.isNullAt(1)) -1L else r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    val (m1, m2) = (cust(d1), cust(d2))
    // bucket checksums sum (mod p) to the table-level q167 checksum
    val table1 = Audit.q167IntegrityManifest(spark, d1).collect()
      .find(_.getString(0) == "customer").get.getLong(2)
    assert(m1.values.map(v => BigInt(v._2)).sum % P == table1)
    // the replica with one extra row differs in EXACTLY one bucket —
    // the repair set is that bucket, not the table
    val allBuckets = m1.keySet ++ m2.keySet
    val diff = allBuckets.filter(b => m1.get(b) != m2.get(b))
    assert(diff.size == 1, s"diff=$diff")
    assert(m2(diff.head)._1 == m1.getOrElse(diff.head, (0L, 0L))._1 + 1)
  }

  test("q178 merkle manifest: NULL keys land in the NULL bucket, counted with NULL checksum") {
    val dir = tmpDir()
    writeWarehouse(dir)
    write(dir, "customer", df(Tables.customerSchema,
      Row(1L, "c1", 0, 1.0, "SEG"), Row(null, "cx", 0, 1.0, "SEG"),
      Row(null, "cy", 0, 1.0, "SEG")))
    val rows = Audit.q178MerkleManifest(spark, dir).collect()
      .filter(_.getString(0) == "customer")
    val nullRow = rows.filter(_.isNullAt(1))
    assert(nullRow.length == 1 && nullRow.head.getLong(2) == 2L && nullRow.head.isNullAt(3))
    assert(rows.filterNot(_.isNullAt(1)).map(_.getLong(2)).sum == 1L)
  }

  test("q182 join cardinality: exact product counts, explosion on dup parent, drop on orphan") {
    val dir = tmpDir()
    writeWarehouse(dir)
    // orders edge: 4 orders over custkeys 1,1,2,9 — 9 is an orphan (no
    // such customer) and customer 1 is DUPLICATED in its table, so the
    // FK lookup both explodes (2 orders x 2 copies = 4 + 1 = 5 > 4
    // keyed - 1 orphan... exact: joins = 2*2 + 1*1 = 5 > 4) and drops
    // the orphan (matched 3 < 4)
    write(dir, "customer", df(Tables.customerSchema,
      Row(1L, "c1", 0, 1.0, "SEG"), Row(1L, "c1b", 0, 1.0, "SEG"),
      Row(2L, "c2", 0, 1.0, "SEG")))
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    write(dir, "orders", df(Tables.ordersSchema,
      Seq((100L, 1L), (101L, 1L), (102L, 2L), (103L, 9L)).map { case (o, c) =>
        Row(o, c, "O", 1.0, ts, "1-URGENT")
      }: _*))
    val e = Audit.q182JoinCardinality(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val oc = e("orders.o_custkey -> customer.c_custkey")
    assert(oc.getLong(1) == 4L && oc.getLong(2) == 0L && oc.getLong(3) == 3L)
    assert(oc.getLong(4) == 5L) // 2 orders x 2 customer copies + 1 x 1
    assert(oc.getBoolean(5) && oc.getBoolean(6), oc)
    // the untouched region edge stays clean: row-preserving, no drops
    val nr = e("nation.n_regionkey -> region.r_regionkey")
    assert(nr.getLong(4) == nr.getLong(1) && !nr.getBoolean(5) && !nr.getBoolean(6), nr)
  }

  test("q182 join cardinality: NULL child keys counted separately, never joined") {
    val dir = tmpDir()
    writeWarehouse(dir)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    write(dir, "orders", df(Tables.ordersSchema,
      Row(100L, 1L, "O", 1.0, ts, "1-URGENT"),
      Row(101L, null, "O", 1.0, ts, "1-URGENT")))
    val oc = Audit.q182JoinCardinality(spark, dir).collect()
      .find(_.getString(0) == "orders.o_custkey -> customer.c_custkey").get
    assert(oc.getLong(1) == 1L && oc.getLong(2) == 1L && oc.getLong(4) == 1L, oc)
  }

  test("q169 DQ audit: injected violations count per constraint class; clean constraints pass") {
    val dir = tmpDir()
    writeWarehouse(dir)
    // duplicate customer key 1 → pk_unique Σ(cnt−1) = 2 extra copies;
    // two NULL keys are NOT uniqueness violations (they are a NOT NULL
    // problem — the oracle's count(pk) − count(DISTINCT pk) convention)
    write(dir, "customer", df(Tables.customerSchema,
      Row(1L, "c1", 0, 1.0, "SEG"), Row(1L, "c1b", 0, 1.0, "SEG"),
      Row(1L, "c1c", 0, 1.0, "SEG"), Row(2L, "c2", 0, 1.0, "SEG"),
      Row(null, "cx", 0, 1.0, "SEG"), Row(null, "cy", 0, 1.0, "SEG")))
    // one orphaned order (custkey 99) + one NULL-key order (passes FK)
    write(dir, "orders", df(Tables.ordersSchema,
      Row(100L, 1L, "O", 10.0, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "1"),
      Row(101L, 99L, "O", 10.0, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "1"),
      Row(102L, null, "O", 10.0, null, "1"))) // also a NULL orderdate
    // lineitem: quantity 99 out of range, discount 0.5 out of range
    write(dir, "lineitem", df(Tables.lineitemSchema,
      Row(100L, 9L, 7L, 1, 99.0, 2.0, 0.5, 0.0, "N", "O",
        java.sql.Timestamp.valueOf("2024-01-02 00:00:00")),
      Row(100L, 9L, 7L, 2, 10.0, 2.0, 0.05, 0.0, "N", "O",
        java.sql.Timestamp.valueOf("2024-01-02 00:00:00"))))
    // events: one NULL type, one negative value
    write(dir, "events", df(Tables.eventsRawSchema,
      Row(1L, 1704067200L * Ns, 1L, null, 1.0, "{}"),
      Row(2L, 1704067200L * Ns, 1L, "click", -3.0, "{}")))
    val out = Audit.q169DqAudit(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(out(("customer", "pk_unique")) == ((6L, 2L, false)))
    assert(out(("orders", "fk_customer")) == ((3L, 1L, false))) // NULL key passes
    assert(out(("orders", "orderdate_not_null")) == ((3L, 1L, false)))
    assert(out(("lineitem", "quantity_range")) == ((2L, 1L, false)))
    assert(out(("lineitem", "discount_range")) == ((2L, 1L, false)))
    assert(out(("events", "event_type_not_null")) == ((2L, 1L, false)))
    assert(out(("events", "value_non_negative")) == ((2L, 1L, false)))
    // untouched constraints stay green
    assert(out(("lineitem", "fk_orders"))._3 && out(("region", "pk_unique"))._3)
    assert(out.size == Audit.TablePk.size + Audit.FkEdges.size +
      Audit.RowConstraints.map(_._2.size).sum)
  }

  test("q170 profile: nulls, exact distincts, typed extremes and string lengths on a hand fixture") {
    val dir = tmpDir()
    writeWarehouse(dir)
    write(dir, "customer", df(Tables.customerSchema,
      Row(1L, "a", 0, 5.5, "AAA"), Row(2L, "b", 0, null, "BB"),
      Row(3L, "c", 0, 2.0, "AAA"), Row(4L, "d", 0, 5.5, null)))
    val out = Audit.q170TableProfile(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val bal = out(("customer", "c_acctbal"))
    assert(bal.getString(2) == "num" && bal.getLong(3) == 4L && bal.getLong(4) == 1L)
    assert(bal.getLong(5) == 2L && bal.getDouble(6) == 2.0 && bal.getDouble(7) == 5.5)
    assert(bal.isNullAt(8) && bal.isNullAt(9) && bal.isNullAt(10))
    val seg = out(("customer", "c_mktsegment"))
    assert(seg.getString(2) == "str" && seg.getLong(4) == 1L && seg.getLong(5) == 2L)
    assert(seg.getString(8) == "AAA" && seg.getString(9) == "BB")
    assert(seg.getLong(10) == 8L && seg.isNullAt(6) && seg.isNullAt(7)) // 3+2+3 chars
    assert(out.keySet == Audit.ProfileColumns.flatMap { case (t, cs) =>
      cs.map(c => (t, c._1)) }.toSet)
  }

  test("q173 index coverage: orphans both ways, dim drift, zero vector detected") {
    val dir = tmpDir()
    writeDocuments(dir,
      (1L, "a", "en", "web", 1L), (2L, "b", "en", "web", 1L), (3L, "c", "en", "web", 1L))
    writeEmbeddings(dir,
      (2L, Seq(1.0f, 0.0f), 0),       // covered, dim 2
      (3L, Seq(0.0f, 0.0f, 0.0f), 1), // covered, dim 3, ZERO vector
      (4L, Seq(2.0f, 1.0f), 0))       // orphan vector
    val r = Audit.q173IndexCoverage(spark, dir).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((3L, 3L, 1L, 1L)), r)
    assert((r.getLong(4), r.getLong(5), r.getLong(6)) == ((2L, 3L, 1L)), r)
  }

  test("empty warehouse: manifest rows carry n_rows=0 with NULL checksum; cascade reports zeros") {
    val dir = tmpDir()
    writeEmptyWarehouse(dir)
    val m = Audit.q167IntegrityManifest(spark, dir).collect()
    assert(m.length == Audit.TablePk.length)
    assert(m.forall(r => r.getLong(1) == 0L && r.isNullAt(2)), m.toSeq)
    val c = Audit.q168PurgeCascade(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(c.toSeq == Seq(("customer", 0L, 0L, 0L), ("lineitem", 0L, 0L, 0L),
      ("orders", 0L, 0L, 0L)), c.toSeq)
    // DQ audit: zero checked, zero violations, everything passes
    val dq = Audit.q169DqAudit(spark, dir).collect()
    assert(dq.forall(r => r.getLong(2) == 0L && r.getLong(3) == 0L && r.getBoolean(4)))
    // profile: zero rows, zero distincts, NULL extremes, zero total_len
    val prof = Audit.q170TableProfile(spark, dir).collect()
    assert(prof.forall(r => r.getLong(3) == 0L && r.getLong(5) == 0L &&
      r.isNullAt(6) && r.isNullAt(8)))
    // index coverage: one all-zero row with NULL dims
    val cov = Audit.q173IndexCoverage(spark, dir).head()
    assert((0 to 3).forall(i => cov.getLong(i) == 0L) && cov.isNullAt(4) &&
      cov.isNullAt(5) && cov.getLong(6) == 0L, cov)
    // skew audit: no rows at all (nothing to profile), not a crash
    assert(Audit.q174JoinSkewAudit(spark, dir).count() == 0L)
    // k-anonymity: no customers, no classes
    assert(Audit.q194KAnonymity(spark, dir).count() == 0L)
    // FD discovery: every candidate audits, vacuously holds
    val fd = Audit.q199FdDiscovery(spark, dir).collect()
    assert(fd.length == Audit.FdCandidates.length)
    assert(fd.forall(r => r.getLong(3) == 0L && r.getLong(4) == 0L && r.getBoolean(5)))
    // join cardinality: one all-zero, unflagged row per DECLARED FK
    // edge, never a dropped edge
    val card = Audit.q182JoinCardinality(spark, dir).collect().map(_.toSeq).toSeq
    assert(card.length == Audit.FkEdges.length && card.forall(r =>
      r.drop(1).take(4).forall(_ == 0L) && r(5) == false && r(6) == false), card)
  }

  test("q199 FD discovery: key FD holds, non-key FD breaks with a counted witness, NULL LHS excluded") {
    val dir = tmpDir()
    writeWarehouse(dir)
    write(dir, "customer", df(Tables.customerSchema,
      Row(1L, "c1", 0, 1.0, "SEG"), // nation 0 → SEG ...
      Row(2L, "c2", 0, 1.0, "OTH"), // ... and OTH: c_nationkey ↛ c_mktsegment
      Row(3L, "c3", 1, 1.0, "SEG"),
      Row(4L, "c4", 1, 1.0, "SEG"),
      Row(5L, "c5", null, 1.0, "SEG"))) // NULL LHS determines nothing
    val out = Audit.q199FdDiscovery(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        ((r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    // the key FD: every custkey (incl. the NULL-nation row) maps to one segment
    assert(out(("customer", "c_custkey", "c_mktsegment")) == ((5L, 0L, true)), out)
    // exactly one violating LHS value (nation 0); the NULL row is not an LHS value
    assert(out(("customer", "c_nationkey", "c_mktsegment")) == ((2L, 1L, false)), out)
    assert(out.size == Audit.FdCandidates.length)
  }

  test("q194 k-anonymity: class sizes, negative-band flooring, homogeneity disclosure") {
    val dir = tmpDir()
    writeWarehouse(dir)
    write(dir, "customer", df(graft.Tables.customerSchema,
      // class (0, SEG, 0): 5 members, 5 distinct balances — k holds, diverse
      Row(1L, "c1", 0, 100.0, "SEG"), Row(2L, "c2", 0, 200.0, "SEG"),
      Row(3L, "c3", 0, 300.0, "SEG"), Row(4L, "c4", 0, 400.0, "SEG"),
      Row(5L, "c5", 0, 500.0, "SEG"),
      // class (0, SEG, -1): floor(-500/1000) = -1 (floored, not
      // truncated-to-zero); 2 members with the SAME balance — too
      // small AND the band discloses the exact value
      Row(6L, "c6", 0, -500.0, "SEG"), Row(7L, "c7", 0, -500.0, "SEG"),
      // class (1, OTH, 1): singleton — trivially homogeneous
      Row(8L, "c8", 1, 1500.0, "OTH")))
    val out = Audit.q194KAnonymity(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4), r.getBoolean(5), r.getBoolean(6))).toMap
    assert(out((0, "SEG", 0L)) == ((5L, 5L, true, false)), out)
    assert(out((0, "SEG", -1L)) == ((2L, 1L, false, true)), out)
    assert(out((1, "OTH", 1L)) == ((1L, 1L, false, true)), out)
    assert(out.size == 3)
  }

  test("q214 manifest diff: dropped ids flag exactly their buckets; a bucket missing on one side reads zero rows, not NULL verdicts") {
    val dir = tmpDir()
    val T0 = 1704067200L * Ns
    // ids 0 and 997 are the mod-997 drops; id 0 is ALONE in bucket 0
    // (term(0) = 0), so replica B misses that bucket entirely — the
    // full-outer edge; id 997's bucket collides with id 1's (both land
    // on 163), exercising a partially-diverged bucket
    val ids = Seq(0L, 1L, 2L, 3L, 4L, 5L, 997L)
    writeEvents(dir, ids.map(i => (i, T0 + i * Ns, 1L, "a", 0.0, "{}")): _*)
    val out = Audit.q214ManifestDiff(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        r.getBoolean(5)))).toMap
    def man(s: Seq[Long]) = s.groupBy(i => Audit.checksumTermLong(i) % 256)
      .view.mapValues(g => (g.size.toLong,
        (g.map(i => BigInt(Audit.checksumTermLong(i))).sum % Audit.ChecksumMod).toLong))
      .toMap
    val ma = man(ids)
    val mb = man(ids.filterNot(_ % 997 == 0))
    assert(out.keySet == ma.keySet ++ mb.keySet)
    for ((b, row) <- out) {
      assert(row._1 == ma.get(b).map(_._1).getOrElse(0L), s"bucket $b n_rows_a")
      assert(row._2 == mb.get(b).map(_._1).getOrElse(0L), s"bucket $b n_rows_b")
      assert(row._3 == ma.get(b).map(_._2), s"bucket $b checksum_a")
      assert(row._4 == mb.get(b).map(_._2), s"bucket $b checksum_b")
      assert(row._5 == (ma.get(b) != mb.get(b)), s"bucket $b needs_repair")
    }
    // exactly the two dropped ids' buckets need repair
    val flagged = out.filter(_._2._5).keySet
    assert(flagged == Seq(0L, 997L).map(i => Audit.checksumTermLong(i) % 256).toSet, flagged)
    // the one-side-only bucket: B reads 0 rows with a NULL checksum
    assert(out(0L) == ((1L, 0L, Some(0L), None, true)), out(0L))
  }
}
