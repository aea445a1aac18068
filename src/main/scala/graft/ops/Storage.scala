package graft.ops

import graft.Tables
import graft.functions.GraftFunctions.mortonInterleave
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Storage-maintenance audits: the small-file/compaction inventory, the
  * file-level clustering audit, and the compaction bin-packing plan.
  * The reference has no storage layer at all (a single Postgres it
  * truncates and reloads, reference `main.py:200-209`); at 100 TB these
  * are standing jobs — every table's file layout degrades under
  * incremental ingest (small files from frequent micro-batch commits,
  * clustering destroyed by appends), and a maintenance pass reads the
  * LAYOUT, decides, then rewrites only what the plan names.
  *
  * Scale shape shared by all three:
  *  - the FILE INVENTORY (names + byte sizes) comes from a driver-side
  *    filesystem listing — catalog-metadata-sized, the same listing
  *    Spark's own `InMemoryFileIndex` performs for every read; it is
  *    bounded by file count, never row count, and becomes a broadcast
  *    local relation;
  *  - per-file ROW facts come from declarative scans grouped by
  *    `input_file_name()` — a zero-column projection for counts (the
  *    vectorized reader serves batch sizes from row-group metadata
  *    without decoding any column) or a single pruned key column for
  *    min/max, partially aggregated map-side to one row per file;
  *  - everything downstream of the per-file aggregate operates on
  *    file-count-sized relations (broadcast joins, single-partition
  *    windows) — at 100 TB the only big-table touch is the one
  *    metadata-light scan.
  *
  * These keys are declared `no_oracle` (EngineSmokeSpec.OracleFree):
  * the DuckDB oracle runs over registered row VIEWS and cannot observe
  * file layout. StorageSpec pins exact outputs on controlled multi-file
  * fixtures instead (the sketch-family discipline).
  */
object Storage {

  /** Files smaller than this are "small" in q164's inventory — the
    * standard 32 MiB cutoff below which per-file open/seek overhead
    * dominates scan time on object stores.
    */
  val SmallFileBytes: Long = 32L * 1024 * 1024

  /** Compaction target size: bins aim at 128 MiB outputs (the parquet
    * row-group/HDFS-block sweet spot Spark's `maxPartitionBytes`
    * defaults to).
    */
  val TargetFileBytes: Long = 128L * 1024 * 1024

  /** Driver-side file inventory of one table: (file basename, bytes).
    * Handles both layouts the engine reads: a bare `<table>.parquet`
    * file and a `<table>.parquet/` directory of part files (hidden and
    * `_SUCCESS` entries skipped). Catalog-bounded — this is the same
    * listing every Spark read performs.
    */
  private[ops] def listFiles(spark: SparkSession, dir: String, table: String): Seq[(String, Long)] =
    listStatuses(spark, dir, table).map(s => (s.getPath.getName, s.getLen)).sortBy(_._1)

  private def listStatuses(spark: SparkSession, dir: String,
                           table: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    if (st.isFile) Seq(st)
    else fs.listStatus(p).toSeq.filter(s => s.isFile &&
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
  }

  private def basename(c: org.apache.spark.sql.Column) =
    regexp_extract(c, "[^/]+$", 0)

  /** The full cross-table (table_name, file, bytes) inventory as ONE
    * broadcast-sized local relation — built once, so every consumer
    * joins/aggregates it in a single operator instead of ten.
    */
  private def inventory(spark: SparkSession, dir: String): DataFrame =
    spark.createDataFrame(Audit.TablePk.flatMap { case (table, _) =>
      listFiles(spark, dir, table).map { case (f, b) => (table, f, b) }
    }).toDF("table_name", "file", "bytes")

  /** Cross-table per-file row counts as ONE DataFrame(table_name,
    * file, n_rows) — a zero-column `input_file_name()` scan per table
    * (one per table is unavoidable: different schemas), unioned BEFORE
    * aggregation so everything downstream is a single operator over
    * the file-count-sized relation. Inventory-driven via LEFT join: a
    * zero-row file has no `input_file_name()` group but is exactly
    * what a compaction sweep must still see.
    */
  private def rowsPerFile(spark: SparkSession, dir: String): DataFrame = {
    val counts = Audit.TablePk.map { case (table, _) =>
      Tables.all(table)(spark, dir)
        // group on the RAW path; the basename regex runs once per FILE
        // on the aggregated rows, never once per row of the corpus
        .select(lit(table).as("table_name"), input_file_name().as("fpath"))
    }.reduce(_ unionByName _)
      .groupBy("table_name", "fpath").agg(count(lit(1)).as("n_rows"))
      .select(col("table_name"), basename(col("fpath")).as("file"), col("n_rows"))
    inventory(spark, dir)
      .join(counts, Seq("table_name", "file"), "left")
      .withColumn("n_rows", coalesce(col("n_rows"), lit(0L)))
  }

  /** q164 — STORAGE STATS: one row per table with its file count, row
    * count, byte totals/extremes, small-file count, and the file count
    * a compaction to [[TargetFileBytes]] would produce — the inventory
    * a maintenance scheduler reads to decide WHICH tables need
    * compaction before touching any data. One groupBy over the unioned
    * [[rowsPerFile]] relation — a single aggregate over file-count-
    * sized input, not ten pipelines.
    */
  def q164StorageStats(spark: SparkSession, dir: String): DataFrame =
    rowsPerFile(spark, dir)
      .groupBy("table_name")
      .agg(
        count(lit(1)).as("n_files"),
        sum(col("n_rows")).as("n_rows"),
        sum(col("bytes")).as("total_bytes"),
        min(col("bytes")).as("min_file_bytes"),
        max(col("bytes")).as("max_file_bytes"),
        sum(when(col("bytes") < SmallFileBytes, 1L).otherwise(0L)).as("n_small_files"))
      .select(col("table_name"), col("n_files"), col("n_rows"),
        col("total_bytes"), col("min_file_bytes"), col("max_file_bytes"),
        col("n_small_files"),
        greatest(lit(1L), ceil(col("total_bytes").cast("double") / TargetFileBytes).cast(LongType))
          .as("target_files"))
      .orderBy("table_name")

  /** q165 — CLUSTERING AUDIT: per table, how badly file-level key
    * clustering has degraded — the number of file PAIRS whose primary-
    * key [min, max] ranges overlap (0 = perfectly clustered: every
    * file prunes independently on a key predicate; rising pair counts
    * mean a key lookup must open ever more files). This is the signal
    * a sort/Z-order compaction decision reads.
    *
    * Shape: ONE pruned-key-column scan per table builds the per-file
    * [mn, mx] range relation (map-side combined to one row per file);
    * the pair count then comes from the complement identity
    * `overlaps = C(n,2) − disjoint`, where a disjoint pair is counted
    * exactly once at its RIGHT interval (`mx_j < mn_i`): explode each
    * range into its two boundary events (mn tag 0, mx tag 1), one
    * cumulative window per table ordered by (value, tag) counts the
    * mx-boundaries strictly below each mn (mn sorts before mx on
    * ties, so a touching `mx == mn` pair correctly stays an overlap),
    * and one aggregate folds both the disjoint sum and the range
    * count. O(n log n) in file count, fully declarative and LAZY — no
    * driver collect (an earlier version collected for a driver-side
    * sweep, which executed 10 table scans at plan-construction time
    * and hid the pipeline from the global plan audit), and no
    * range-relation self-join (the version before that rescanned
    * every table twice: the two join sides plan different exchange
    * types, so ReuseExchange never fires). The boundary window is
    * file-count-sized (q118's catalog-sized discipline). n_files
    * counts the INVENTORY (zero-row files and all-empty tables
    * included — q164's discipline); ranges exist only for row-bearing
    * files, which is exactly what the overlap count should see.
    */
  def q165ClusteringAudit(spark: SparkSession, dir: String): DataFrame = {
    val ranges = Audit.TablePk.map { case (table, pkExpr) =>
      Tables.all(table)(spark, dir)
        // raw path as the group key — rowsPerFile's once-per-file
        // basename discipline
        .select(lit(table).as("table_name"), input_file_name().as("fpath"),
          expr(pkExpr).cast(LongType).as("pk"))
    }.reduce(_ unionByName _)
      .filter(col("pk").isNotNull) // NULL keys carry no range (q169's stance)
      .groupBy("table_name", "fpath")
      .agg(min(col("pk")).as("mn"), max(col("pk")).as("mx"))
    inventory(spark, dir).groupBy("table_name").agg(count(lit(1)).as("n_files"))
      .join(overlapPairCounts(ranges), Seq("table_name"), "left")
      .withColumn("n_overlap_pairs", coalesce(col("n_overlap_pairs"), lit(0L)))
      .select(col("table_name"), col("n_files"), col("n_overlap_pairs"),
        (col("n_overlap_pairs") === 0L).as("clustered"))
      .orderBy("table_name")
  }

  /** q184 — RETENTION-EXPIRY PLAN: the file → action map a TTL/GDPR
    * retention job executes on the event log. Per events file, its
    * [min, max] event-time range (ONE ts-column scan, map-side
    * combined to one row per file) classifies against the retention
    * cutoff — the corpus max minus the retention window (q17's
    * data-anchored discipline, never wall clock):
    *  - `drop`: every row is older than the cutoff → delete the FILE,
    *    touch no rows (the whole point of time-ordered file layout —
    *    expiry is a metadata operation);
    *  - `keep`: every row is inside the window → untouched;
    *  - `rewrite`: the file straddles the cutoff → the only files a
    *    row-level filter must actually rewrite.
    * A time-clustered table expires with `n_rewrite ≈ 0`; a
    * time-shuffled one rewrites everything — this plan is q165's
    * clustering argument priced in deletion I/O. Boundary: a row AT
    * the cutoff is retained (strict `<` expires), matching q17's
    * inclusive-window stance.
    */
  def q184RetentionPlan(spark: SparkSession, dir: String,
                        retentionDays: Int = 30): DataFrame = {
    val ranges = Tables.events(spark, dir)
      .select(input_file_name().as("fpath"), unix_micros(col("ts")).as("us"))
      .groupBy("fpath")
      .agg(count(lit(1)).as("n_rows"), min(col("us")).as("mn"), max(col("us")).as("mx"))
    val anchor = ranges.agg(max(col("mx")).as("amax"))
    ranges.crossJoin(broadcast(anchor))
      .withColumn("cutoff", col("amax") - lit(retentionDays.toLong * 86400000000L))
      .withColumn("action",
        when(col("mx") < col("cutoff"), lit("drop"))
          .when(col("mn") >= col("cutoff"), lit("keep"))
          .otherwise(lit("rewrite")))
      .withColumn("n_expired_rows",
        when(col("action") === "drop", col("n_rows")).otherwise(lit(null).cast(LongType)))
      .select(basename(col("fpath")).as("file"), col("n_rows"), col("mn"), col("mx"),
        col("action"), col("n_expired_rows"))
      .orderBy("file")
  }

  /** q185 — SCHEMA-DRIFT AUDIT: per (table, file), the footer schema's
    * column names against the table's declared layout — missing
    * columns (a file written before a column was added: scans read
    * NULLs there) and extra columns (written by a newer producer:
    * silently invisible to the declared schema). Incremental ingest
    * accumulates exactly this skew, and it is invisible to every
    * row-view check (Spark projects the declared schema over whatever
    * the footer has). Driver-side per-file FOOTER probes — metadata
    * reads bounded by file count, the q164 listing discipline; the
    * compare is name-level, so the events table's dual ts layouts
    * (micros vs raw-nanos, same names) never false-positive. No rows
    * are read.
    */
  def q185SchemaDrift(spark: SparkSession, dir: String): DataFrame = {
    val out = Audit.TablePk.map(_._1).sorted.flatMap { table =>
      val ref = Tables.declaredSchemas(table).fields.map(_.name).toSet
      listStatuses(spark, dir, table).sortBy(_.getPath.getName).map { st =>
        val cols = spark.read.parquet(st.getPath.toString).schema.fields.map(_.name).toSet
        (table, st.getPath.getName, cols.size.toLong,
          (ref -- cols).size.toLong, (cols -- ref).size.toLong)
      }
    }
    spark.createDataFrame(out)
      .toDF("table_name", "file", "n_cols", "n_missing_cols", "n_extra_cols")
      .withColumn("drifted", col("n_missing_cols") > 0L || col("n_extra_cols") > 0L)
      .orderBy("table_name", "file")
  }

  /** Per-table overlapping-pair counts for a (table_name, mn, mx)
    * range relation — the q165 kernel, factored so StorageSpec can
    * property-test it against brute force on synthetic intervals. All
    * arithmetic integer (`div`; n·(n−1) is even, so the halving is
    * exact at any file count where a double `/` would round).
    */
  private[graft] def overlapPairCounts(ranges: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("table_name").orderBy("v", "tag")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    ranges
      .select(col("table_name"), explode(array(
        struct(col("mn").as("v"), lit(0L).as("tag")),
        struct(col("mx").as("v"), lit(1L).as("tag")))).as("b"))
      .select(col("table_name"), col("b.v").as("v"), col("b.tag").as("tag"))
      .withColumn("mx_below", sum(col("tag")).over(w))
      .groupBy("table_name")
      .agg(
        // each mn-boundary sees the count of mx strictly below it —
        // summing those counts each disjoint pair exactly once
        sum(when(col("tag") === 0L, col("mx_below")).otherwise(0L)).cast(LongType)
          .as("n_disjoint"),
        expr("count(1) div 2").as("n_ranges"))
      .select(col("table_name"),
        expr("n_ranges * (n_ranges - 1) div 2 - n_disjoint").as("n_overlap_pairs"))
  }

  /** q166 — COMPACTION PLAN: the file → output-bin assignment a
    * compaction job executes: files in deterministic name order pack
    * greedily into bins of `targetRows` (a file whose rows straddle a
    * boundary goes to the bin its FIRST row lands in — fixed-capacity
    * bins, overflow allowed, so the plan is a pure prefix-sum and two
    * files never swap bins under re-planning). Emits one row per file;
    * executing the plan is then `read(files where bin = b).coalesce(1)`
    * per bin. The prefix sum runs over the file-count-sized inventory —
    * a single-partition window is correct HERE because its input is
    * catalog-sized, never row-sized (q118's shard-manifest discipline).
    */
  def q166CompactionPlan(spark: SparkSession, dir: String,
                         targetRows: Long = 4L * 1024 * 1024): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("table_name").orderBy("file")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    rowsPerFile(spark, dir)
      .select(col("table_name"), col("file"), col("n_rows"))
      .withColumn("rows_before", coalesce(sum(col("n_rows")).over(w), lit(0L)))
      .select(col("table_name"), col("file"), col("n_rows"),
        // integer div, never double `/`: a prefix sum past 2^52 would
        // round to the wrong bin under double division
        expr(s"rows_before div ${targetRows}L").as("bin_id"))
      .orderBy("table_name", "file")
  }

  /** Bit-interleave the low 16 bits of two grid coordinates into a
    * 32-bit Z-value (Morton code) — a static 32-term codegen-friendly
    * expression tree. Kept as the independent REFERENCE for the native
    * [[graft.functions.MortonInterleave]] kernel q175 actually runs
    * (FunctionsSpec pins them equal); the native expression replaces
    * 32 shift/mask terms with the 4-step magic-number spread.
    */
  private[graft] def interleave16Ref(gx: org.apache.spark.sql.Column,
                                   gy: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(gx, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(gy, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** q175 — Z-ORDER PLAN: the multi-column clustering layout q165's
    * audit asks for when ONE sort key can't serve two predicate
    * columns. Orders lay out on (o_custkey, order day): each dimension
    * normalizes to a 16-bit grid against its corpus [min, max] (exact
    * integer arithmetic off a one-row bounds broadcast — q171's anchor
    * discipline), the grid coordinates bit-interleave into a 32-bit
    * Morton code, and the top 4 Z-bits (= top 2 bits of EACH
    * dimension) name the output file bin. The emitted readout is the
    * plan's pruning contract: per bin, the row count and the bounding
    * box [x_lo..x_hi] × [y_lo..y_hi] a reader's min/max file statistics
    * would carry — every bin bounds BOTH dimensions, which is the whole
    * point of Z-order (a 1-D sort bounds only its leading column).
    *
    * Scale: the Z-value is row-local bit arithmetic inside one
    * whole-stage-codegen span; the bounds pass is a map-combinable
    * 4-value aggregate; the per-bin stats are one partial-aggregated
    * groupBy on a 16-value key. Executing the plan is
    * `repartitionByRange(col("z"))` + write — the stats here ARE the
    * file statistics that write would produce. The day index floors
    * exactly ([[Det.floorDivExpr]] — pre-epoch dates included); the
    * grid multiply stays under 2^63 for any key range below 2^47.
    */
  def q175ZorderPlan(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(
      col("o_custkey").cast(LongType).as("x"),
      expr(graft.ops.Det.floorDivExpr("unix_micros(o_orderdate)", 86400000000L)).as("y"))
    val bounds = o.agg(min(col("x")).as("xmn"), max(col("x")).as("xmx"),
      min(col("y")).as("ymn"), max(col("y")).as("ymx"))
    def grid(v: String, mn: String, mx: String) =
      expr(s"(($v - $mn) * 65535L) div greatest($mx - $mn, 1L)")
    o.crossJoin(broadcast(bounds))
      .withColumn("gx", grid("x", "xmn", "xmx"))
      .withColumn("gy", grid("y", "ymn", "ymx"))
      .withColumn("z", mortonInterleave(col("gx"), col("gy")))
      .withColumn("bin_id", expr("z div 268435456")) // top 4 Z-bits: 16 bins
      .groupBy("bin_id")
      .agg(count(lit(1)).as("n_rows"),
        min(col("z")).as("z_lo"), max(col("z")).as("z_hi"),
        min(col("x")).as("x_lo"), max(col("x")).as("x_hi"),
        min(col("y")).as("y_lo"), max(col("y")).as("y_hi"))
      .orderBy("bin_id")
  }
}
