package graft.ops

import graft.SparkSpecBase

/** Degenerate-input behavior of the dedup/similarity family: an empty
  * corpus, an all-short corpus (every doc under the gram/prefix
  * minimums), and a single-doc corpus must produce empty (or identity)
  * results — not crashes. These are the states a production pipeline
  * hits on the first run of a new source or an over-aggressive
  * upstream filter, where a thrown analyzer/runtime error would kill
  * the whole job.
  */
class EmptyCorpusSpec extends SparkSpecBase {

  private def emptyDir(): String = {
    val dir = tmpDir()
    writeDocuments(dir) // zero rows, full schema
    dir
  }

  test("empty corpus: near-dup cascade, spans, cut, clusters, stats all return 0 rows") {
    val dir = emptyDir()
    graft.functions.GraftFunctions.register(spark)
    assert(TextOps.q20DocDedupExact(spark, dir).count() == 0)
    assert(Similarity.q21JaccardNeardup(spark, dir).count() == 0)
    assert(Similarity.q56NeardupSurvivors(spark, dir).count() == 0)
    assert(Similarity.q62DedupClusters(spark, dir).count() == 0)
    assert(Similarity.q62bDedupClustersStar(spark, dir).count() == 0)
    assert(Similarity.q108ClusterStats(spark, dir).count() == 0)
    assert(Similarity.q212ClusterProvenance(spark, dir).count() == 0)
    assert(TextOps.q104RepeatedSpans(spark, dir).count() == 0)
    assert(TextOps.q107SpanDedup(spark, dir).count() == 0)
    assert(Sketches.q25MinhashNeardup(spark, dir).count() == 0)
    assert(Similarity.q218DedupTokenBudget(spark, dir).count() == 0)
  }

  test("q237: marker occurrences count exactly; zero-hit markers still report; worst source ties break ascending") {
    val dir = tmpDir()
    writeDocuments(dir,
      (1L, "clean prose only", "en", "srcA", 1L),
      (2L, "x <|endoftext|> y <|endoftext|> z", "en", "srcB", 1L),
      (3L, "one <|endoftext|> here", "en", "srcA", 1L),
      // srcA ties srcB at 2 total hits → ascending tie-break picks srcA
      (4L, "another <|endoftext|> there", "en", "srcA", 1L),
      (5L, "</s> marker", "en", "srcC", 1L))
    val out = TrainingData.q237SpecialTokenScan(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getString(3)))).toSeq
    assert(out == Seq(
      ("</s>", 1L, 1L, Some("srcC")),
      ("<pad>", 0L, 0L, None),
      ("<unk>", 0L, 0L, None),
      ("<|endoftext|>", 3L, 4L, Some("srcA")),
      ("<|im_end|>", 0L, 0L, None),
      ("<|im_start|>", 0L, 0L, None)), out)
  }

  test("q238: exact-boundary cuts classify A/B/C by cross-multiplication, not a double compare") {
    val dir = tmpDir()
    def toks(p: String, n: Int): String = (1 to n).map(i => s"$p$i").mkString(" ")
    // volumes 80/15/5 of 100: cum shares land EXACTLY on the 80% and
    // 95% boundaries — the (<=) cut must include both
    writeDocuments(dir,
      (1L, toks("a", 80), "en", "srcA", 1L),
      (2L, toks("b", 15), "en", "srcB", 1L),
      (3L, toks("c", 5), "en", "srcC", 1L))
    val out = TrainingData.q238AbcClasses(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4))).toSeq
    assert(out == Seq(
      ("srcA", 80L, 80L, 0.8, "A"),
      ("srcB", 15L, 95L, 0.95, "B"),
      ("srcC", 5L, 100L, 1.0, "C")), out)
    // empty corpus: 0 rows — the total window must not fabricate one
    val empty = tmpDir()
    writeDocuments(empty)
    assert(TrainingData.q238AbcClasses(spark, empty).count() == 0)
  }

  test("empty corpus: round-6 text/quality operators return 0 rows, not crashes") {
    val dir = emptyDir()
    graft.functions.GraftFunctions.register(spark)
    assert(Similarity.q126ContainmentNeardup(spark, dir).count() == 0)
    assert(TextOps.q124BoilerplateNgrams(spark, dir).count() == 0)
    assert(TextOps.q125VocabCoverage(spark, dir).count() == 0)
    assert(TrainingData.q127EntropyGate(spark, dir).count() == 0)
    assert(TrainingData.q128SourceCalibration(spark, dir).count() == 0)
  }

  test("empty embeddings: int8 quantized search returns 0 rows (no model rows, no NPE)") {
    val dir = tmpDir()
    writeEmbeddings(dir) // zero rows, full schema
    graft.functions.GraftFunctions.register(spark)
    assert(Similarity.q123Int8Ann(spark, dir).count() == 0)
    assert(Similarity.q216DimVariance(spark, dir).count() == 0)
  }

  test("empty corpus + embeddings: round-7 embedding-curation ops return 0 rows") {
    val dir = tmpDir()
    writeDocuments(dir)
    writeEmbeddings(dir)
    writeEvents(dir)
    graft.functions.GraftFunctions.register(spark)
    assert(Similarity.q141HardNegatives(spark, dir).count() == 0)
    assert(Similarity.q142SourceCentroidSim(spark, dir).count() == 0)
    assert(Similarity.q206EmbeddingDrift(spark, dir).count() == 0)
    assert(TrainingData.q208EmbeddingCoverage(spark, dir).count() == 0)
    assert(Similarity.q145NormOutliers(spark, dir).count() == 0)
    assert(Sketches.q146SketchClusters(spark, dir).count() == 0)
    assert(Events.q147GridResample(spark, dir).count() == 0)
    assert(TrainingData.q148EpochShuffle(spark, dir).count() == 0)
    assert(Similarity.q149QuantizationError(spark, dir).count() == 0)
    assert(Events.q150EventTransitions(spark, dir).count() == 0)
    assert(Events.q151DebounceDedup(spark, dir).count() == 0)
    assert(Events.q152ValueAnomalies(spark, dir).count() == 0)
    assert(Events.q196LevelShift(spark, dir).count() == 0)
    assert(TrainingData.q195WeightedSample(spark, dir).count() == 0)
    // global aggregate: one row, zero counts, null percentiles
    val ft = Events.q153FunnelTiming(spark, dir).collect()
    assert(ft.length == 1 && ft.head.getLong(0) == 0L && ft.head.isNullAt(1))
    assert(Similarity.q154SimilarityPagerank(spark, dir).count() == 0)
    assert(Similarity.q155PagerankKeeper(spark, dir).count() == 0)
    assert(Events.q156SessionPaths(spark, dir).count() == 0)
    assert(Similarity.q157CrossSourceDups(spark, dir).count() == 0)
    assert(TrainingData.q158QualityRetention(spark, dir).count() == 0)
    assert(Similarity.q159SourceDispersion(spark, dir).count() == 0)
    assert(Similarity.q160ThresholdCurve(spark, dir).count() == 0)
    // round 8/9: a null corpus span makes both snapshot filters empty
    assert(Events.q162SnapshotDiff(spark, dir).count() == 0)
    assert(Events.q163Scd2History(spark, dir).count() == 0)
    assert(Events.q171FreshnessAudit(spark, dir).count() == 0)
    assert(Events.q172CompletenessAudit(spark, dir).count() == 0)
    assert(Events.q179DisorderAudit(spark, dir).count() == 0)
    assert(Events.q180ActivityStreaks(spark, dir).count() == 0)
    assert(Events.q181PurchaseAttribution(spark, dir).count() == 0)
    assert(Events.q183TrafficSpikes(spark, dir).count() == 0)
    assert(Events.q186CooccurrenceLift(spark, dir).count() == 0)
    assert(Events.q187UserGrowth(spark, dir).count() == 0)
    assert(Events.q200PeakConcurrency(spark, dir).count() == 0)
    assert(Events.q204WeekdayProfile(spark, dir).count() == 0)
    assert(Events.q205RfmSegments(spark, dir).count() == 0)
    assert(Events.q210IvmMerge(spark, dir).count() == 0)
    assert(Events.q211JsonProfile(spark, dir).count() == 0)
    assert(TrainingData.q188MixContingency(spark, dir).count() == 0)
    assert(Events.q189InterArrival(spark, dir).count() == 0)
    // global aggregate: one row, NULL sums on both engines
    val ab = Events.q190AbReadout(spark, dir).collect()
    assert(ab.length == 1 && ab.head.isNullAt(0))
  }

  test("single doc: containment finds no pairs; entropy/calibration emit the one doc") {
    val dir = tmpDir()
    writeDocuments(dir, (7L, (1 to 20).map(i => s"w$i").mkString(" "), "en", "s", 1L))
    graft.functions.GraftFunctions.register(spark)
    assert(Similarity.q126ContainmentNeardup(spark, dir).count() == 0)
    val h = TrainingData.q127EntropyGate(spark, dir).collect()
    assert(h.length == 1 && h.head.getLong(1) == 20L)
    val c = TrainingData.q128SourceCalibration(spark, dir).collect()
    assert(c.length == 1 && c.head.getDouble(3) == 0.0) // percent_rank of a singleton
  }

  test("empty corpus: the small-universe probe reports an (empty) small universe") {
    val dir = emptyDir()
    graft.functions.GraftFunctions.register(spark)
    val u = Similarity.smallUniverse(Similarity.tokenSetGroups(spark, dir))
    assert(u.contains(Seq.empty))
  }

  test("all docs under the gram minimum: q104 empty, q107 is the identity") {
    val dir = tmpDir()
    writeDocuments(dir, (1L, "a b c", "en", "s", 1L), (2L, "d e", "en", "s", 1L))
    graft.functions.GraftFunctions.register(spark)
    assert(TextOps.q104RepeatedSpans(spark, dir).count() == 0)
    val out = TextOps.q107SpanDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSeq
    assert(out == Seq((1L, 3L, 3L, 0L, "a b c"), (2L, 2L, 2L, 0L, "d e")))
  }

  /** Keys that legitimately return rows on a fully EMPTY warehouse —
    * global one-row aggregates (a count readout must say 0, not
    * vanish), dense audit grids (a checker must say "checked, clean"
    * per rule/marker/file), and file-layout inventories (empty tables
    * still have footer files). Everything else must return 0 rows.
    * Audited exhaustively by the global test below: a new key landing
    * in this set unreviewed is a test failure, the
    * EngineSmokeSpec.OracleFree discipline.
    */
  private val NonEmptyOnEmpty: Set[String] = Set(
    // global one-row aggregates: a count/ratio readout must SAY zero
    // (or NULL), not vanish
    "q75_promo_revenue", "q76_disjunctive_predicates",
    "q85_small_quantity_revenue", "q96_filtered_global_agg",
    "q153_funnel_timing", "q177_triangle_census", "q190_ab_readout",
    "q229_zipf_fit", "q230_heaps_curve", "q233_event_gini",
    "q241_sketch_refinement_audit", // (0 labeled, 0 violations) — the
                                    // audit must SAY clean, not vanish
    // fixed frames: the decile/stage/shard grid exists independent of
    // the data mass that lands in it
    "q235_lorenz_deciles", "q138_shard_skew", "q220_filter_funnel",
    // declared-structure inventories: one row per table/column/rule/
    // file/family — the audit must say "checked, clean/zero" per unit
    "q135_staging_manifest",   // one row per staged family, 0 counts
    "q164_storage_stats",      // empty part FILES still exist on disk
    "q165_clustering_audit", "q166_compaction_plan",
    "q167_integrity_manifest", // one row per table: counted-zero
    "q168_purge_cascade",      // per-table purge readout: 0 purged each
    "q169_dq_audit",           // dense rule grid: every rule clean
    "q170_table_profile",      // one row per declared column, zero stats
    "q173_index_coverage",     // declared index inventory vs empty stats
    "q182_join_cardinality",   // one row per declared FK preflight
    "q185_schema_drift",       // per-file footer columns of empty files
    "q199_fd_discovery")       // candidate grid: FDs vacuously hold

  test("GLOBAL EMPTY AUDIT: every declared key runs on an empty warehouse; non-empty outputs are the audited set") {
    val dir = tmpDir()
    writeEmptyWarehouse(dir)
    graft.functions.GraftFunctions.register(spark)
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val nonEmpty = scala.collection.mutable.ArrayBuffer.empty[String]
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try { if (fn(spark, dir).count() > 0) nonEmpty += name }
      catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString
          failures += s"$name: ${e.getClass.getSimpleName}: ${msg.take(160)}"
      }
    }
    assert(failures.isEmpty,
      s"declared keys must survive an empty warehouse:\n${failures.mkString("\n")}")
    assert(nonEmpty.toSet == NonEmptyOnEmpty,
      s"unaudited non-empty-on-empty keys: ${nonEmpty.toSet -- NonEmptyOnEmpty}; " +
        s"audited keys now empty: ${NonEmptyOnEmpty -- nonEmpty.toSet}")
  }

  test("single doc: no pairs, one singleton cluster, survivor kept") {
    val dir = tmpDir()
    writeDocuments(dir, (7L, (1 to 20).map(i => s"w$i").mkString(" "), "en", "s", 1L))
    graft.functions.GraftFunctions.register(spark)
    assert(Similarity.q21JaccardNeardup(spark, dir).count() == 0)
    val clusters = Similarity.q62DedupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(clusters == Seq((7L, 7L)))
    assert(Similarity.q56NeardupSurvivors(spark, dir).select("doc_id")
      .collect().map(_.getLong(0)).toSeq == Seq(7L))
    val stats = Similarity.q108ClusterStats(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(stats == Seq((1L, 1L, 1L)))
  }
}
