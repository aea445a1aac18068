package graft

import graft.etl.DelotonPipeline
import graft.ops.{Relational, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.types.StringType

/** Plan-shape regression guards for the 100 TB design properties
  * (SURVEY.md §4 / BASELINE "scale-design bar"): filters and projections
  * must reach the parquet scan, dimension joins must broadcast, and the
  * similarity joins must never degenerate into cartesian products.
  */
class PlanQualitySpec extends SparkSpecBase with AdaptiveSparkPlanHelper {

  private val sf = "/root/testdata/sf0.001"

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString()

  test("q01: predicate pushed to parquet, untouched columns pruned from the scan") {
    val p = physical(Relational.q01ScanProjectFilter(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"), p)
    assert(!p.contains("l_tax"), "scan should not read unprojected columns")
  }

  test("q96: all three predicates pushed to the scan, only 4 columns read") {
    val p = physical(Relational.q96FilteredGlobalAgg(spark, sf))
    for (f <- Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)", "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)"))
      assert(p.contains(f), s"missing pushed filter $f in:\n$p")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"))
      assert(read.contains(c), s"ReadSchema must keep $c: $read")
    for (c <- Seq("l_orderkey", "l_partkey", "l_tax", "l_returnflag"))
      assert(!read.contains(c), s"ReadSchema must prune $c: $read")
  }

  test("q02: dimension side is broadcast — no shuffle join for customer⋈orders") {
    val p = physical(Relational.q02InnerJoin(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q12: point lookup pushes the equality filter into the scan") {
    val p = physical(Relational.q12PointLookup(spark, sf))
    assert(p.contains("EqualTo(o_orderkey,42)"), p)
  }

  test("q16: anti-join stays a hash join, not a nested loop") {
    val p = physical(Relational.q16DeleteAntijoin(spark, sf))
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q21: candidate generation is an equi-join, never a cartesian product") {
    // the candidate+verify join runs at staging-BUILD time
    // (stagedSetPairs45); pin its plan directly — the testdata universe
    // is ≤64 tokens, so the small-universe strategy fuses verification
    // into the candidate join as popcount arithmetic
    // (CascadeInternalsSpec pins the >64 merge-scan path)
    val groups = Similarity.stagedUnigramGroups(spark, sf)
    val build = physical(Similarity.setPairsAbove(groups, 4, 5,
      Similarity.documentsSizeBytes(spark, sf)))
    assert(!build.contains("CartesianProduct"), build)
    assert(build.contains("bit_count"), "masked verify must fuse into the candidate join:\n" + build)
    // the consumer query itself only expands staged pairs
    val p = physical(Similarity.q21JaccardNeardup(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q22: tiny query side is broadcast under the corpus scan") {
    val p = physical(Similarity.q22TopkCosine(spark, sf))
    assert(p.contains("Broadcast"), p)
  }

  test("q25/q55: sketch and shingle candidate joins stay equi-joins on native exprs") {
    val p25 = physical(graft.ops.Sketches.q25MinhashNeardup(spark, sf))
    assert(!p25.contains("CartesianProduct"), p25)
    // the banding join must key on scalar band hashes (h0..h7) exploded
    // once per row — minhash_signature itself collapses into the
    // aggregate's result projection, which the plan string omits
    assert(p25.contains("posexplode(array(h0"), "scalar banding expected:\n" + p25)
    // the token build (shingle_hashes) now runs inside the cross-query
    // staging build, so the consumer plan reads the staging parquet
    // instead of recomputing the tokenizer
    assert(p25.contains("graft_stage_unigram_groups"), "staged collapse scan expected:\n" + p25)
    val p55 = physical(Similarity.q55ShingleNeardup(spark, sf))
    assert(!p55.contains("CartesianProduct"), p55)
    // the shingle collapse moved into the cross-query registry (shared
    // with q126's containment pass): consumers scan the staging parquet
    assert(p55.contains("graft_stage_shingle_groups"),
      "staged shingle collapse scan expected:\n" + p55)
  }

  test("q126: containment candidates scan the staged shingle collapse, verify is a hash join") {
    val p = physical(Similarity.q126ContainmentNeardup(spark, sf))
    assert(p.contains("graft_stage_shingle_groups"),
      "staged shingle collapse scan expected:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "containment must stay equi-join shaped:\n" + p)
  }

  test("q54: per-stratum top-k is one hash exchange (window), no extra shuffles") {
    val p = physical(graft.ops.TrainingData.q54HashSample(spark, sf))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1, s"expected 1 hash exchange, plan:\n$p")
  }

  test("q18: top-k compiles to TakeOrderedAndProject, not a global sort") {
    val p = physical(Relational.q18TopK(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("argmin/argmax keys stay hash-aggregable: no SortAggregate in q151/q162/q217/q136/q155") {
    // the round-15 pack/min_by rewrites (the q88/q93 recipe extended
    // to payload-carrying argmins): a struct or string aggregation
    // buffer is not UnsafeRow-mutable and silently re-plans the whole
    // aggregate as SortAggregate — two corpus-sized per-partition
    // sorts. Decimal pack + long/double min_by payloads keep every
    // phase HashAggregate; this pin catches a regression re-growing
    // the struct form.
    val keys = Seq(
      "q151" -> graft.ops.Events.q151DebounceDedup(spark, sf),
      "q162" -> graft.ops.Events.q162SnapshotDiff(spark, sf),
      "q217" -> graft.ops.Events.q217SessionEntryExit(spark, sf),
      "q136" -> Similarity.q136ClusterQualityKeeper(spark, sf),
      "q155" -> Similarity.q155PagerankKeeper(spark, sf))
    for ((name, df) <- keys) {
      val p = physical(df)
      assert(!p.contains("SortAggregate"), s"$name re-grew a SortAggregate:\n$p")
      assert(p.contains("HashAggregate"), s"$name lost its hash aggregate:\n$p")
    }
  }

  test("q225/q227/q177 adjacency attach: broadcast is explicit under the gate, merge-hinted over it") {
    // under the gate (any test corpus): every adjacency/degree attach
    // must be BuildRight — the planner left alone BuildLeft-broadcast
    // the first join's OUTPUT, a per-edge-carries-its-adjacency-array
    // relation of Σdeg² longs (the demonstrated 8 GiB broadcast-cap
    // crash at sf0.1; plans/r15/q227_before_oom.txt)
    val p = physical(Similarity.q225EdgeJaccard(spark, sf))
    assert(!p.contains("BuildLeft"), s"adjacency attach flipped to BuildLeft:\n$p")
    assert(!p.contains("SortMergeJoin"), s"under-gate corpus must stay broadcast:\n$p")
    // over the gate the policy must route to the sort-merge regime —
    // the hint is load-bearing (no hint readmits the BuildLeft paths)
    val vals = spark.range(4).selectExpr("id AS ga", "id AS x")
    val adj = spark.range(4).selectExpr("id AS ga", "id * 2 AS y")
    val over = physical(vals.join(
      Similarity.adjacencyJoinSide(BigInt(Long.MaxValue))(adj), "ga"))
    assert(over.contains("SortMergeJoin"), s"over-gate side must merge-join:\n$over")
    val under = physical(vals.join(
      Similarity.adjacencyJoinSide(BigInt(0))(adj), "ga"))
    assert(under.contains("BroadcastHashJoin") && under.contains("BuildRight"),
      s"under-gate side must broadcast BuildRight:\n$under")
  }

  test("q13: the groupBy after the window reuses the user_id partitioning (one shuffle)") {
    val p = physical(graft.ops.Events.q13Sessionize(spark, sf))
    // exchanges: one hash(user_id) for the window, one range for the final
    // ORDER BY — the (user_id, session_id) aggregation must NOT add a third
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1, s"expected 1 hash exchange, plan:\n$p")
  }

  test("q48: pivot compiles to partial+final hash aggregate, one shuffle") {
    val p = physical(graft.ops.Analytics.q48Pivot(spark, sf))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1, s"expected 1 hash exchange, plan:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2, "partial + final aggregate expected:\n" + p)
  }

  test("q49: unpivot is pure Expand — no exchange before the output sort") {
    val p = physical(graft.ops.Analytics.q49Unpivot(spark, sf))
    assert(p.contains("Expand"), p)
    assert(!p.contains("Exchange hashpartitioning"), "unpivot must not shuffle:\n" + p)
  }

  test("q59: every exchange ships the 64-bit set digest, never the token array") {
    val p = physical(Similarity.q59CrossSourceOverlap(spark, sf))
    assert(p.contains("xxhash64"), "set digest expected in the plan:\n" + p)
    val exchangesWithArray = p.linesIterator
      .filter(l => l.contains("Exchange") && l.contains("toks"))
      .toSeq
    assert(exchangesWithArray.isEmpty,
      s"exchange must carry (source, th) longs, not token arrays:\n${exchangesWithArray.mkString("\n")}")
  }

  test("q21: the exact-dup collapse is STAGED — zero recomputation in the consumer plan") {
    // The collapse (an ObjectHashAggregate collect_list) runs once at
    // staging-build time and every downstream consumer scans the
    // staging parquet — so the consumer plan must contain NO collapse
    // aggregate at all (the pre-staging shape recomputed it 3×, the
    // pre-refactor shape 7×). This pin keeps a refactor from silently
    // dropping the staging.
    val p = physical(Similarity.q21JaccardNeardup(spark, sf))
    val aggs = "ObjectHashAggregate".r.findAllIn(p).length
    assert(aggs == 0, s"collapse must be staged, not recomputed ($aggs ObjectHashAggregate nodes):\n$p")
    assert(p.contains("graft_stage"), s"staged collapse scan expected:\n$p")
  }

  test("CC family: q62/q108 scan the persisted component labels — no label loop in the plan") {
    // the round-5 shape re-ran the full edge build + hash-min loop in
    // each of q62/q62b/q108 (~20% of the whole bench); now q62 and q108
    // are readouts of the componentLabels staging table, and q62b runs
    // only its star loop over the staged edges
    for ((name, df) <- Seq(
        "q62" -> Similarity.q62DedupClusters(spark, sf),
        "q108" -> Similarity.q108ClusterStats(spark, sf))) {
      val p = physical(df)
      assert(p.contains("graft_stage_component_labels"),
        s"$name must scan the persisted labels:\n$p")
      assert(!p.contains("ObjectHashAggregate"),
        s"$name must not rebuild the collapse:\n$p")
      // the consumer is a readout: no joins at all survive into its plan
      assert(!p.contains("Join"), s"$name must be joinless over staged labels:\n$p")
    }
  }

  test("q120: pair scoring is a cid EQUI-join — the NLJ is only the k-row centroid assign") {
    // q115's large-seed-set swap-in: the seed×corpus scoring must meet
    // in an equi-join on the centroid bucket (hash or sort-merge), so
    // the all-pairs work is Σ|bucket|², never n². The BNLJ that remains
    // is the sanctioned 8-row centroid-assignment broadcast.
    val p = physical(Similarity.q120KnnLabelIvf(spark, sf))
    assert(p.contains("qcid"), "bucket join key missing from the plan:\n" + p)
    val equi = p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      ("BroadcastHashJoin".r.findAllIn(p).nonEmpty)
    assert(equi, "pair scoring must be an equi-join on cid:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q115/q31: the gated seed/pair-side broadcast survives on testdata") {
    // the exact twins pass the plan-statistic gate on the toy corpus and
    // keep their intended tiny-broadcast NLJ shape (BoundedBroadcastSpec
    // proves an over-gate side fails at build time instead)
    for ((name, df) <- Seq(
        "q115" -> Similarity.q115KnnLabel(spark, sf),
        "q31" -> Similarity.q31EmbedNeardup(spark, sf),
        "q141" -> Similarity.q141HardNegatives(spark, sf))) {
      val p = physical(df)
      assert(p.contains("BroadcastNestedLoopJoin"),
        s"$name: gated broadcast must plan as the tiny-broadcast NLJ:\n$p")
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("q141: shuffles ship labels and sims, never the vectors") {
    // q115's projection discipline: embedding arrays must be projected
    // away BEFORE any exchange (the rank window's and the output sort's)
    val plan = Similarity.q141HardNegatives(spark, sf).queryExecution.executedPlan match {
      // AQE wraps the plan and exposes no children — unwrap to traverse
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty, plan.toString)
    exchanges.foreach { e =>
      val arrays = e.output.filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      assert(arrays.isEmpty, s"vector columns ride a shuffle: $arrays\n$plan")
    }
  }

  test("q147: the grid resample plans ZERO joins — union-sentinel + one per-user window") {
    // the naive formulation is a grid×events as-of join; the operator's
    // claim is that no join of any kind ever forms
    val p = physical(graft.ops.Events.q147GridResample(spark, sf))
    assert(!p.contains("Join"), s"grid resample must be join-free:\n$p")
    assert(p.contains("Window"), p)
  }

  test("q121: the resample top-K is TakeOrderedAndProject; the rank window sorts only K rows") {
    // the global top-200 must be the distributed per-partition heap +
    // driver merge (q18's shape), never a full corpus sort; the
    // pick_rank window then runs over the already-selected K rows.
    val p = physical(graft.ops.TrainingData.q121DsirResample(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("DSIR family: q114/q121 scan the staged weights — no bigram explode in consumer plans") {
    // the weight computation (bigram explode + model join + per-doc
    // agg) runs once at staging-build time; both the report (q114) and
    // the resample (q121) must read the scored table. Generate marks
    // the bigram explode; its absence plus the staged scan pins the
    // registry path.
    for ((name, df) <- Seq(
        "q114" -> graft.ops.TrainingData.q114DsirWeights(spark, sf),
        "q121" -> graft.ops.TrainingData.q121DsirResample(spark, sf))) {
      val p = physical(df)
      assert(p.contains("graft_stage_dsir_weights"),
        s"$name must scan the staged weights:\n$p")
      assert(!p.contains("Generate"),
        s"$name must not re-run the bigram explode:\n$p")
    }
  }

  test("clean-pack family: q109/q122 scan the staged packed corpus — no span cut in consumer plans") {
    // the span cut + BPE re-measure + prefix-sum re-pack is staged
    // once; q109 is an ordered read, q122 aggregates the manifest from
    // the same table. The consumer plans must contain the staged scan
    // and none of the chain's Generate/posexplode machinery (q122's own
    // boundary explode over n_seqs_spanned is the one Generate allowed
    // in its plan).
    val p109 = physical(graft.ops.TrainingData.q109CleanPack(spark, sf))
    assert(p109.contains("graft_stage_clean_pack"), s"q109 must scan the staged pack:\n$p109")
    assert(!p109.contains("Generate"), s"q109 must be a pure readout:\n$p109")
    val p122 = physical(graft.ops.TrainingData.q122CleanShardManifest(spark, sf))
    assert(p122.contains("graft_stage_clean_pack"), s"q122 must scan the staged pack:\n$p122")
    assert(!p122.contains("Join"), s"q122 must not re-run the span-cut chain:\n$p122")
  }

  test("q42: as-of join is ONE hash exchange (window), no nested-loop join") {
    val p = physical(graft.ops.Temporal.q42AsofJoin(spark, sf))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1, s"union-sentinel as-of promises 1 shuffle, plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q43: range join runs as a bucketized EQUI-join, never a nested loop") {
    val p = physical(graft.ops.Temporal.q43RangeJoin(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "theta-join degeneration:\n" + p)
    assert(p.contains("bucket"), "join must key on (user_id, bucket):\n" + p)
  }

  test("q44: full outer join stays a hash/merge join, not a nested loop") {
    val p = physical(Relational.q44FullOuterJoin(spark, sf))
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q63/q64: row-local text ops — no shuffle before the output sort, scan pruned") {
    val p63 = physical(graft.ops.TextOps.q63PiiScrub(spark, sf))
    assert(!p63.contains("Exchange hashpartitioning"), "PII scrub must not shuffle:\n" + p63)
    val read63 = p63.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read63.contains("source") && !read63.contains("lang"),
      "scan must read only (doc_id, text): " + read63)
    val p64 = physical(graft.ops.TrainingData.q64Chunk(spark, sf))
    assert(!p64.contains("Exchange hashpartitioning"), "chunking must not shuffle:\n" + p64)
  }

  test("q65: one aggregation pass + one window pass over the corpus, dims broadcast") {
    val p = physical(graft.ops.TrainingData.q65TemperatureMix(spark, sf))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 2, s"expected 2 hash exchanges (source agg + source window):\n$p")
    assert(p.contains("BroadcastHashJoin"), "targets must broadcast onto the corpus:\n" + p)
  }

  test("q67: the scrub+dedup front is STAGED — no sha2 window or collapse agg in the consumer plan") {
    // `deduped` and the token-set collapse are each materialized once
    // (Similarity.staged); the three differently-pruned consumers scan
    // the materialized RDDs, so neither the sha2 dedup exchange nor the
    // collapse aggregate may appear in the consumer plan (the
    // pre-staging bound was ≤ 3 computations of each).
    val p = physical(graft.ops.CorpusPrep.q67CorpusPrep(spark, sf))
    val dedupWindows = p.linesIterator.count(l => l.contains("Exchange hashpartitioning") && l.contains("sha2"))
    assert(dedupWindows == 0, s"sha2 dedup must be staged, not recomputed ($dedupWindows):\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).isEmpty, s"collapse must be staged:\n$p")
    // the prep front moved into the cross-query registry (shared with
    // q112); both the deduped head and its collapse scan parquet
    assert(p.contains("graft_stage_prep_deduped") && p.contains("graft_stage_prep_groups"),
      s"registry-staged prep front expected:\n$p")
    // round 7: the candidate+verify pair join over the prep collapse is
    // ALSO staged — the quadratic stage must not rerun per evaluation
    assert(p.contains("graft_stage_prep_pairs_45"),
      s"staged prep pairs expected (no per-run candidate join):\n$p")
    assert(!p.contains("prefix_intersect_count"),
      s"prefix candidate join must be staged, not recomputed:\n$p")
  }

  test("q112: consumes the same staged prep front as q67 — no scrub/dedup recompute") {
    val p = physical(graft.ops.CorpusPrep.q112PrepPipelineV2(spark, sf))
    assert(p.contains("graft_stage_prep_deduped"),
      s"q112 must scan the shared staged prep head:\n$p")
    val dedupWindows = p.linesIterator.count(l => l.contains("Exchange hashpartitioning") && l.contains("sha2"))
    assert(dedupWindows == 0, s"sha2 dedup must be staged, not recomputed ($dedupWindows):\n$p")
  }

  test("q69: top-10 compiles to TakeOrderedAndProject; date filters reach both scans") {
    val p = physical(Relational.q69ShippingPriority(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("LessThan(o_orderdate"), "orders date filter must push down:\n" + p)
    assert(p.contains("GreaterThan(l_shipdate"), "lineitem date filter must push down:\n" + p)
  }

  test("q70: 6-way star join — dims broadcast, no cartesian product") {
    val p = physical(Relational.q70LocalSupplierVolume(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q76: disjunctive brackets still extract the equi-join — hash join, no nested loop") {
    val p = physical(Relational.q76DisjunctivePredicates(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "l_partkey = p_partkey must be extracted as the hash-join key:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the OR-of-brackets must ride as the join residual, not force a nested loop:\n" + p)
  }

  test("q77: the HAVING subquery aggregates lineitem exactly once") {
    val p = physical(Relational.q77LargeOrders(spark, sf))
    val lineitemScans = "lineitem".r.findAllIn(p).length
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // one scan feeding one partial+final agg — no correlated re-scan
    assert(lineitemScans <= 2, s"lineitem must be scanned once (partial+final agg), plan:\n$p")
  }

  test("q79: repetition stats are one codegen stage — no exchange before the output sort") {
    val p = physical(graft.ops.TrainingData.q79RepetitionStats(spark, sf))
    // row-local kernel: the ONLY exchange is the final rangepartitioning sort
    assert(!p.contains("Exchange hashpartitioning"),
      "repetition signals must not shuffle:\n" + p)
    assert(p.contains("shingle_stats"), "native kernel must appear in the plan:\n" + p)
  }

  test("q80: the corpus prefix sum is bucket-partitioned, never one global window") {
    val p = physical(graft.ops.TrainingData.q80SequencePack(spark, sf))
    // stage-1 window partitions by bucket (distributed); the global
    // window exists only over the tiny per-bucket totals
    assert(p.contains("Exchange hashpartitioning") && p.contains("bucket"),
      "within-bucket cumsum must hash-partition on bucket:\n" + p)
    val singlePartitionWindows = "Exchange SinglePartition".r.findAllIn(p).length
    assert(singlePartitionWindows <= 1,
      s"only the bucket-totals window may be single-partition:\n$p")
  }

  test("q86: 3 FileScans, and no multi-distinct Expand above the orders join") {
    // the (l_orderkey, l_suppkey) pre-aggregate makes suppliers distinct
    // per order, so the per-order agg uses plain counts — a countDistinct
    // formulation planned an Expand that tripled every joined row
    val p = physical(Relational.q86SoleLateSupplier(spark, sf))
    assert("Scan parquet".r.findAllIn(p).length == 3, s"expected 3 FileScans:\n$p")
    assert(!p.contains("Expand"), s"multi-distinct Expand must not reappear:\n$p")
  }

  test("q104: repeated-gram agg combines map-side; native gram kernel in the plan") {
    val p = physical(graft.ops.TextOps.q104RepeatedSpans(spark, sf))
    // a boilerplate gram must collapse BEFORE the exchange (q93's
    // hot-key discipline) — partial_count is the map-side combine
    assert(p.contains("partial_count"), s"repeated-gram agg must have a map-side partial:\n$p")
    assert(p.contains("gram_hashes"), s"positional gram build must use the native kernel:\n$p")
  }

  test("q107: the span cut is a hash anti-join on doc_id, range as residual — no nested loop") {
    val p = physical(graft.ops.TextOps.q107SpanDedup(spark, sf))
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "doc_id must be extracted as the anti-join equi-key:\n" + p)
  }

  test("q89: funnel plans as aggregates + hash joins, never a full-stream window") {
    val p = physical(graft.ops.Events.q89Funnel(spark, sf))
    assert(!p.contains("Window"), s"funnel must not window the event stream:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("q93: the dedup decision is a combinable min-agg on block content, never a window") {
    val p = physical(graft.ops.TextOps.q93BlockDedup(spark, sf))
    // a row_number window here would funnel every copy of a hot block
    // through one reducer; the min-struct agg combines map-side
    assert(p.contains("partial_min"), s"first-occurrence agg must have a map-side partial:\n$p")
    val dedupWindows = p.linesIterator.filter(l =>
      l.contains("Window") && l.contains("block_text")).toSeq
    assert(dedupWindows.isEmpty, s"dedup decision must not window on block_text:\n$dedupWindows")
  }

  test("q95: the bloom probe filters the customer scan stage, below the semi join") {
    val p = physical(graft.ops.Analytics.q95BloomSemiJoin(spark, sf))
    val lines = p.linesIterator.toSeq
    val probeAt = lines.indexWhere(_.contains("bloom_might_contain"))
    val joinAt = lines.indexWhere(_.contains("LeftSemi"))
    assert(probeAt >= 0, s"bloom probe missing from plan:\n$p")
    assert(joinAt >= 0 && probeAt > joinAt,
      s"probe (line $probeAt) must sit BELOW the semi join (line $joinAt):\n$p")
  }

  test("global: no declared query plans a cartesian product or an unsanctioned nested loop") {
    // the ONLY queries allowed a BroadcastNestedLoopJoin are the
    // documented tiny-broadcast cross joins (similarity scoring against
    // a handful of query vectors / centroids — the corpus side streams
    // map-side and never shuffles); everything else must stay
    // equi-join/aggregate shaped. CartesianProduct is banned outright.
    val broadcastNlAllowed = Set(
      // tiny-broadcast similarity scoring (a handful of query vectors /
      // centroids against the streaming corpus side)
      "q22_topk_cosine", "q31_embed_neardup", "q32_ivf_ann",
      "q32b_ivf_trained", "q32c_ivf_multiprobe",
      // q123: q22's tiny-broadcast scoring (queries + the one-row
      // quantization model broadcast; corpus streams map-side)
      "q123_int8_ann",
      // q131: the k-row centroid-assignment broadcasts (q32b's class) +
      // the one-row quantization model; pair scoring is a cid equi-join
      "q131_ivf_sq8",
      // q125: one-row corpus-total broadcast — scalar, not a relation
      "q125_vocab_coverage",
      // q115: labeled seed side broadcasts, corpus streams (q22's
      // discipline); the IVF bucket join is the large-seed-set swap-in
      "q115_knn_label",
      // q120: the swap-in itself — the PAIR scoring is a cid equi-join
      // (pinned below); the only NLJ left is the k-row centroid
      // assignment, q32b's sanctioned tiny-broadcast scoring
      "q120_knn_label_ivf",
      // q94's centroid ASSIGN is the same k-row broadcast scoring as
      // q32b (the pair scan itself is a cid equi-join, never a NLJ)
      "q94_semdedup",
      // ONE-ROW global-aggregate broadcasts (corpus bounds / doc count /
      // max-ts anchor) joined onto every row — a scalar, not a relation
      "q15_trim_boundary", "q17_last24h", "q53_tfidf",
      // q78's above-average-balance gate: one-row avg broadcast (Q22's
      // scalar subquery), same scalar-not-relation shape as q15/q17
      "q78_no_order_customers",
      // q87/q97: one-row max / total-value broadcasts (Q15/Q11's scalar
      // subqueries) — scalar, not a relation
      "q87_top_revenue_supplier", "q97_important_stock",
      // q141: q115's class — the curated query side broadcasts under
      // the ENFORCED gate (boundedBroadcast), corpus streams map-side;
      // large query sets swap in q120's IVF bucketing
      "q141_hard_negatives",
      // q143: one-row n_sources broadcast — scalar, not a relation
      "q143_curriculum_interleave",
      // q149: the one-row (mns, mxs) quantization model — q123's class
      "q149_quantization_error",
      // q158: one-row corpus-total broadcast — scalar, not a relation
      "q158_quality_retention",
      // q162: the one-row (cut_us) corpus-bounds broadcast — q15/q17's
      // scalar-not-relation shape
      "q162_snapshot_diff",
      // q168: one-row purge/total count broadcasts stitched into the
      // 3-row audit record — scalars, not relations
      "q168_purge_cascade",
      // q169: one-row checked/violation count crossJoins per FK edge —
      // q168's scalar-not-relation shape
      "q169_dq_audit",
      // q171: q17's one-row max-ts anchor broadcast — scalar, not a relation
      "q171_freshness_audit",
      // q175: the one-row (xmn,xmx,ymn,ymx) grid-bounds broadcast —
      // q15/q17's scalar-not-relation shape
      "q175_zorder_plan",
      // q177: one-row census aggregates stitched into the single
      // output row — q168's scalar-not-relation shape
      "q177_triangle_census",
      // q182: one-row per-edge totals stitched around the count-relation
      // join — q168's scalar-not-relation shape
      "q182_join_cardinality",
      // q184: the one-row corpus-max anchor broadcast — q15/q17's
      // scalar-not-relation shape
      "q184_retention_plan",
      // q186/q188/q190-adjacent: the one-row n_users / n_docs total
      // broadcast — q125/q53's scalar-not-relation shape
      "q186_cooccurrence_lift", "q188_mix_contingency",
      // q193: the one-row n_docs / avgdl constant broadcasts —
      // q125/q53's scalar-not-relation shape
      "q193_bm25",
      // q213: q193's scalar broadcasts plus the one-row dl_min /
      // Σmax_ub / θ bound constants — all scalar-not-relation
      "q213_blockmax_wand",
      // q202: the one-row (n_tok, n_big) corpus-totals broadcast —
      // q125/q53's scalar-not-relation shape
      "q202_collocation_lift",
      // q205: the one-row max-purchase anchor + one-row quintile
      // boundary frame — q15/q17's scalar-not-relation shape
      "q205_rfm_segments",
      // q211: the one-row table-total broadcast — q125/q53's
      // scalar-not-relation shape
      "q211_json_profile",
      // q217: the one-row session-total broadcast for the share —
      // q125/q53's scalar-not-relation shape
      "q217_session_entry_exit",
      // q220: the one-row corpus-total broadcast onto the 5 funnel
      // stage rows — q125/q53's scalar-not-relation shape
      "q220_filter_funnel",
      // q221: the one-row phrase broadcast onto the row-local array
      // scan — q15/q17's scalar-not-relation shape
      "q221_phrase_match",
      // q222: the 3-row query-term broadcast (q22/q193's tiny-relation
      // scoring class) + the one-row |C| total
      "q222_query_likelihood",
      // q226: q193's scalar broadcasts in both passes (n_docs / avgdl)
      "q226_query_expansion",
      // q223: the one-row (dmin, dmax) day-span anchor broadcast —
      // q15/q17's scalar-not-relation shape
      "q223_daily_autocorr",
      // q228: the one-row user-total anchor broadcast — q15/q17's
      // scalar-not-relation shape
      "q228_survival_curve",
      // q230: the one-row decile-boundary frame broadcast — q205's
      // bucket-by-broadcast-boundary shape
      "q230_heaps_curve",
      // q231: q223's one-row (dmin, dmax) day-span anchor broadcast
      "q231_event_burstiness",
      // q233: the one-row totals anchor + the one-row numerator fold —
      // q168's scalar-not-relation shape
      "q233_event_gini",
      // q235: the one-row totals anchor + the 10-row decile frame's
      // containing-group range join (tiny-broadcast scoring class)
      "q235_lorenz_deciles",
      // q237: the 6-row marker frame broadcast — q222's tiny-relation
      // scoring class
      "q237_special_token_scan",
      // q240: q223/q231's one-row (dmin, dmax) day-span anchor
      "q240_traffic_trend")
    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val p = physical(fn(spark, sf))
      val cart = if (p.contains("CartesianProduct")) Seq(s"$name: CartesianProduct") else Nil
      val nlj = if (!broadcastNlAllowed(name) && p.contains("BroadcastNestedLoopJoin"))
        Seq(s"$name: BroadcastNestedLoopJoin") else Nil
      cart ++ nlj
    }
    assert(violations.isEmpty, s"degenerate join shapes:\n${violations.mkString("\n")}")
  }

  test("q61: salted join keys on (event_type, _salt) — hot keys spread across reducers") {
    // disable auto-broadcast: at test scale the 5-row dim would broadcast
    // (fine, but then no exchange exists to inspect); on the 100 TB shape
    // the dim exceeds the threshold and the salted exchange is the plan
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = physical(graft.ops.Analytics.q61SaltedJoin(spark, sf))
      val saltedExchanges = p.linesIterator
        .filter(l => l.contains("Exchange hashpartitioning") && l.contains("_salt"))
        .toSeq
      assert(saltedExchanges.nonEmpty, "join exchange must include the salt key:\n" + p)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** Two streams of the deloton log shape as `graftlog` files. */
  private def logDir(): String = {
    val dir = tmpDir()
    def line(ts: String, l: String) = s"""{"log": "2024-01-01 $ts $l"}"""
    Seq("bike-1", "bike-2").foreach { b =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, s"$b.jsonl"), Seq(
        line("12:00:00.000", "[INFO]: --------- beginning of a new ride"),
        line("12:00:01.000", "[INFO]: data = {'user_id': 7, 'name': 'A', 'gender': 'male'}"),
        line("12:00:02.000", "[INFO]: Ride - duration = 1.0; resistance = 30"),
        line("12:00:03.000", "[INFO]: Telemetry - hrt = 84; rpm = 27; power = 5.25")
      ).mkString("\n").getBytes("UTF-8"))
    }
    dir
  }

  private def hashKeys(e: ShuffleExchangeExec): Seq[String] = e.outputPartitioning match {
    case h: HashPartitioning => h.expressions.collect { case a: Attribute => a.name }
    case _ => Nil
  }

  test("rides: one graftlog scan, one exchange by stream, and only numbers cross it") {
    val plan = DelotonPipeline.rides(DelotonPipeline.readLogs(spark, logDir()))
      .queryExecution.executedPlan
    val scans = collect(plan) { case s: BatchScanExec => s }
    assert(scans.size == 1 && scans.head.toString.contains("graftlog"), plan)
    val shuffles = collect(plan) { case e: ShuffleExchangeExec => e }
    assert(shuffles.map(hashKeys) == Seq(Seq("stream")), plan)
    assert(collect(plan) { case b: BroadcastExchangeExec => b }.isEmpty, plan)
    val text = shuffles.head.child.output.filter(_.dataType == StringType).map(_.name)
    assert(text == Seq("stream"), s"string columns crossing the exchange: $text\n$plan")
  }

  test("users: two graftlog scans, one exchange by user_id, the anchor broadcast") {
    val plan = DelotonPipeline.users(DelotonPipeline.readLogs(spark, logDir()))
      .queryExecution.executedPlan
    assert(collect(plan) { case s: BatchScanExec => s }.size == 2, plan)
    val hashed = collect(plan) { case e: ShuffleExchangeExec => e }.map(hashKeys).filter(_.nonEmpty)
    assert(hashed == Seq(Seq("user_id")), plan)
    assert(collect(plan) { case b: BroadcastExchangeExec => b }.size == 1, plan)
  }
}
