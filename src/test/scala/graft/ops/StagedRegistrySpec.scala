package graft.ops

import graft.{SparkSpecBase, Tables}
import graft.functions.GraftFunctions
import graft.stage.Staging
import org.apache.spark.sql.functions._

/** The CROSS-QUERY staging registry (round-6): the exact-dup collapse,
  * the verified J ≥ 4/5 set pairs and the connected-component labels
  * are each built once per (session, corpus dir), written to a parquet
  * staging table, and scanned by every consumer query. These tests
  * prove the registry path is OUTPUT-IDENTICAL to the self-contained
  * inline cascade — the same guarantee MaterializedCascadeSpec gives
  * for a hand-written staging-table round trip.
  */
class StagedRegistrySpec extends SparkSpecBase {

  private val sf = "/root/testdata/sf0.001"

  test("q21/q56 from the staging registry match the inline cascade") {
    GraftFunctions.register(spark)
    val docBytes = Similarity.documentsSizeBytes(spark, sf)
    // inline leg: recompute the collapse + pair join from the raw
    // corpus, bypassing the registry entirely
    val inlineGroups = Similarity.collapsedCorpus(spark, sf).localCheckpoint(true)
    val pairsInline = Similarity.nearDupPairsFrom(inlineGroups, 4, 5, docBytes)
      .collect().map(_.toString).toSeq
    val pairsStaged = Similarity.q21JaccardNeardup(spark, sf)
      .collect().map(_.toString).toSeq
    assert(pairsStaged.nonEmpty, "sf0.001 corpus should contain near-dup pairs")
    assert(pairsStaged == pairsInline)

    val survInline = Similarity
      .survivorsFrom(inlineGroups, Tables.documents(spark, sf), docBytes)
      .collect().map(_.toString).toSeq
    val survStaged = Similarity.q56NeardupSurvivors(spark, sf)
      .collect().map(_.toString).toSeq
    assert(survStaged.nonEmpty && survStaged == survInline)
  }

  test("q55 via the staged shingle_ranked remap matches the inline (unranked-entry) cascade") {
    GraftFunctions.register(spark)
    val docBytes = Similarity.documentsSizeBytes(spark, sf)
    // inline leg: rebuild the shingle collapse from the raw corpus and
    // run the UNSTAGED entry (nearDupPairsFrom computes its own
    // dfRankedSets remap in-query) — the round-13 staging of the remap
    // must be output-identical to it
    val inlineGroups = Similarity.tokenSetGroupsBy(
      Tables.documents(spark, sf).select(col("doc_id"),
        call_function("shingle_hashes", split(col("text"), " "), lit(3)).as("toks")))
      .localCheckpoint(true)
    val inline = Similarity.nearDupPairsFrom(inlineGroups, 3, 5, docBytes)
      .collect().map(_.toString).toSeq
    val staged = Similarity.q55ShingleNeardup(spark, sf)
      .collect().map(_.toString).toSeq
    assert(staged.nonEmpty, "sf0.001 corpus should contain shingle near-dup pairs")
    assert(staged == inline)
  }

  test("componentLabels staging table matches an inline CC computation; q108 is its readout") {
    GraftFunctions.register(spark)
    val docBytes = Similarity.documentsSizeBytes(spark, sf)
    val inlineGroups = Similarity.collapsedCorpus(spark, sf).localCheckpoint(true)
    val edges = Similarity.setPairsAbove(inlineGroups, 4, 5, docBytes)
      .select(col("ga"), col("gb"))
    val (labels, _) = Similarity.hashMinLabels(inlineGroups.select(col("gid")), edges)
    val inline = inlineGroups
      .select(explode(col("members")).as("doc_id"), col("gid"))
      .join(labels, Seq("gid"), "left_outer")
      .select(col("doc_id"), coalesce(col("lbl"), col("gid")).as("cluster_id"))
      .orderBy("doc_id")
      .collect().map(_.toString).toSeq
    val stagedLabels = Similarity.q62DedupClusters(spark, sf)
      .collect().map(_.toString).toSeq
    assert(stagedLabels.nonEmpty && stagedLabels == inline)

    // q108 must equal the histogram computed from those same labels
    val statsInline = Similarity.q62DedupClusters(spark, sf)
      .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .orderBy("cluster_size")
      .collect().map(_.toString).toSeq
    val stats = Similarity.q108ClusterStats(spark, sf)
      .collect().map(_.toString).toSeq
    assert(stats.nonEmpty && stats == statsInline)
  }

  test("staged IVF model: consumers search bit-identically to the inline-trained model") {
    GraftFunctions.register(spark)
    // inline leg: train from scratch, bypassing the registry
    val inlineModel = Similarity.trainIvfModel(spark, sf)
    val viaInline = Similarity.ivfSearch(spark, sf, inlineModel, nprobe = 2)
      .collect().map(_.toString).toSeq
    val viaStaged = Similarity.q32cIvfMultiprobe(spark, sf)
      .collect().map(_.toString).toSeq
    assert(viaStaged.nonEmpty && viaStaged == viaInline,
      "float centroids must round-trip the staging table exactly")
    // both trained-model consumers must scan the staged table, not retrain
    for ((name, df) <- Seq(
        "q32b" -> Similarity.q32bIvfTrained(spark, sf),
        "q120" -> Similarity.q120KnnLabelIvf(spark, sf))) {
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("graft_stage_ivf_model"),
        s"$name must consume the staged model:\n$p")
    }
  }

  test("staged DSIR weights: q114/q121 match the inline weight computation") {
    GraftFunctions.register(spark)
    // inline leg: recompute the bigram explode + model join, bypassing
    // the registry
    val inline = TrainingData.dsirWeightsOf(spark, sf)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val staged = TrainingData.q114DsirWeights(spark, sf)
      .collect().map(_.toString).toSeq
    assert(staged.nonEmpty && staged == inline,
      "4-dp weights must round-trip the staging table exactly")
    // q121 must equal the top-K computed from the inline weights
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
    val inlinePick = TrainingData.dsirWeightsOf(spark, sf)
      .join(docs, "doc_id")
      .orderBy(desc("dsir_weight"), asc("doc_id")).limit(200)
      .orderBy(desc("dsir_weight"), asc("doc_id"))
      .select("doc_id", "source", "n_bigrams", "dsir_weight")
      .collect().map(_.toString).toSeq
    val stagedPick = TrainingData.q121DsirResample(spark, sf)
      .select("doc_id", "source", "n_bigrams", "dsir_weight")
      .collect().map(_.toString).toSeq
    assert(stagedPick.nonEmpty && stagedPick == inlinePick)
  }

  test("staged clean-pack: q109/q122 match the inline span-cut chain") {
    GraftFunctions.register(spark)
    val inlinePack = TrainingData.packByTokens(
        graft.ops.TextOps.q107SpanDedup(spark, sf)
          .filter(col("n_kept") > 0)
          .select(col("doc_id"),
            TrainingData.bpeTokenCount(col("clean_text"),
              TrainingData.trainedBpeMerges(spark, sf)).as("n_tokens")))
      .collect().map(_.toString).toSeq
    val stagedPack = TrainingData.q109CleanPack(spark, sf)
      .collect().map(_.toString).toSeq
    assert(stagedPack.nonEmpty && stagedPack == inlinePack,
      "all-long pack must round-trip the staging table exactly")
    val inlineManifest = TrainingData.shardManifestOf(
        TrainingData.q109CleanPack(spark, sf))
      .collect().map(_.toString).toSeq
    val stagedManifest = TrainingData.q122CleanShardManifest(spark, sf)
      .collect().map(_.toString).toSeq
    assert(stagedManifest.nonEmpty && stagedManifest == inlineManifest)
  }

  test("staged prep front: the registry copy matches the inline scrub→gate→dedup window") {
    GraftFunctions.register(spark)
    import org.apache.spark.sql.expressions.Window
    val cleaned = CorpusPrep.scrubAndGate(
      Tables.documents(spark, sf).select("doc_id", "lang", "source", "text"))
    val w = Window.partitionBy(sha2(col("clean_text"), 256)).orderBy("doc_id")
    val inline = cleaned
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val staged = CorpusPrep.stagedPrepDeduped(spark, sf)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(staged.nonEmpty && staged == inline,
      "strings + string arrays must round-trip the staging table exactly")
  }

  test("registry idempotence: repeated reads return identical rows") {
    GraftFunctions.register(spark)
    val a = Similarity.componentLabels(spark, sf).collect().map(_.toString).sorted.toSeq
    val b = Similarity.componentLabels(spark, sf).collect().map(_.toString).sorted.toSeq
    assert(a.nonEmpty && a == b)
  }

  test("concurrency: same key builds once; different keys build in parallel (no global lock)") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    val dir = tmpDir()
    writeDocuments(dir, (1L, "a b", "en", "s", 3L), (2L, "c d", "en", "s", 3L))
    // same key from two threads: exactly ONE build must run
    val builds = new AtomicInteger(0)
    val docs = Tables.documents(spark, dir).select("doc_id")
    def one() = Staging.stagedTable(spark, dir, "spec_same_key") {
      builds.incrementAndGet(); docs
    }
    val t1 = new Thread(() => { one().count(): Unit })
    val t2 = new Thread(() => { one().count(): Unit })
    t1.start(); t2.start(); t1.join(30000); t2.join(30000)
    assert(builds.get() == 1, s"same key must build exactly once, built ${builds.get()}")
    // two DIFFERENT keys: key A's build blocks until key B's build has
    // STARTED — impossible under a global build lock
    val aStarted = new CountDownLatch(1)
    val bStarted = new CountDownLatch(1)
    val ta = new Thread(() => {
      Staging.stagedTable(spark, dir, "spec_par_a") {
        aStarted.countDown()
        assert(bStarted.await(30, TimeUnit.SECONDS),
          "key B's build must be able to start while key A's build is in flight")
        docs
      }: Unit
    })
    val tb = new Thread(() => {
      Staging.stagedTable(spark, dir, "spec_par_b") {
        assert(aStarted.await(30, TimeUnit.SECONDS))
        bStarted.countDown()
        docs
      }: Unit
    })
    ta.start(); tb.start(); ta.join(60000); tb.join(60000)
    assert(bStarted.getCount == 0, "parallel builds deadlocked — global lock regression")
  }

  test("a failed build does not poison its key: the next caller retries") {
    val dir = tmpDir()
    writeDocuments(dir, (1L, "a", "en", "s", 1L))
    var attempts = 0
    def build() = Staging.stagedTable(spark, dir, "spec_fail_key") {
      attempts += 1
      if (attempts == 1) sys.error("transient build failure")
      Tables.documents(spark, dir).select("doc_id")
    }
    intercept[RuntimeException](build())
    assert(build().count() == 1L, "second attempt must rebuild and succeed")
    assert(attempts == 2)
  }

  test("spark.graft.stagingDir roots the staging tables; eviction deletes them") {
    val dir = tmpDir()
    writeDocuments(dir, (1L, "a b c", "en", "s", 5L))
    val root = tmpDir()
    spark.conf.set("spark.graft.stagingDir", root)
    try {
      // a fresh build runs exactly one job, its write: rows and schema
      // come from the write, so no read-back, footer inference or count
      val (staged, jobs) = jobsOf(Staging.stagedTable(spark, dir, "spec_rooted") {
        Tables.documents(spark, dir).select("doc_id")
      })
      assert(jobs == 1, s"a fresh staged build must run exactly 1 job, ran $jobs")
      assert(staged.count() == 1L)
      def underRoot = {
        def walk(f: java.io.File): Seq[java.io.File] =
          f +: Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        walk(new java.io.File(root)).filter(_.getName.contains("spec_rooted"))
      }
      assert(underRoot.nonEmpty, s"staged table must land under $root")
      // the registry records the staged row count (manifest source)
      val entry = Staging.stagedEntries(spark, dir).find(_.key == "spec_rooted")
      assert(entry.exists(_.rows == 1L), s"entry must carry the staged row count: $entry")
      Staging.evictStagedSession(spark)
      assert(underRoot.isEmpty, "eviction must delete the session's staged files")
      assert(Staging.stagedEntries(spark, dir).isEmpty)
    } finally spark.conf.unset("spark.graft.stagingDir")
  }

  test("q135 manifest rows equal the staged tables' actual row counts") {
    GraftFunctions.register(spark)
    val m = Similarity.q135StagingManifest(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.keySet == Set("bpe_merges", "clean_pack", "component_labels", "coreness",
      "doc_lengths", "dsir_weights", "ivf_model", "pagerank_scores", "pos_postings",
      "prep_deduped", "prep_groups", "prep_pairs_45", "set_pairs_45", "shingle_groups",
      "shingle_ranked", "sketch_labels", "tf_postings", "unigram_groups"))
    // shingle_ranked is the canonical-order REMAP of shingle_groups:
    // identical row set (one per collapsed group), toks re-expressed as
    // (df ASC, t ASC) ranks
    assert(m("shingle_ranked") == m("shingle_groups"))
    // pos_postings: one row per RAW split-array element (empties kept)
    assert(m("pos_postings") == graft.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.split(
            org.apache.spark.sql.functions.col("text"), " "))))
      .collect()(0).getLong(0))
    // doc_lengths: one row per tokenized doc
    assert(m("doc_lengths") == graft.ops.TextOps.stagedTfPostings(spark, sf)
      .select("doc_id").distinct().count())
    // tf_postings: independently recomputed from the raw corpus
    assert(m("tf_postings") == graft.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.split(
            org.apache.spark.sql.functions.col("text"), " ")).as("term"))
      .filter(org.apache.spark.sql.functions.col("term") =!= "")
      .select("doc_id", "term").distinct().count())
    assert(m("sketch_labels") == Sketches.q146SketchClusters(spark, sf).count())
    assert(m("pagerank_scores") == Similarity.q154SimilarityPagerank(spark, sf).count())
    // coreness: same node universe as pagerank (both iterate the staged
    // J >= 4/5 group graph); q224's histogram sums back to it
    assert(m("coreness") == m("pagerank_scores"))
    assert(m("coreness") == Similarity.q224CoreDecomposition(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n_vertices")).collect()(0).getLong(0))
    assert(m("prep_pairs_45") == graft.ops.CorpusPrep.stagedPrepPairs45(spark, sf).count())
    // spot-check against the relations themselves
    assert(m("ivf_model") == 8L)
    assert(m("bpe_merges") == TrainingData.BpeMergeCount.toLong)
    assert(m("component_labels") == Similarity.componentLabels(spark, sf).count())
    assert(m("unigram_groups") == Similarity.stagedUnigramGroups(spark, sf).count())
    assert(m("clean_pack") == TrainingData.q109CleanPack(spark, sf).count())
    // the rows and schema each family recorded from its build equal
    // what its staged parquet holds
    val entries = Staging.stagedEntries(spark, sf).filter(e => m.contains(e.key))
    assert(entries.map(_.key).toSet == m.keySet)
    entries.foreach { e =>
      val back = spark.read.parquet(e.path)
      assert(e.schema == back.schema, s"${e.key}: recorded ${e.schema}, parquet ${back.schema}")
      assert(e.rows == back.count(), s"${e.key}: recorded ${e.rows} rows")
    }
  }
}
