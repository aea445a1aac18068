package graft.ops

import graft.{SparkSpecBase, Tables}
import graft.functions.GraftFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental maintenance for the staged families (round-12 VERDICT
  * Next #4; round-13 Next #1/#6): the batch delta-merge pieces must be
  * row-identical to a cold rebuild over the full corpus — q210's
  * merge ≡ recompute contract, proven here for the bare-union
  * tf_postings merge, the exact-dup collapse
  * ([[Similarity.collapseMerge]]), and the cascade's expensive
  * families as q244–q246 compose them: the qualifying set pairs
  * (re-keyed base pairs ∪ ONE asymmetric delta-vs-(base ∪ delta)
  * prefix join, never base×base again) and the component labels
  * (hash-min over the contracted super-node graph, sized by the
  * delta), on BOTH pair cascades (unigram at 4/5, shingle at 3/5 — the
  * merge machinery is generic over the token-set column and
  * threshold). The declared q242–q246 keys carry the same contract to
  * the DuckDB oracle; these tests pin it engine-side, including the
  * cases the even/odd corpus split cannot reach: a delta doc
  * relabeling a base group's gid (with and without edges), a delta
  * group BRIDGING two base components, and empty deltas.
  */
class DeltaMergeSpec extends SparkSpecBase {

  private val sf = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  // the merges as q244/q246 (pairs) and q245 (labels) compose them
  // from their staged pieces: the tagged collapse merge, then re-keyed
  // base pairs ∪ verified new pairs, or label continuation over the
  // new pairs alone
  private def pairsMerge(baseGroups: DataFrame, basePairs: DataFrame,
      delta: DataFrame, p: Int, q: Int, bytes: BigInt): DataFrame = {
    val tagged = Similarity.collapseMergeTagged(baseGroups, delta).localCheckpoint(true)
    Similarity.pairsRemapFromTagged(tagged, basePairs, bytes)
      .unionByName(Similarity.newPairsFromTagged(tagged, p, q, bytes))
  }

  private def labelsMerge(baseGroups: DataFrame, baseLabels: DataFrame,
      delta: DataFrame, p: Int, q: Int, bytes: BigInt): DataFrame = {
    val tagged = Similarity.collapseMergeTagged(baseGroups, delta).localCheckpoint(true)
    Similarity.labelsMergeFromTagged(tagged, baseLabels,
      Similarity.newPairsFromTagged(tagged, p, q, bytes))
  }

  test("tfPostingsMerge ≡ cold recompute on the real corpus (even/odd split)") {
    val docs = Tables.documents(spark, sf)
    val base = TextOps.tfPostingsOf(docs.filter(pmod(col("doc_id"), lit(2L)) === 0))
    val merged = TextOps.tfPostingsMerge(base, docs.filter(pmod(col("doc_id"), lit(2L)) === 1))
    val cold = TextOps.tfPostingsOf(docs)
    assert(rows(merged).nonEmpty)
    assert(rows(merged) == rows(cold))
  }

  test("tfPostingsMerge with an empty delta is the base relation") {
    val docs = Tables.documents(spark, sf)
    val base = TextOps.tfPostingsOf(docs)
    val merged = TextOps.tfPostingsMerge(base, docs.filter(lit(false)))
    assert(rows(merged) == rows(base))
  }

  test("collapseMerge ≡ cold recompute on the real corpus (even/odd split)") {
    GraftFunctions.register(spark)
    val toks = Similarity.docTokenSets(spark, sf)
    val base = Similarity.tokenSetGroupsBy(toks.filter(pmod(col("doc_id"), lit(2L)) === 0))
    val merged = Similarity.collapseMerge(base, toks.filter(pmod(col("doc_id"), lit(2L)) === 1))
      .select("toks", "gid", "members", "sz")
    val cold = Similarity.collapsedCorpus(spark, sf).select("toks", "gid", "members", "sz")
    assert(rows(merged).nonEmpty)
    assert(rows(merged) == rows(cold))
  }

  test("collapseMerge relabels a group when the delta brings a smaller doc_id") {
    import spark.implicits._
    // base: docs 10 and 11 share a token set -> group gid 10; delta doc
    // 1 has the SAME set -> merged gid must re-derive to 1 (gid = min
    // member is the collapse's defining invariant), members sorted
    val baseToks = Seq((10L, Seq(7L, 9L)), (11L, Seq(7L, 9L)), (12L, Seq(3L)))
      .toDF("doc_id", "toks")
    val deltaToks = Seq((1L, Seq(7L, 9L)), (2L, Seq(5L))).toDF("doc_id", "toks")
    val merged = Similarity.collapseMerge(Similarity.tokenSetGroupsBy(baseToks), deltaToks)
      .orderBy("gid")
      .collect().map(r => (r.getLong(1), r.getSeq[Long](2).toList)).toList
    assert(merged == List(
      (1L, List(1L, 10L, 11L)), (2L, List(2L)), (12L, List(12L))))
  }

  test("pairsMerge ≡ cold setPairsAbove on the real corpus (even/odd split)") {
    GraftFunctions.register(spark)
    val bytes = Similarity.documentsSizeBytes(spark, sf)
    val toks = Similarity.docTokenSets(spark, sf)
    val base = Similarity.tokenSetGroupsBy(toks.filter(pmod(col("doc_id"), lit(2L)) === 0))
    val basePairs = Similarity.setPairsAbove(base, 4, 5, bytes)
    val merged = pairsMerge(base, basePairs,
      toks.filter(pmod(col("doc_id"), lit(2L)) === 1), 4, 5, bytes)
    val cold = Similarity.setPairsAbove(
      Similarity.tokenSetGroupsBy(toks), 4, 5, bytes)
    assert(rows(merged).nonEmpty)
    assert(rows(merged) == rows(cold))
  }

  test("labelsMerge ≡ cold hash-min labels on the real corpus (even/odd split)") {
    GraftFunctions.register(spark)
    val bytes = Similarity.documentsSizeBytes(spark, sf)
    val toks = Similarity.docTokenSets(spark, sf)
    val base = Similarity.tokenSetGroupsBy(toks.filter(pmod(col("doc_id"), lit(2L)) === 0))
    val basePairs = Similarity.setPairsAbove(base, 4, 5, bytes)
    val (bl, _) = Similarity.hashMinLabels(base.select(col("gid")),
      basePairs.select(col("ga"), col("gb")))
    val merged = labelsMerge(base, Similarity.expandClusterLabels(base, bl),
      toks.filter(pmod(col("doc_id"), lit(2L)) === 1), 4, 5, bytes)
    val coldGroups = Similarity.tokenSetGroupsBy(toks)
    val (cl, _) = Similarity.hashMinLabels(coldGroups.select(col("gid")),
      Similarity.setPairsAbove(coldGroups, 4, 5, bytes).select(col("ga"), col("gb")))
    val cold = Similarity.expandClusterLabels(coldGroups, cl)
    assert(rows(merged).nonEmpty)
    assert(rows(merged) == rows(cold))
  }

  // the delta class the even/odd corpus split cannot force: a single
  // delta group whose new edges BRIDGE two previously separate base
  // components. Token design: J(A,B) = J(C,D) = J(E,B) = J(E,C) =
  // 9/11 ≥ 0.8 (pairs), J(B,C) = 8/12 < 0.8 (base components stay
  // apart), so the delta E must pull {10,11} and {20,21} into ONE
  // component labeled 10.
  private def bridgeBase = Seq(
    10L -> (1L to 10L).toSeq, 11L -> (2L to 11L).toSeq,
    20L -> (4L to 13L).toSeq, 21L -> (5L to 14L).toSeq)
  private def bridgeDelta = Seq(30L -> (3L to 12L).toSeq)

  private def toksDf(docs: Seq[(Long, Seq[Long])]) = {
    import spark.implicits._
    docs.toDF("doc_id", "toks")
  }

  test("pairsMerge ≡ cold when the delta bridges two base clusters") {
    GraftFunctions.register(spark)
    val base = Similarity.tokenSetGroupsBy(toksDf(bridgeBase))
    val basePairs = Similarity.setPairsAbove(base, 4, 5, BigInt(1))
    val merged = pairsMerge(base, basePairs,
      toksDf(bridgeDelta), 4, 5, BigInt(1))
    val cold = Similarity.setPairsAbove(
      Similarity.tokenSetGroupsBy(toksDf(bridgeBase ++ bridgeDelta)), 4, 5, BigInt(1))
    // the cold side routes through the ≤64-universe masked path, the
    // merge's new pairs through the general asymmetric prefix join —
    // identical output is exactly the strategy-independence contract
    assert(rows(cold).size == 4)
    assert(rows(merged) == rows(cold))
  }

  test("labelsMerge relabels both bridged base components to one label") {
    GraftFunctions.register(spark)
    val base = Similarity.tokenSetGroupsBy(toksDf(bridgeBase))
    val basePairs = Similarity.setPairsAbove(base, 4, 5, BigInt(1))
    val (bl, _) = Similarity.hashMinLabels(base.select(col("gid")),
      basePairs.select(col("ga"), col("gb")))
    val baseLabels = Similarity.expandClusterLabels(base, bl)
    // precondition: two separate base components
    assert(baseLabels.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toList ==
      List((10L, 10L), (11L, 10L), (20L, 20L), (21L, 20L)))
    val merged = labelsMerge(base, baseLabels,
      toksDf(bridgeDelta), 4, 5, BigInt(1))
    assert(merged.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toList ==
      List((10L, 10L), (11L, 10L), (20L, 10L), (21L, 10L), (30L, 10L)))
  }

  test("labelsMerge lowers a component's label when a delta doc relabels its group (zero new edges)") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // base: docs 10, 11 exact dups -> one group, gid 10, label 10; the
    // delta doc 2 is another exact dup -> gid re-derives to 2, and the
    // component label must follow even though no new PAIR appears
    val base = Similarity.tokenSetGroupsBy(toksDf(Seq(10L -> (1L to 10L).toSeq, 11L -> (1L to 10L).toSeq)))
    val baseLabels = Seq((10L, 10L), (11L, 10L)).toDF("doc_id", "cluster_id")
    val merged = labelsMerge(base, baseLabels,
      toksDf(Seq(2L -> (1L to 10L).toSeq)), 4, 5, BigInt(1))
    assert(merged.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toList ==
      List((2L, 2L), (10L, 2L), (11L, 2L)))
  }

  test("pairsMerge/labelsMerge with an empty delta are the base relations") {
    GraftFunctions.register(spark)
    val base = Similarity.tokenSetGroupsBy(toksDf(bridgeBase))
    val basePairs = Similarity.setPairsAbove(base, 4, 5, BigInt(1))
    val emptyToks = toksDf(bridgeBase).filter(lit(false))
    assert(rows(pairsMerge(base, basePairs, emptyToks, 4, 5, BigInt(1)))
      == rows(basePairs))
    val (bl, _) = Similarity.hashMinLabels(base.select(col("gid")),
      basePairs.select(col("ga"), col("gb")))
    val baseLabels = Similarity.expandClusterLabels(base, bl)
    assert(rows(labelsMerge(base, baseLabels, emptyToks, 4, 5, BigInt(1)))
      == rows(baseLabels))
  }

  test("q242/q243 declared keys equal their cold recomputes") {
    GraftFunctions.register(spark)
    val q242 = rows(TextOps.q242TfPostingsDeltaMerge(spark, sf))
    assert(q242.nonEmpty && q242 == rows(
      TextOps.tfPostingsOf(Tables.documents(spark, sf))))
    val gold = Similarity.collapsedCorpus(spark, sf)
      .select(explode(col("members")).as("doc_id"), col("gid").as("group_id"))
    val q243 = rows(Similarity.q243CollapseDeltaMerge(spark, sf))
    assert(q243.nonEmpty && q243 == rows(gold))
  }

  test("q244/q245 declared keys equal their cold q21/q62 readouts") {
    GraftFunctions.register(spark)
    val q244 = rows(Similarity.q244SetPairsDeltaMerge(spark, sf))
    assert(q244.nonEmpty && q244 == rows(Similarity.q21JaccardNeardup(spark, sf)))
    val q245 = rows(Similarity.q245LabelsDeltaMerge(spark, sf))
    assert(q245.nonEmpty && q245 == rows(Similarity.q62DedupClusters(spark, sf)))
  }

  test("pairsMerge ≡ cold on the SHINGLE cascade (word 3-grams, threshold 3/5)") {
    // the family-generality claim: the same merge entry point, nothing
    // changed but the token space and (p, q)
    GraftFunctions.register(spark)
    val bytes = Similarity.documentsSizeBytes(spark, sf)
    val toks = Similarity.shingleDocSets(spark, sf)
    val base = Similarity.tokenSetGroupsBy(toks.filter(pmod(col("doc_id"), lit(2L)) === 0))
    val basePairs = Similarity.setPairsAbove(base, 3, 5, bytes)
    val merged = pairsMerge(base, basePairs,
      toks.filter(pmod(col("doc_id"), lit(2L)) === 1), 3, 5, bytes)
    val cold = Similarity.setPairsAbove(
      Similarity.tokenSetGroupsBy(toks), 3, 5, bytes)
    assert(rows(merged).nonEmpty)
    assert(rows(merged) == rows(cold))
  }

  test("q246 declared key equals the cold q55 readout") {
    GraftFunctions.register(spark)
    val q246 = rows(Similarity.q246ShinglePairsDeltaMerge(spark, sf))
    assert(q246.nonEmpty && q246 == rows(Similarity.q55ShingleNeardup(spark, sf)))
  }
}
