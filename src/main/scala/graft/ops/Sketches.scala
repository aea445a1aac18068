package graft.ops

import graft.functions.GraftFunctions.{minhashSignature, simhash64}
import graft.stage.Staging.stagedTable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Sketch-based near-duplicate detection: MinHash+LSH banding and
  * SimHash — the sublinear scale paths beside the exact q21 join. Both
  * are hash-function-dependent (Spark's xxhash64), so they are declared
  * WITHOUT a DuckDB oracle (driver records a rows-only check); their
  * correctness guard is the exact-Jaccard verification pass at the end
  * (output ⊆ q21's output by construction) plus the recall specs.
  *
  * Everything is built from codegen-friendly higher-order expressions —
  * signatures are computed in one pass over each doc, and the LSH join
  * shuffles only (band, hash, doc_id) ints.
  */
object Sketches {

  private val NumPerm = 32 // minhash permutations
  private[graft] val Bands = 8 // 8 bands × 4 rows: P(collide) ≈ 1-(1-j⁴)⁸, ~0.97 at j=0.8

  /** One-join first-collision candidate generation, shared by q25/q26:
    * input rows carry their full signature as SCALAR hash columns
    * h0..h{n-1}; each row explodes to n (band_id, band_hash) keys that
    * keep the scalars; the self equi-join on (band_id, band_hash) emits
    * a pair only in its LOWEST colliding band via a static disjunction
    * over the scalar columns. Properties that matter at scale:
    *  - pairs exit the join already distinct (no fan-out, no
    *    dropDuplicates exchange);
    *  - every predicate is a scalar long comparison, so the join's
    *    O(bucket²) inner loop stays inside whole-stage codegen (array
    *    formulations drag in CodegenFallback HOFs — measured 8× slower);
    *  - ONE join = 2 exchanges and a handful of generated classes,
    *    where the per-band unrolled version planned 2n exchanges and
    *    paid scheduling + codegen-cache churn for 2n join subtrees.
    * `carry` columns propagate to the output as `<c>_a` / `<c>_b`.
    */
  private def firstCollisionPairs(sides: DataFrame, nBands: Int,
      carry: Seq[String]): DataFrame = {
    val scalarCols = (0 until nBands).map(j => col(s"h$j")) ++ carry.map(col)
    val banded = sides.select(
      (col("gid") +: scalarCols) :+
        posexplode(array((0 until nBands).map(j => col(s"h$j")): _*))
          .as(Seq("band_id", "band_hash")): _*)
    val anyEarlier = earlierBandCollision(nBands)
    banded.as("a").join(banded.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.band_hash") === col("b.band_hash") &&
          col("a.gid") < col("b.gid") && !anyEarlier)
      .select(col("a.gid").as("ga") +: col("b.gid").as("gb") +:
        carry.flatMap(c => Seq(col(s"a.$c").as(s"${c}_a"), col(s"b.$c").as(s"${c}_b"))): _*)
  }

  /** Attach the per-row banded minhash signature as SCALAR columns
    * h0..h{Bands-1}, keeping `keep`'s columns: one codegen'd loop per
    * set (graft.functions.MinHashSignature) — the nested-HOF
    * formulation evaluates 32·|toks| interpreted lambdas. Shared by
    * q25's self-join candidate generation and the staged
    * `minhash_bands` family, so every side of a banding join bands
    * identically by construction.
    */
  private[graft] def withBandHashes(df: DataFrame, toksCol: String, keep: Seq[String]): DataFrame = {
    val rowsPerBand = NumPerm / Bands
    df.withColumn("sig", minhashSignature(col(toksCol)))
      .select(keep.map(col) ++ (0 until Bands).map { j =>
        xxhash64((0 until rowsPerBand).map(k =>
          element_at(col("sig"), j * rowsPerBand + k + 1)): _*).as(s"h$j")
      }: _*)
  }

  /** True iff the a/b row pair already collided in a band BEFORE
    * a.band_id — the first-collision exactly-once emission predicate,
    * shared by the q25/q26 self-joins.
    */
  private[graft] def earlierBandCollision(nBands: Int): org.apache.spark.sql.Column =
    (1 until nBands).map { i =>
      (col("a.band_id") === i) &&
        (0 until i).map(j => col(s"a.h$j") === col(s"b.h$j")).reduce(_ || _)
    }.reduce(_ || _)

  /** The LSH banding front end alone: candidate (ga, gb) SET pairs from
    * the first-collision banding join over a collapsed corpus — exposed
    * so LshAdvantageSpec can COUNT candidates against the exact prefix
    * join's on corpora where the two filters diverge (the sublinear
    * claim is measured, not asserted). Band hash j is the builtin
    * xxhash64 over the band's 4 signature slots (extracted with
    * codegen'd element_at, not a CodegenFallback slice/transform) —
    * equal sub-signatures always collide, so candidate semantics and
    * the verified output are unchanged by the hash choice.
    */
  private[ops] def minhashBandCandidates(groups: DataFrame): DataFrame =
    firstCollisionPairs(withBandHashes(groups, "toks", Seq("gid")), Bands, Nil)

  /** The banded minhash signature relation over the collapsed corpus —
    * (gid, h0..h7), STAGED once per (session, corpus): q25's self-join
    * previously evaluated the signature subtree (one 32-permutation
    * `minhash_signature` pass + 8 band hashes over every distinct
    * token set) on BOTH join sides, per call (VERDICT r14 Next #4 —
    * the double corpus-sized MinHash computation). All longs → exact
    * parquet round trip, and — unlike a `localCheckpoint`, which would
    * surrender plan statistics and drop the banding join out of its
    * broadcast regime (the canary's q25 pin) — the staged scan carries
    * real footer stats.
    */
  private def stagedMinhashBands(spark: SparkSession, dir: String): DataFrame =
    stagedTable(spark, dir, "minhash_bands")(
      withBandHashes(Similarity.stagedUnigramGroups(spark, dir), "toks", Seq("gid")))

  /** q25 — MinHash+LSH near-dup: per-doc signature = min of xxhash64
    * seeded per permutation over the token set; docs sharing any banded
    * signature slice become candidates; candidates are verified with the
    * exact Jaccard (≥ 0.8). At 100 TB only the banding join shuffles,
    * on (band_id, band_hash) keys — never token sets.
    *
    * First-collision emission (the round-1 bench fix): a near-dup pair
    * collides in ~all 8 bands, so the naive banding join emitted every
    * pair up to 8× and needed a quadratic-sized dropDuplicates exchange
    * to repair it (44.9 s at sf0.1 — slower than the exact q21 it
    * approximates). See [[firstCollisionPairs]] for how each pair is
    * instead emitted exactly once from its lowest colliding band with
    * every predicate codegen'd.
    */
  def q25MinhashNeardup(spark: SparkSession, dir: String): DataFrame = {
    val threshold = 0.8
    val docBytes = Similarity.documentsSizeBytes(spark, dir)
    // exact-dup collapse first (same cascade as q21): signatures,
    // banding and verification all run over DISTINCT token sets;
    // qualifying set pairs expand back to doc pairs at the end. The
    // collapse is the cross-query staged relation
    // (Similarity.stagedUnigramGroups) feeding the banding join, verify
    // and expansion from one staging-table scan.
    val groups = Similarity.stagedUnigramGroups(spark, dir)
    // both self-join sides read the STAGED banded signatures — the
    // signature subtree computes once per (session, corpus), not twice
    // per call (see [[stagedMinhashBands]]); the candidate semantics
    // are [[minhashBandCandidates]]' verbatim
    val cands = firstCollisionPairs(stagedMinhashBands(spark, dir), Bands, Nil)
    val setPairs = Similarity.verifySetJaccardWithMembers(cands, groups, threshold, docBytes)
    Similarity.expandWithMembers(setPairs, groups, "jaccard", lit(1.0))
      .orderBy("doc_a", "doc_b")
  }

  /** q47 — HLL++ approximate count-distinct per event_type, beside the
    * exact count (q04c is the exact operator; here the exact value is
    * carried only to expose the sketch error). At 100 TB this is THE
    * count-distinct: the HLL sketch is fixed-size and mergeable, so the
    * aggregation stays map-side-partial + one shuffle of ~1.5 KB
    * sketches per group, where exact distinct must shuffle every
    * distinct (type, user) pair. Sketch-based (engine-specific register
    * layout) → declared without a DuckDB oracle, like q25/q26.
    */
  def q47ApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id"), rsd = 0.05).as("approx_users"),
        count_distinct(col("user_id")).as("exact_users"))
      .orderBy("event_type")

  /** q57 — re-aggregatable sketch rollup: per-(event_type, day) HLL
    * sketches of distinct users, MERGED up to per-type totals via
    * `hll_union_agg`. This is the 100 TB pre-aggregation pattern q47
    * only hints at: daily sketch tables are tiny, mergeable state that
    * can be rolled up to ANY coarser grain after the fact — where
    * naive daily distinct counts cannot be summed (users recur across
    * days). The exact count is carried beside the estimate to expose
    * the sketch error. Sketch registers are engine-specific → rows-only
    * like q47, with the error-bound spec as the guard.
    */
  def q57SketchRollup(spark: SparkSession, dir: String): DataFrame = {
    val daily = graft.Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    daily
      .groupBy("event_type")
      .agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"),
        count(lit(1)).as("n_days"))
      .join(graft.Tables.events(spark, dir).groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("exact_users")), "event_type")
      .select("event_type", "n_days", "approx_users", "exact_users")
      .orderBy("event_type")
  }

  /** q146 — SKETCH-PATH CLUSTER LABELS: the full web-scale dedup
    * composition MinHash-LSH → exact verify → connected components —
    * q62's cluster assignment with candidate generation swapped from
    * the exact prefix join to q25's banding join. This is the pipeline
    * that actually runs at 100 TB (GFG/CCNet/RefinedWeb all label
    * clusters off LSH candidates, never exact all-pairs), so declaring
    * it is the point: the sketch stage bounds candidate cost, the
    * exact Jaccard verify keeps edges precise, and the CC labels are
    * whatever components those edges span.
    *
    * Recall is a measured trade, not an assertion (the q120/q32c
    * discipline): banding can only MISS edges, so sketch components
    * only ever split relative to q62's exact truth — never merge —
    * and SketchClusterAgreementSpec measures the per-doc label
    * agreement against [[Similarity.componentLabels]]. Sketch-based ⇒
    * rows-only at the driver, like q25/q26.
    *
    * Everything here is a staged-artifact consumer: the collapse and
    * the hash-min loop are q62's own machinery, so the only new work
    * at readout time is the banding join over the staged groups.
    */
  def q146SketchClusters(spark: SparkSession, dir: String): DataFrame =
    stagedSketchLabels(spark, dir).orderBy("doc_id")

  /** q241 — SKETCH-REFINEMENT AUDIT, the sketch path's hash-checked
    * contract (round-12 VERDICT Next #8): q146's labels themselves are
    * xxhash64-dependent (rows-only at the driver, q25's class), but the
    * REFINEMENT INVARIANT they satisfy is engine-independent — banding
    * can only MISS candidate edges and the survivors are verified at
    * q62's own threshold, so every sketch cluster is a subset of
    * exactly one exact cluster. This readout joins the two staged label
    * families on doc_id and counts, per sketch cluster, the distinct
    * exact clusters it spans; the output is the audit a production run
    * logs: (n_labeled, n_refinement_violations). The oracle IS the
    * invariant: n_labeled = count(documents) (both paths label every
    * doc) and violations = 0 — if the sketch path ever produced a
    * cluster crossing an exact boundary (a verify-threshold drift, a
    * label-propagation bug), this key's hash check fails at the
    * driver. EmbeddingCurationSpec measures the complementary
    * direction (how much the sketch path SPLITS, its recall trade).
    */
  def q241SketchRefinementAudit(spark: SparkSession, dir: String): DataFrame = {
    val sk = stagedSketchLabels(spark, dir)
      .select(col("doc_id"), col("cluster_id").as("sketch_cluster"))
    val ex = Similarity.componentLabels(spark, dir)
      .select(col("doc_id"), col("cluster_id").as("exact_cluster"))
    sk.join(ex, "doc_id")
      .groupBy("sketch_cluster")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("exact_cluster")).as("n_exact"))
      .agg(coalesce(sum(col("n_docs")), lit(0L)).cast(LongType).as("n_labeled"),
        coalesce(sum(when(col("n_exact") > 1, 1L).otherwise(0L)), lit(0L))
          .cast(LongType).as("n_refinement_violations"))
  }

  /** The PERSISTED sketch-path label relation — its own staging family
    * beside `component_labels` (the exact twin), because a production
    * run materializes whichever label table its dedup path produced
    * and every downstream readout scans it. Built once per (session,
    * corpus): candidates over the staged collapse → exact verify →
    * hash-min loop → doc expansion. All-long schema → exact parquet
    * round trip.
    *
    * Candidate strategy routed by the df statistic (VERDICT r12 #5,
    * [[Similarity.zipfLikeDf]]): on Zipf-like corpora the
    * canonical-order prefix join's candidates are exact (recall 1) AND
    * linear in true near-dup density — strictly better than banding —
    * so banding is reserved for flat-df corpora where prefix filtering
    * has no pruning signal (LshAdvantageSpec's residual worst case).
    * Either branch feeds the same exact verify at the same threshold,
    * so the refinement invariant (q241) holds on both.
    */
  private[graft] def stagedSketchLabels(spark: SparkSession, dir: String): DataFrame =
    stagedTable(spark, dir, "sketch_labels") {
      val groups = Similarity.stagedUnigramGroups(spark, dir)
      val cands =
        if (Similarity.zipfLikeDf(groups)) Similarity.prefixJoinCandidates(groups, 4, 5)
        else minhashBandCandidates(groups)
      val edges = Similarity
        .verifySetJaccardWithMembers(cands, groups, 0.8, Similarity.documentsSizeBytes(spark, dir))
        .select(col("ga"), col("gb"))
      val (labels, _) = Similarity.hashMinLabels(groups.select(col("gid")), edges)
      Similarity.expandClusterLabels(groups, labels)
    }

  /** q26 — SimHash near-dup: 64-bit signature (sign of per-bit vote sums
    * over token hashes); candidate pairs share at least one of four
    * 16-bit signature chunks (pigeonhole: hamming ≤ 3 ⇒ some chunk is
    * identical), verified by exact hamming distance ≤ 3. Output is the
    * candidate pairs with their hamming distance.
    */
  def q26SimhashNeardup(spark: SparkSession, dir: String): DataFrame = {
    val maxHamming = 3
    val chunks = 4
    val docBytes = Similarity.documentsSizeBytes(spark, dir)
    // same cascade as q21/q25: the simhash is a pure function of the
    // token set, so signatures/joins run over DISTINCT sets (exact dups
    // otherwise fill each chunk bucket with identical signatures — a
    // quadratic blowup on duplicate-heavy corpora) and qualifying set
    // pairs expand back to doc pairs (within-group hamming = 0);
    // collapse from the cross-query staging registry, like q21/q25
    val groups = Similarity.stagedUnigramGroups(spark, dir)
    // bit j of the simhash = sign of Σ_tokens (±1 by bit j of the token
    // hash) — one fused codegen loop (graft.functions.SimHash64)
    val sigs = groups.select(col("gid"),
      simhash64(col("toks")).as("simhash"))
    // same first-collision emission as q25 ([[firstCollisionPairs]]):
    // candidate pairs share at least one 16-bit chunk and are emitted
    // once, from the lowest matching chunk, all predicates codegen'd
    def chunk(sh: Column, j: Int): Column =
      shiftright(sh, j * (64 / chunks)).bitwiseAND(lit(0xFFFFL))
    val sides = sigs.select(
      col("gid") +: col("simhash") +: (0 until chunks).map(j =>
        chunk(col("simhash"), j).as(s"h$j")): _*)
    val setPairs = firstCollisionPairs(sides, chunks, Seq("simhash"))
      .withColumn("hamming",
        bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))).cast(LongType))
      .filter(col("hamming") <= maxHamming)
      .select("ga", "gb", "hamming")
    Similarity.expandNearDupPairs(setPairs, groups, docBytes, "hamming", lit(0L))
      .orderBy("doc_a", "doc_b")
  }
}
