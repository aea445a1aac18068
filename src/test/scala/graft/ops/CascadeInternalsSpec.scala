package graft.ops

import graft.SparkSpecBase
import graft.stage.PartitionPolicy
import org.apache.spark.sql.functions._

/** Internals of the near-dup cascade, exercised on BOTH broadcast
  * gates: every test corpus is far under the 128 MB broadcast
  * threshold, so without this spec the shuffle-join verify path — the
  * one a 100 TB corpus takes — would ship untested. Forcing docBytes
  * above the gate must change the PLAN (no broadcast of the group
  * dimension) but not one row of output.
  */
class CascadeInternalsSpec extends SparkSpecBase {

  private def fixture(): String = {
    val dir = tmpDir()
    writeDocuments(dir,
      (1L, "a b c d e", "en", "s", 1L),
      (2L, "a b c d e", "en", "s", 1L), // exact dup of 1
      (3L, "a b c d e f", "en", "s", 1L), // j = 5/6 vs {a..e}
      (4L, "a b c d f", "en", "s", 1L), // j(3,4) = 5/6
      (5L, "x y z w v", "en", "s", 1L))
    dir
  }

  test("verify+expand: shuffle-join path (docBytes over gate) matches broadcast path") {
    val dir = fixture()
    graft.functions.GraftFunctions.register(spark)
    val groups = Similarity.tokenSetGroups(spark, dir)
    val cands = Similarity.prefixJoinCandidates(groups, 4, 5)
    def run(docBytes: BigInt): Seq[String] = {
      val setPairs = Similarity.verifySetJaccardWithMembers(cands, groups, 0.8, docBytes)
      Similarity.expandWithMembers(setPairs, groups, "jaccard", lit(1.0))
        .orderBy("doc_a", "doc_b").collect().map(_.toString).toSeq
    }
    // disable auto-broadcast so only the gate's explicit hint can
    // broadcast — on a real 100 TB corpus the stats exceed the auto
    // threshold and this is exactly the planner state the gate sees
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val viaBroadcast = run(BigInt(1)) // under gate -> hinted broadcast
      val viaShuffle = run(BigInt(Long.MaxValue)) // over gate -> real shuffle join
      assert(viaBroadcast.nonEmpty)
      assert(viaBroadcast == viaShuffle)
      assert(viaBroadcast.exists(_.startsWith("[1,2,1.0]"))) // exact dup pair, J=1
      def verifyPlan(docBytes: BigInt): String =
        Similarity.verifySetJaccardWithMembers(cands, groups, 0.8, docBytes)
          .queryExecution.executedPlan.toString()
      // assert on the two canon LOOKUP joins (keyed ga/gb) specifically:
      // the candidate subtree legitimately broadcasts its tiny df-rank
      // offsets relation at ANY corpus size, so a blanket plan-wide
      // BroadcastHashJoin scan would misread the gate
      val under = verifyPlan(BigInt(1))
      val over = verifyPlan(BigInt(Long.MaxValue))
      assert(under.contains("BroadcastHashJoin [ga") && under.contains("BroadcastHashJoin [gb"),
        s"under-gate verify must broadcast the group dimension via the hint:\n$under")
      assert(!over.contains("BroadcastHashJoin [ga") && !over.contains("BroadcastHashJoin [gb"),
        s"over-gate verify must fall back to a shuffle join for the group dimension:\n$over")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** Deterministic corpus over a >64-word vocabulary, with planted
    * exact dups and near-dups — forces the GENERAL (prefix join +
    * merge-scan verify) strategy, since the small-universe probe
    * counts 80 distinct tokens.
    */
  private def bigVocabFixture(): String = {
    val dir = tmpDir()
    val vocab = (0 until 80).map(i => s"w$i")
    def doc(words: Seq[Int]): String = words.map(vocab).mkString(" ")
    writeDocuments(dir,
      (1L, doc(0 until 10), "en", "s", 1L),
      (2L, doc(0 until 10), "en", "s", 1L), // exact dup of 1
      (3L, doc((0 until 9) :+ 70), "en", "s", 1L), // J vs {0..9} = 9/11 ≥ 0.8
      (4L, doc(20 until 30), "en", "s", 1L),
      (5L, doc((20 until 29) :+ 71), "en", "s", 1L), // J vs doc4 = 9/11
      (6L, doc(12 until 80), "en", "s", 1L)) // loner; pushes the universe to 79 tokens
    dir
  }

  test("strategy probe: small universe detected, large universe falls to the general path") {
    val dir = fixture()
    graft.functions.GraftFunctions.register(spark)
    val small = Similarity.smallUniverse(Similarity.tokenSetGroups(spark, dir))
    assert(small.isDefined && small.get.size == 11 && small.get == small.get.sorted)
    val big = Similarity.smallUniverse(Similarity.tokenSetGroups(spark, bigVocabFixture()))
    assert(big.isEmpty)
  }

  test("masked strategy = general strategy: identical set pairs on the same corpus") {
    // the fixture's 11-token universe takes the masked path in
    // setPairsAbove; the general path is invoked explicitly on the SAME
    // groups — both must emit exactly the same (ga, gb, jaccard, ma, mb)
    val dir = fixture()
    graft.functions.GraftFunctions.register(spark)
    val groups = Similarity.tokenSetGroups(spark, dir)
    assert(Similarity.smallUniverse(groups).isDefined)
    val masked = Similarity
      .setPairsAbove(groups, 4, 5, BigInt(1))
      .orderBy("ga", "gb").collect().map(_.toString).toSeq
    val general = Similarity
      .verifySetJaccardWithMembersGeneral(
        Similarity.prefixJoinCandidates(groups, 4, 5), groups, 0.8, BigInt(1))
      .orderBy("ga", "gb").collect().map(_.toString).toSeq
    assert(masked.nonEmpty && masked == general)
  }

  test("prefixBucketStats matches a hand computation; ordering probe separates the orderings") {
    import spark.implicits._
    // three ranked sets at threshold 4/5 (prefix length = sz - ceil(4sz/5) + 1):
    //   g1: toks [1,2,3,4,5]      sz 5  -> prefix len 2 -> prefix {1,2}
    //   g2: toks [1,2,6,7,8]      sz 5  -> prefix {1,2}
    //   g3: toks [2,9,10,11,12]   sz 5  -> prefix {2,9}
    // buckets: tok 1 -> n=2 (C=1), tok 2 -> n=3 (C=3), tok 9 -> n=1 (C=0)
    // => total 4, max 3
    val ranked = Seq(
      (1L, Seq(1L, 2L, 3L, 4L, 5L), 5),
      (2L, Seq(1L, 2L, 6L, 7L, 8L), 5),
      (3L, Seq(2L, 9L, 10L, 11L, 12L), 5)).toDF("gid", "toks", "sz")
    assert(Similarity.prefixBucketStats(ranked, 4, 5) == (4L, 3L))
    // empty relation: both statistics coalesce to zero, no NPE
    assert(Similarity.prefixBucketStats(ranked.filter(lit(false)), 4, 5) == (0L, 0L))
    // the canary's ordering probe: canonical rank order keeps the
    // shared-pool tokens out of every prefix (0 candidates); the
    // deliberate hash-order revert measured all 4,950 (SCALING.md §6.1)
    assert(Similarity.orderingProbeCandidates(spark) == 0L)
  }

  test("general path (>64-token universe): plan uses merge-scan verify; pairs brute-force-exact") {
    val dir = bigVocabFixture()
    graft.functions.GraftFunctions.register(spark)
    // the candidate+verify join runs at staging-BUILD time now — pin the
    // merge-scan verify on the build plan; q21's consumer plan only
    // expands the staged pairs
    val build = Similarity.setPairsAbove(Similarity.stagedUnigramGroups(spark, dir), 4, 5,
      Similarity.documentsSizeBytes(spark, dir))
    assert(build.queryExecution.executedPlan.toString.contains("sorted_intersect_count"),
      "large universe must verify via the native merge-scan")
    val out = Similarity.q21JaccardNeardup(spark, dir)
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // brute-force truth computed in the test, not the engine
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .collect().map(r => (r.getLong(0), r.getString(1).split(" ").toSet)).toSeq
    val want = (for {
      (a, sa) <- docs; (b, sb) <- docs if a < b
      j = (sa & sb).size.toDouble / (sa | sb).size if j >= 0.8
    } yield (a, b, math.floor(j * 10000 + 0.5) / 10000)).sortBy(p => (p._1, p._2))
    assert(got.sortBy(p => (p._1, p._2)) == want && want.nonEmpty)
  }

  test("masked strategy = brute force on 8 seeded random corpora, both thresholds") {
    // randomized trial of the whole q21 pipeline under the
    // small-universe strategy: word-soup docs over a 12-word vocab
    // (dense near-dup space, exact dups included), doc-pair output
    // compared against Jaccard computed directly on the string sets
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 12).map(i => s"v$i")
    for (trial <- 0 until 8; (p, q) <- Seq((4, 5), (3, 5)).take(if (trial % 2 == 0) 2 else 1)) {
      val docs = (1L to 30L).map { d =>
        val sz = 4 + rnd.nextInt(6)
        // draw from a prefix of the vocab so overlaps (and dups) are common
        d -> Array.fill(sz)(vocab(rnd.nextInt(6 + rnd.nextInt(6)))).toSeq
      }
      val dir = tmpDir()
      writeDocuments(dir, docs.map { case (d, w) => (d, w.mkString(" "), "en", "s", 1L) }: _*)
      graft.functions.GraftFunctions.register(spark)
      val groups = Similarity.tokenSetGroups(spark, dir)
      assert(Similarity.smallUniverse(groups).isDefined) // trial must exercise the masked path
      val got = Similarity.nearDupPairsFrom(groups, p, q, BigInt(1)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val sets = docs.map { case (d, w) => d -> w.toSet }
      val want = (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        inter = (sa & sb).size; uni = (sa | sb).size
        if inter * q >= p * uni
      } yield (a, b, math.floor(inter.toDouble / uni * 10000 + 0.5) / 10000)).toSet
      assert(got == want,
        s"trial $trial t=$p/$q: missing=${want -- got} extra=${got -- want}")
    }
  }

  test("universe boundary: exactly 64 tokens takes the masked path (sign bit included); 65 falls back") {
    // at |U| = 64 the top-ranked token lands on bit 63 — the Long's
    // SIGN bit; masks go negative and popcount/AND must still be exact
    def corpus(nVocab: Int): String = {
      val dir = tmpDir()
      val vocab = (0 until nVocab).map(i => f"t$i%02d")
      writeDocuments(dir,
        (1L, vocab.take(10).mkString(" "), "en", "s", 1L),
        (2L, vocab.take(10).mkString(" "), "en", "s", 1L), // exact dup of 1
        (3L, (vocab.take(9) :+ vocab.last).mkString(" "), "en", "s", 1L), // J = 9/11 vs doc1
        (4L, vocab.mkString(" "), "en", "s", 1L)) // touches every vocab word
      dir
    }
    graft.functions.GraftFunctions.register(spark)
    for ((n, expectMasked) <- Seq((64, true), (65, false))) {
      val dir = corpus(n)
      val groups = Similarity.tokenSetGroups(spark, dir)
      assert(Similarity.smallUniverse(groups).isDefined == expectMasked, s"probe at |U|=$n")
      val got = Similarity.nearDupPairsFrom(groups, 4, 5, BigInt(1)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // same truth on both sides of the boundary: the strategy must not
      // change the answer
      assert(got == Set((1L, 2L, 1.0), (1L, 3L, 0.8182), (2L, 3L, 0.8182)), s"|U|=$n: $got")
    }
  }

  test("expandNearDupPairs (join-based, q26 path) agrees with expandWithMembers") {
    val dir = fixture()
    graft.functions.GraftFunctions.register(spark)
    val groups = Similarity.tokenSetGroups(spark, dir)
    val cands = Similarity.prefixJoinCandidates(groups, 4, 5)
    val withMembers = Similarity.verifySetJaccardWithMembers(cands, groups, 0.8, BigInt(1))
    val a = Similarity.expandWithMembers(withMembers, groups, "jaccard", lit(1.0))
      .orderBy("doc_a", "doc_b").collect().map(_.toString).toSeq
    val b = Similarity.expandNearDupPairs(withMembers.select("ga", "gb", "jaccard"),
        groups, BigInt(1), "jaccard", lit(1.0))
      .orderBy("doc_a", "doc_b").collect().map(_.toString).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("setPairsAbove ≡ brute force on seeded random corpora (both universe regimes, canonical-order candidates)") {
    // zero-false-negative guarantee of the prefix cascade, re-proven
    // after round 12 moved candidate generation into dfRankedSets' (df
    // ASC, token ASC) rank space: on every corpus, the qualifying pair
    // set must equal the all-group-pairs brute force. Trials cover the
    // general (>64-token universe, prefix join) and masked (≤64,
    // bitmask-fused join) strategies, Zipf-skewed and uniform token
    // draws, and planted near-dup pairs (1 mutation on ~15 tokens:
    // J = 14/16 ≥ 4/5).
    val rnd = new scala.util.Random(20260816L)
    for (trial <- 1 to 6) {
      val dir = tmpDir()
      val vocabN = if (trial % 2 == 0) 40 else 80 + rnd.nextInt(60)
      val zipf = trial % 3 == 0
      def draw(): Int =
        if (zipf) math.min(vocabN - 1, (math.pow(rnd.nextDouble(), 3) * vocabN).toInt)
        else rnd.nextInt(vocabN)
      val base = scala.collection.mutable.ArrayBuffer.empty[Set[Int]]
      val docs = (0 until (30 + rnd.nextInt(30))).map { i =>
        val set: Set[Int] =
          if (base.nonEmpty && rnd.nextDouble() < 0.3) {
            val src = base(rnd.nextInt(base.size)) // near-dup: mutate one token
            if (src.size > 2 && rnd.nextBoolean()) src - src.head + draw() else src
          } else (0 until (10 + rnd.nextInt(10))).map(_ => draw()).toSet
        base += set
        (i.toLong, set.toSeq.sorted.map(t => s"w$t").mkString(" "), "en", "s", 1L)
      }
      writeDocuments(dir, docs: _*)
      val groups = Similarity.tokenSetGroups(spark, dir)
      val gs = groups.select("gid", "toks").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toSet))
      val expected = (for {
        (ga, ta) <- gs; (gb, tb) <- gs if ga < gb
        inter = (ta & tb).size
        if 5L * inter >= 4L * (ta.size + tb.size - inter) // J >= 4/5 exactly
      } yield (ga, gb)).toSet
      val got = Similarity.setPairsAbove(groups, 4, 5, Similarity.documentsSizeBytes(spark, dir))
        .select("ga", "gb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected,
        s"trial $trial (vocab $vocabN, zipf $zipf): cascade ${got.size} pairs vs brute ${expected.size}; " +
          s"missing ${expected -- got}, extra ${got -- expected}")
    }
  }

  test("pairJoinShufflePartitions: session under threshold, 128-floored fine regime, 4096 cap") {
    // session conf here is 4 (SparkSpecBase); policy constant = one
    // partition per 160 KB of compressed documents
    val kb160 = BigInt(160L << 10)
    // corpus under the session threshold -> session conf, no clone
    assert(PartitionPolicy.pairJoinShufflePartitions(spark, kb160 * 2) == 4)
    assert(PartitionPolicy.pairJoinSession(spark, kb160 * 2) eq spark)
    // outgrows the session -> floors at 128 (a merely proportional
    // count leaves the hot bucket whole — the measured 10x straggler)
    assert(PartitionPolicy.pairJoinShufflePartitions(spark, kb160 * 10) == 128)
    // beyond the floor it grows with the corpus, capped at 4096
    assert(PartitionPolicy.pairJoinShufflePartitions(spark, kb160 * 500) == 500)
    assert(PartitionPolicy.pairJoinShufflePartitions(spark, kb160 * 100000) == 4096)
    // the clone carries the policy count and the session keeps its own
    val clone = PartitionPolicy.pairJoinSession(spark, kb160 * 10)
    assert(clone.conf.get("spark.sql.shuffle.partitions") == "128")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }
}
