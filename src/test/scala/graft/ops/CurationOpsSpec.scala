package graft.ops

import graft.SparkSpecBase
import org.scalacheck.{Gen, Prop, Test}

/** Behavior specs for the round-7 curation operators: the
  * cluster-quality keeper (q136), the mix/epoch schedule (q137), the
  * shard-skew report (q138) and n-gram novelty (q140). Fixtures are
  * chosen so each operator's DECISION differs from the naive rule it
  * replaces (keeper ≠ first-wins; capped ≠ uncapped; novel ≠ seen).
  */
class CurationOpsSpec extends SparkSpecBase {

  test("q136: keeps the highest-quality cluster member, not the first-seen one") {
    val dir = tmpDir()
    graft.functions.GraftFunctions.register(spark)
    val shared = (0 until 19).map(i => s"w$i") // distinct unigram core
    writeDocuments(dir,
      // doc 1: core + "x" — no stopwords, 20 tokens, score 1.0
      (1L, (shared :+ "x").mkString(" "), "en", "s", 1L),
      // doc 2: core + six "the" — J = 19/21 ≈ 0.905 with doc 1 (near-dup
      // edge), but higher quality: stop_ratio 6/25 → score 1.48
      (2L, (shared ++ Seq.fill(6)("the")).mkString(" "), "en", "s", 1L),
      // doc 9: disjoint vocabulary — its own singleton cluster
      (9L, (0 until 12).map(i => s"z$i").mkString(" "), "en", "s", 1L))
    val out = Similarity.q136ClusterQualityKeeper(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    // cluster labeled by its min doc id (1), but doc 2 is kept
    assert(out(1L) == ((2L, 1.48, 1L)), out)
    // the singleton keeps itself and removes nothing
    assert(out(9L)._1 == 9L && out(9L)._3 == 0L, out)
    assert(out.size == 2)
    // q136's ordKey 40000 − round(score·10⁴) is exact only while every
    // non-null q28 score lies in [0, 4]; adversarial texts must not leave it
    import spark.implicits._
    val token = Gen.oneOf(Gen.oneOf(TextOps.Stopwords), Gen.alphaStr,
      Gen.oneOf("!", "...", "?!", "—", ""),
      Gen.listOf(Gen.oneOf("é", "ß", "ж", "中", "ع", "😀", "\u200b")).map(_.mkString))
    val text = Gen.oneOf(
      Gen.const(""), Gen.const("   "),
      Gen.listOf(Gen.oneOf("!", ".", ",", "?", "-", " ")).map(_.mkString), // punctuation only
      Gen.zip(token, Gen.choose(1, 600)).map { case (t, n) => Seq.fill(n)(t).mkString(" ") },
      Gen.choose(0, 3000).flatMap(Gen.listOfN(_, Gen.oneOf("中", "ж", "😀", "é", "ع"))
        .map(_.mkString)), // one long unicode run
      Gen.listOf(token).map(_.mkString(" "))) // mixed scripts
    val inRange = Prop.forAll(Gen.listOfN(40, text)) { texts =>
      val scores = TrainingData.qualityScored(texts.zipWithIndex
          .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
        .select("score").collect().filterNot(_.isNullAt(0)).map(_.getDouble(0))
      scores.length == texts.length && scores.forall(s => s >= 0.0 && s <= 4.0)
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(25), inRange)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("q137: undersized sources cap at MaxEpochs and flag; sized sources realize the full target") {
    val dir = tmpDir()
    // 4 sources → target = 400000 div 4 = 100000 tokens each
    val big = (0 until 26000).map(i => s"t$i").mkString(" ") // 26k tokens: uncapped
    writeDocuments(dir,
      (1L, "a b c d e f g h i j", "en", "srcA", 1L), // 10 tokens: capped
      (2L, big, "en", "srcB", 1L),
      (3L, (0 until 30).map(i => s"u$i").mkString(" "), "en", "srcC", 1L),
      (4L, (0 until 40).map(i => s"v$i").mkString(" "), "en", "srcD", 1L))
    val out = TrainingData.q137MixSchedule(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getBoolean(5))).toMap
    assert(out("srcA") == ((10L, 100000L, 40L, 4.0, true)), out)
    // 100000/26000 = 3.8461… epochs, fully realized, not capped
    assert(out("srcB") == ((26000L, 100000L, 100000L, 3.8462, false)), out)
    assert(out("srcC") == ((30L, 100000L, 120L, 4.0, true)), out)
    assert(out("srcD") == ((40L, 100000L, 160L, 4.0, true)), out)
  }

  test("q138: totals reconcile with q105's direct BPE pricing; imbalance ≥ 1") {
    val sf = "/root/testdata/sf0.001"
    graft.functions.GraftFunctions.register(spark)
    val row = TrainingData.q138ShardSkew(spark, sf).collect()(0)
    val nShards = row.getAs[Long]("n_shards")
    val total = row.getAs[Long]("total_tokens")
    val minT = row.getAs[Long]("min_tokens")
    val maxT = row.getAs[Long]("max_tokens")
    val imb = row.getAs[Double]("imbalance")
    // boundary-split attribution must conserve tokens: the manifest
    // total equals the corpus' directly-priced BPE token sum (a
    // different code path — per-doc pricing, no packing/splitting)
    val direct = TrainingData.q105BpeTokens(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("bpe_tokens")).collect()(0).getLong(0)
    assert(total == direct, s"manifest total $total != direct pricing $direct")
    assert(nShards >= 1L && minT >= 0L && maxT >= minT)
    assert(imb >= 1.0, s"max/avg must be >= 1: $imb")
  }

  test("q140: repeated text scores zero novelty; partially-assembled text scores the novel fraction") {
    val dir = tmpDir()
    graft.functions.GraftFunctions.register(spark)
    writeDocuments(dir,
      (1L, "a b c d e f", "en", "s", 1L), // grams: abcde, bcdef — both novel
      (2L, "a b c d e f", "en", "s", 1L), // same grams, all first seen in doc 1
      // 6 grams, one (abcde) seen in doc 1 → 5/6 novel
      (3L, "a b c d e x y z w v", "en", "s", 1L),
      (4L, "p q r s", "en", "s", 1L)) // < 5 tokens: no grams, excluded
    val out = TextOps.q140NgramNovelty(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == ((2L, 2L, 1.0)), out)
    assert(out(2L) == ((2L, 0L, 0.0)), out)
    assert(out(3L) == ((6L, 5L, 0.8333)), out)
    assert(!out.contains(4L) && out.size == 3)
  }

  test("q143: the schedule walks sources round-robin in descending quality") {
    val dir = tmpDir()
    // high-score docs: 10 stopwords + 10 fillers (stop_ratio 0.5,
    // avg_tok_len 3.5, 20 tokens → score 3.0); low-score: 2 bare tokens
    val high = (Seq.fill(10)("the") ++ Seq.fill(10)("abcd")).mkString(" ")
    writeDocuments(dir,
      (1L, high, "en", "sA", 1L), (2L, "xy xy", "en", "sA", 1L),
      (3L, high, "en", "sB", 1L), (4L, "xy xy", "en", "sB", 1L))
    val out = TrainingData.q143CurriculumInterleave(spark, dir).collect()
    // best of EACH source first, then the seconds — never source-sequential
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 3L, 2L, 4L), out.toSeq)
    assert(out.map(_.getAs[Long]("sched_key")).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(out.map(_.getAs[Long]("rank_in_source")).toSeq == Seq(1L, 1L, 2L, 2L))
  }

  test("q144: fertility reconciles with q105's per-doc pricing") {
    val sf = "/root/testdata/sf0.001"
    graft.functions.GraftFunctions.register(spark)
    import org.apache.spark.sql.functions.{count, lit, sum}
    val direct = TrainingData.q105BpeTokens(spark, sf)
      .join(graft.Tables.documents(spark, sf).select("doc_id", "source", "lang"), "doc_id")
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n"), sum("ws_tokens").as("ws"), sum("bpe_tokens").as("bpe"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val out = TrainingData.q144FertilityReport(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val k = (r.getString(0), r.getString(1))
      assert(direct(k) == ((r.getAs[Long]("n_docs"), r.getAs[Long]("ws_tokens"),
        r.getAs[Long]("bpe_tokens"))), s"slice $k diverges from per-doc pricing")
      val fert = r.getAs[Double]("fertility")
      assert(fert >= 1.0, s"BPE-per-word below 1 is impossible under merge counting: $fert")
    }
    assert(out.map(r => (r.getString(0), r.getString(1))).toSet == direct.keySet)
  }

  test("q148: each epoch is a distinct deterministic permutation of the corpus") {
    val dir = tmpDir()
    writeDocuments(dir, (0 until 8).map(i => (i.toLong, s"d$i", "en", "s", 1L)): _*)
    val out = TrainingData.q148EpochShuffle(spark, dir).collect()
    assert(out.length == 24) // 8 docs × 3 epochs
    val orders = (0L until 3L).map(e =>
      out.filter(_.getLong(0) == e).map(_.getLong(1)).toSeq)
    orders.foreach(o => assert(o.sorted == (0L until 8L), s"not a permutation: $o"))
    assert(orders.distinct.length == 3, s"epochs must not replay one order: $orders")
    // pure function of (corpus, epoch): a second evaluation is identical
    val again = TrainingData.q148EpochShuffle(spark, dir).collect().map(_.toSeq).toSeq
    assert(again == out.map(_.toSeq).toSeq)
  }

  test("q158: every threshold's survivors and token fraction are exact; failed thresholds drop out") {
    val dir = tmpDir()
    // score 3.0 (20 tokens) + score 0.0 (2 tokens) → 22 total tokens
    val high = (Seq.fill(10)("the") ++ Seq.fill(10)("abcd")).mkString(" ")
    writeDocuments(dir,
      (1L, high, "en", "s", 1L),
      (2L, "xy xy", "en", "s", 1L))
    val out = TrainingData.q158QualityRetention(spark, dir).collect()
      .map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(0.0) == ((2L, 22L, 1.0)), out)
    // thresholds 0.5 … 3.0 keep only the high-score doc: 20/22 → 0.9091
    Seq(0.5, 1.0, 1.5, 2.0, 2.5, 3.0).foreach { t =>
      assert(out(t) == ((1L, 20L, 0.9091)), s"threshold $t: ${out.get(t)}")
    }
    assert(out.size == 7)
  }

  test("degenerate inputs: empty corpus and single-doc corpus return sane results") {
    graft.functions.GraftFunctions.register(spark)
    val empty = tmpDir(); writeDocuments(empty)
    assert(Similarity.q136ClusterQualityKeeper(spark, empty).count() == 0)
    assert(TrainingData.q137MixSchedule(spark, empty).count() == 0)
    assert(TextOps.q140NgramNovelty(spark, empty).count() == 0)
    assert(TrainingData.q143CurriculumInterleave(spark, empty).count() == 0)
    assert(TrainingData.q144FertilityReport(spark, empty).count() == 0)
    val one = tmpDir()
    writeDocuments(one, (7L, "a b c d e f g h i j k l", "en", "s", 1L))
    val keeper = Similarity.q136ClusterQualityKeeper(spark, one).collect()
    assert(keeper.length == 1 && keeper(0).getLong(1) == 7L && keeper(0).getLong(3) == 0L)
    val mix = TrainingData.q137MixSchedule(spark, one).collect()
    assert(mix.length == 1 && mix(0).getLong(3) == 48L) // min(400000, 12*4)
    val nov = TextOps.q140NgramNovelty(spark, one).collect()
    assert(nov.length == 1 && nov(0).getDouble(3) == 1.0)
  }
}
