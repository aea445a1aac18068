package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.functions.col

/** Behavior specs for the round-7 embedding-curation operators:
  * hard-negative mining (q141), source-centroid similarity (q142),
  * norm-outlier flagging (q145), and the sketch-path cluster labels
  * (q146). Fixtures are chosen so each operator's DECISION differs
  * from the naive rule it replaces (hard negative ≠ nearest neighbor;
  * per-label cut ≠ global cut; sketch labels measured against exact).
  */
class EmbeddingCurationSpec extends SparkSpecBase {

  test("q141: negatives exclude the query's own label even when it holds the nearest vector") {
    val dir = tmpDir()
    writeEmbeddings(dir,
      (0L, Seq(1f, 0f, 0f, 0f), 0),
      // same label, nearest overall — a plain kNN would return it first;
      // a hard-negative miner must never emit it
      (1L, Seq(0.99f, 0.1f, 0f, 0f), 0),
      (2L, Seq(0.9f, 0.3f, 0f, 0f), 1),
      (3L, Seq(0.5f, 0.8f, 0f, 0f), 1),
      (4L, Seq(0f, 1f, 0f, 0f), 2),
      (5L, Seq(-1f, 0f, 0f, 0f), 1),
      (6L, Seq(0.8f, 0.5f, 0f, 0f), 2))
    val rows = Similarity.q141HardNegatives(spark, dir)
      .filter(col("qid") === 0L).collect()
    val tids = rows.map(_.getAs[Long]("tid")).toSeq
    assert(!tids.contains(1L), s"same-label vector leaked into negatives: $tids")
    // cosine-descending across the two other labels, tid tie-break
    assert(tids == Seq(2L, 6L, 3L, 4L, 5L), tids)
    assert(rows.map(_.getAs[Long]("rk")).toSeq == (1L to 5L), "dense ranks")
    val sims = rows.map(_.getAs[Double]("sim")).toSeq
    assert(sims == sims.sorted.reverse, s"negatives not ordered by similarity: $sims")
    assert(rows.forall(_.getAs[Int]("neg_label") != 0), "neg_label must differ from q_label")
  }

  test("q142: co-directional sources read 1.0, orthogonal sources 0.0 — scale-free") {
    val dir = tmpDir()
    writeDocuments(dir,
      (0L, "a", "en", "sA", 1L), (1L, "a", "en", "sA", 1L),
      (2L, "a", "en", "sB", 1L), (3L, "a", "en", "sC", 1L))
    writeEmbeddings(dir,
      (0L, Seq(1f, 0f), 0), (1L, Seq(3f, 0f), 0), // sA centroid along x
      (2L, Seq(2f, 0f), 0), // sB along x with a DIFFERENT magnitude
      (3L, Seq(0f, 5f), 0)) // sC along y
    val out = Similarity.q142SourceCentroidSim(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(out(("sA", "sB")) == 1.0, out) // cosine sees direction, not magnitude
    assert(out(("sA", "sC")) == 0.0 && out(("sB", "sC")) == 0.0, out)
    assert(out.size == 3, s"expected all unordered source pairs once: $out")
  }

  test("q206 drift: aligned halves read 1.0, orthogonal halves drift, one-sided and zero-norm labels guarded") {
    val dir = tmpDir()
    writeEmbeddings(dir,
      // label 1: even {2,4} and odd {1,3} centroids both along x → 1.0
      (1L, Seq(1f, 0f), 1), (2L, Seq(1f, 0f), 1),
      (3L, Seq(3f, 0f), 1), (4L, Seq(2f, 0f), 1),
      // label 2: even along x, odd along y → 0.0, drifted
      (6L, Seq(1f, 0f), 2), (7L, Seq(0f, 1f), 2),
      // label 3: only an even half → no drift readout
      (8L, Seq(1f, 1f), 3),
      // label 4: zero-norm even half → NULL sim, NULL verdict
      (10L, Seq(0f, 0f), 4), (11L, Seq(1f, 0f), 4))
    val out = Similarity.q206EmbeddingDrift(spark, dir).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getDouble(3),
        if (r.isNullAt(4)) null else r.getBoolean(4)))).toMap
    assert(out(1) == ((2L, 2L, 1.0, false)), out)
    assert(out(2) == ((1L, 1L, 0.0, true)), out)
    assert(out(4) == ((1L, 1L, null, null)), out)
    assert(out.size == 3, s"label 3 must drop (no odd half): $out")
  }

  test("q145: the runaway norm flags within its label; a single-row label never flags") {
    val dir = tmpDir()
    writeEmbeddings(dir,
      ((0 until 20).map(i => (i.toLong, Seq(1f, 0f), 0))
        :+ (20L, Seq(100f, 0f), 0) // the label-0 outlier
        :+ (21L, Seq(7f, 0f), 1)): _*) // lone row of label 1 — pr is 0.0 by definition
    val out = Similarity.q145NormOutliers(spark, dir).collect()
    val flagged = out.filter(_.getAs[Boolean]("is_outlier")).map(_.getAs[Long]("vec_id")).toSeq
    assert(flagged == Seq(20L), s"flagged=$flagged")
    val lone = out.find(_.getAs[Long]("vec_id") == 21L).get
    assert(lone.getAs[Double]("pr") == 0.0 && !lone.getAs[Boolean]("is_outlier"),
      "single-row label must rank 0.0 and pass")
    // ALL tied norm-1 rows share rank 1 → pr 0.0 (the tie rule that
    // makes the flag a pure function of norm4)
    val tied = out.filter(r => r.getAs[Long]("vec_id") < 20L)
    assert(tied.length == 20 && tied.forall(_.getAs[Double]("pr") == 0.0))
  }

  test("q149: mid-range values carry the exact 1/(2·255) reconstruction error; extremes and constant dims are exact") {
    val dir = tmpDir()
    writeEmbeddings(dir,
      (0L, Seq(0f, 3f), 0), // range minimum + constant dim — both exact
      (1L, Seq(1f, 3f), 0), // range maximum — exact
      (2L, Seq(0.5f, 3f), 0)) // mid-range: dq = 128/255 → err ≈ 0.00196
    val out = Similarity.q149QuantizationError(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out(0L) == ((0.0, 0.0)) && out(1L) == ((0.0, 0.0)), out)
    assert(out(2L) == ((0.002, 0.001)), out) // 4-dp-rounded (err, err/2)
  }

  test("q154: integer PageRank — exact fixpoint values, isolated docs excluded") {
    val dir = tmpDir()
    graft.functions.GraftFunctions.register(spark)
    val base = (0 until 20).map(i => s"w$i")
    writeDocuments(dir,
      // 4-clique: base ∪ {x} pairwise J ≥ 20/22 ≈ 0.909
      (1L, (base :+ "b1").mkString(" "), "en", "s", 1L),
      (2L, (base :+ "c1").mkString(" "), "en", "s", 1L),
      (3L, (base :+ "d1").mkString(" "), "en", "s", 1L),
      (4L, (base :+ "e1").mkString(" "), "en", "s", 1L),
      // separate pair: J = 10/11 ≈ 0.909
      (10L, (0 until 10).map(i => s"p$i").mkString(" "), "en", "s", 1L),
      (11L, ((0 until 10).map(i => s"p$i") :+ "q1").mkString(" "), "en", "s", 1L),
      // isolated — excluded from the readout
      (20L, (0 until 12).map(i => s"z$i").mkString(" "), "en", "s", 1L))
    val out = Similarity.q154SimilarityPagerank(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // N = 6, S = 10^12. Uniform start S//6 = 166666666666. The clique
    // loses one unit to the ÷3 share floor (166666666665 fixpoint);
    // the pair keeps 166666666666 — hand-checked floor arithmetic.
    assert(out.toSeq == Seq(
      (10L, 1L, 166666666666L), (11L, 1L, 166666666666L),
      (1L, 3L, 166666666665L), (2L, 3L, 166666666665L),
      (3L, 3L, 166666666665L), (4L, 3L, 166666666665L)), out.toSeq)
  }

  test("q155: the keeper is the graph CENTER, not the first-seen doc") {
    val dir = tmpDir()
    graft.functions.GraftFunctions.register(spark)
    val base = (0 until 20).map(i => s"w$i")
    writeDocuments(dir,
      // star: doc 5 is the center (J ≈ 0.83 with each leaf); the leaves
      // are J = 20/28 ≈ 0.71 apart — no leaf-leaf edge
      (1L, (base ++ Seq("b1", "b2", "b3", "b4")).mkString(" "), "en", "s", 1L),
      (2L, (base ++ Seq("c1", "c2", "c3", "c4")).mkString(" "), "en", "s", 1L),
      (5L, base.mkString(" "), "en", "s", 1L),
      // pair cluster: equal centrality → min-doc tie-break
      (10L, (0 until 10).map(i => s"p$i").mkString(" "), "en", "s", 1L),
      (11L, ((0 until 10).map(i => s"p$i") :+ "q1").mkString(" "), "en", "s", 1L),
      // isolated: keeps itself with no score
      (20L, (0 until 12).map(i => s"z$i").mkString(" "), "en", "s", 1L))
    val out = Similarity.q155PagerankKeeper(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3))).toMap
    // cluster 1 = {1, 2, 5}: doc 5 wins on centrality DESPITE the
    // higher id — a first-wins keeper would pick 1
    assert(out(1L)._1 == 5L && out(1L)._3 == 2L, out)
    assert(out(1L)._2.isDefined)
    // equal-centrality pair: deterministic min-doc tie-break, exact
    // uniform fixpoint S·(1/5) in 10⁻¹² units
    assert(out(10L) == ((10L, Some(200000000000L), 1L)), out)
    assert(out(20L) == ((20L, None, 0L)), "isolated doc keeps itself, unscored")
    assert(out.size == 3)
  }

  test("q159: same centroid direction, different dispersion — the blob q142 cannot see") {
    val dir = tmpDir()
    graft.functions.GraftFunctions.register(spark)
    writeDocuments(dir,
      (0L, "a", "en", "sT", 1L), (1L, "a", "en", "sT", 1L),
      (2L, "a", "en", "sV", 1L), (3L, "a", "en", "sV", 1L))
    writeEmbeddings(dir,
      (0L, Seq(2f, 0f), 0), (1L, Seq(2f, 0f), 0), // tight blob at (2,0)
      (2L, Seq(1f, 0f), 0), (3L, Seq(3f, 0f), 0)) // varied, same centroid
    val disp = Similarity.q159SourceDispersion(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(disp("sT") == ((2L, 0.0)), disp)
    assert(disp("sV") == ((2L, 1.0)), disp) // ((1-2)² + (3-2)²)/2
    // the motivating contrast: q142 reads the two sources as IDENTICAL
    val sim = Similarity.q142SourceCentroidSim(spark, dir).collect()
    assert(sim.length == 1 && sim.head.getDouble(2) == 1.0)
  }

  test("q160: the curve counts pairs and touched docs at each cut, boundary-exact at J = 0.8") {
    val dir = tmpDir()
    graft.functions.GraftFunctions.register(spark)
    val base = (0 until 20).map(i => s"w$i")
    writeDocuments(dir,
      (1L, base.mkString(" "), "en", "s", 1L), // A
      (2L, (base :+ "b1").mkString(" "), "en", "s", 1L), // J(A,B) = 20/21 ≈ 0.9524
      (3L, (base ++ Seq("c1", "c2", "c3", "c4", "c5")).mkString(" "), "en", "s", 1L), // J(A,C) = 0.8 exactly
      (10L, (0 until 12).map(i => s"p$i").mkString(" "), "en", "s", 1L), // exact pair
      (11L, (0 until 12).map(i => s"p$i").mkString(" "), "en", "s", 1L))
    val out = Similarity.q160ThresholdCurve(spark, dir).collect()
      .map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(0.8) == ((3L, 5L)), out) // the J = 0.8 boundary pair survives its own cut
    assert(out(0.85) == ((2L, 4L)) && out(0.9) == ((2L, 4L)), out)
    assert(out(0.95) == ((2L, 4L)), out) // 0.9524 still qualifies
    assert(out(1.0) == ((1L, 2L)), out) // only the exact copy
  }

  test("q157: pair attribution lands in the right source cell; exact copies counted apart") {
    val dir = tmpDir()
    graft.functions.GraftFunctions.register(spark)
    val base = (0 until 20).map(i => s"w$i")
    writeDocuments(dir,
      // cross-source near-dup: (srcA, srcB) cell, J = 20/21 < 1
      (1L, base.mkString(" "), "en", "srcA", 1L),
      (2L, (base :+ "x1").mkString(" "), "en", "srcB", 1L),
      // intra-source EXACT pair: (srcA, srcA) diagonal, n_exact 1
      (3L, (0 until 15).map(i => s"y$i").mkString(" "), "en", "srcA", 1L),
      (4L, (0 until 15).map(i => s"y$i").mkString(" "), "en", "srcA", 1L),
      // unrelated doc — appears in no cell
      (9L, (0 until 12).map(i => s"z$i").mkString(" "), "en", "srcC", 1L))
    val out = Similarity.q157CrossSourceDups(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out == Map(
      ("srcA", "srcA") -> ((1L, 1L)),
      ("srcA", "srcB") -> ((1L, 0L))), out)
  }

  test("q146: sketch components REFINE the exact ones (banding only misses edges); agreement measured") {
    val sf = "/root/testdata/sf0.001"
    graft.functions.GraftFunctions.register(spark)
    val sketch = Sketches.q146SketchClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = Similarity.q62DedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sketch.keySet == exact.keySet, "every doc must get a label on both paths")
    // refinement invariant: sketch edges ⊆ exact edges, so a sketch
    // cluster can never span two exact clusters — splits only
    sketch.groupBy(_._2).foreach { case (lbl, docs) =>
      val exactLabels = docs.keys.map(exact).toSet
      assert(exactLabels.size == 1, s"sketch cluster $lbl spans exact clusters $exactLabels")
    }
    val frac = sketch.count { case (d, l) => exact(d) == l }.toDouble / sketch.size
    info(f"per-doc label agreement vs exact q62: $frac%.4f over ${sketch.size} docs")
    assert(frac >= 0.95, s"agreement $frac below the measured floor")

    // a hapax-dominated corpus routes the sketch labels through the
    // exact PREFIX join: exact dups {10, 11} near-dup 20 (J = 9/11),
    // 40 chains onto 20 (J = 9/11) but not onto the group (J = 8/12),
    // and ten filler docs of unique words stay alone
    val zipf = tmpDir()
    def words(ids: Seq[Int]) = ids.map(i => s"w$i").mkString(" ")
    val docs = Seq(
      10L -> words(1 to 10), 11L -> words(1 to 10), 20L -> words((1 to 9) :+ 11),
      40L -> words((1 to 8) ++ Seq(11, 12))) ++
      (0 until 10).map(i => (30L + i) -> (0 until 5).map(j => s"f${i}_$j").mkString(" "))
    writeDocuments(zipf, docs.map { case (id, text) => (id, text, "en", "s", 1L) }: _*)
    assert(Similarity.zipfLikeDf(Similarity.stagedUnigramGroups(spark, zipf)),
      "fixture must exercise the prefix route")
    assert(Sketches.q146SketchClusters(spark, zipf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (Seq(10L, 11L, 20L, 40L).map(_ -> 10L) ++ (30L to 39L).map(d => d -> d)).toMap)
  }

  test("q216: stuck dimensions flag dead via exact min=max; the live dimension's variance is the computational formula") {
    val dir = tmpDir()
    // dims 0 and 2 stuck (every vector agrees), dim 1 spreads {0, .5, 1}
    writeEmbeddings(dir,
      (1L, Seq(1f, 0f, 2f), 0),
      (2L, Seq(1f, 0.5f, 2f), 0),
      (3L, Seq(1f, 1f, 2f), 1))
    val out = Similarity.q216DimVariance(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getBoolean(6)))).toMap
    assert(out.keySet == Set(0L, 1L, 2L))
    assert(out(0L) == ((3L, 1.0, 0.0, 1.0, 1.0, true)), out)
    assert(out(2L) == ((3L, 2.0, 0.0, 2.0, 2.0, true)), out)
    // dim 1: mean .5; (n·Σx² − (Σx)²)/n² = (3·1.25 − 2.25)/9 = 1/6 → .1667
    assert(out(1L) == ((3L, 0.5, 0.1667, 0.0, 1.0, false)), out)
  }
}
