package graft

import graft.ops.{Similarity, Sketches, TrainingData}
import org.apache.spark.sql.Row

/** Specs for the sketch + training-data extension operators. */
class TrainingDataSpec extends SparkSpecBase {

  private def docsFixture(): String = {
    val dir = tmpDir()
    writeDocuments(dir,
      (1L, "a b c d e f g h i j", "en", "s", 10L),
      (2L, "a b c d e f g h i j", "en", "s", 10L), // identical to 1
      (3L, "a b c d e f g h i k", "en", "s", 10L), // j=9/11=0.818
      (4L, "z y x w v u t s r q", "en", "s", 10L)) // unrelated
    dir
  }

  test("q188 mix contingency: over/under flags follow the exact cross-multiplied expectation; balanced cell flags neither") {
    val dir = tmpDir()
    val rows =
      (1 to 3).map(i => (10L + i, s"t$i", "en", "s1", 2L)) ++ Seq((14L, "t", "de", "s1", 1L)) ++
      Seq((15L, "t", "en", "s2", 1L)) ++ (1 to 3).map(i => (20L + i, s"u$i", "de", "s2", 2L)) ++
      Seq((30L, "t", "en", "s3", 1L), (31L, "t", "de", "s3", 1L))
    writeDocuments(dir, rows: _*)
    // totals: s1=4, s2=4, s3=2; en=5, de=5; n=10 → expectation 2/2/1
    val out = graft.ops.TrainingData.q188MixContingency(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getBoolean(6), r.getBoolean(7))))
      .toMap
    assert(out(("s1", "en")) == ((3L, true, false)))  // 3·10 > 4·5
    assert(out(("s1", "de")) == ((1L, false, true)))  // 1·10 < 4·5
    assert(out(("s2", "en")) == ((1L, false, true)))
    assert(out(("s2", "de")) == ((3L, true, false)))
    assert(out(("s3", "en")) == ((1L, false, false))) // 1·10 = 2·5 — balanced
    assert(out(("s3", "de")) == ((1L, false, false)))
  }

  test("q25 minhash-lsh: identical docs always collide; output ⊆ exact q21") {
    val dir = docsFixture()
    val lsh = Sketches.q25MinhashNeardup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.q21JaccardNeardup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.contains((1L, 2L))) // identical signature -> every band collides
    assert(lsh.subsetOf(exact)) // exact-verify tail: zero false positives
  }

  test("q26 simhash: identical docs at hamming 0; unrelated docs absent") {
    val dir = docsFixture()
    val out = Sketches.q26SimhashNeardup(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(out((1L, 2L)) == 0L)
    assert(!out.keySet.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("q27 lang-id features are deterministic and bounded") {
    val dir = tmpDir()
    writeDocuments(dir, (1L, "aa bb ee oo", "en", "s", 1L))
    val r = TrainingData.q27LangId(spark, dir).collect().head
    assert(r.getDouble(2) == 0.75) // vowels aaeeoo / letters aabbeeoo
    assert(r.getDouble(3) == 2.0)
    assert(r.getString(4) == "vowel-heavy")
  }

  test("q28 quality score components") {
    val dir = tmpDir()
    // 4 tokens, 1 stopword, avg token len (3+3+3+3)/4=3.0
    writeDocuments(dir, (1L, "the cat dog fox", "en", "s", 1L))
    val r = TrainingData.q28QualityScore(spark, dir).collect().head
    assert(r.getLong(1) == 4L)
    assert(r.getDouble(3) == 3.0) // chars sans spaces = 12 / 4
    assert(r.getDouble(4) == 0.25)
    assert(r.getDouble(5) == 2.0 * 0.25 + 1.0 + 0.0)
  }

  test("q29 token counts: ws vs regex runs") {
    val dir = tmpDir()
    writeDocuments(dir, (1L, "ab1 cd2e f", "en", "s", 1L))
    val r = TrainingData.q29TokenCount(spark, dir).collect().head
    assert(r.getLong(1) == 3L) // ws tokens
    assert(r.getLong(2) == 4L) // ab, cd, e, f
    assert(r.getLong(3) == 2L) // 1, 2
    assert(r.getLong(4) == 0L)
  }

  test("q30 fingerprint is position-sensitive") {
    val dir = tmpDir()
    writeDocuments(dir,
      (1L, "ab cd", "en", "s", 1L),
      (2L, "cd ab", "en", "s", 1L), // same bag, different order
      (3L, "ab cd", "en", "s", 1L)) // same as 1
    val out = TrainingData.q30Fingerprint(spark, dir).collect()
    val fp = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(3L))
    assert(fp(1L) != fp(2L))
    // hand-check doc 1: 1*(97*31+2) + 2*(99*31+2) = 3009 + 6142
    assert(fp(1L) == (1L * (97 * 31 + 2) + 2L * (99 * 31 + 2)) % 1000000007L)
  }

  test("q31 top similar pairs finds an exact duplicate vector at sim 1.0") {
    val dir = tmpDir()
    val v = Seq(1f, 2f, 3f, 4f)
    writeEmbeddings(dir, (0L, v, 0), (1L, v, 0), (2L, Seq(-4f, 3f, -2f, 1f), 0),
      (3L, Seq(0.1f, 0.2f, 0.3f, 0.4f), 0))
    val top = Similarity.q31EmbedNeardup(spark, dir).collect().head
    // (0,1) identical and (0,3)/(1,3) colinear all have sim 1.0; (0,1) wins tie order
    assert((top.getLong(0), top.getLong(1)) == (0L, 1L) && top.getDouble(2) == 1.0)
  }

  test("q32 ivf restricts search to the query's cluster") {
    val dir = tmpDir()
    // centroids are vec_id < 8 (here: all vectors); queries < 5; targets >= 5
    val rows = (0L to 9L).map { i =>
      val base = if (i % 2 == 0) Seq(1f, 0f, 0f, 0f) else Seq(0f, 1f, 0f, 0f)
      (i, base.map(x => x + (i / 100.0f)), 0)
    }
    writeEmbeddings(dir, rows: _*)
    val out = Similarity.q32IvfAnn(spark, dir).collect()
    // queries on the even axis only ever see even-axis targets
    for (r <- out if r.getLong(0) % 2 == 0) assert(r.getLong(2) % 2 == 0)
    for (r <- out if r.getLong(0) % 2 == 1) assert(r.getLong(2) % 2 == 1)
  }

  test("q32b trained ivf: bit-deterministic across runs, bounded sims, k<=10 per query") {
    val sf = "/root/testdata/sf0.001"
    val out = Similarity.q32bIvfTrained(spark, sf).collect()
    val again = Similarity.q32bIvfTrained(spark, sf).collect()
    assert(out.nonEmpty)
    // decimal-exact centroid means + hash seeds → retraining must be
    // bit-identical (float partials would flap run-to-run)
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
    assert(out.forall(r => r.getDouble(3) >= -1.0 && r.getDouble(3) <= 1.0))
    val perQuery = out.groupBy(_.getLong(0)).view.mapValues(_.length)
    assert(perQuery.values.forall(_ <= 10))
  }

  test("q33 multimodal stub: byte metadata matches payload") {
    val dir = tmpDir()
    writeDocuments(dir, (1L, "abc", "en", "s", 3L))
    val r = TrainingData.q33MultimodalStub(spark, dir).collect().head
    assert(r.getLong(1) == 3L)
    assert(r.getLong(2) == 'a'.toLong)
  }

  test("q47 approx distinct: within HLL rsd bounds of exact, deterministic") {
    val out = graft.ops.Sketches.q47ApproxDistinct(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    for (r <- out) {
      val (approx, exact) = (r.getLong(1), r.getLong(2))
      // rsd=5%; allow 4 sigma. Exact counts here are small (~150 users),
      // where HLL++ uses the bias-corrected linear-counting range.
      assert(math.abs(approx - exact) <= math.max(2.0, 0.2 * exact),
        s"${r.getString(0)}: approx $approx vs exact $exact")
    }
    val again = graft.ops.Sketches.q47ApproxDistinct(spark, "/root/testdata/sf0.001").collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("q54 hash sample: exactly min(20, stratum size) per lang; pure function of keys") {
    val sf = "/root/testdata/sf0.001"
    val out = TrainingData.q54HashSample(spark, sf).collect()
    val expected = graft.Tables.documents(spark, sf).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> math.min(20L, r.getLong(1))).toMap
    val got = out.groupBy(_.getString(1)).view.mapValues(_.length.toLong).toMap
    assert(got == expected, s"got $got expected $expected")
    val again = TrainingData.q54HashSample(spark, sf).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("q195 weighted sample: ranking matches the exact A-ES formula; weight biases selection") {
    val dir = tmpDir()
    // 1 heavy doc (weight 2001) among 60 light ones (weight 9):
    // u^(1/2001) crowds toward 1, so the heavy doc all but surely
    // outranks most light docs — the size bias the op exists for
    val heavy = (1L, "h" * 2000, "en", "s", 1L)
    val light = (2L to 61L).map(d => (d, "12345678", "en", "s", 1L))
    writeDocuments(dir, (heavy +: light): _*)
    val out = TrainingData.q195WeightedSample(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == 20)
    // exact replica of the ranking key
    def key(id: Long, w: Long): Double = {
      val u = (((id % 1000000007L) * 2654435761L % 1000000007L).toDouble + 0.5) / 1.000000007e9
      math.log(u) / w.toDouble
    }
    val expected = ((heavy +: light).map { case (d, t, _, _, _) => (d, t.length.toLong + 1) })
      .sortBy { case (d, w) => (-key(d, w), d) }.take(20)
      .map { case (d, w) =>
        (d, w, math.floor(key(d, w) * 1000000.0 + 0.5) / 1000000.0) }
    assert(out.toSeq == expected, s"got ${out.toSeq}\nexpected $expected")
    // the heavy doc made the cut despite 60 competitors
    assert(out.exists(_._1 == 1L), out.toSeq)
    // pure function of the keys: stable under re-runs
    val again = TrainingData.q195WeightedSample(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == again.toSeq)
  }

  test("q111 hash split: assignments stable under corpus growth, all splits populated") {
    val base = (1L to 400L).map(d => (d, s"doc body $d", "en", "s", 1L))
    val dirA = tmpDir()
    writeDocuments(dirA, base: _*)
    val a = TrainingData.q111HashSplit(spark, dirA).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // grow the corpus: every pre-existing doc must keep its split —
    // the property rand()-based splits lack
    val dirB = tmpDir()
    writeDocuments(dirB, base ++ (401L to 500L).map(d => (d, s"doc body $d", "en", "s", 1L)): _*)
    val b = TrainingData.q111HashSplit(spark, dirB).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(base.forall { case (d, _, _, _, _) => a(d) == b(d) })
    // the 256-bucket thresholds actually produce all three splits at
    // this size, with train dominating
    val byCounts = b.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byCounts.keySet == Set("train", "val", "test"), s"$byCounts")
    assert(byCounts("train") > byCounts("val") + byCounts("test"))
  }

  test("q57 sketch rollup: merged daily sketches track the exact union distinct") {
    val out = Sketches.q57SketchRollup(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    for (r <- out) {
      val (approx, exact) = (r.getLong(2), r.getLong(3))
      // datasketches HLL at default lgK=12 is near-exact at these
      // cardinalities (~150 users); allow a loose 5% + slack bound
      assert(math.abs(approx - exact) <= math.max(2.0, 0.05 * exact),
        s"${r.getString(0)}: merged-sketch estimate $approx vs exact $exact")
      assert(r.getLong(1) >= 1L) // sketches actually merged across days
    }
  }

  test("q50 stratified sample: exact hash-draw membership, rates honored, unlisted strata dropped") {
    val sf = "/root/testdata/sf0.001"
    val out = TrainingData.q50StratifiedSample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    // the draw is a PURE function of (doc_id, lang): recompute the
    // expected member set from the raw table and demand equality —
    // the property that makes the sample engine-portable and oracled
    val p = 1000000007L
    val kM = 2654435761L
    val rate = Map("en" -> 2L, "de" -> 4L, "fr" -> 10L)
    val expected = Tables.documents(spark, sf).select("doc_id", "lang", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .filter { case (id, lang, _) =>
        rate.get(lang).exists(b => ((id % p) * kM % p) * b < p) }
      .sortBy(_._1).toSeq
    assert(out == expected, s"hash-draw membership diverged: ${out.size} vs ${expected.size}")
    val byLang = out.groupBy(_._2).view.mapValues(_.size.toDouble).toMap
    assert(byLang.keySet.subsetOf(Set("en", "de", "fr")), "unlisted strata must be excluded")
    // loose Bernoulli bounds on ~70-190 rows per stratum
    assert(byLang("en") / 193 > 0.3 && byLang("en") / 193 < 0.7)
    assert(byLang("de") / 71 > 0.1 && byLang("de") / 71 < 0.45)
  }

  test("q64 chunking: window/stride fan-out, boundaries, full coverage") {
    val dir = tmpDir()
    // 35 tokens -> chunks at 0/12/24 (16,16,11 tokens); 16 -> one chunk;
    // 17 -> two (second = 5 tokens); 3 -> one short chunk
    writeDocuments(dir,
      (1L, (0 until 35).map(i => s"w$i").mkString(" "), "en", "s", 1L),
      (2L, (0 until 16).map(i => s"x$i").mkString(" "), "en", "s", 1L),
      (3L, (0 until 17).map(i => s"y$i").mkString(" "), "en", "s", 1L),
      (4L, "a b c", "en", "s", 1L))
    val out = TrainingData.q64Chunk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.filter(_._1 == 1L).map(c => (c._2, c._3)).toSeq ==
      Seq((0L, 16L), (1L, 16L), (2L, 11L)))
    assert(out.filter(_._1 == 2L).map(c => (c._2, c._3)).toSeq == Seq((0L, 16L)))
    assert(out.filter(_._1 == 3L).map(c => (c._2, c._3)).toSeq == Seq((0L, 16L), (1L, 5L)))
    assert(out.filter(_._1 == 4L).map(c => (c._2, c._3)).toSeq == Seq((0L, 3L)))
    // overlap: chunk 1 of doc 1 starts at token 12
    assert(out.find(c => c._1 == 1L && c._2 == 1L).get._4.startsWith("w12 "))
    // coverage: every token of doc 1 appears in some chunk
    val covered = out.filter(_._1 == 1L).flatMap(_._4.split(" ")).toSet
    assert(covered == (0 until 35).map(i => s"w$i").toSet)
  }

  test("q65 temperature mix: sqrt-rebalanced targets favor small sources") {
    val dir = tmpDir()
    // 400/100 split: proportional sampling of 200 gives 160/40; √
    // (α = 0.5) weights are exactly 20:10, so integer targets are
    // (200·2e7) div 3e7 = 133 and (200·1e7) div 3e7 = 66 — the small
    // source's share rises from 20% to 33%
    val docs = (0 until 400).map(i => (i.toLong, s"big doc $i", "en", "srcA", 1L)) ++
      (400 until 500).map(i => (i.toLong, s"small doc $i", "en", "srcB", 1L))
    writeDocuments(dir, docs: _*)
    val out = TrainingData.q65TemperatureMix(spark, dir).collect()
    val bySource = out.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(bySource == Map("srcA" -> 133, "srcB" -> 66), s"got $bySource")
    // determinism: identical on rerun
    val again = TrainingData.q65TemperatureMix(spark, dir).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("q64 chunk properties over every length 1..100: count formula, sizes, coverage") {
    val dir = tmpDir()
    writeDocuments(dir, (1 to 100).map(n =>
      (n.toLong, (0 until n).map(k => s"t$k").mkString(" "), "en", "s", 1L)): _*)
    val byDoc = graft.ops.TrainingData.q64Chunk(spark, dir).collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getLong(2).toInt, r.getString(3)))
      .groupBy(_._1)
    for (n <- 1 to 100) {
      val chunks = byDoc(n).sortBy(_._2)
      assert(chunks.length == 1 + (math.max(n - 16, 0) + 11) / 12, s"n=$n count")
      for ((_, cid, sz, text) <- chunks) {
        assert(sz == math.min(16, n - cid * 12), s"n=$n chunk $cid size")
        assert(text.startsWith(s"t${cid * 12} ") || text == s"t${cid * 12}", s"n=$n chunk $cid start")
      }
      // coverage: every token appears in some chunk
      assert(chunks.flatMap(_._4.split(" ")).toSet == (0 until n).map(k => s"t$k").toSet, s"n=$n coverage")
    }
  }

  test("q68 frame sample: every 3rd 16-byte frame, short tail kept, empty payload skipped") {
    val dir = tmpDir()
    writeDocuments(dir,
      (1L, "0123456789abcdef" * 6 + "tail", "en", "s", 1L), // 100 B = 7 frames -> ids 0,3,6
      (2L, "x", "en", "s", 1L), // 1 B = 1 frame -> id 0, 1-byte frame
      (3L, "", "en", "s", 1L)) // empty -> no frames
    val out = graft.ops.TrainingData.q68FrameSample(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.map(t => (t._1, t._2)).toSeq == Seq((1L, 0L), (1L, 3L), (1L, 6L), (2L, 0L)))
    assert(out.map(_._3).toSeq == Seq(0L, 48L, 96L)  ++ Seq(0L)) // byte offsets
    // frame 6 of doc 1 covers bytes 96..99 -> the 4-byte "tail"
    val tail = java.util.Base64.getDecoder.decode(out(2)._4)
    assert(new String(tail, "UTF-8") == "tail")
    assert(java.util.Base64.getDecoder.decode(out(0)._4).length == 16)
    assert(new String(java.util.Base64.getDecoder.decode(out(3)._4), "UTF-8") == "x")
  }

  test("q80 sequence pack: contiguous global offsets, exact sequence arithmetic") {
    val sf = "/root/testdata/sf0.001"
    val rows = TrainingData.q80SequencePack(spark, sf).collect()
    // the packed stream is gapless: each doc starts where the previous ended
    var expectedStart = 0L
    rows.foreach { r =>
      val (nTok, start, seqId, seqOff, spans) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(start == expectedStart, s"doc ${r.getLong(0)}: start $start != $expectedStart")
      assert(seqId == start / 2048 && seqOff == start % 2048)
      assert(spans == (start + nTok - 1) / 2048 - seqId + 1)
      expectedStart = start + nTok
    }
    assert(rows.map(_.getLong(1)).sum == expectedStart)
  }

  test("q81 incremental dedup: batch docs whose text exists in the index are dropped") {
    val sf = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val idxSrc = (0 to 9).map(i => s"src$i").toSet
    val indexTexts = docs.filter(d => idxSrc(d._2)).map(_._3).toSet
    val batch = docs.filterNot(d => idxSrc(d._2))
    val expected = batch
      .groupBy(_._3).values.map(_.minBy(_._1)) // within-batch first-wins
      .filterNot(d => indexTexts(d._3)) // not already indexed
      .map(_._1).toSet
    val got = TrainingData.q81IncrementalDedup(spark, sf).collect().map(_.getLong(0)).toSet
    assert(got == expected)
    // q100, the near-dup face of the same index/batch split: one row per
    // rejected batch doc with its count of index partners
    val dir = tmpDir()
    val idx1 = (0 until 10).map(i => s"a$i").mkString(" ")
    val idx2 = (0 until 10).map(i => s"p$i").mkString(" ")
    writeDocuments(dir,
      (1L, idx1, "en", "src0", 1L), (2L, idx1, "en", "src1", 1L),
      (3L, idx2, "en", "src0", 1L),
      (10L, idx1, "en", "new0", 1L), // exact dup of the 2-doc index group
      (11L, idx2 + " extra", "en", "new0", 1L), // J = 10/11 vs doc 3
      (12L, (0 until 10).map(i => s"z$i").mkString(" "), "en", "new0", 1L), // admitted
      (13L, idx1, "en", "new0", 1L)) // a second exact dup: rejected too
    val q100 = Similarity.q100IncrementalNeardup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(q100 == Map(10L -> 2L, 11L -> 1L, 13L -> 2L), q100)
  }

  test("q113 source cap: kept set IS the independent top-15 per source by (score, doc_id)") {
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf).select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val scores = TrainingData.q28QualityScore(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(5)).toMap
    val expected = scores.toSeq
      .map { case (id, s) => (docs(id), s, id) }
      .groupBy(_._1).flatMap { case (src, xs) =>
        xs.sortBy(x => (-x._2, x._3)).take(15).zipWithIndex
          .map { case ((_, s, id), i) => (src, (i + 1).toLong, id, s) }
      }.toSet
    val got = TrainingData.q113SourceCap(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == expected)
  }

  test("q114 DSIR weights: target-domain docs score above the rest by a mean gap") {
    val sf = "/root/testdata/sf0.001"
    val src = Tables.documents(spark, sf).select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val tgt = Set("src0", "src1", "src2", "src3")
    val w = TrainingData.q114DsirWeights(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    val (t, rest) = w.partition(x => tgt(src(x._1)))
    def mean(xs: Array[(Long, Double)]) = xs.map(_._2).sum / xs.length
    assert(t.nonEmpty && rest.nonEmpty)
    // measured at sf0.001: target mean +0.0147, rest -0.0240 — the
    // in-distribution-scores-higher signal DSIR resamples on; the
    // 0.02 floor leaves margin under the ~0.039 measured gap
    assert(mean(t) > mean(rest) + 0.02, s"target ${mean(t)} vs rest ${mean(rest)}")
  }

  test("q63 pii scrub: emails and phones are redacted and counted (fixture)") {
    val dir = tmpDir()
    writeDocuments(dir,
      (1L, "contact jane.doe+spam@example.co.uk or call +1 555 123-4567 now", "en", "s", 1L),
      (2L, "the customer emailed bob@corp.io twice", "en", "s", 1L),
      (3L, "no sensitive content here", "en", "s", 1L),
      (4L, "ping user@x.com today", "en", "s", 1L))
    val out = graft.ops.TextOps.q63PiiScrub(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) == ("contact <EMAIL> or call <PHONE> now", 2L), out(1L))
    assert(out(2L) == ("the <PII> emailed <EMAIL> twice", 2L), out(2L))
    assert(out(3L) == ("no sensitive content here", 0L))
    // ONE redaction: the 'user' inside the email local-part was consumed
    // by the email pass, so the term count must not see it
    assert(out(4L) == ("ping <EMAIL> today", 1L), out(4L))
  }

  test("q208 coverage: per-source missing counts; orphan and duplicate embeddings don't inflate counts") {
    val dir = tmpDir()
    writeDocuments(dir,
      (1L, "x", "en", "sA", 1L), (2L, "y", "en", "sA", 1L),
      (3L, "z", "en", "sB", 1L), (4L, "w", "en", "sB", 1L))
    writeEmbeddings(dir,
      (1L, Seq(1f, 0f), 0), (2L, Seq(0f, 1f), 0), // sA fully covered
      (1L, Seq(1f, 0f), 0),                       // retried job: dup vec 1
      (3L, Seq(1f, 1f), 0),                       // sB: doc 4 missing
      (99L, Seq(9f, 9f), 0))                      // orphan: no such doc
    val out = graft.ops.TrainingData.q208EmbeddingCoverage(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(out.toSeq == Seq(("sA", 2L, 2L, 0L, true), ("sB", 2L, 1L, 1L, false)), out.toSeq)
  }

  test("q203 target encoding: complement means per fold, all-in-one-fold segment encodes NULL") {
    val dir = tmpDir()
    writeWarehouse(dir)
    write(dir, "customer", df(Tables.customerSchema,
      Row(1L, "c1", 0, 1.0, "A"), Row(2L, "c2", 0, 1.0, "B")))
    // md5 first-hex-digit folds: keys 1,2,7,8,9 → 0; 6 → 1; 3 → 2
    def o(id: Long, c: Long, price: Double) =
      Row(id, c, "O", price, java.sql.Timestamp.valueOf("2024-01-15 00:00:00"), "P")
    write(dir, "orders", df(Tables.ordersSchema,
      o(1L, 1L, 10.0), o(2L, 1L, 20.0), // A fold 0: n=2, s=30
      o(6L, 1L, 30.0),                  // A fold 1: n=1, s=30
      o(3L, 1L, 40.0),                  // A fold 2: n=1, s=40
      o(7L, 2L, 5.0), o(8L, 2L, 7.0), o(9L, 2L, 9.0))) // B: all fold 0
    val out = graft.ops.TrainingData.q203TargetEncoding(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) null else r.getDouble(4)))
    assert(out.toSeq == Seq(
      ("A", 0L, 2L, 2L, 35.0),     // (100-30)/2
      ("A", 1L, 1L, 3L, 23.3333),  // 70/3 half-up at 4 dp
      ("A", 2L, 1L, 3L, 20.0),     // 60/3
      ("B", 0L, 3L, 0L, null)),    // no out-of-fold evidence
      out.toSeq)
  }

  test("q203 target encoding: empty orders yield no cells") {
    val dir = tmpDir()
    writeEmptyWarehouse(dir)
    assert(graft.ops.TrainingData.q203TargetEncoding(spark, dir).count() == 0)
  }

  test("q220 filter funnel: each doc is charged to its FIRST failing rule; n_in chains through the stages") {
    val dir = tmpDir()
    val fill = (1 to 10).map(i => f"fx$i%02d") // distinct 4-char tokens
    writeDocuments(dir,
      (1L, "aa bb cc dd ee ff gg hh ii jj", "en", "s", 1L),       // 10 toks → stage 1
      (2L, Seq.fill(100)("abcd").mkString(" "), "en", "s", 1L),    // 100 toks → stage 2 (repetition never reached)
      (3L, Seq.fill(20)("abcdefghij").mkString(" "), "en", "s", 1L), // avg 10 → stage 3
      (4L, Seq.fill(20)("abcd").mkString(" "), "en", "s", 1L),     // no stopword → stage 4 (before repetition)
      (5L, (Seq.fill(10)("the") ++ fill).mkString(" "), "en", "s", 1L), // max_tf 10/20 → stage 5
      (6L, ("the" +: (1 to 19).map(i => f"gy$i%02d")).mkString(" "), "en", "s", 1L)) // passes all
    val out = graft.ops.TrainingData.q220FilterFunnel(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (1L, "min_tokens", 6L, 1L, 5L),
      (2L, "max_tokens", 5L, 1L, 4L),
      (3L, "avg_tok_len", 4L, 1L, 3L),
      (4L, "has_stopword", 3L, 1L, 2L),
      (5L, "repetition", 2L, 1L, 1L)), s"funnel mismatch: ${out.toSeq}")
  }

  test("q220 filter funnel: empty corpus yields the 5 stage rows, all zero") {
    val dir = tmpDir()
    writeDocuments(dir)
    val out = graft.ops.TrainingData.q220FilterFunnel(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == (1L to 5L).map(s => (s, 0L, 0L, 0L)).toSeq)
  }
}
