package graft

import graft.functions.{BloomFilterLong, GraftFunctions => K}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.{call_function, col, lit, struct}
import org.apache.spark.sql.types._

/** The typed kernel constructors of [[graft.functions.GraftFunctions]]:
  * each builds the same plan as the kernel's SQL name on a registered
  * session, and the operators run on a session that never registered
  * a name.
  */
class KernelColumnsSpec extends SparkSpecBase {

  private val names = Seq("sorted_intersect_count", "float_vec_dot", "minhash_signature",
    "simhash64", "shingle_hashes", "gram_hashes", "shingle_stats", "prefix_intersect_count",
    "bloom_might_contain", "word_ngrams", "bpe_token_count", "morton_interleave", "top_k_struct")

  private lazy val fixture: DataFrame = {
    val schema = StructType(Seq(
      StructField("g", IntegerType),
      StructField("words", ArrayType(StringType)),
      StructField("a", ArrayType(LongType)),
      StructField("b", ArrayType(LongType)),
      StructField("v", ArrayType(FloatType)),
      StructField("w", ArrayType(FloatType)),
      StructField("text", StringType),
      StructField("x", LongType),
      StructField("y", LongType)))
    val rows = (0 until 40).map { i =>
      Row(i % 3, Seq.tabulate(i % 7 + 1)(j => s"w${(i + j) % 5}"),
        (0L until (i % 6 + 1)).map(_ * 2 + i % 2), (0L until (i % 5 + 2)).map(_ * 3),
        Seq(i.toFloat, 1.5f, -0.25f), Seq(0.5f, i.toFloat / 4, 2.0f),
        s"the cat sat on mat $i", i.toLong * 977, (40 - i).toLong * 31)
    }
    val dir = tmpDir()
    write(dir, "kernels", df(schema, rows: _*))
    spark.read.parquet(s"$dir/kernels.parquet")
  }

  private lazy val bloom: Array[Byte] = {
    val words = BloomFilterLong.emptyWords(1024)
    (0 until 40 by 3).foreach(i => BloomFilterLong.add(words, 3, i.toLong * 977))
    BloomFilterLong.serialize(3, words)
  }

  /** (SQL name, typed constructor, the same call by name). */
  private def calls: Seq[(String, Column, Column)] = {
    def byName(name: String, args: Column*) = call_function(name, args: _*)
    val pats = Seq("t h", "c a", "th e")
    val reps = Seq("th", "ca", "the")
    Seq(
      ("sorted_intersect_count", K.sortedIntersectCount(col("a"), col("b")),
        byName("sorted_intersect_count", col("a"), col("b"))),
      ("float_vec_dot", K.floatVecDot(col("v"), col("w")),
        byName("float_vec_dot", col("v"), col("w"))),
      ("minhash_signature", K.minhashSignature(col("a")), byName("minhash_signature", col("a"))),
      ("simhash64", K.simhash64(col("b")), byName("simhash64", col("b"))),
      ("shingle_hashes", K.shingleHashes(col("words"), 2),
        byName("shingle_hashes", col("words"), lit(2))),
      ("gram_hashes", K.gramHashes(col("words"), 3), byName("gram_hashes", col("words"), lit(3))),
      ("shingle_stats", K.shingleStats(col("words"), 2),
        byName("shingle_stats", col("words"), lit(2))),
      ("prefix_intersect_count", K.prefixIntersectCount(col("a"), lit(3), col("b"), lit(2)),
        byName("prefix_intersect_count", col("a"), lit(3), col("b"), lit(2))),
      ("bloom_might_contain", K.bloomMightContain(bloom, col("x")),
        byName("bloom_might_contain", lit(bloom), col("x"))),
      ("word_ngrams", K.wordNgrams(col("words"), 2), byName("word_ngrams", col("words"), lit(2))),
      ("bpe_token_count", K.bpeTokenCount(col("text"), pats, reps),
        byName("bpe_token_count", col("text"), lit(pats.toArray), lit(reps.toArray))),
      ("morton_interleave", K.mortonInterleave(col("x"), col("y")),
        byName("morton_interleave", col("x"), col("y"))),
      ("top_k_struct", K.topKStruct(struct(col("x"), col("y")), 3),
        byName("top_k_struct", struct(col("x"), col("y")), lit(3))))
  }

  private def query(c: Column, agg: Boolean): DataFrame =
    if (agg) fixture.groupBy("g").agg(c.as("k")) else fixture.select(col("g"), c.as("k"))

  test("each typed kernel constructor builds the plan and rows of its SQL name") {
    K.register(spark)
    assert(calls.map(_._1) == names, "one typed constructor per kernel")
    calls.foreach { case (name, typed, sql) =>
      val agg = name == "top_k_struct"
      val (t, s) = (query(typed, agg), query(sql, agg))
      val (tp, sp) = (t.queryExecution.optimizedPlan, s.queryExecution.optimizedPlan)
      assert(tp.canonicalized == sp.canonicalized, s"$name:\n$tp\nvs\n$sp")
      assert(tp.toString.contains(name), s"$name missing from\n$tp")
      def rows(d: DataFrame) = d.collect().map(_.toString).sorted.toSeq
      assert(rows(t) == rows(s), name)
    }
  }

  test("GraftFunctions.register and GraftExtensions both provide every kernel name") {
    import org.apache.spark.sql.SparkSession
    def missing(s: SparkSession) =
      names.filterNot(n => s.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))
    val registered = spark.newSession()
    K.register(registered)
    assert(missing(registered).isEmpty)
    // a fresh SessionState applies the extension only when the builder
    // creates the session, so clear the suite's default/active first
    val (prevDefault, prevActive) = (SparkSession.getDefaultSession, SparkSession.getActiveSession)
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val extended = SparkSession.builder()
        .withExtensions(new graft.functions.GraftExtensions()(_)).getOrCreate()
      assert(extended ne spark)
      assert(missing(extended).isEmpty)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("operators run on a session that never registered a kernel name") {
    val fresh = spark.newSession()
    def registered = names.filter(n =>
      fresh.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)) ||
        fresh.catalog.functionExists(n))
    assert(registered.isEmpty, s"a new session starts without the names: $registered")
    // together these reach every kernel: sorted_intersect_count (q21,
    // q177), prefix_intersect_count and shingle_hashes (q21, q55),
    // float_vec_dot and top_k_struct (q115), minhash_signature (q25),
    // simhash64 (q26), gram_hashes (q104), word_ngrams (q124),
    // shingle_stats (q79), bpe_token_count (q105), bloom_might_contain
    // (q95) and morton_interleave (q175)
    val keys = Seq("q21_jaccard_neardup", "q55_shingle_neardup", "q115_knn_label",
      "q25_minhash_neardup", "q26_simhash_neardup", "q104_repeated_spans",
      "q124_boilerplate_ngrams", "q79_repetition_stats", "q105_bpe_tokens",
      "q95_bloom_semi_join", "q175_zorder_plan", "q177_triangle_census")
    val sf = "/root/testdata/sf0.001"
    keys.foreach(k => SparkEntry.queries(k)(fresh, sf).collect())
    assert(registered.isEmpty, s"operators registered $registered on the session")
  }
}
