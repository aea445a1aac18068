package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.KernelColumns.{column, expression}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.ArrayType

/** The engine's native kernels as typed `Column` constructors, plus their
  * SQL names.
  *
  * Operators call the constructors: each builds the kernel's Catalyst
  * expression directly, so nothing is registered on the session and a
  * constant argument (a shingle size, a merge table, a bloom filter) is a
  * Scala value rather than a literal checked at analysis time. SQL users
  * reach the same expressions by name through [[register]] or
  * [[GraftExtensions]]; both are built from the one [[sqlBuilders]] list.
  */
object GraftFunctions {

  def sortedIntersectCount(a: Column, b: Column): Column =
    column(SortedIntersectCount(expression(a), expression(b)))

  def prefixIntersectCount(a: Column, alen: Column, b: Column, blen: Column): Column =
    column(PrefixIntersectCount(expression(a), expression(alen), expression(b), expression(blen)))

  def floatVecDot(a: Column, b: Column): Column =
    column(FloatVecDot(expression(a), expression(b)))

  def minhashSignature(toks: Column): Column = column(MinHashSignature(expression(toks), 32))

  def simhash64(toks: Column): Column = column(SimHash64(expression(toks)))

  def shingleHashes(words: Column, n: Int): Column = column(ShingleHashes(expression(words), n))

  def gramHashes(words: Column, n: Int): Column = column(GramHashes(expression(words), n))

  def shingleStats(words: Column, n: Int): Column = column(ShingleStats(expression(words), n))

  def wordNgrams(words: Column, n: Int): Column = column(WordNgrams(expression(words), n))

  def bloomMightContain(filter: Array[Byte], key: Column): Column =
    column(BloomMightContain(Literal(filter), expression(key)))

  def bpeTokenCount(text: Column, pats: Seq[String], reps: Seq[String]): Column =
    column(BpeTokenCount(expression(text), pats, reps))

  def mortonInterleave(gx: Column, gy: Column): Column =
    column(MortonInterleave(expression(gx), expression(gy)))

  /** Aggregate: the k smallest struct values of each group. */
  def topKStruct(s: Column, k: Int): Column =
    column(TopKStruct(expression(s), Literal(k)).toAggregateExpression())

  /** Resolve a by-name call's n-gram size argument to an Int when the
    * call is built. The size shapes the generated kernel call, so it
    * must be a compile-time constant: anything non-foldable or
    * non-integral (e.g. a column, or a BIGINT wider than Int) would
    * otherwise surface as an opaque NPE/ClassCastException from
    * `eval(null)` — fail with a real error message instead.
    */
  private def shingleN(e: Expression): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"shingle_hashes: shingle size must be a literal constant, got non-foldable ${e.sql}")
    e.eval(null) match {
      case i: Int if i >= 1 => i
      case l: Long if l >= 1 && l <= Int.MaxValue => l.toInt
      case s: Short if s >= 1 => s.toInt
      case b: Byte if b >= 1 => b.toInt
      case other => throw new IllegalArgumentException(
        s"shingle_hashes: shingle size must be a positive integer literal, got " +
          s"${if (other == null) "NULL" else s"$other: ${e.dataType.simpleString}"}")
    }
  }

  /** A foldable string-array argument (e.g. `lit(Array("a", "b"))`)
    * extracted to constants at expression-build time — the carrier for
    * model-sized trained tables baked into a kernel (bpe_token_count's
    * merge rules).
    */
  private def stringArrayArg(name: String)(e: Expression): Seq[String] = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$name: expected a foldable string array, got non-foldable ${e.sql}")
    e.eval(null) match {
      case d: ArrayData if e.dataType.isInstanceOf[ArrayType] =>
        (0 until d.numElements()).map { i =>
          val s = d.getUTF8String(i)
          if (s == null) throw new IllegalArgumentException(
            s"$name: NULL element at index $i of the foldable string array")
          s.toString
        }
      case other => throw new IllegalArgumentException(
        s"$name: expected a foldable string array, got $other: ${e.dataType.simpleString}")
    }
  }

  /** SQL name, expression class and by-name builder of every kernel. */
  private[functions] val sqlBuilders: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("sorted_intersect_count", classOf[SortedIntersectCount],
      e => SortedIntersectCount(e.head, e(1))),
    ("float_vec_dot", classOf[FloatVecDot], e => FloatVecDot(e.head, e(1))),
    ("minhash_signature", classOf[MinHashSignature], e => MinHashSignature(e.head, 32)),
    ("simhash64", classOf[SimHash64], e => SimHash64(e.head)),
    ("shingle_hashes", classOf[ShingleHashes], e => ShingleHashes(e.head, shingleN(e(1)))),
    ("gram_hashes", classOf[GramHashes], e => GramHashes(e.head, shingleN(e(1)))),
    ("shingle_stats", classOf[ShingleStats], e => ShingleStats(e.head, shingleN(e(1)))),
    ("prefix_intersect_count", classOf[PrefixIntersectCount],
      e => PrefixIntersectCount(e.head, e(1), e(2), e(3))),
    ("bloom_might_contain", classOf[BloomMightContain], e => BloomMightContain(e.head, e(1))),
    ("word_ngrams", classOf[WordNgrams], e => WordNgrams(e.head, shingleN(e(1)))),
    ("bpe_token_count", classOf[BpeTokenCount],
      e => BpeTokenCount(e.head, stringArrayArg("bpe_token_count.pats")(e(1)),
        stringArrayArg("bpe_token_count.reps")(e(2)))),
    ("morton_interleave", classOf[MortonInterleave], e => MortonInterleave(e.head, e(1))),
    ("top_k_struct", classOf[TopKStruct], e => TopKStruct(e.head, e(1))))

  /** Register every kernel's SQL name on `spark` (for `spark.sql` and
    * `call_function`). Idempotent. Operators do not need it.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlBuilders.foreach { case (name, _, build) =>
      reg.createOrReplaceTempFunction(name, build, "built-in")
    }
  }
}

/** `SparkSessionExtensions` hook so deployments can load the engine's
  * SQL functions at session build time
  * (`spark.sql.extensions=graft.functions.GraftExtensions`) instead of
  * calling [[GraftFunctions.register]] per session. Injects the same
  * [[GraftFunctions.sqlBuilders]] list, so the two paths yield identical
  * sessions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.sqlBuilders.foreach { case (name, clazz, build) =>
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name), build))
    }
    // plan-policy guard: the PlanQualitySpec cartesian ban, enforced at
    // runtime for arbitrary user queries (see CartesianGuardRule). Two
    // hooks so the guard survives spark.sql.adaptive.enabled=false:
    // query-stage prep (AQE path) + columnar pre-transition (always-on
    // path in QueryExecution.preparations).
    e.injectQueryStagePrepRule(session => graft.plans.CartesianGuardRule(session))
    e.injectColumnar(session => new graft.plans.CartesianGuardColumnarRule(session))
  }
}
