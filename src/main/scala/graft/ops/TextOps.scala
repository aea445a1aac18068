package graft.ops

import graft.Tables
import graft.functions.GraftFunctions.{gramHashes, shingleHashes, wordNgrams}
import graft.stage.Staging.stagedTable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** String/text operators: the reference's string-cleaning vocabulary
  * (SURVEY.md §2.6 F3) plus the training-data text pipeline extensions
  * (§2.10 E1/E4). All codegen'd built-ins — zero UDFs.
  */
object TextOps {

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "in")

  /** F3 — string cleaning over customer names (reference strips
    * honorifics via regex at main.py:133-135 and slices strings at
    * api.py:25-27; same vocabulary: regexp_replace, substring, lower).
    */
  def q10StringClean(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_custkey"),
        regexp_replace(col("c_name"), "^Customer#", "").cast(LongType).as("cust_num"),
        lower(col("c_mktsegment")).as("seg_lower"),
        substring(col("c_name"), 1, 8).as("name_prefix"))
      .orderBy("c_custkey")

  /** F3b — split + element_at (reference's `address.split(',')[-1]`
    * postcode extraction, main.py:136-137).
    */
  def q10bPartSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_partkey"),
        element_at(split(col("p_name"), " "), -1).as("last_word"),
        lower(col("p_type")).as("type_lower"))
      .orderBy("p_partkey")

  /** E1 — exact text dedup at scale: group on a 256-bit content hash,
    * first-wins survivor by doc_id (deterministic, J6 pattern). Hashing
    * first means the shuffle for the dedup carries 32-byte digests, not
    * document bodies — the 100 TB-critical property. (The DuckDB oracle
    * partitions by raw text — identical groups modulo SHA-256 collision.)
    * On corpora where ONE text dominates (a boilerplate page repeated
    * millions of times) the window's hot digest partition is the
    * bottleneck — q93's min-struct-agg + composite-key join-back is the
    * skew-safe swap-in (map-side partials absorb the hot key).
    */
  def q20DocDedupExact(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val w = Window.partitionBy(sha2(col("text"), 256)).orderBy("doc_id")
    d.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** q93 — block-level corpus dedup (C4/RefinedWeb line-dedup
    * semantics, on fixed 10-token blocks since this corpus has no
    * newlines): every block that already occurred anywhere in the
    * corpus — earlier doc, or earlier in the SAME doc — is removed,
    * and each document is reassembled from its surviving blocks.
    * First occurrence is (doc_id, block_id)-ordered, so the pass is
    * deterministic and idempotent. Repetition the 10-token grid cannot
    * align with (a repeated span at an arbitrary offset) is q104's
    * substring-granularity protocol ([[q104RepeatedSpans]]).
    *
    * Scale design: the dedup decision is a MIN aggregate on block
    * content, not a window — min(struct(doc_id, block_id)) is
    * combinable, so map-side partials collapse a hyper-common block
    * (C4's boilerplate-line case) to one row per input partition
    * before the exchange, where a row_number window would funnel every
    * copy of the hot block through a single reducer. The first-
    * occurrence relation (one row per DISTINCT block) then hash-joins
    * back to mark keepers; the probe side's residual skew is AQE
    * skew-join territory, already demonstrated by AqeSkewSpec. Blocks
    * shuffle as text so the oracle can express the same grouping (a
    * sha2 digest swap-in keeps the payload at 32 bytes/block, q20's
    * discipline). Reassembly is a per-doc aggregate: array_sort fixes
    * collect_list's partition-dependent order (block_id leads the
    * struct), so output is deterministic under any parallelism.
    */
  def q93BlockDedup(spark: SparkSession, dir: String): DataFrame = {
    val blocks = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("n_blocks", ceil(size(col("w")) / lit(10.0)).cast(LongType))
      .select(col("doc_id"), col("n_blocks"),
        posexplode(transform(
          sequence(lit(0L), col("n_blocks") - 1),
          i => array_join(slice(col("w"), (i * 10 + 1).cast("int"), lit(10)), " "))))
      .withColumnRenamed("pos", "block_id")
      .withColumnRenamed("col", "block_text")
    // first-occurrence witness as a DECIMAL(38,0) pack, not
    // min(struct): a struct aggregation buffer plans as SortAggregate
    // (not hash-aggregable), paying two corpus-sized Sorts around the
    // block_text exchange — q88's finding, same fix. doc_id·10¹² +
    // block_id preserves the (doc_id, block_id) lexicographic order
    // exactly (block_id < 10¹² would need a single 10-TB document),
    // and the decimal buffer keeps both aggregate phases HashAggregate
    // with the map-side partials the scaladoc's skew argument relies on.
    val occ = col("doc_id").cast(org.apache.spark.sql.types.DecimalType(26, 0)) *
      lit(new java.math.BigDecimal(1000000000000L)) + col("block_id")
    val firsts = blocks
      .groupBy("block_text")
      .agg(min(occ).as("first_occ"))
    blocks.join(firsts, "block_text")
      .withColumn("kept", occ === col("first_occ"))
      .groupBy("doc_id", "n_blocks")
      .agg(
        sum(col("kept").cast(LongType)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("kept"),
              struct(col("block_id"), col("block_text"))))),
            s => s.getField("block_text")),
          " ").as("clean_text"))
      .select("doc_id", "n_blocks", "n_kept", "clean_text")
      .orderBy("doc_id")
  }

  /** q104 — substring-granularity exact dedup (Lee et al. 2022's
    * ExactSubstr protocol, the production-grade refinement of q93's
    * fixed-block dedup): find every MAXIMAL token span of length ≥ L
    * that occurs more than once anywhere in the corpus — an earlier
    * doc, a later doc, or elsewhere in the SAME doc — and emit the
    * per-doc span drop-list. Where q93 can only remove repetition
    * aligned to its 10-token block grid (`q93BlockDedup`'s scaladoc
    * names this operator as the granularity upgrade), this catches a
    * repeated span at ANY offset: the reduction is that a span of
    * length ≥ L repeats iff one of its L-grams repeats, so detection
    * needs only fixed-width grams — Lee et al.'s suffix-array machinery
    * exists to make gram probing cheap on one machine; on Spark the
    * gram relation IS the distributed suffix index.
    *
    *  1. Positional L-gram hashes per doc — one row-local JIT'd kernel
    *     ([[graft.functions.GramHashes]]), 8 bytes/gram.
    *  2. Globally repeated grams: count ≥ 2 over (doc, pos) occurrences
    *     — partial+final agg, so a boilerplate gram collapses map-side
    *     (q93's hot-block discipline); the shuffle carries longs.
    *  3. Hit positions (gram ∈ repeated) semi-join back on the hash.
    *  4. Merge overlapping/adjacent [pos, pos+L) hit windows into
    *     maximal spans — a per-doc running-max window (islands), keyed
    *     by doc_id: distributed across docs, O(hits) within one.
    *
    * Output: one row per maximal repeated span, [span_start, span_end)
    * in 0-based token positions. The drop-list is what the pipeline
    * materializes (cut spans, keep one canonical occurrence — the
    * retention choice Lee et al. leave to the consumer); Σ span_tokens
    * per doc is the dedup pressure report. The oracle replays all four
    * stages over gram STRINGS in DuckDB — hash-vs-string equivalence is
    * the usual injective-w.h.p. relabeling argument (q21/q59).
    */
  def q104RepeatedSpans(spark: SparkSession, dir: String): DataFrame =
    repeatedSpans(spark, dir).orderBy("doc_id", "span_start")

  /** Span threshold in tokens, shared by q104 (report) and q107
    * (apply). Lee et al. use 50 BPE tokens; 15 is corpus-calibrated.
    */
  private[ops] val SpanL = 15

  /** The unsorted span drop-list — q104's core, reused by q107's cut
    * application (over the raw corpus) and q112's composed pipeline
    * (over the scrubbed+deduped survivors).
    */
  private[ops] def repeatedSpans(spark: SparkSession, dir: String): DataFrame = {
    repeatedSpansIn(Tables.documents(spark, dir))
  }

  /** Span detection over any (doc_id, text) relation. */
  private[ops] def repeatedSpansIn(docs: DataFrame): DataFrame = {
    val L = SpanL
    val grams = docs
      .select(col("doc_id"),
        posexplode(gramHashes(split(col("text"), " "), L))
          .as(Seq("pos", "gram")))
    val repeated = grams
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
      .select("gram")
    val hits = grams.join(repeated, "gram").select("doc_id", "pos")
    mergeSpans(hits)
  }

  /** The island merge shared by q104/q112 (repeated grams) and q117
    * (eval-corpus grams): (doc_id, pos) gram-hit positions in, maximal
    * merged [span_start, span_end) spans out. A hit starts a new span
    * iff its window [pos, pos+L) is disjoint from (not even touching)
    * everything before it.
    */
  private[ops] def mergeSpans(hits: DataFrame): DataFrame = {
    val L = SpanL
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val prevEnd = max(col("pos") + lit(L))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("new_span",
        when(prevEnd.isNull || col("pos") > prevEnd, 1L).otherwise(0L))
      .withColumn("span_id", sum(col("new_span")).over(w))
      .groupBy("doc_id", "span_id")
      .agg(min(col("pos")).cast(LongType).as("span_start"),
        (max(col("pos")) + lit(L)).cast(LongType).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"))
  }

  /** q117 — cross-corpus decontamination at SPAN granularity: the
    * maximal ≥[[SpanL]]-token spans of each TRAINING doc that appear
    * verbatim anywhere in the EVAL suite ([[EvalSources]] — five
    * held-out benchmark sources, widening q82's single-source
    * convention). This upgrades q82's gram-membership counts
    * to exact positional evidence: instead of dropping a whole doc for
    * one shared n-gram, feed these spans to q107's cut and keep the
    * rest — the PaLM-style decontamination shape. Gram identity rides
    * the same xxhash64 `gram_hashes` kernel as q104 (injectivity
    * argument there); islands merge via [[mergeSpans]].
    *
    * Scale: the eval corpus is benchmark-sized, so its distinct gram
    * digests BROADCAST — training grams probe map-side and never
    * shuffle; only hit positions (a tiny fraction of the corpus) enter
    * the per-doc merge window.
    */
  private[ops] val EvalSources = Seq("src15", "src16", "src17", "src18", "src19")

  def q117EvalSpans(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        posexplode(gramHashes(split(col("text"), " "), SpanL))
          .as(Seq("pos", "gram")))
    val isEval = col("source").isin(EvalSources: _*)
    val evalGrams = grams.filter(isEval).select("gram").distinct()
    val hits = grams.filter(!isEval)
      .join(broadcast(evalGrams), "gram")
      .select("doc_id", "pos")
    mergeSpans(hits).orderBy("doc_id", "span_start")
  }

  /** q107 — APPLY the ExactSubstr drop-list: cut every token covered
    * by a repeated span (q104's coverage — all occurrences, Lee et
    * al.'s default cut policy) and reassemble each document from its
    * surviving tokens. The cut is a per-token anti-join against the
    * span list: equi-keyed on doc_id with the range test as the join
    * residual (a hash join, never a nested loop — the spans relation
    * is output-sized, orders of magnitude under the token stream), and
    * reassembly is q93's deterministic array_sort-of-structs
    * aggregate. Docs whose every token is covered survive with empty
    * clean_text (the document boundary is retained — dropping it is
    * the consumer's mix decision), via the left join back to the
    * corpus.
    */
  def q107SpanDedup(spark: SparkSession, dir: String): DataFrame = {
    val spans = repeatedSpans(spark, dir)
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val kept = toks
      .join(spans,
        toks("doc_id") === spans("doc_id") &&
          col("pos") >= col("span_start") && col("pos") < col("span_end"),
        "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            s => s.getField("tok")),
          " ").as("clean_text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
      .join(kept, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_cut"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy("doc_id")
  }

  /** E4 — text stats: tokenize → explode → stopword-filter → term counts
    * per language → top-5 terms (count desc, term asc — fully ordered so
    * rank ties are deterministic). The explode blows each doc into its
    * tokens but the aggregation is partial+final, so the shuffle carries
    * (lang, term, partial-count), not the token stream.
    */
  def q23TextStats(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("term"))
      .filter(!col("term").isin(Stopwords: _*) && col("term") =!= "")
    val counts = toks.groupBy("lang", "term").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("lang").orderBy(desc("n"), asc("term"))
    counts.withColumn("rk", row_number().over(w).cast(LongType)) // BIGINT in DuckDB
      .filter(col("rk") <= 5)
      .select("lang", "rk", "term", "n")
      .orderBy("lang", "rk")
  }

  /** E4c — TF-IDF: top-3 scoring terms per document,
    * score = tf · ln(N/df). The classic relevance/keyword-extraction
    * primitive of a training-data pipeline (doc quality filtering, topic
    * tagging). Scale shape: the (doc, term, tf) build is partial+final
    * (the shuffle carries term partials, not the token stream); df is a
    * vocabulary-sized aggregate joined back BY TERM — co-partitioned
    * with the tf relation on the join key; N is a broadcast scalar; the
    * final top-3 is one row_number window per doc. Nothing materializes
    * per-corpus state on any single node.
    */
  def q53Tfidf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val d = Tables.documents(spark, dir)
    val tf = d.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df")) // tf rows are distinct (doc, term)
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(desc("score"), asc("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        Det.roundD4(col("tf") * log(col("n_docs").cast(DoubleType) / col("df"))))
      .withColumn("rk", row_number().over(w).cast(LongType)) // BIGINT in DuckDB
      .filter(col("rk") <= 3)
      .select("doc_id", "rk", "term", "score")
      .orderBy("doc_id", "rk")
  }

  /** q71 — unigram-LM surprisal scoring: train a unigram language model
    * on the corpus itself (token → count / total) and score every doc
    * by its mean token surprisal `-ln p(t) = ln(total) - ln(cnt)` — the
    * perplexity-proxy quality gate corpus pipelines run (KenLM-style
    * filters are this with a higher-order model; the plan shape is
    * identical: train counts, broadcast/join, score row-local).
    * Common docs score low, rare-token gibberish scores high.
    *
    * Determinism: each token's surprisal is collapsed to 6 dp with the
    * engine-agnostic floor formula BEFORE aggregation, so the per-doc
    * mean is an exact DECIMAL average of exact terms — immune to float
    * summation order across partitions and engines (ln itself is
    * correctly-rounded-close on both; q53 established the insulation).
    * Scale: token join is key-co-partitioned (vocab is the small side
    * and broadcasts when it fits); everything else is partial+final.
    */
  def q71UnigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "") // empty tokens (run of spaces) carry no LM mass — same rule as q53
    // corpus total via a global window over the VOCAB relation, not a
    // crossJoin(agg): the agg form consumes the vocab subtree twice and
    // re-plans the corpus scan + token explode + vocabulary aggregation
    // on both sides (the q65 lesson, pinned there by PlanQualitySpec)
    val vocab = tok.groupBy("term").agg(count(lit(1)).as("cnt"))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(lit(1))))
    val surp = floor((log(col("n").cast(DoubleType)) - log(col("cnt").cast(DoubleType)))
      * lit(1000000.0) + lit(0.5)) / lit(1000000.0)
    tok.join(vocab, "term")
      .withColumn("surp", surp)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), Det.davg4(col("surp")).as("avg_surprisal"))
      .orderBy("doc_id")
  }

  /** q110 — interpolated BIGRAM LM surprisal: q71's quality signal
    * upgraded one n-gram order, the honest SQL-replayable step toward
    * the KenLM-style perplexity filters production pipelines run.
    * Per bigram position, p(w₂|w₁) = λ·c(w₁w₂)/c(w₁·) +
    * (1−λ)·c(w₂)/N (λ = 0.75 fixed — Jelinek-Mercer interpolation, so
    * unseen continuations never zero out), surprisal = −ln p floored
    * at 1 µnat (q71's ln-determinism convention); per doc, the bigram
    * count and mean surprisal. Boilerplate-heavy docs score LOW mean
    * surprisal under a bigram model even when their unigram mix looks
    * normal — exactly the repetition q79 counts, here in nats.
    *
    * Plan: the bigram relation builds row-locally (arrays_zip of two
    * slices — no HOF), count tables aggregate partial+final, the
    * corpus total rides the q71 global-window trick (one subtree, not
    * a crossJoin re-plan), and the three count lookups are
    * string-keyed joins like q53/q71 (the oracle needs the strings).
    * Docs under 2 tokens have no bigrams and drop out.
    */
  def q110BigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val w = split(col("text"), " ")
    val docs = Tables.documents(spark, dir)
    val big = docs
      .select(col("doc_id"),
        explode(arrays_zip(slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1))).as("bg"))
      .select(col("doc_id"), col("bg.0").as("w1"), col("bg.1").as("w2"))
    val uni = docs.select(explode(w).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("cu"))
      .withColumn("n", sum(col("cu")).over(Window.partitionBy(lit(1))))
    val starts = big.groupBy("w1").agg(count(lit(1)).as("cstart"))
    val bic = big.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val p = lit(0.75) * (col("cb").cast(DoubleType) / col("cstart").cast(DoubleType)) +
      lit(0.25) * (col("cu").cast(DoubleType) / col("n").cast(DoubleType))
    big
      .join(bic, Seq("w1", "w2"))
      .join(starts, Seq("w1"))
      .join(uni.withColumnRenamed("term", "w2"), Seq("w2"))
      .withColumn("surp", floor(-log(p) * lit(1000000.0) + lit(0.5)) / lit(1000000.0))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), Det.davg4(col("surp")).as("avg_surprisal"))
      .orderBy("doc_id")
  }

  /** q63 — PII scrubbing: redact emails, phone-shaped digit runs and
    * sensitive terms from document text, reporting the per-doc
    * redaction count — the C4-style cleaning pass every pretraining
    * corpus runs before anything else. Purely row-local regexp work
    * (one pass per pattern, no shuffle, scales linearly); patterns are
    * RE2-safe (no backrefs/lookarounds) so the SAME regex semantics
    * hold in Spark (Java regex), DuckDB (RE2), and any engine this
    * pipeline migrates to. A production deployment extends the pattern
    * list (SSNs, IBANs, addresses) without changing the plan shape.
    * The synthetic corpus contains no emails/phones — those patterns
    * are exercised by the spec fixtures — but the term pattern fires
    * corpus-wide, so the oracle checks live replacement+count logic,
    * not a no-op.
    */
  private[ops] val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[ops] val PhonePat = "\\+?[0-9][0-9 -]{6,}[0-9]"
  private[ops] val TermsPat = "customer|user" // stand-in for a name-gazetteer pass

  /** The scrub transformation alone (shared by q63 and the q67 composed
    * pipeline): redact emails, then phone-shaped digit runs, then
    * sensitive terms.
    */
  private[graft] def scrubText(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailPat, "<EMAIL>"),
        PhonePat, "<PHONE>"),
      TermsPat, "<PII>")

  def q63PiiScrub(spark: SparkSession, dir: String): DataFrame = {
    def countMatches(c: Column, pat: String): Column =
      size(regexp_extract_all(c, lit(pat), lit(0))) // group 0 explicit: Spark requires it for group-less counts
    // each pattern is counted on the text the corresponding replacement
    // pass actually sees — counting all three on the ORIGINAL text
    // double-counts spans an earlier pass consumed (a 'user' inside an
    // email local-part is never seen by the term pass), so n_redacted
    // would exceed the replacements made
    val afterEmail = regexp_replace(col("text"), EmailPat, "<EMAIL>")
    val afterPhone = regexp_replace(afterEmail, PhonePat, "<PHONE>")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        regexp_replace(afterPhone, TermsPat, "<PII>").as("clean_text"),
        (countMatches(col("text"), EmailPat) + countMatches(afterEmail, PhonePat) +
          countMatches(afterPhone, TermsPat)).cast(LongType).as("n_redacted"))
      .orderBy("doc_id")
  }

  /** q124 — corpus BOILERPLATE report: the top-50 most-repeated word
    * 5-grams with their occurrence count (tf) and document frequency
    * (df). q104/q107 CUT repeated spans; this op NAMES them — the
    * observability artifact a pipeline operator reads to find the
    * license header / cookie banner / nav bar that is polluting the
    * corpus (and to decide the q104 span threshold).
    *
    * Scale shape — strings never ride the wide shuffle: the heavy
    * aggregation keys on the fixed-width md5 of the gram (128-bit —
    * collision-free at any corpus size, unlike a 64-bit key at ~4e9
    * grams), so the per-gram partial+final agg shuffles 32-char keys +
    * two longs however long the grams are. Gram TEXT is attached only
    * for the 50 winners, by a second map-side gram pass semi-joined
    * against the broadcast winner hashes — two cheap corpus SCANS
    * instead of one corpus-wide string shuffle, the right trade at
    * 100 TB where scans are linear and exchanges are the bottleneck.
    * Ordering (tf desc, df desc, hash asc) is total and engine-agnostic.
    */
  def q124BoilerplateNgrams(spark: SparkSession, dir: String): DataFrame = {
    val n = 5
    val k = 50
    // native codegen'd gram build ([[graft.functions.WordNgrams]]) —
    // the HOF transform/slice/array_join formulation is interpreted
    // per window and was the whole query's bottleneck (9.7 s of the
    // 11.8 s total at sf0.1; same lesson as q55's shingle_hashes)
    def grams: DataFrame = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(wordNgrams(split(col("text"), " "), n)).as("g"))
      .select(col("doc_id"), md5(col("g")).as("h"), col("g"))
    // `top` feeds BOTH the winner-hash filter and the final join —
    // without sharing it the whole gram scan+agg subtree runs once per
    // consumer (q21's staged-collapse lesson, at single-query scope).
    // The k winner rows are COLLECTED (model-sized, k=50 — same
    // sanctioned class as the IVF centroid train) and replayed as a
    // local relation + literal IN-list: unlike the localCheckpoint this
    // replaces, nothing depends on unreplicated executor block state —
    // an executor loss recomputes from lineage / the local relation.
    val topRows = grams
      .groupBy("h")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(desc("tf"), desc("df"), asc("h"))
      .limit(k)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    import spark.implicits._
    val top = topRows.toDF("h", "tf", "df")
    val winnersText = grams
      .filter(col("h").isin(topRows.map(_._1): _*))
      .groupBy("h").agg(min(col("g")).as("gram"))
    val w = Window.orderBy(desc("tf"), desc("df"), asc("h"))
    top.join(winnersText, "h")
      .withColumn("rk", row_number().over(w).cast(LongType)) // BIGINT in DuckDB
      .select("rk", "gram", "tf", "df")
      .orderBy("rk")
  }

  /** q125 — VOCABULARY COVERAGE curve: for each candidate vocabulary
    * size k, what fraction of all corpus token occurrences the top-k
    * most-frequent tokens cover — the Zipf readout a tokenizer/vocab
    * design actually consumes (pick the smallest k past the target
    * coverage). Ranking is (count desc, token asc): total and
    * engine-agnostic.
    *
    * Scale shape: the token count is partial+final (the shuffle carries
    * per-partition term partials, q53's argument); the rank/cumsum
    * window then runs over the VOCABULARY relation — corpus-independent
    * size, q36's sanctioned vocab-window regime — never over the token
    * stream, and the total is a one-row broadcast scalar. A vocabulary
    * too large even for that window gets q80's two-level prefix sum;
    * the checkpoint filter keeps the output at |ks| rows.
    */
  def q125VocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    // checkpoints sized to the generator's 31-token vocabulary; a real
    // corpus uses (1e3, 1e4, 1e5, 1e6) — same plan, larger top-K
    val ks = Seq(5, 10, 25)
    val counts = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    // distributed top-ks.max FIRST (TakeOrderedAndProject, q121's
    // shape) so the rank/cumsum window sorts only ks.max rows — the
    // full vocabulary never lands on one partition
    val top = counts.orderBy(desc("cnt"), asc("tok")).limit(ks.max)
    val w = Window.orderBy(desc("cnt"), asc("tok"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top
      .withColumn("rk", row_number().over(w))
      .withColumn("cum_cnt", sum(col("cnt")).over(cum))
      .filter(col("rk").isin(ks: _*))
      .crossJoin(broadcast(counts.agg(sum(col("cnt")).as("total"))))
      .select(col("rk").cast(LongType).as("vocab_k"),
        col("tok").as("kth_token"), col("cnt").as("kth_count"),
        graft.ops.Det.roundD4(col("cum_cnt").cast(DoubleType) / col("total").cast(DoubleType))
          .as("coverage"))
      .orderBy("vocab_k")
  }

  /** q140 — n-gram novelty: for every doc, the fraction of its distinct
    * 5-grams that appear for the FIRST time in the corpus (first = the
    * gram's minimum doc_id). A corpus-level dedup lens that exact and
    * near-dup both miss: a doc assembled entirely from other docs'
    * phrases scores ~0 novelty while matching nothing at the
    * whole-document level — precisely the low-value templated content a
    * curation pass wants ranked. The doc-ordered variant (crawl order =
    * doc_id) is also the marginal-value curve of continued crawling.
    *
    * Scale: per-doc DISTINCT gram hashes come from the gram kernel
    * (longs, never strings, the q82 convention); the first-seen table
    * is a min-aggregation on the gram hash (map-side combinable, the
    * textbook min), and the join back is an equi-join on longs. Output
    * columns carry counts + a rounded ratio only.
    * Oracle: q82's string-gram relabeling argument — novelty is
    * invariant under the injective-w.h.p. hash.
    */
  def q140NgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(shingleHashes(split(col("text"), " "), 5)).as("h"))
    val firstSeen = grams.groupBy("h").agg(min(col("doc_id")).as("first_doc"))
    grams.join(firstSeen, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        graft.ops.Det.roundD4(col("n_novel").cast("double") / col("n_grams")))
      .orderBy("doc_id")
  }

  /** Postings per block for [[q192PostingBlocks]] — the Lucene-default
    * block size (128 postings per packed block).
    */
  val PostingBlockSize: Long = 128L

  /** q192 — INVERTED-INDEX BLOCK MANIFEST: the index-BUILD job behind
    * every ranked-retrieval system (Lucene/ES segment writing as a
    * Spark job). Per term, the doc-sorted posting list is cut into
    * 128-posting blocks, and the manifest carries each block's posting
    * count, doc-id range and total term frequency, plus the term's
    * document frequency — exactly the skip-list metadata a block-max
    * WAND query evaluator reads (min/max doc bound the block for
    * skipping; sum_tf prices its contribution).
    *
    * Shape: tf collapses token volume to distinct (term, doc) rows
    * map-side; ONE shuffle hash-partitions by term — which is
    * precisely how a distributed index build shards (each reducer
    * owns complete terms, so posting lists never cross workers) — and
    * the doc-order row_number is a per-term sort, never global. Block
    * stats then re-aggregate 128→1 within the same partitioning and
    * df is a term-partitioned window over the ≤⌈df/128⌉ block rows
    * (no second corpus pass). Posting position is 0-based so
    * `pos div 128` is floor on a non-negative int — no `//` vs `div`
    * divergence (Det.floorDivExpr's negative-dividend caveat doesn't
    * arise).
    */
  def q192PostingBlocks(spark: SparkSession, dir: String): DataFrame = {
    val tf = tfRelation(spark, dir)
    val pos = row_number().over(Window.partitionBy("term").orderBy("doc_id"))
      .cast(LongType) - lit(1L)
    tf.withColumn("pos", pos)
      .withColumn("block_id", expr(s"pos div ${PostingBlockSize}L"))
      .groupBy("term", "block_id")
      .agg(count(lit(1)).as("n_postings"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"),
        sum(col("tf")).as("sum_tf"))
      .withColumn("df",
        sum(col("n_postings")).over(Window.partitionBy("term")).cast(LongType))
      .orderBy("term", "block_id")
  }

  /** q193 — BM25 RANKED RETRIEVAL (Okapi, k₁=1.2, b=0.75): the query
    * side of [[q192PostingBlocks]]'s index — score every document
    * against a query and return the top 20. The query is derived from
    * the corpus itself (the 3 highest-df terms, ties broken by term) so
    * the job is self-contained and the oracle replays it; a production
    * deployment substitutes a literal term list without changing the
    * plan. Per matched (doc, term): idf = ln(1 + (N − df + ½)/(df + ½))
    * (Lucene's +1 shift — the raw Robertson-Spärck Jones idf goes
    * NEGATIVE for any term in more than half the collection, which a
    * highest-df query hits by construction) × the tf saturation term
    * tf·(k₁+1)/(tf + k₁·(1 − b + b·dl/avgdl)); the per-doc score sums
    * the ≤|query| contributions.
    *
    * Determinism: each contribution is pure double arithmetic on exact
    * integers (tf, df, dl, N) plus avgdl (one exact-integer division —
    * both engines evaluate the identical IEEE expression tree), floored
    * at 1 µnat (q71's ln convention) so the cross-term sum is an exact
    * DECIMAL fold immune to partition order; ranking ties break on
    * doc_id. Scale: the query relation is 3 rows (broadcast); matched
    * docs flow through one doc-keyed join with the dl relation; the
    * top-20 is TakeOrderedAndProject (q18's pin), never a global sort;
    * avgdl/N ride one-row broadcasts. dl/avgdl cover docs with ≥1
    * token — tokenless docs match no term and score nothing.
    */
  /** The (doc, term, tf) relation shared by the retrieval family
    * (q192/q193/q198/q213) — q53's tokenize-and-count collapse,
    * STAGED once per (session, corpus) since round 10: four declared
    * queries consume it (q213 alone reads it three times — postings,
    * θ seed, re-score), so the tokenize+collapse corpus pass ran up
    * to six times per session before staging. All-long/string schema
    * → exact parquet round trip; the family is inventoried by q135
    * and its count independently recomputed by the oracle.
    */
  private def tfRelation(spark: SparkSession, dir: String): DataFrame =
    stagedTfPostings(spark, dir)

  private[graft] def stagedTfPostings(spark: SparkSession, dir: String): DataFrame =
    stagedTable(spark, dir, "tf_postings")(
      tfPostingsOf(Tables.documents(spark, dir)))

  /** The tf-postings build over an arbitrary documents relation — the
    * cold-rebuild kernel shared by the staged family and the delta
    * path ([[tfPostingsMerge]]).
    */
  private[ops] def tfPostingsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** Batch DELTA-MERGE for the tf-postings family (round-12 VERDICT
    * Next #4): fold an ingest batch into an existing postings relation
    * without re-tokenizing the base corpus. (doc, term) groups are
    * PER-DOCUMENT, so under the append-only ingest contract (delta
    * doc_ids are new — q81/q210's precondition) the delta's postings
    * are key-disjoint from the base and the merge is a bare union: no
    * re-aggregation, no base-side shuffle at all — the cheapest
    * possible incremental shape, which is exactly why the postings
    * family was picked for it. DeltaMergeSpec pins merge ≡ recompute row identity.
    */
  def tfPostingsMerge(basePostings: DataFrame, deltaDocs: DataFrame): DataFrame =
    basePostings.unionByName(tfPostingsOf(deltaDocs))

  /** q242 — the postings delta-merge as a declared, oracle-checked
    * query (q210's merge ≡ recompute pattern): BASE shard = even
    * doc_id (the staged state), DELTA = odd doc_id (today's ingest);
    * base built cold, delta folded in via [[tfPostingsMerge]], full
    * merged postings read out. The oracle recomputes the postings from
    * the raw corpus in one statement.
    */
  def q242TfPostingsDeltaMerge(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val base = tfPostingsOf(docs.filter(pmod(col("doc_id"), lit(2L)) === 0))
    tfPostingsMerge(base, docs.filter(pmod(col("doc_id"), lit(2L)) === 1))
      .orderBy("doc_id", "term")
  }

  /** Per-doc token length (dl), staged beside [[stagedTfPostings]]:
    * the BM25 scorers read it once per scoring subplan (q193 once,
    * q213 twice — θ seed and final re-score), and Spark re-executes
    * shared subplans per consumer, so un-staged it was a full
    * tf-aggregate pass EACH time. One row per tokenized doc.
    */
  private[graft] def stagedDocLengths(spark: SparkSession, dir: String): DataFrame =
    stagedTable(spark, dir, "doc_lengths") {
      docLengthsOfPostings(stagedTfPostings(spark, dir))
    }

  private[ops] def docLengthsOfPostings(postings: DataFrame): DataFrame =
    postings.groupBy("doc_id").agg(sum(col("tf")).as("dl"))

  /** The corpus-derived query for q193/q198: the 3 highest-df terms,
    * ties broken by term — self-contained and oracle-replayable; a
    * production run substitutes a literal term list, same plan.
    */
  private def topDfTerms(tf: DataFrame): DataFrame =
    tf.groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), asc("term")).limit(3)

  /** The deterministic 3-term demo query (top-df terms over the staged
    * tf postings), STAGED once per (session, corpus): five retrieval
    * keys (q193, q198, q213, q222, q226) each re-ran the vocabulary
    * aggregate per call to derive the same 3 rows — a whole job of
    * fixed cost apiece for a relation that is a pure function of the
    * corpus. (term, df) are a string + long: exact parquet round trip.
    */
  private def stagedQueryTerms(spark: SparkSession, dir: String): DataFrame =
    stagedTable(spark, dir, "query_terms")(
      topDfTerms(tfRelation(spark, dir)))

  /** The Okapi idf term (Lucene's +1 shift) over `df`/`n_docs` cols. */
  private def bm25Idf: Column = {
    import org.apache.spark.sql.types.DoubleType
    log(lit(1.0) +
      (col("n_docs").cast(DoubleType) - col("df").cast(DoubleType) + lit(0.5)) /
        (col("df").cast(DoubleType) + lit(0.5)))
  }

  /** The tf saturation term over `tf`/`dl`/`avgdl` cols (k₁=1.2,
    * b=0.75) — the IDENTICAL expression tree on every call site, so
    * the exact scorer (q193), the WAND evaluator's re-score (q213) and
    * its block upper bounds can never drift numerically.
    */
  private def bm25Sat: Column = {
    import org.apache.spark.sql.types.DoubleType
    col("tf").cast(DoubleType) * lit(2.2) /
      (col("tf").cast(DoubleType) +
        lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * col("dl").cast(DoubleType) / col("avgdl")))
  }

  /** Exact BM25 per-doc scoring over a (term, doc_id, tf, df) posting
    * relation — q193's whole scorer factored out so q213's
    * candidate-pruned pass re-scores with the SAME plan tail
    * (µ-nat-floored contributions, exact DECIMAL fold, q18's top-k
    * pin applied by the caller).
    */
  private def bm25Score(postings: DataFrame, dl: DataFrame,
                        nDocs: DataFrame, avgdl: DataFrame): DataFrame =
    postings
      .join(dl, "doc_id")
      .crossJoin(broadcast(nDocs))
      .crossJoin(broadcast(avgdl))
      .withColumn("c", floor(bm25Idf * bm25Sat * lit(1000000.0) + lit(0.5)) / lit(1000000.0))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matched"), Det.dsum4(col("c")).as("score"))

  def q193Bm25(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val d = Tables.documents(spark, dir)
    val tf = tfRelation(spark, dir)
    val qterms = stagedQueryTerms(spark, dir)
    val dl = stagedDocLengths(spark, dir)
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    val avgdl = dl.agg((sum(col("dl")).cast(DoubleType) / count(lit(1))).as("avgdl"))
    bm25Score(tf.join(broadcast(qterms), "term"), dl, nDocs, avgdl)
      .orderBy(desc("score"), asc("doc_id"))
      .limit(20)
  }

  /** q198 — CONJUNCTIVE BOOLEAN RETRIEVAL (AND over the query terms):
    * the third leg of the retrieval family — q192 builds the index,
    * q193 ranks, this answers the strict `t₁ AND t₂ AND t₃` that
    * filters, joins and decontamination lookups run. Relational form
    * of the classic df-ascending posting intersection: ONE broadcast
    * semi-join of the tf relation against the 3-term query, one
    * doc-keyed groupBy, and the HAVING count = |query| membership
    * test (a doc contributes one row per matched term — distinct by
    * construction). Output carries total and WEAKEST-term support
    * (min tf — the candidate-pruning stat a ranked pass like q193
    * refines first). Scale: the intersection shuffles at
    * matched-postings size, never corpus size; a specialized engine
    * skips unmatched blocks by q192's block-max metadata — same
    * contract, physical shortcut.
    */
  def q198BooleanAnd(spark: SparkSession, dir: String): DataFrame = {
    val tf = tfRelation(spark, dir)
    tf.join(broadcast(stagedQueryTerms(spark, dir).select("term")), "term")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).cast(LongType).as("sum_tf"),
        min(col("tf")).as("min_tf"))
      .filter(col("n_terms") === 3L)
      .select("doc_id", "sum_tf", "min_tf")
      .orderBy("doc_id")
  }

  /** Safety margin added to every per-(term, block) BM25 upper bound:
    * the exact scorer publishes `floor(x·10⁶ + 0.5)/10⁶`, which can
    * EXCEED the raw product x by up to 5·10⁻⁷, and the bound's own
    * product can sit a few ulps under its true supremum — 10⁻⁶ covers
    * both. The margin only ever makes skipping MORE conservative, so
    * exactness never rests on it being tight.
    */
  private val WandMargin = 1e-6

  /** Everything the WAND evaluator shares between the declared query
    * ([[q213BlockMaxWand]]) and the pruning-visibility view
    * ([[wandBlockSurvival]]): query-term postings with q192's block
    * assignment, per-block score upper bounds, the seed threshold θ,
    * and the survival filter.
    */
  private def wandInternals(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.types.DoubleType
    val d = Tables.documents(spark, dir)
    val tf = tfRelation(spark, dir)
    // Spark re-executes shared subplans once per consumer, and this
    // evaluator fans its intermediates out 3-4 ways — the tiny ones
    // (block manifest, one-row θ) pin with EAGER localCheckpoints
    // (q177's discipline) so the posting window runs ONCE, not once
    // per consumer; the corpus-sized relations (tf, dl) and the 3-row
    // query come staged instead.
    val qterms = stagedQueryTerms(spark, dir)
    val dl = stagedDocLengths(spark, dir)
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    val avgdl = dl.agg((sum(col("dl")).cast(DoubleType) / count(lit(1))).as("avgdl"))
    // the most favorable document length any posting could carry —
    // saturation decreases in dl, so dl_min maximizes it (one row)
    val dlMin = dl.agg(min(col("dl")).as("dl_min"))
    val qp = tf.join(broadcast(qterms), "term") // term, doc_id, tf, df
    // query-term postings only (Σ df over 3 terms — the posting lists
    // a production evaluator materializes anyway); consumed by the
    // block build, the seed probe and the candidate expansion
    val posts = qp
      .withColumn("pos", row_number()
        .over(Window.partitionBy("term").orderBy("doc_id")).cast(LongType) - lit(1L))
      .withColumn("block_id", expr(s"pos div ${PostingBlockSize}L"))
      .localCheckpoint(true)
    // per-(term, block): the block-max tf is the only stat the bound
    // needs beyond the term's df (q192's manifest carries it as the
    // skip metadata this evaluator is the consumer of)
    val blocks = posts.groupBy("term", "block_id")
      .agg(max(col("tf")).as("max_tf"), max(col("df")).as("df"))
      .crossJoin(broadcast(nDocs))
      .crossJoin(broadcast(avgdl))
      .crossJoin(broadcast(dlMin))
      .withColumn("ub",
        floor(bm25Idf *
          (col("max_tf").cast(DoubleType) * lit(2.2) /
            (col("max_tf").cast(DoubleType) +
              lit(1.2) * (lit(1.0) - lit(0.75) +
                lit(0.75) * col("dl_min").cast(DoubleType) / col("avgdl")))) *
          lit(1000000.0) + lit(0.5)) / lit(1000000.0) + lit(WandMargin))
      .select("term", "block_id", "max_tf", "df", "ub")
      .localCheckpoint(true) // ⌈df/128⌉·|query| rows, 4 consumers
    val maxUb = blocks.groupBy("term").agg(max(col("ub")).as("max_ub"))
    val sumMax = maxUb.agg(sum(col("max_ub")).as("sum_max_ub"))
    // θ seed: exactly score the docs of each term's top-ub block
    // (≤ 3·128 docs) and take the 20th-best — a LOWER bound on the
    // final 20th-best score, because the candidate set only grows
    val seedBlocks = blocks
      .withColumn("rn", row_number()
        .over(Window.partitionBy("term").orderBy(desc("ub"), asc("block_id"))))
      .filter(col("rn") === 1).select("term", "block_id")
    val seedDocs = posts.join(broadcast(seedBlocks), Seq("term", "block_id"))
      .select("doc_id").distinct()
    // θ is a valid lower bound on the final 20th-best ONLY when a full
    // 20 seed scores exist: min over a smaller set is the set's LAST
    // score, which top-20 membership does not have to beat (a corpus
    // whose seed blocks are small partial tail blocks would otherwise
    // prune legitimate winners). Fewer than 20 seeds → θ = -∞, skip
    // nothing — exactness never depends on the seed being lucky.
    // score from the CHECKPOINTED query-term postings, not a fresh
    // tf-scan ⋈ qterms: posts carries exactly qp's rows (plus its
    // pos/block_id bookkeeping, ignored by the scorer's aggregation),
    // so both the θ seed pass and q213's final re-score read the
    // pinned relation — two staged-tf scans and two broadcast joins
    // fewer per call, identical scores by construction
    val theta = bm25Score(posts.join(broadcast(seedDocs), Seq("doc_id"), "left_semi"),
        dl, nDocs, avgdl)
      .orderBy(desc("score"), asc("doc_id")).limit(20)
      .agg(when(count(lit(1)) === 20L, min(col("score")))
        .otherwise(lit(-1e300)).as("theta"))
      .localCheckpoint(true) // one row; its subplan is a scoring pass
    // block-max WAND skip rule: a block is skippable when even its own
    // bound plus every OTHER term's best block bound cannot reach θ —
    // any doc living only in skipped blocks then ROUNDS strictly below
    // θ, hence below the final 20th-best (see q213's exactness
    // argument). The 6e-5 slack exists because θ is a 4-dp HALF-UP
    // OUTPUT value (Det.dsum4) while the bound caps the doc's RAW
    // contribution sum: a raw sum in [θ−5e-5, θ) still rounds to θ and
    // could win the doc_id tie-break in q193's output, so the skip
    // cutoff must sit below the rounding midpoint θ−5e-5 — the extra
    // 1e-5 swallows the binary representation error of the subtraction
    // (conservatism only ever keeps MORE blocks alive).
    val survival = blocks.join(broadcast(maxUb), "term")
      .crossJoin(broadcast(sumMax))
      .crossJoin(broadcast(theta))
      .withColumn("bound", col("ub") + (col("sum_max_ub") - col("max_ub")))
      .withColumn("survives", col("bound") >= col("theta") - lit(6e-5))
    (posts, qp, dl, nDocs, avgdl, survival)
  }

  /** The per-(term, block) pruning view behind [[q213BlockMaxWand]] —
    * block bounds, the seed threshold and the survival verdict — so a
    * spec can MEASURE blocks skipped (the point of carrying block-max
    * metadata at all) instead of trusting the claim.
    */
  private[graft] def wandBlockSurvival(spark: SparkSession, dir: String): DataFrame =
    wandInternals(spark, dir)._6
      .select("term", "block_id", "max_tf", "ub", "bound", "theta", "survives")
      .orderBy("term", "block_id")

  /** q213 — BLOCK-MAX WAND TOP-K RETRIEVAL: q193's exact top-20 by way
    * of q192's skip metadata — the fourth leg of the retrieval family
    * (q192 builds the block manifest, q193 brute-force ranks, q198
    * intersects; this one PRUNES, which is how a production engine
    * actually evaluates top-k). Three phases, all relational:
    * (1) per-(term, block) score upper bounds from the block-max tf +
    * the corpus-min dl (saturation is increasing in tf, decreasing in
    * dl, idf ≥ 0 under Lucene's +1 shift); (2) a threshold θ = the
    * 20th-best EXACT score among the docs of each term's best block
    * (≤ 3·128 seed docs — one cheap scoring pass); (3) the WAND skip
    * rule — a block survives iff `ub + Σ_{other terms} max_ub ≥ θ` —
    * and only surviving blocks' docs are re-scored exactly (every
    * matched term of a candidate participates, including postings that
    * sit in skipped blocks of OTHER terms).
    *
    * EXACTNESS (why the output is bit-identical to q193, and the
    * oracle is q193's SQL verbatim — the q37/q210 same-oracle-by-design
    * pattern): every per-term contribution of a doc in block b is
    * ≤ ub(b) ([[WandMargin]] absorbs the µ-nat round-up and ulp), so a
    * doc ALL of whose blocks are skipped has RAW contribution sum
    * ≤ max over its terms of [ub(block) + Σ_{t'≠t} max_ub(t')]
    * < θ − 6·10⁻⁵ — strictly below the 4-dp HALF-UP midpoint θ − 5·10⁻⁵,
    * so its ROUNDED output score (Det.dsum4) lands at ≤ θ − 10⁻⁴ < θ;
    * and θ ≤ the full candidate set's 20th-best (the seed set is a
    * subset — adding docs can only raise the 20th score), so no skipped
    * doc can displace a top-20 row even on doc_id ties (a tie needs
    * rounded score = θ; skipped docs round STRICTLY below it). The
    * final re-score and top-k pin are [[q193Bm25]]'s own plan tail via
    * the shared scorer.
    *
    * Scale: the bound/θ/survival relations are all block- or
    * row-count-sized (⌈df/128⌉ rows per term, one-row broadcasts); the
    * only corpus-sized flows are the posting build (q192's shape) and
    * the candidate re-score, which is the PRUNED subset — on a skewed
    * corpus the evaluator touches the high-impact blocks and proves it
    * skipped the rest (Wand13Spec measures the skip count).
    */
  def q213BlockMaxWand(spark: SparkSession, dir: String): DataFrame = {
    val (posts, _, dl, nDocs, avgdl, survival) = wandInternals(spark, dir)
    val candDocs = posts
      .join(broadcast(survival.filter(col("survives")).select("term", "block_id")),
        Seq("term", "block_id"))
      .select("doc_id").distinct()
    // the re-score reads the checkpointed posts, not a third tf scan
    // (see wandInternals' θ pass): every matched term of a candidate
    // participates exactly as before — posts IS qp row-for-row
    bm25Score(posts.join(candDocs, Seq("doc_id"), "left_semi"), dl, nDocs, avgdl)
      .orderBy(desc("score"), asc("doc_id"))
      .limit(20)
  }

  /** q201 — SPELLING-VARIANT LINKAGE (SymSpell deletion neighborhoods):
    * vocabulary terms within Levenshtein distance ≤ 2 of each other —
    * the OCR-noise / typo-variant map a corpus-cleaning pass applies
    * before any token-keyed operator trusts term identity (a vocab
    * where "query"/"quer y" split frequency mass poisons q53's TF-IDF
    * and q110's LM alike). `canonical` is the repair direction: the
    * higher-frequency spelling (ties → lexicographically smaller).
    *
    * The scale story is WHY this is SymSpell and not a similarity
    * join: candidates come from an EQUI-join on deletion variants —
    * every term emits its ≤2-deletion neighborhood (≤ 1 + L + L²/2
    * keys, vocabulary-sized × term length, never corpus-sized), and
    * the delete-only neighborhood is COMPLETE for distance ≤ 2 (any
    * two strings within 2 edits share a ≤2-deep deletion variant —
    * each edit costs one deletion on at most each side), so the exact
    * integer `levenshtein ≤ 2` verify only ever prunes (transposition
    * pairs like "ab"/"ba" collide at distance 2 anyway — harmless).
    * No pairwise block scan, no n² anywhere; terms shorter than 3
    * chars are excluded (their depth-2 neighborhoods degenerate to
    * single letters and the empty string). Both engines run the same
    * Wagner-Fischer levenshtein — the verify is bit-identical.
    */
  def q201SpellingVariants(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(length(col("t")) >= 3)
      .groupBy("t").agg(count(lit(1)).as("n"))
    // depth-1 neighborhood bound ONCE (ks), then reused as both a key
    // source and the depth-2 input — the O(L) delete array builds once
    // per term, not twice
    val keys = v
      .withColumn("ks", expr("transform(sequence(1, length(t)), i -> " +
        "concat(substring(t, 1, i-1), substring(t, i+1, length(t))))"))
      .select(col("t"), explode(array_distinct(expr(
        "concat(array(t), ks, flatten(transform(ks, s -> " +
          "transform(sequence(1, length(s)), j -> " +
          "concat(substring(s, 1, j-1), substring(s, j+1, length(s)))))))"))).as("key"))
    val pairs = keys.as("a")
      .join(keys.as("b"), col("a.key") === col("b.key") && col("a.t") < col("b.t"))
      .select(col("a.t").as("term_a"), col("b.t").as("term_b")).distinct()
      .withColumn("dist", levenshtein(col("term_a"), col("term_b")))
      .filter(col("dist") <= 2)
    pairs
      .join(v.select(col("t").as("term_a"), col("n").as("n_a")), Seq("term_a"))
      .join(v.select(col("t").as("term_b"), col("n").as("n_b")), Seq("term_b"))
      .select(col("term_a"), col("term_b"), col("dist").cast(LongType).as("dist"),
        col("n_a"), col("n_b"),
        when(col("n_a") > col("n_b"), col("term_a"))
          .when(col("n_b") > col("n_a"), col("term_b"))
          .otherwise(least(col("term_a"), col("term_b"))).as("canonical"))
      .orderBy("term_a", "term_b")
  }

  /** q202 — COLLOCATION LIFT (adjacent-bigram phrase mining): for every
    * adjacent token pair with support ≥ 5, its corpus counts and the
    * exact PMI-style verdict `collocated` ⟺ lift > 2, i.e.
    * `c_ab·N_tok² > 2·c_a·c_b·N_big` cross-multiplied in DECIMAL(38,0)
    * (q40's boundary trick — a log/float PMI would round
    * engine-dependently; the product stays under 10³⁸ up to ~10¹²
    * tokens, and past that the verdict shards per-source with the same
    * formula). This is the vocabulary-level artifact the per-DOC
    * readouts can't give: q110 scores documents BY a bigram LM, q133
    * merges characters — this nominates multi-word units ("new york")
    * for tokenizer pre-merge and q140's phrase-novelty gate.
    *
    * Shape: bigrams are array-local (one `transform` over the split —
    * no window, no self-join, no per-doc shuffle); unigram and bigram
    * counts are map-combinable; the two totals ride ONE broadcast
    * one-row frame (scalar, not a relation); the c_a/c_b lookups are
    * vocabulary-sized equi-joins.
    */
  def q202CollocationLift(spark: SparkSession, dir: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val t = Tables.documents(spark, dir).select(split(col("text"), " ").as("w"))
    val uni = t.select(explode(col("w")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val bg = t.select(explode(expr(
        "CASE WHEN size(w) < 2 THEN array() ELSE transform(sequence(2, size(w)), " +
          "i -> struct(element_at(w, i-1) AS a, element_at(w, i) AS b)) END")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val cb = bg.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 5L)
    val tot = uni.agg(sum(col("c")).cast(LongType).as("n_tok"))
      .crossJoin(bg.agg(count(lit(1)).as("n_big")))
    cb.join(uni.select(col("tok").as("a"), col("c").as("c_a")), Seq("a"))
      .join(uni.select(col("tok").as("b"), col("c").as("c_b")), Seq("b"))
      .crossJoin(broadcast(tot))
      .select(col("a").as("tok_a"), col("b").as("tok_b"),
        col("c_ab"), col("c_a"), col("c_b"),
        (col("c_ab").cast(d38) * col("n_tok") * col("n_tok") >
          col("c_a").cast(d38) * col("c_b") * col("n_big") * 2L).as("collocated"))
      .orderBy("tok_a", "tok_b")
  }

  /** q221 — PHRASE MATCH (positional retrieval): every document
    * containing the query PHRASE — two tokens ADJACENT in order, the
    * query class a bag-of-words index (q192/q193/q198) cannot answer
    * ("new york" ≠ "york … new") and the reason production posting
    * lists carry positions. The phrase is corpus-derived (the most
    * frequent adjacent bigram, ties broken lexicographically — q193's
    * self-contained-query convention; a production run substitutes
    * literals, same plan). Output per matching doc: occurrence count
    * and the 1-based position of the first hit, both exact integers.
    *
    * Shape: bigram selection reuses q202's array-local transform (no
    * window, no self-join) into one map-combinable count at VOCAB²
    * cardinality; the match scan is then fully ROW-LOCAL — one filter
    * over the token array's index range against the broadcast one-row
    * phrase — so the corpus never shuffles at all for scoring. At
    * 100 TB a positional posting index (q192's layout + a pos column)
    * would replace the scan with two block-skipped posting list
    * intersections; the declared semantics are identical.
    */
  def q221PhraseMatch(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val ph = d.select(explode(expr(
        "CASE WHEN size(w) < 2 THEN array() ELSE transform(sequence(2, size(w)), " +
          "i -> struct(element_at(w, i-1) AS t1, element_at(w, i) AS t2)) END")).as("p"))
      .groupBy(col("p.t1").as("t1"), col("p.t2").as("t2"))
      .agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("t1"), asc("t2")).limit(1)
    d.crossJoin(broadcast(ph)) // one-row phrase onto the corpus scan
      .withColumn("hits", expr(
        "CASE WHEN size(w) < 2 THEN array() ELSE filter(sequence(1, size(w) - 1), " +
          "i -> element_at(w, i) = t1 AND element_at(w, i + 1) = t2) END"))
      .filter(size(col("hits")) > 0)
      .select(col("doc_id"),
        size(col("hits")).cast(LongType).as("n_occurrences"),
        element_at(col("hits"), 1).cast(LongType).as("first_pos"))
      .orderBy("doc_id")
  }

  /** The POSITIONAL posting relation (term, doc_id, pos) —
    * [[stagedTfPostings]]' layout extended with the 1-based token
    * position, the index artifact that makes PHRASE queries (q221)
    * answerable without touching document text: production posting
    * lists carry positions for exactly this (reference api.py's search
    * endpoint rescans text per request; this is the index that
    * retires that scan). Staged once per (session, corpus).
    *
    * Unlike stagedTfPostings, EMPTY tokens are KEPT: positions must
    * index the raw split array verbatim, or a run of spaces would
    * shift every later token's position and q221b's output would
    * drift from q221's array-scan semantics. At 100 TB the table is
    * written partitioned/bucketed by term so a phrase query reads
    * exactly its two terms' posting ranges; the consumers below are
    * agnostic to that layout.
    */
  private[graft] def stagedPositionalPostings(spark: SparkSession, dir: String): DataFrame =
    stagedTable(spark, dir, "pos_postings")(
      posPostingsOf(Tables.documents(spark, dir)))

  private[ops] def posPostingsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("i", "term")))
      .select(col("term"), col("doc_id"), (col("i") + 1L).cast(LongType).as("pos"))

  /** q221b — PHRASE MATCH OVER THE POSITIONAL INDEX: q221's documented
    * 100 TB swap-in made real (same semantics, same oracle VERBATIM —
    * the q213/q193 pattern). The scan-based q221 filters every
    * document's token array; this leg never reads document text at
    * all: the phrase is derived FROM THE INDEX (adjacent pairs are the
    * (doc, pos)→(doc, pos+1) equi-self-join of the postings — exact
    * bigram counts including empty tokens, so selection ties with
    * q221's array-local count bit-for-bit), and the match is two
    * posting-list reads intersected on (doc_id, pos+1 = pos). Post
    * staging, the executed plan contains NO documents scan —
    * RetrievalSpec pins that and output-equality against q221.
    *
    * Scale: with the index partitioned by term, a LITERAL phrase query
    * (the production case — derivation here only keeps the job
    * self-contained) reads two posting ranges and shuffles their
    * intersection keys, independent of corpus text size; the
    * derivation self-join costs one (doc_id, pos)-keyed exchange of
    * the postings relation, an index-build-time shape, not a
    * query-time one.
    */
  def q221bPhraseMatchIndexed(spark: SparkSession, dir: String): DataFrame = {
    val p = stagedPositionalPostings(spark, dir)
    val ph = p.as("l").join(p.as("r"),
        col("l.doc_id") === col("r.doc_id") && col("r.pos") === col("l.pos") + 1L)
      .groupBy(col("l.term").as("t1"), col("r.term").as("t2"))
      .agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("t1"), asc("t2")).limit(1)
      .localCheckpoint(true) // 1-row phrase, consumed by both legs below
    val a = p.join(broadcast(ph.select("t1")), col("term") === col("t1"))
      .select(col("doc_id"), col("pos").as("pa"))
    val b = p.join(broadcast(ph.select("t2")), col("term") === col("t2"))
      .select(col("doc_id").as("doc_b"), col("pos").as("pb"))
    a.join(b, col("doc_id") === col("doc_b") && col("pb") === col("pa") + 1L)
      .groupBy("doc_id")
      .agg(count(lit(1)).cast(LongType).as("n_occurrences"),
        min(col("pa")).cast(LongType).as("first_pos"))
      .orderBy("doc_id")
  }

  /** q222 — DIRICHLET QUERY-LIKELIHOOD RETRIEVAL (LM scoring, µ=300):
    * the language-modeling alternative to q193's BM25 over the same
    * staged index — score every tokenized doc by the negative log
    * likelihood of the query under the doc's Dirichlet-smoothed
    * unigram LM: nll = Σ_t −ln((tf + µ·cf_t/|C|)/(dl + µ)), ranked
    * ASCENDING (smaller = more likely). Unlike BM25, a doc missing a
    * term still pays the smoothed background cost — which is why the
    * scan is over the dl relation (every tokenized doc), not the
    * matched postings. The two scorers disagreeing on a doc is the
    * classic retrieval-eval probe; n_matched carries the overlap
    * diagnostic.
    *
    * Determinism: q193's discipline verbatim — every contribution is
    * one IEEE expression tree over exact integers (tf, cf, dl, |C|),
    * floored at 1 µnat (contributions are provably ≥ 0: the smoothed
    * ratio never exceeds 1 since tf ≤ dl and µ·cf/|C| ≤ µ), then an
    * exact DECIMAL fold. Scale: the query side is 3 rows + two
    * one-row totals (broadcast scalars); the only corpus-sized moves
    * are the staged dl scan and one (doc, term)-keyed left join of
    * the 3n probe rows against the staged postings.
    */
  def q222QueryLikelihood(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val tf = tfRelation(spark, dir)
    val dl = stagedDocLengths(spark, dir)
    val cf = tf.join(broadcast(stagedQueryTerms(spark, dir).select("term")), "term")
      .groupBy("term").agg(sum(col("tf")).cast(LongType).as("cf"))
    val ctot = dl.agg(sum(col("dl")).cast(LongType).as("c_total"))
    val mu = lit(300.0)
    dl.crossJoin(broadcast(cf)) // 3 query-term rows per doc
      .join(tf.withColumnRenamed("tf", "tf_d"), Seq("doc_id", "term"), "left")
      .withColumn("tf_d", coalesce(col("tf_d"), lit(0L)))
      .crossJoin(broadcast(ctot))
      .withColumn("c", floor(-log(
        (col("tf_d").cast(DoubleType) + mu * col("cf").cast(DoubleType)
          / col("c_total").cast(DoubleType))
          / (col("dl").cast(DoubleType) + mu)) * lit(1000000.0) + lit(0.5))
        / lit(1000000.0))
      .groupBy("doc_id")
      .agg(sum(when(col("tf_d") > 0L, 1L).otherwise(0L)).cast(LongType).as("n_matched"),
        Det.dsum4(col("c")).as("nll"))
      .orderBy(asc("nll"), asc("doc_id"))
      .limit(20)
  }

  /** q226 — PSEUDO-RELEVANCE-FEEDBACK QUERY EXPANSION (Rocchio's
    * blind-feedback loop, the two-pass shape every production search
    * stack runs): score the base query exactly (q193's BM25, same
    * plan tail), take the top-10 docs as the feedback set, promote
    * the 3 terms most characteristic of that set (most feedback docs
    * containing it, then highest feedback tf, then term — base terms
    * excluded by anti-join), and re-score the 6-term expanded query.
    * The final top-20 is what the family's other legs can't produce:
    * docs matching the query's NEIGHBORHOOD vocabulary that share no
    * base term at all (they enter with n_matched counted over all 6
    * terms).
    *
    * Determinism: both passes are [[q193Bm25]]'s exact scorer verbatim
    * (µ-rounded IEEE contributions, exact DECIMAL fold, 4-dp edge);
    * the feedback cut ranks on the ROUNDED pass-1 score (doc_id ties)
    * so the oracle replays it bit-for-bit; expansion ranking is
    * all-integer. Scale: pass artifacts are tiny — 3-row query, 10-row
    * feedback set, 6-row expanded query — each pinned with an eager
    * localCheckpoint (wandInternals' discipline) and BROADCAST; the
    * corpus-sized relations (tf postings, dl) come staged, and each
    * pass moves only matched-postings-sized data through one doc-keyed
    * join. The expansion-candidate agg runs on the feedback docs'
    * postings only (≤ 10 docs' terms).
    */
  def q226QueryExpansion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val d = Tables.documents(spark, dir)
    val tf = tfRelation(spark, dir)
    val qterms = stagedQueryTerms(spark, dir)
    val dl = stagedDocLengths(spark, dir)
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    val avgdl = dl.agg((sum(col("dl")).cast(DoubleType) / count(lit(1))).as("avgdl"))
    // pass 1: exact base-query BM25; the 10-row feedback set
    val fb = bm25Score(tf.join(broadcast(qterms), "term"), dl, nDocs, avgdl)
      .orderBy(desc("score"), asc("doc_id")).limit(10)
      .select("doc_id").localCheckpoint(true)
    // expansion candidates live in the feedback docs' postings only
    val ex = tf.join(broadcast(fb), "doc_id")
      .join(broadcast(qterms.select("term")), Seq("term"), "left_anti")
      .groupBy("term")
      .agg(count(lit(1)).as("n_fb"), sum(col("tf")).cast(LongType).as("fb_tf"))
      .orderBy(desc("n_fb"), desc("fb_tf"), asc("term")).limit(3)
    val dfRel = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val q2 = qterms.select("term").union(ex.select("term"))
      .join(dfRel, "term").localCheckpoint(true)
    // pass 2: the same exact scorer over the expanded 6-term query
    bm25Score(tf.join(broadcast(q2), "term"), dl, nDocs, avgdl)
      .orderBy(desc("score"), asc("doc_id"))
      .limit(20)
  }

  /** How many ranks the Zipf fit uses — the classical head where the
    * power law holds; the long tail (hapax plateau) would bias the
    * slope and is exactly what q125's vocab-coverage view reads
    * instead.
    */
  private[graft] val ZipfFitRanks = 1000

  /** q229 — ZIPF RANK-FREQUENCY FIT: OLS of ln(frequency) on ln(rank)
    * over the top-1000 corpus terms — slope (Zipf's s, ≈ −1 for
    * natural language), intercept, and R². The one-number corpus
    * health check a curation pipeline reads before tokenizer training:
    * a slope far above −1 means boilerplate flattened the head (q124's
    * problem surfacing statistically), far below −1 a template spiked
    * it; R² dropping means the corpus mixes regimes (two languages or
    * a code/prose blend — q27/q119's populations visible in one
    * scalar). Complements q125 (tail coverage) and q53 (per-doc
    * weights) at the corpus-statistics grain.
    *
    * Determinism (q216's quantize-then-exact-fold discipline): ranks
    * come from the total-tf ordering with term tie-break; ln(rank) and
    * ln(tf) are µ-rounded to 6 dp (exactly representable), cast to
    * DECIMAL(12,6), and all five moments fold EXACTLY in decimal
    * space; the slope/intercept/R² then evaluate ONE identical IEEE
    * tree from those exact inputs, 4-dp floored, NULL when the
    * variance guard fails (≤ 1 distinct point). Scale: one
    * vocabulary-sized map-combinable agg → TakeOrderedAndProject
    * top-1000 → a 1000-row single-partition window (catalog-sized by
    * construction) → one 5-moment fold.
    */

  def q229ZipfFit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val top = tfRelation(spark, dir)
      .groupBy("term").agg(sum(col("tf")).cast(LongType).as("gtf"))
      .orderBy(desc("gtf"), asc("term")).limit(ZipfFitRanks)
    val ranked = top.withColumn("rank",
      row_number().over(Window.orderBy(desc("gtf"), asc("term"))))
    def q6(c: Column): Column =
      (floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)).cast(DecimalType(12, 6))
    val a = ranked
      .select(q6(log(col("rank").cast(DoubleType))).as("xq"),
        q6(log(col("gtf").cast(DoubleType))).as("yq"))
      .agg(count(lit(1)).as("n"),
        sum(col("xq")).as("sx"), sum(col("yq")).as("sy"),
        sum((col("xq") * col("yq")).cast(DecimalType(38, 12))).as("sxy"),
        sum((col("xq") * col("xq")).cast(DecimalType(38, 12))).as("sxx"),
        sum((col("yq") * col("yq")).cast(DecimalType(38, 12))).as("syy"))
    val nD = col("n").cast(DoubleType)
    def d(name: String): Column = col(name).cast(DoubleType)
    val num = nD * d("sxy") - d("sx") * d("sy")
    val dx = nD * d("sxx") - d("sx") * d("sx")
    val dy = nD * d("syy") - d("sy") * d("sy")
    val slope = num / dx
    a.select(col("n").cast(LongType).as("n_terms"),
      when(dx > 0.0, Det.roundD4(slope))
        .otherwise(lit(null).cast(DoubleType)).as("slope"),
      when(dx > 0.0, Det.roundD4((d("sy") - slope * d("sx")) / nD))
        .otherwise(lit(null).cast(DoubleType)).as("intercept"),
      when(dx > 0.0 && dy > 0.0, Det.roundD4(num * num / (dx * dy)))
        .otherwise(lit(null).cast(DoubleType)).as("r2"))
  }

  /** q230 — HEAPS' LAW VOCABULARY-GROWTH CURVE: distinct-term count as
    * the corpus grows doc by doc (doc_id order), read at ten decile
    * checkpoints — per decile: cumulative docs, cumulative vocabulary,
    * and the NEW terms that decile contributed. The tokenizer-sizing
    * read q229's static head and q125's static tail can't give: a
    * curve still steep at decile 10 means vocabulary hasn't saturated
    * (train the tokenizer on more data, or the corpus keeps importing
    * new domains); a flat tail with a q124-flagged head means new docs
    * are recombinations of known boilerplate.
    *
    * Relational form — NO global sort, NO corpus-sized window: a
    * term's growth contribution is fully determined by its FIRST
    * containing doc (min doc_id over the staged postings — one
    * vocabulary-sized agg), decile boundaries come from ONE exact
    * interpolated-percentile aggregate over doc_id (q38's
    * percentile ↔ quantile_cont engine mapping, q205's
    * bucket-by-broadcast-boundary discipline), every doc and term then
    * buckets ROW-LOCALLY against the broadcast 10-value frame
    * (k = 1 + #{boundaries < id}, boundary ties land identically on
    * both engines), and the cumulative counts are a 10-row window.
    */
  def q230HeapsCurve(spark: SparkSession, dir: String): DataFrame = {
    val pcts = ((1 to 9).map(k => s"0.$k") :+ "1.0").mkString(", ")
    val first = tfRelation(spark, dir).groupBy("term").agg(min(col("doc_id")).as("fd"))
    val docs = Tables.documents(spark, dir).select("doc_id")
    val bnds = docs.agg(expr(
      s"percentile(doc_id, array($pcts))").as("bs"))
    def bucket(df: DataFrame, idCol: String): DataFrame = df
      .crossJoin(broadcast(bnds)) // one-row boundary frame
      .select(expr(s"1 + CAST(size(filter(bs, b -> b < CAST($idCol AS DOUBLE))) AS BIGINT)").as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
    val dn = bucket(docs, "doc_id").withColumnRenamed("n", "nd")
    val tn = bucket(first, "fd").withColumnRenamed("n", "nt")
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spark.range(1, 11).select(col("id").as("decile"))
      .join(dn, col("decile") === col("k"), "left").drop("k")
      .join(tn, col("decile") === col("k"), "left").drop("k")
      .select(col("decile"),
        coalesce(col("nd"), lit(0L)).as("nd"), coalesce(col("nt"), lit(0L)).as("n_new_terms"))
      .withColumn("n_docs_cum", sum(col("nd")).over(w).cast(LongType))
      .withColumn("n_terms_cum", sum(col("n_new_terms")).over(w).cast(LongType))
      .select("decile", "n_new_terms", "n_docs_cum", "n_terms_cum")
      .orderBy("decile")
  }
}
