package graft.ops

import graft.Tables
import graft.functions.GraftFunctions.{shingleHashes, shingleStats}
import graft.stage.Staging.stagedTable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DecimalType, DoubleType, LongType, StringType}

/** Training-data pipeline text/multimodal operators beyond the
  * reference's surface: language-ID heuristics, quality scoring, token
  * counting, document fingerprinting, and the multimodal binary-column
  * decode plumbing. All row-local (no shuffle) except the final
  * ORDER BY — they scale linearly and pipeline inside one codegen stage.
  */
object TrainingData {
  import Det._

  /** The tokenizer control markers q237 scans for — shared with the
    * generated oracle SQL (the BpeMerges one-source-of-truth pattern).
    * Plain `contains`-style literals, NOT regexes: the scan must be
    * exact-substring (an attacker's marker is byte-literal).
    */
  private[graft] val SpecialTokenMarkers: Seq[String] =
    Seq("<|endoftext|>", "<|im_start|>", "<|im_end|>", "</s>", "<pad>", "<unk>")

  /** q237 — SPECIAL-TOKEN CONTAMINATION SCAN: per tokenizer control
    * marker, how many docs contain it, total occurrences, and the
    * worst source — the injection defense a training pipeline runs
    * BEFORE tokenization: a document carrying a literal
    * `<|endoftext|>` (scraped model output, adversarial posts) splices
    * fake document boundaries into the packed stream (q80's packer
    * trusts its input), and instruction markers fake turn structure.
    * Zero-hit markers still report (the audit must say "checked, clean"
    * — q172's completeness stance, a dense marker grid).
    *
    * All exact integers, row-local: per (marker, doc) occurrences =
    * (len(text) − len(replace(text, marker)))/len(marker) — the
    * cross-multiplied count, no regex (markers are byte-literals and
    * contain regex metacharacters). The 6-row marker frame broadcasts
    * over ONE corpus pass into an eagerly-pinned (marker, source)
    * rollup (q222's tiny-relation scoring class); the worst source is
    * a deterministic min-struct (hits DESC, source ASC — NULL when
    * the marker is clean).
    */
  def q237SpecialTokenScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val markers = SpecialTokenMarkers.toDF("marker")
    // ONE corpus pass: the (marker, source) rollup is pinned eagerly
    // (wandInternals' discipline — tiny, ≤ markers × sources rows) so
    // its two consumers below cannot re-execute the documents scan
    val perSrc = Tables.documents(spark, dir)
      .crossJoin(broadcast(markers)) // 6-row marker frame
      .select(col("marker"), col("source"),
        ((length(col("text")) - length(expr("replace(text, marker, '')")))
          / length(col("marker"))).cast(LongType).as("occ"))
      .groupBy("marker", "source")
      .agg(sum(when(col("occ") > 0L, 1L).otherwise(0L)).cast(LongType).as("n_docs_src"),
        sum(col("occ")).cast(LongType).as("s_occ"))
      .localCheckpoint(true)
    val worst = perSrc.filter(col("s_occ") > 0L)
      .groupBy("marker")
      // (hits DESC, source ASC) via the repo's min(-key, tiebreak) form
      .agg(min(struct((-col("s_occ")).as("neg"), col("source").as("source")))
        .getField("source").as("worst_source"))
    perSrc.groupBy("marker")
      .agg(sum(col("n_docs_src")).cast(LongType).as("n_docs_hit"),
        sum(col("s_occ")).cast(LongType).as("n_hits"))
      .join(worst, Seq("marker"), "left")
      .orderBy("marker")
  }

  /** q238 — ABC / PARETO SOURCE CLASSIFICATION: sources ranked by
    * whitespace-token volume with cumulative share and the classic
    * A/B/C cut (A carries the first 80% of tokens, B to 95%, C the
    * tail) — the triage view a curation team runs before spending
    * effort: A-sources get per-source quality review (q128), C-sources
    * get a cheap keep/drop rule (q113's cap), and a B→A migration
    * between snapshots means one crawl started dominating the mix.
    *
    * Exactness: class boundaries are CROSS-MULTIPLIED longs
    * (100·cum ≤ 80·total), never a double compare — a share sitting
    * exactly on the 80% line classifies identically on both engines;
    * the 4-dp share column is display-only. The rank/cumsum and total
    * windows run at SOURCE cardinality (catalog-sized by
    * construction); corpus-sized work is one map-combinable token sum.
    */
  def q238AbcClasses(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val vol = Tables.documents(spark, dir)
      .groupBy("source")
      .agg(sum(size(split(col("text"), " ")).cast(LongType)).cast(LongType).as("n_tokens"))
    val w = Window.orderBy(desc("n_tokens"), asc("source"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // total via a global window over the PER-SOURCE relation (q137's
    // shape): a crossJoin(agg) would re-plan the corpus agg twice and
    // introduce the one join shape the global plan audit bans
    vol
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w).cast(LongType))
      .withColumn("total",
        sum(col("n_tokens")).over(Window.partitionBy(lit(1))).cast(LongType))
      .select(col("source"), col("n_tokens"), col("cum_tokens"),
        roundD4(col("cum_tokens").cast(DoubleType) / col("total").cast(DoubleType))
          .as("cum_share"),
        when(col("cum_tokens") * 100L <= col("total") * 80L, "A")
          .when(col("cum_tokens") * 100L <= col("total") * 95L, "B")
          .otherwise("C").as("abc_class"))
      .orderBy(desc("n_tokens"), asc("source"))
  }

  /** q27 — n-gram-heuristic language ID: character-class profile
    * features (vowel ratio, average token length) and a deterministic
    * CASE classifier over the ROUNDED features (so the class boundary is
    * computed on identical doubles in Spark and the oracle). The
    * per-language n-gram profile classifier a real system uses is
    * [[q119LangTrigram]] — same row-local plan shape, real
    * discrimination (LangIdSpec separates fr/de/es/en fixtures).
    */
  def q27LangId(spark: SparkSession, dir: String): DataFrame = {
    val letters = length(regexp_replace(lower(col("text")), "[^a-z]", ""))
    val vowels = length(regexp_replace(lower(col("text")), "[^aeiou]", ""))
    val nTok = size(split(col("text"), " "))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        roundD4(vowels.cast("double") / letters).as("vowel_ratio"),
        roundD4(letters.cast("double") / nTok).as("avg_tok_len"))
      .withColumn("pred_class",
        when(col("vowel_ratio") >= 0.42, "vowel-heavy")
          .when(col("vowel_ratio") >= 0.36, "balanced")
          .otherwise("consonant-heavy"))
      .orderBy("doc_id")
  }

  /** q28 — document quality scoring: token/char counts, average token
    * length, stopword ratio, and a composite score — the
    * length/punct/stopword heuristics every pretraining-data filter
    * starts from.
    */
  def q28QualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityScored(Tables.documents(spark, dir))
      .select("doc_id", "n_tokens", "n_chars_text", "avg_tok_len", "stop_ratio", "score")
      .orderBy("doc_id")

  /** q28's feature extraction + composite score over any relation with
    * (doc_id, text) — ONE definition shared by q28 and q113's
    * per-source capping so the two can't diverge. Input columns ride
    * along; adds n_tokens, n_chars_text, avg_tok_len, stop_ratio, score.
    */
  private[graft] def qualityScored(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val isStop = (t: org.apache.spark.sql.Column) =>
      TextOps.Stopwords.map(t === _).reduce(_ || _)
    val nTok = size(toks).cast(LongType)
    val stopRatio = size(filter(toks, t => isStop(t))).cast("double") / size(toks)
    val avgTokLen = length(regexp_replace(col("text"), " ", "")).cast("double") / size(toks)
    docs
      .withColumn("n_tokens", nTok)
      .withColumn("n_chars_text", length(col("text")).cast(LongType))
      .withColumn("avg_tok_len", roundD4(avgTokLen))
      .withColumn("stop_ratio", roundD4(stopRatio))
      .withColumn("score", roundD4(
        lit(2.0) * col("stop_ratio")
          + when(col("avg_tok_len").between(3.0, 8.0), 1.0).otherwise(0.0)
          + when(col("n_tokens").between(20L, 500L), 1.0).otherwise(0.0)))
  }

  /** q113 — per-SOURCE quality capping (domain capping): keep only the
    * top [[SourceCapK]] docs of each source, ranked by q28's composite
    * quality score — the RefinedWeb/CCNet-style curation rule that stops
    * one boilerplate-heavy domain from dominating the training mix no
    * matter how many pages it crawls. Rank ties break on doc_id (both
    * engines rank the same ROUNDED score, the q22 determinism
    * convention).
    *
    * Scale: one row_number window per source. Domain cardinality is
    * huge at 100 TB (millions of hosts → the window key spreads well);
    * a single pathological mega-domain is the q60 story — partial
    * per-partition top-K before the window (or q37's salting) bounds
    * the reducer, and only K rows per domain survive the cap. The
    * score itself is row-local (no pre-shuffle).
    */
  private[ops] val SourceCapK = 15

  def q113SourceCap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy(desc("score"), asc("doc_id"))
    qualityScored(Tables.documents(spark, dir))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= SourceCapK)
      .select("source", "rk", "doc_id", "score", "n_tokens")
      .orderBy("source", "rk")
  }

  /** q220 — quality-filter FUNNEL: the Gopher/C4-style ORDERED rule
    * cascade as an attrition report — per stage, how many docs entered,
    * how many the rule dropped, how many survived into the next stage.
    * Every production curation pipeline publishes exactly this table:
    * rule ordering matters (a doc failing two rules is charged to the
    * FIRST — `first_fail` — so the stage counts tell you what each
    * rule REMOVES GIVEN its predecessors, which is what re-ordering or
    * re-thresholding decisions need, not the marginal per-rule counts
    * q28's score conflates). Rules: token-count floor/ceiling,
    * avg-token-length band, stopword presence, and a top-unigram
    * repetition cap — the last compared cross-multiplied
    * (8·max_tf > n_tokens ⟺ max_tf/n_tokens > 1/8) so the verdict is
    * exact-integer on both engines.
    *
    * Shape: row-local features (q28's shared extraction) + one
    * doc-grain max over the STAGED tf postings, joined FK-style; the
    * funnel itself is a 5-row stage table with a cumulative window —
    * catalog-sized by construction, the single-partition exemption.
    * All counts BIGINT (the §7.3 no-wide-decimal edge rule). At
    * 100 TB nothing changes: the per-doc pass is one map stage over
    * the staged postings aggregate, and only 5 rows ever sit under
    * the window.
    */
  def q220FilterFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val mx = TextOps.stagedTfPostings(spark, dir)
      .groupBy("doc_id").agg(max(col("tf")).as("max_tf"))
    // left join: a tokenless doc has no posting row; it still enters
    // the funnel (and fails the token floor) rather than vanishing
    val ff = qualityScored(Tables.documents(spark, dir))
      .join(mx, Seq("doc_id"), "left")
      .select(col("n_tokens"), col("avg_tok_len"), col("stop_ratio"),
        coalesce(col("max_tf"), lit(0L)).as("max_tf"))
      .select(
        when(col("n_tokens") < 20L, 1L)
          .when(col("n_tokens") > 80L, 2L)
          .when(!col("avg_tok_len").between(3.0, 5.0), 3L)
          .when(col("stop_ratio") <= 0.0, 4L)
          .when(lit(8L) * col("max_tf") > col("n_tokens"), 5L)
          .otherwise(0L).as("first_fail"))
    val drops = ff.groupBy("first_fail").agg(count(lit(1)).as("n_dropped"))
    val total = ff.agg(count(lit(1)).as("n_total"))
    val stages = Seq((1L, "min_tokens"), (2L, "max_tokens"),
      (3L, "avg_tok_len"), (4L, "has_stopword"), (5L, "repetition"))
      .toDF("stage", "rule")
    // n_in(k) = total − Σ_{j<k} dropped(j): 5-row unpartitioned window
    val w = Window.orderBy("stage").rowsBetween(Window.unboundedPreceding, -1)
    stages.join(drops.withColumnRenamed("first_fail", "stage"), Seq("stage"), "left")
      .withColumn("n_dropped", coalesce(col("n_dropped"), lit(0L)))
      .crossJoin(broadcast(total)) // one-row total onto the 5 stages
      .withColumn("n_in", col("n_total")
        - coalesce(sum(col("n_dropped")).over(w), lit(0L)))
      .select(col("stage"), col("rule"), col("n_in"), col("n_dropped"),
        (col("n_in") - col("n_dropped")).as("n_out"))
      .orderBy("stage")
  }

  /** q29 — token counting: whitespace tokens plus a BPE-ish regex split
    * (alpha runs / digit runs / single other-chars) — the standard cheap
    * proxy for tokenizer cost before running a real BPE.
    */
  def q29TokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+")).cast(LongType).as("alpha_runs"),
        regexp_count(col("text"), lit("[0-9]+")).cast(LongType).as("digit_runs"),
        regexp_count(col("text"), lit("[^a-z0-9 ]")).cast(LongType).as("other_chars"))
      .orderBy("doc_id")

  /** q30 — document fingerprint: position-weighted integer hash
    * Σ (i+1)·(ascii(tok[0])·31 + len(tok)) mod 1e9+7 — order-sensitive
    * (unlike a bag-of-words hash) yet exact-integer reproducible in any
    * engine; the cheap building block for shingle/rolling-hash dedup.
    */
  def q30Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val terms = transform(toks, (t, i) =>
      (i + 1).cast(LongType) * (ascii(substring(t, 1, 1)).cast(LongType) * 31L + length(t).cast(LongType)))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        (aggregate(terms, lit(0L), (acc, x) => acc + x) % 1000000007L).as("fp"),
        size(toks).cast(LongType).as("n_tokens"))
      .orderBy("doc_id")
  }

  /** q33 — multimodal binary-column plumbing: documents' text bytes
    * stand in for an opaque media payload (`binary` column + typed
    * metadata). The stand-in features (byte length, first byte, two
    * derived scalars) are computed with CATALYST EXPRESSIONS over the
    * binary column — `substring`/`hex`/`conv` are byte-exact on
    * BinaryType and whole-stage-codegen'd, so the declared operator
    * carries no custom iterator code (the zero-custom-code policy the
    * round-6 verdict asked restored). A real codec (javax.imageio /
    * ffmpeg bindings — absent from this container) would NOT be
    * expressible this way; the per-partition batch-iterator shape such
    * a decode takes lives in [[multimodalDecodeShape]], non-declared,
    * with MultimodalSpec pinning it output-identical to this expression
    * path.
    */
  def q33MultimodalStub(spark: SparkSession, dir: String): DataFrame = {
    val nBytes = length(col("payload")).cast(LongType)
    val firstByte = when(length(col("payload")) > 0,
      conv(hex(substring(col("payload"), 1, 1)), 16, 10).cast(LongType)).otherwise(0L)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast(BinaryType).as("payload"))
      .select(col("doc_id"), nBytes.as("n_bytes"), firstByte.as("first_byte"))
      .withColumn("feat0", roundD4((col("n_bytes") % 97L) / 97.0))
      .withColumn("feat1", roundD4((col("first_byte") % 31L) / 31.0))
      .orderBy("doc_id")
  }

  /** The REAL-codec execution shape, kept as a non-declared reference:
    * an opaque-payload decode runs as a per-partition typed iterator
    * (batch of payload bytes in, feature rows out — the payload column
    * never leaves the executor). A production deployment replaces the
    * marked stub line with the codec call; everything around it —
    * schema, encoders, partition iteration — is the real plumbing.
    * MultimodalSpec proves this path emits exactly q33's rows, so the
    * declared expression operator and the codec shape cannot drift.
    */
  private[graft] def multimodalDecodeShape(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bin = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast(BinaryType).as("payload"))
      .as[(Long, Array[Byte])]
    bin.mapPartitions { it =>
      it.map { case (docId, payload) =>
        // STUB decode: the media codec call goes here.
        val nBytes = payload.length.toLong
        val firstByte = (if (payload.nonEmpty) payload(0) & 0xFF else 0).toLong
        (docId, nBytes, firstByte, (nBytes % 97L) / 97.0, (firstByte % 31L) / 31.0)
      }
    }.toDF("doc_id", "n_bytes", "first_byte", "feat0", "feat1")
      .withColumn("feat0", roundD4(col("feat0")))
      .withColumn("feat1", roundD4(col("feat1")))
      .orderBy("doc_id")
  }

  /** q50 — DETERMINISTIC stratified Bernoulli sampling (per-language
    * rates en 0.5 / de 0.25 / fr 0.1, unlisted strata dropped): the
    * corpus-subsampling primitive of every pretraining-data mix
    * (per-source/per-language rates). The draw is the shared q190/q195
    * hash term h = (doc_id mod p)·K mod p compared against an INTEGER
    * threshold (`h·b < p·a` for rate a/b — no float rounding anywhere),
    * so the sample is a pure function of the keys: stable under
    * re-partitioning, re-runs, and engine migration, and therefore
    * ORACLE-CHECKED (DuckDB computes the identical draw) — unlike
    * Spark's `sampleBy`, whose rand(seed) stream is evaluated in
    * partition-iteration order and resamples differently after any
    * repartition. Row-local, no shuffle; rates are plan constants;
    * sizes are binomial (q54 is the exact-N-per-stratum twin, q195 the
    * weighted one).
    */
  def q50StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val p = graft.ops.Audit.ChecksumMod
    val k = graft.ops.Audit.KnuthMult
    Tables.documents(spark, dir)
      .withColumn("h", expr(s"(doc_id % ${p}L) * ${k}L % ${p}L"))
      .filter((col("lang") === "en" && col("h") * lit(2L) < lit(p)) ||
        (col("lang") === "de" && col("h") * lit(4L) < lit(p)) ||
        (col("lang") === "fr" && col("h") * lit(10L) < lit(p)))
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** q54 — deterministic hash-ordered stratified sampling: per language
    * keep the 20 docs with the smallest md5(doc_id) digest. The
    * ORACLE-CHECKED twin of q50's seeded Bernoulli (md5 is identical in
    * every engine, so unlike RNG-stream sampling this hash-matches
    * DuckDB): the training-data reproducibility property — the sample
    * is a pure function of the keys, stable under re-partitioning,
    * re-runs, and engine migrations. Exact-N per stratum (Bernoulli
    * gives binomial-noise sizes); one row_number window per stratum,
    * partial top-k friendly at scale.
    */
  def q54HashSample(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 20)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** q195 — WEIGHTED sampling without replacement (Efraimidis-
    * Spirakis A-ES): keep the 20 docs with the largest ln(u)/w, where
    * u is a per-doc deterministic uniform and w the doc's weight —
    * exactly equivalent to ranking by u^(1/w), the classic one-pass
    * distributed weighted reservoir. Where q54 samples uniformly and
    * q65 APPLIES a computed mix, this is the primitive that DRAWS a
    * size-biased sample in one pass (importance-weighted corpus
    * subsetting, weighted eval-set draws). Weight = char length + 1
    * (the always-positive size proxy; q105's BPE pricing swaps in
    * without changing the plan).
    *
    * Determinism (the property RNG-stream sampling lacks): u derives
    * from the shared q190 hash term — (id mod p)·K mod p, shifted by
    * ½ and scaled into (0,1), an EXACTLY-representable double both
    * engines construct bit-identically — and ln(u)/w is one
    * correctly-rounded ln (q53's cross-engine convention) and one
    * exact division. The sample is a pure function of the ids: stable
    * under re-partitioning, re-runs, engine migration. Scale: the
    * key is row-local; top-20 is TakeOrderedAndProject (per-partition
    * heap + driver merge of 20), never a global sort; ties break on
    * doc_id.
    */
  def q195WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val p = graft.ops.Audit.ChecksumMod
    val k = graft.ops.Audit.KnuthMult
    Tables.documents(spark, dir)
      .select(col("doc_id"), (length(col("text")).cast(LongType) + lit(1L)).as("weight"))
      .withColumn("u",
        (expr(s"(doc_id % ${p}L) * ${k}L % ${p}L").cast(DoubleType) + lit(0.5)) /
          lit(p.toDouble))
      .withColumn("es_key", log(col("u")) / col("weight").cast(DoubleType))
      .orderBy(desc("es_key"), asc("doc_id"))
      .limit(20)
      .select(col("doc_id"), col("weight"),
        (floor(col("es_key") * lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("es_key"))
  }

  /** q111 — deterministic hash SPLIT assignment (train/val/test): each
    * doc's split is a pure function of its id — md5 hex prefix compared
    * against fixed thresholds — so the assignment is stable under
    * corpus growth, re-partitioning and re-runs (the property
    * rand()-based splits lack: adding one document must not reshuffle
    * anyone else's split, or eval contamination silently follows).
    * Lowercase hex sorts lexicographically as its numeric value in
    * both engines, so the thresholds are portable strings: buckets
    * 0x00–0xfa train (251/256 ≈ 98.05%), 0xfb–0xfc val (2/256),
    * 0xfd–0xff test (3/256). Finer ratios use longer prefixes — the
    * shape is threshold-count-independent. Row-local; q54's md5
    * portability convention.
    */
  def q111HashSplit(spark: SparkSession, dir: String): DataFrame = {
    val b = substring(md5(col("doc_id").cast(StringType)), 1, 2)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(b < "fb", "train").when(b < "fd", "val").otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** q114 — DSIR-style importance weighting (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every doc by how much its hashed-bigram distribution looks like a
    * TARGET domain (sources [[DsirTargetSources]], standing in for a
    * curated high-quality corpus) versus the raw crawl. Per doc,
    * weight = mean over its bigram occurrences of
    * ln(p_target(bucket)/p_raw(bucket)) with add-1 smoothing over the
    * [[DsirBuckets]] hash buckets — the exact signal DSIR resamples on
    * (pair with q65's mixing or q50's sampling to realize the resample).
    *
    * Determinism: the bucket is the md5-hex prefix STRING (q111's
    * engine-agnostic hash; no numeric conversion anywhere), and the log
    * ratio is ONE ln over an exact-integer cross-multiplied ratio —
    * (ct+1)(R+B) / (cr+1)(T+B) — floored to 6 dp before the decimal
    * mean (q71's convention). The cross-multiplied form is exact while
    * counts stay under ~3e9 (long·long < 2^63); at real corpus scale
    * production swaps it for the ln-difference form and accepts
    * last-bit ln noise — the scores feed a sampler, not an oracle.
    *
    * Scale: bigram build is row-local; bucket stats are ≤ B rows
    * (broadcast back); totals ride the q71 global-window trick over the
    * B-row relation. Nothing larger than the bigram explode itself ever
    * shuffles, and that only to agg per-doc partials (map-combinable).
    */
  private[ops] val DsirTargetSources = Seq("src0", "src1", "src2", "src3")
  private[ops] val DsirBuckets = 256L // two hex chars of md5

  /** q116 — per-SOURCE unigram KL divergence from the corpus: for each
    * source s, KL(p_s ‖ p_corpus) = Σ_t (cs/S)·ln(cs·N/(c·S)) over its
    * terms — the drift/observability readout that flags boilerplate
    * farms (one domain's token mix far from the corpus mean) and
    * near-zero sources (already corpus-shaped). Pairs with q113: cap
    * or down-weight the outliers it surfaces. Also reports each
    * source's token and distinct-term counts.
    *
    * Determinism: per-term log ratio = ONE ln over the exact-integer
    * cross products cs·N / c·S (q114's bound note applies), floored to
    * 6 dp; the KL is then the cs-weighted exact-decimal mean
    * ([[Det.wavg4]]). Scale: term totals are an equi-join on term
    * (vocab-keyed shuffle, q53's shape — NOT a vocab-sized global
    * window); source totals are a K-row relation whose global window
    * is trivial, then broadcast back.
    */
  def q116SourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val st = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "") // no LM mass, q71's rule
      .groupBy("source", "term").agg(count(lit(1)).as("cs"))
    val ct = st.groupBy("term").agg(sum("cs").as("c"))
    val ss = st.groupBy("source").agg(sum("cs").as("s"))
      .withColumn("n", sum(col("s")).over(Window.partitionBy(lit(1))))
    // cross products in DECIMAL(38,0): long·long wraps SILENTLY past
    // ~3e9 counts with ANSI off — decimal keeps the product exact to
    // 10³⁸ (≫ any real corpus) and converts to double only for the ln
    val lr = floor(
      log((col("cs").cast(DecimalType(38, 0)) * col("n")).cast(DoubleType) /
          (col("c").cast(DecimalType(38, 0)) * col("s")).cast(DoubleType))
        * lit(1000000.0) + lit(0.5)) / lit(1000000.0)
    st.join(ct, "term").join(broadcast(ss), "source")
      .withColumn("lr", lr)
      .groupBy("source")
      .agg(max(col("s")).as("n_tokens"),
        count(lit(1)).as("n_terms"),
        Det.wavg4(col("cs"), col("lr")).as("kl_divergence"))
      .orderBy("source")
  }

  /** The bigram/bucket expressions and the bucket-model build behind
    * q114's importance weights.
    */
  private[graft] def dsirBigrams(text: Column): Column = {
    val w = split(text, " ")
    zip_with(slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
      (a, b) => concat_ws(" ", a, b))
  }
  private[graft] def dsirBucket(g: Column): Column = substring(md5(g), 1, 2)

  /** The frozen DSIR model: (bucket, lr) with lr already floored to
    * 6 dp — ≤ [[DsirBuckets]] rows whatever the corpus size.
    */
  private[graft] def dsirBucketLogRatios(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val big = docs.select(col("source"), explode(dsirBigrams(col("text"))).as("g"))
      .select(col("source"), dsirBucket(col("g")).as("bucket"))
    val stats = big.groupBy("bucket").agg(
        count(lit(1)).as("cr"),
        sum(when(col("source").isin(DsirTargetSources: _*), 1L).otherwise(0L)).as("ct"))
      .withColumn("r", sum(col("cr")).over(Window.partitionBy(lit(1))))
      .withColumn("t", sum(col("ct")).over(Window.partitionBy(lit(1))))
    // same DECIMAL(38,0) cross products as q116 — no silent long wrap
    val lr = floor(
      log(((col("ct") + 1L).cast(DecimalType(38, 0)) * (col("r") + DsirBuckets)).cast(DoubleType) /
        ((col("cr") + 1L).cast(DecimalType(38, 0)) * (col("t") + DsirBuckets)).cast(DoubleType))
        * lit(1000000.0) + lit(0.5)) / lit(1000000.0)
    stats.withColumn("lr", lr).select("bucket", "lr")
  }

  /** q114's per-doc weight relation, unsorted — the expensive leg
    * (bigram explode + model join + per-doc aggregation) behind the
    * staging registry entry below.
    */
  private[graft] def dsirWeightsOf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val big = docs
      .select(col("doc_id"), explode(dsirBigrams(col("text"))).as("g"))
      .select(col("doc_id"), dsirBucket(col("g")).as("bucket"))
    big.join(broadcast(dsirBucketLogRatios(docs)), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), Det.davg4(col("lr")).as("dsir_weight"))
  }

  /** The staged per-doc DSIR weights — (doc_id, n_bigrams, 4-dp
    * dsir_weight), built ONCE per (session, corpus) and scanned by both
    * consumers: q114 (the weight report) and q121 (the resample
    * realization). Longs + a 4-dp-rounded double, so the parquet round
    * trip is exact (StagedRegistrySpec). This is the production
    * lifecycle: score the corpus once, then both the observability
    * readout and the selection step read the scored table — without it
    * q121 re-ran the whole bigram explode + model join that q114 had
    * just finished (the q108 recompute tax, one level up).
    */
  private[graft] def stagedDsirWeights(spark: SparkSession, dir: String): DataFrame =
    stagedTable(spark, dir, "dsir_weights")(dsirWeightsOf(spark, dir))

  def q114DsirWeights(spark: SparkSession, dir: String): DataFrame =
    stagedDsirWeights(spark, dir).orderBy("doc_id")

  /** q121 — DSIR importance RESAMPLE, realized: the top-K documents by
    * q114's importance weight — the selection step DSIR actually ships
    * to training (Xie et al. resample ∝ importance; the deterministic
    * engine form is a top-K on the 4-dp weight with doc_id tie-break,
    * q54's reproducibility convention — a weighted-lottery variant
    * would swap the rank expression, same plan). K = 200, q65's budget
    * convention.
    *
    * Scale: the global top-K is `orderBy().limit()` —
    * TakeOrderedAndProject, q18's distributed per-partition top-K +
    * driver merge of K-row heads, never a full sort. The rank column is
    * a window over the ALREADY-SELECTED K rows (bounded, like q80's
    * bucket-offsets relation), not over the corpus.
    */
  def q121DsirResample(spark: SparkSession, dir: String): DataFrame = {
    val budget = 200
    val picked = stagedDsirWeights(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "source"), "doc_id")
      .orderBy(desc("dsir_weight"), asc("doc_id"))
      .limit(budget)
    val w = Window.orderBy(desc("dsir_weight"), asc("doc_id"))
    picked
      .withColumn("pick_rank", row_number().over(w).cast(LongType))
      .select("pick_rank", "doc_id", "source", "n_bigrams", "dsir_weight")
      .orderBy("pick_rank")
  }

  /** q64 — document CHUNKING: split each doc into sliding token
    * windows (window 16, stride 12 — ~25% overlap), the sequence-
    * packing precursor every pretraining/RAG pipeline runs (real
    * configs use 512/384 etc.; the testdata docs are ~35 tokens, so the
    * small window exercises multi-chunk fan-out on every doc). Chunk
    * count per doc is exact integer arithmetic — `1 + ceil((n-16)/12)`
    * as `(greatest(n-16, 0) + 11) div 12 + 1` — because a double ceil
    * silently mis-rounds exact boundaries (the q21 lesson). Entirely
    * row-local (explode of a per-row sequence, no shuffle before the
    * output sort); the fan-out IS the result size, bounded by
    * n_tokens/stride per doc.
    */
  def q64Chunk(spark: SparkSession, dir: String): DataFrame =
    chunkTokens(Tables.documents(spark, dir)
        .withColumn("toks", split(col("text"), " ")),
      window = 16, stride = 12)
      .orderBy("doc_id", "chunk_id")

  /** The chunk fan-out alone (shared by q64 and the q67 composed
    * pipeline): input must carry (doc_id, toks); emits one row per
    * sliding window. Unsorted — callers order.
    */
  private[graft] def chunkTokens(df: DataFrame, window: Int, stride: Int): DataFrame =
    df
      .withColumn("n", size(col("toks")))
      .withColumn("chunk_id",
        explode(sequence(lit(0), expr(s"(greatest(n - $window, 0) + ${stride - 1}) div $stride"))))
      .select(col("doc_id"), col("chunk_id").cast(LongType).as("chunk_id"),
        expr(s"size(slice(toks, chunk_id * $stride + 1, $window))").cast(LongType).as("n_tokens"),
        expr(s"array_join(slice(toks, chunk_id * $stride + 1, $window), ' ')").as("chunk_text"))

  /** q65 — temperature-rebalanced source mix: sample a fixed global
    * budget (K = 200 docs) across sources with per-source targets
    * ∝ √n_s — the α = 0.5 "temperature" reweighting used to keep big
    * web crawls from drowning small high-quality sources in a
    * pretraining mix. Determinism design: the weight √n is collapsed
    * to an integer (floor(√n·10⁶ + 0.5) — IEEE sqrt + the engine-
    * agnostic floor formula), totals and targets stay in exact integer
    * arithmetic ((K·uₛ) div U), and the per-source pick is q54's
    * md5-ordered top-k — so the sample is a pure function of the data,
    * reproducible across partitionings and engines, and the whole
    * query is oracle-checkable where RNG mixing would not be.
    * Plan shape: tiny per-source aggregate broadcast back onto the
    * corpus; one window per source for the top-k; corpus never
    * shuffles twice.
    */
  def q65TemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val budget = 200
    val docs = Tables.documents(spark, dir)
    val weights = docs.groupBy("source").agg(count(lit(1)).as("n"))
      .withColumn("u", floor(sqrt(col("n").cast(org.apache.spark.sql.types.DoubleType)) * 1e6 + lit(0.5)).cast(LongType))
    // total via a global window over the PER-SOURCE relation (bounded by
    // source count — thousands at most), not a second aggregation of the
    // corpus: a crossJoin(agg) here makes the optimizer plan the corpus
    // scan+agg twice (the weights subtree is consumed by both sides)
    val targets = weights
      .withColumn("tot", sum(col("u")).over(Window.partitionBy(lit(1))))
      .select(col("source"), expr(s"($budget * u) div tot").as("target"))
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))
    docs
      .join(broadcast(targets), "source")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= col("target"))
      .select("doc_id", "source", "lang")
      .orderBy("doc_id")
  }

  /** q66 — group-relative quantile filter: drop each source's shortest
    * quartile by token count — the length-based quality pruning stage
    * of corpus prep, computed RELATIVE to each source rather than with
    * one global cutoff (a fixed "≥ N tokens" rule over-prunes terse
    * sources and under-prunes verbose ones). The cutoff is
    * `cume_dist > 0.25` ordered by token count ALONE: ties share their
    * cume_dist, so equal-length boundary docs are kept or dropped
    * TOGETHER (a doc_id tie-break would drop one of two identical-
    * length docs arbitrarily), and a single-doc source has
    * cume_dist = 1 and is never wiped out. cume_dist = k/n is exact
    * small-integer division in both engines. One window exchange per
    * source — the same partial-top-k-friendly shape as q54.
    */
  def q66LengthQuantileFilter(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("n_tokens"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
      .withColumn("cd", roundD4(cume_dist().over(w)))
      .filter(col("cd") > 0.25)
      .select("doc_id", "source", "n_tokens", "cd")
      .orderBy("doc_id")
  }

  /** q68 — binary FRAME SAMPLING: treat each doc's payload as a stream
    * of fixed-size frames (16-byte records standing in for video frames
    * / audio windows), keep every 3rd frame, and emit the sampled
    * frames base64-encoded with their byte offsets — the
    * frame-subsampling pass of a multimodal pipeline, done entirely
    * with codegen'd binary built-ins (`substring` slices BINARY
    * without copying through strings; no codec needed to DECIDE which
    * frames survive). Row-local fan-out like q64's chunking: the
    * payload column never shuffles, the output is the (much smaller)
    * sample. Frame count is exact integer arithmetic; the final
    * (short) frame is kept if sampled — real decoders pad, the stub
    * keeps plumbing honest instead.
    */
  def q68FrameSample(spark: SparkSession, dir: String): DataFrame = {
    val frame = 16
    val every = 3
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast(BinaryType).as("payload"))
      .filter(length(col("payload")) > 0) // sequence(0, -1) would count DOWN
      .withColumn("n_frames", expr(s"(length(payload) + ${frame - 1}) div $frame"))
      .withColumn("frame_id", explode(sequence(lit(0), expr("n_frames - 1"))))
      .filter(col("frame_id") % every === 0)
      .select(col("doc_id"), col("frame_id").cast(LongType).as("frame_id"),
        (col("frame_id") * frame).cast(LongType).as("byte_offset"),
        base64(expr(s"substring(payload, frame_id * $frame + 1, $frame)")).as("frame_b64"))
      .orderBy("doc_id", "frame_id")
  }

  /** q79 — intra-document repetition signals (the Gopher/MassiveText
    * repetition filters): per document, the duplicate-2-gram and
    * duplicate-3-gram fractions (`1 - distinct/total`) and the top
    * 2-gram coverage (`max_count/total`), plus the filter decision at
    * the published-style thresholds. Catches the boilerplate/spam docs
    * that SURVIVE cross-document dedup — repetition is inside one doc,
    * so no join or shuffle exists anywhere: the native `shingle_stats`
    * kernel reduces each doc to three longs per n in one pass, and the
    * whole query is scan → project → sort. At 100 TB this is the
    * cheapest quality gate in the pipeline (one codegen stage over the
    * corpus).
    */
  def q79RepetitionStats(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    def frac(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
      roundD4(when(den > 0L, num.cast("double") / den).otherwise(lit(0.0)))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        shingleStats(toks, 2).as("s2"),
        shingleStats(toks, 3).as("s3"))
      .select(col("doc_id"),
        col("s2.n_grams").as("n_2grams"),
        frac(col("s2.n_grams") - col("s2.n_distinct"), col("s2.n_grams")).as("dup_2gram_frac"),
        frac(col("s2.max_count"), col("s2.n_grams")).as("top_2gram_frac"),
        frac(col("s3.n_grams") - col("s3.n_distinct"), col("s3.n_grams")).as("dup_3gram_frac"))
      // Gopher-style gate: the decision compares the ALREADY-4dp-rounded
      // fractions, so it is engine-exact
      .withColumn("keep",
        (col("dup_2gram_frac") <= 0.6 && col("top_2gram_frac") <= 0.2 &&
          col("dup_3gram_frac") <= 0.55).cast("boolean"))
      .orderBy("doc_id")
  }

  /** q80 — sequence packing: concatenate the corpus (in doc_id order)
    * into fixed 2048-token training sequences and locate every document
    * in that stream — the GPT-style "concat and chunk" batch layout.
    * Each doc gets its global token offset, covering sequence ids and
    * intra-sequence position.
    *
    * The global offset is a DISTRIBUTED prefix sum, not a
    * single-partition window: stage 1 computes within-bucket running
    * sums (window partitioned by `doc_id div 1000`), stage 2 turns the
    * per-bucket totals — a relation with one row per THOUSAND docs —
    * into exclusive bucket offsets with a window over that tiny
    * relation, and a broadcast join adds the two. The full corpus is
    * never sorted through one partition (the naive
    * `Window.orderBy(doc_id)` without partitioning — Spark even warns —
    * would funnel 100 TB through a single task); the only global
    * ordering materialized is over bucket COUNT rows. A third level of
    * the same construction covers corpora where even the bucket-total
    * relation is large.
    */
  def q80SequencePack(spark: SparkSession, dir: String): DataFrame =
    packByTokens(Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast(LongType).as("n_tokens")))

  /** The packing construction over any (doc_id, n_tokens) relation —
    * q80 measures in whitespace tokens, q106 in BPE units.
    */
  private[ops] def packByTokens(tokenCounts: DataFrame): DataFrame = {
    val seqLen = 2048L
    val bucketSize = 1000L
    val docs = tokenCounts.withColumn("bucket", expr(s"doc_id div $bucketSize"))
    val wInBucket = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inBucket = docs.withColumn("cum_in_bucket", sum(col("n_tokens")).over(wInBucket))
    // per-bucket totals: |corpus|/1000 rows — the tiny relation the
    // global window is allowed to run on
    val wBuckets = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = docs.groupBy("bucket").agg(sum(col("n_tokens")).as("bucket_total"))
      .withColumn("bucket_offset", sum(col("bucket_total")).over(wBuckets) - col("bucket_total"))
      .select("bucket", "bucket_offset")
    inBucket.join(broadcast(offsets), "bucket")
      .withColumn("start_token", col("bucket_offset") + col("cum_in_bucket") - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("start_token"),
        expr(s"start_token div $seqLen").as("seq_id"),
        (col("start_token") % seqLen).as("seq_offset"),
        (expr(s"(start_token + n_tokens - 1) div $seqLen")
          - expr(s"start_token div $seqLen") + lit(1L)).as("n_seqs_spanned"))
      .orderBy("doc_id")
  }

  /** Number of trained BPE merge rules (K of the top-K pair count).
    * [[graft.SparkEntry.oracleSql]]'s generated replay unrolls exactly
    * this many ranked replaces — one source of truth for both sides.
    */
  val BpeMergeCount = 12

  /** TRAINED BPE merges (round 7 — the round-6 verdict's upgrade from
    * the hand-fixed table): a deterministic single-round approximation
    * of BPE training — count every adjacent character pair inside words
    * across the corpus, keep the top-[[BpeMergeCount]] by (count desc,
    * pair asc — the lexical tie-break that makes the table a pure
    * function of the corpus), and apply them in rank order with the
    * same literal left-to-right replay as before (full iterative BPE
    * re-counts after each merge; the one-round table keeps both engines
    * exactly replayable while deriving the rules from DATA, and the
    * ACCOUNTING plumbing — token counts feeding chunking/packing/
    * stats — is invariant to the table).
    *
    * Scale shape: the pair explode is row-local, the count is a
    * map-combinable aggregate over a charset²-bounded key space, and
    * the top-K is TakeOrderedAndProject — the training scan is linear
    * in corpus bytes with a tiny shuffle. The oracle TRAINS ITS OWN
    * table from the same corpus with the same tie-break (a CTE in each
    * consumer's statement), so the two sides cannot diverge.
    */
  private[graft] def bpeMergeTrainFrom(docs: DataFrame): DataFrame = {
    // exclude pairs containing a space (word gaps never merge) AND the
    // '|' gap marker itself: the replay spells gaps as '|', so a rule
    // trained from a literal '|' in raw text would match spelled word
    // boundaries and merge across words — the invariant every consumer
    // (and CurationOpsSpec's fertility ≥ 1 bound) relies on
    val pairs = docs
      .filter(length(col("text")) >= 2)
      .select(explode(filter(
        transform(sequence(lit(1), length(col("text")) - 1),
          i => col("text").substr(i, lit(2))),
        g => not(g.contains(" ")) && not(g.contains("|")))).as("g"))
    val w = Window.orderBy(desc("cnt"), asc("g"))
    pairs.groupBy("g").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("g")).limit(BpeMergeCount)
      .withColumn("rk", row_number().over(w).cast(LongType))
      .select(col("rk"),
        concat(substring(col("g"), 1, 1), lit(" "), substring(col("g"), 2, 1)).as("pat"),
        col("g").as("rep"), col("cnt"))
  }

  /** The trained merge table as a cross-query staged relation — the
    * IVF-model lifecycle (train once per (session, corpus), persist,
    * consume everywhere): q133 reads it back as the declared readout,
    * and every BPE-priced operator (q105/q106/q109/q112/q118/q122)
    * replays the SAME staged table.
    */
  private[graft] def stagedBpeMerges(spark: SparkSession, dir: String): DataFrame =
    stagedTable(spark, dir, "bpe_merges")(
      bpeMergeTrainFrom(Tables.documents(spark, dir)))

  private val bpeMergesCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(String, String)]]

  /** The staged trained merges collected to rank-ordered constants —
    * K ≤ [[BpeMergeCount]] rows, the sanctioned model-sized collect
    * (IVF-centroid pattern); cached per staged table (its part files,
    * which a rebuild renames) so repeated plan builds don't re-run the
    * 12-row job.
    */
  private[graft] def trainedBpeMerges(spark: SparkSession, dir: String): Seq[(String, String)] = {
    val merges = stagedBpeMerges(spark, dir)
    bpeMergesCache.getOrElseUpdate(merges.inputFiles.sorted.mkString(","),
      merges.orderBy("rk").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq)
  }

  /** q133 — the trained BPE merge table itself, the declared tokenizer
    * artifact: (rank, pattern, replacement, corpus pair count). The
    * oracle trains its own copy from the raw corpus, so this readout is
    * the end-to-end proof the trained model is a deterministic pure
    * function of the data.
    */
  def q133BpeMergeTrain(spark: SparkSession, dir: String): DataFrame =
    stagedBpeMerges(spark, dir).orderBy("rk")

  /** BPE token count of a text column under a trained merges table —
    * ONE native codegen'd kernel per row
    * ([[graft.functions.BpeTokenCount]]; the q124/word_ngrams lesson
    * applied to the tokenizer, replacing the 13-deep builtin
    * `replace` chain that was the q67/q105/q109/q112 cost center).
    * Word gaps spell as a `|` marker (merges never cross words — no
    * trained rule contains a space-adjacent pair); BpeTokenSpec pins
    * the kernel output-identical to the builtin-fold formulation
    * ([[bpeTokenCountFold]]).
    */
  private[graft] def bpeTokenCount(text: org.apache.spark.sql.Column,
      merges: Seq[(String, String)]): org.apache.spark.sql.Column =
    graft.functions.GraftFunctions.bpeTokenCount(text, merges.map(_._1), merges.map(_._2))

  /** The builtin-only replay (spell → fold literal replaces → count),
    * kept as the kernel's reference semantics for BpeTokenSpec's
    * equivalence pin — NOT used by any declared query.
    */
  private[graft] def bpeTokenCountFold(text: org.apache.spark.sql.Column,
      merges: Seq[(String, String)]): org.apache.spark.sql.Column = {
    val spaced = trim(array_join(split(translate(text, " ", "|"), ""), " "))
    val merged = merges.foldLeft(spaced) { case (c, (a, b)) =>
      call_function("replace", c, lit(a), lit(b))
    }
    (size(split(merged, " ")) - size(split(text, " ")) + 1).cast(LongType)
  }

  /** q105 — tokenizer-aware token accounting: per doc, the whitespace
    * token count every earlier operator used (q29/q58/q64/q80) beside
    * the BPE-unit count from the fixed merges table, and their ratio.
    * This is the operator that prices a corpus in the units the
    * training run actually consumes — chunk budgets, packing lengths
    * and mixing weights keyed on whitespace tokens are systematically
    * wrong by exactly this ratio. Row-local, no shuffle before the
    * output sort.
    */
  def q105BpeTokens(spark: SparkSession, dir: String): DataFrame = {
    val ws = size(split(col("text"), " ")).cast(LongType)
    Tables.documents(spark, dir)
      .select(col("doc_id"), ws.as("ws_tokens"),
        bpeTokenCount(col("text"), trainedBpeMerges(spark, dir)).as("bpe_tokens"))
      .withColumn("tokens_per_word",
        roundD4(col("bpe_tokens").cast("double") / col("ws_tokens")))
      .orderBy("doc_id")
  }

  /** q106 — q80's sequence packing in BPE token units: identical
    * two-level prefix-sum construction (see [[q80SequencePack]] for the
    * scale argument), but documents are measured with
    * [[bpeTokenCount]], so sequence boundaries land where the
    * tokenizer — not the whitespace approximation — says they land.
    * Packing with the wrong units misplaces every boundary after the
    * first long document; this variant is what an actual pretraining
    * data run schedules.
    */
  def q106BpeSequencePack(spark: SparkSession, dir: String): DataFrame = {
    packByTokens(Tables.documents(spark, dir)
      .select(col("doc_id"),
        bpeTokenCount(col("text"), trainedBpeMerges(spark, dir)).as("n_tokens")))
  }

  /** q109 — the round-5 operators composed: ExactSubstr span cut
    * (q107) → drop fully-cut documents → re-measure the SURVIVING text
    * in BPE units (q105's tokenizer stub) → re-pack sequences (q80's
    * two-level prefix sum). This is the ordering a production run
    * cannot skip: substring dedup changes every document's token
    * count, so any packing computed before the cut misplaces every
    * sequence boundary after the first trimmed document. One oracle
    * checks the whole chain (the span CTEs, the generated BPE replay
    * and the cumsum live in one DuckDB statement).
    */
  /** The staged cleaned-and-packed corpus — q109's packed relation
    * (all-long columns, exact round trip), built ONCE per (session,
    * corpus) and scanned by both consumers: q109 (the packing itself)
    * and q122 (its shard manifest). The span cut + BPE re-measure +
    * prefix-sum re-pack is the most expensive composed chain in the
    * engine; a production run materializes its output as THE cleaned
    * corpus artifact and derives every downstream readout from that
    * table, which is exactly what the registry entry does.
    */
  private[graft] def stagedCleanPack(spark: SparkSession, dir: String): DataFrame =
    stagedTable(spark, dir, "clean_pack") {
      packByTokens(TextOps.q107SpanDedup(spark, dir)
        .filter(col("n_kept") > 0)
        .select(col("doc_id"),
          bpeTokenCount(col("clean_text"), trainedBpeMerges(spark, dir)).as("n_tokens")))
    }

  def q109CleanPack(spark: SparkSession, dir: String): DataFrame =
    stagedCleanPack(spark, dir).orderBy("doc_id")

  /** q118 — training-shard manifest: the LAST operator between this
    * engine and a trainer's data loader. q106's packed BPE sequences
    * are deterministically assigned to 16 shards by the first hex char
    * of md5(seq_id) — q111's engine-agnostic hash convention, so the
    * assignment is a pure function of the sequence id, stable under
    * re-runs and portable across engines — and each shard gets a
    * manifest row: how many sequences it holds, how many documents
    * contribute to them, and its exact BPE token total. A doc spanning
    * a sequence boundary contributes its tokens to BOTH shards' totals,
    * split at the boundary (the loader reads each shard independently,
    * so per-shard byte budgets must count the overlap on both sides).
    *
    * Scale: the sequence explode is bounded by n_seqs_spanned (≤
    * len/2048 + 1 per doc — ~1 for real documents); the manifest is ≤
    * 16 rows however large the corpus, and the only shuffle is the
    * map-combinable manifest aggregation itself. The hex-char shard
    * hash avoids any numeric hex conversion (DuckDB has no conv):
    * both engines map the char through a position lookup in the same
    * 16-char string.
    */
  def q118ShardManifest(spark: SparkSession, dir: String): DataFrame =
    shardManifestOf(q106BpeSequencePack(spark, dir))

  /** q122 — the capstone handoff composed end-to-end: ExactSubstr span
    * cut → BPE re-measure → re-pack (q109's chain) → shard manifest
    * (q118's aggregation). This is the artifact list a training run
    * actually consumes — shards of the CLEANED corpus — and the whole
    * chain (span CTEs, generated BPE replay, two-level-prefix-sum
    * packing, boundary-split shard totals) verifies as ONE oracle
    * statement.
    */
  def q122CleanShardManifest(spark: SparkSession, dir: String): DataFrame =
    shardManifestOf(stagedCleanPack(spark, dir))

  /** q118/q122's manifest aggregation over any packed relation
    * (doc_id, n_tokens, start_token, seq_id, …).
    */
  private[graft] def shardManifestOf(packed: DataFrame): DataFrame = {
    val seqLen = 2048L
    packed
      .select(col("doc_id"), col("n_tokens"), col("start_token"),
        explode(sequence(col("seq_id"),
          expr(s"(start_token + n_tokens - 1) div $seqLen"))).as("seq"))
      .withColumn("tok_in_seq",
        least(col("start_token") + col("n_tokens"), (col("seq") + 1) * seqLen)
          - greatest(col("start_token"), col("seq") * seqLen))
      .withColumn("shard_id",
        (expr("instr('0123456789abcdef', substring(md5(cast(seq AS STRING)), 1, 1))")
          - lit(1)).cast(LongType))
      .groupBy("shard_id")
      .agg(countDistinct("seq").as("n_seqs"),
        countDistinct("doc_id").as("n_docs"),
        sum("tok_in_seq").as("n_tokens"))
      .orderBy("shard_id")
  }

  /** q137's mixing constants: the total training-token budget the
    * schedule allocates and the epoch cap no source may exceed (the
    * standard "don't repeat any source more than ~4 epochs" rule from
    * the data-constrained-scaling literature).
    */
  private[graft] val MixTokenBudget = 400000L
  private[graft] val MixMaxEpochs = 4L

  /** q137 — training-mix epoch schedule: given a uniform target mix
    * over sources and a fixed total token budget, compute each
    * source's allocation — available tokens, target tokens
    * (budget ÷ n_sources, integer floor), the epoch-capped REALIZED
    * tokens, and the resulting epoch count. This is the scheduler step
    * between q65's temperature weights and an actual run: weights say
    * what you WANT, the schedule says what you GET once no source may
    * repeat more than [[MixMaxEpochs]] times — undersized sources cap
    * out and flag `capped`, and the flagged rows are exactly the
    * sources a curator must go find more data for.
    *
    * Scale: one map-side-combinable agg on source (domain cardinality
    * spreads the key), a broadcast one-row join for n_sources, then
    * row-local integer math — LEAST/floor-div only, so both engines
    * compute identical longs; the only double (epochs) is a final
    * rd4 ratio of two longs.
    */
  def q137MixSchedule(spark: SparkSession, dir: String): DataFrame = {
    // n_sources via a global window over the PER-SOURCE relation
    // (bounded by source count) — q65's shape: a crossJoin(agg) would
    // both re-plan the corpus agg twice and introduce the one join
    // shape the global plan audit bans
    Tables.documents(spark, dir)
      .select(col("source"), size(split(col("text"), " ")).cast(LongType).as("nt"))
      .groupBy("source").agg(sum(col("nt")).as("avail_tokens"))
      .withColumn("n_sources", count(lit(1)).over(Window.partitionBy(lit(1))))
      .withColumn("target_tokens", expr(s"$MixTokenBudget div n_sources"))
      .withColumn("realized_tokens",
        least(col("target_tokens"), col("avail_tokens") * MixMaxEpochs))
      .withColumn("epochs",
        roundD4(col("realized_tokens").cast("double") / col("avail_tokens")))
      .withColumn("capped", col("realized_tokens") < col("target_tokens"))
      .select("source", "avail_tokens", "target_tokens", "realized_tokens",
        "epochs", "capped")
      .orderBy("source")
  }

  /** q138 — shard-balance report over q118's manifest: the skew audit
    * a run does before launching 1000 data loaders. Straggler time is
    * set by the LARGEST shard, so the single number that matters is
    * max/avg (perfect balance = 1.0); min/max/avg token counts and the
    * doc spread come along for the diagnosis. One aggregation over the
    * 16-row manifest — all the real work is q118's (already-audited)
    * boundary-split attribution, which this readout composes rather
    * than re-derives.
    */
  def q138ShardSkew(spark: SparkSession, dir: String): DataFrame = {
    val m = q118ShardManifest(spark, dir)
    m.agg(count(lit(1)).as("n_shards"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        davg4(col("n_tokens")).as("avg_tokens"),
        sum(col("n_docs")).as("doc_slots"))
      .withColumn("imbalance",
        roundD4(col("max_tokens").cast("double") / col("avg_tokens")))
  }

  /** Fixed character-trigram language profiles — the deterministic
    * profile-table classifier that upgrades q27's vowel-ratio stub to
    * real per-language discrimination (the fastText/CLD shape at its
    * smallest: score = Σ profile-trigram occurrences, argmax wins).
    * Space-flanked trigrams carry the strongest signal (they encode
    * function words: " th"/"the" for English, " le"/" la" for French,
    * "der"/"ich" for German, "cio"/"ado" for Spanish). Overlapping
    * entries (" de" is frequent in three of the four) are intentional —
    * real profiles overlap, and the argmax still separates because the
    * REST of the profile differs.
    *
    * Like [[BpeMerges]], the table is the constant BOTH sides replay:
    * the Spark plan and [[graft.SparkEntry.oracleSql]]'s DuckDB
    * statement are generated from THIS value, so they cannot diverge. A
    * production deployment swaps in learned profiles (a few hundred
    * trigrams × ~200 languages, broadcast or inlined the same way) —
    * the plumbing is invariant to the table.
    */
  val LangTrigramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" th", "the", "he ", "ing", " an", "nd ", " of", "ion"),
    "fr" -> Seq(" le", " de", "es ", "ent", " la", "et ", "que", " un"),
    "de" -> Seq("der", "ich", "sch", "ein", "und", "ie ", " da", "cht"),
    "es" -> Seq(" de", " la", "el ", "que", "ado", "cio", " en", "os "))

  /** Occurrence count of each profile trigram in `t`, summed — the
    * (length − length(replace))/3 counter, one codegen'd expression per
    * trigram (q105's literal-replay pattern; no explode, no join). The
    * division is exact (the difference is a multiple of 3), so the
    * double quotient casts back to long losslessly.
    */
  private def trigramHits(t: Column, grams: Seq[String]): Column =
    grams.map(g => ((length(t) - length(call_function("replace", t, lit(g), lit("")))) / lit(3))
      .cast(LongType)).reduce(_ + _)

  /** q119 — character-trigram language ID over the fixed
    * [[LangTrigramProfiles]]: per doc, each language's profile-trigram
    * hit count on the lowercased text, and the argmax language with
    * deterministic tie-breaks (profile order: en > fr > de > es; zero
    * hits everywhere → "und"). Entirely row-local — the scores pipeline
    * inside one codegen stage with no shuffle before the output sort,
    * so the operator scales like a scan whatever the corpus size.
    * LangIdSpec shows the discrimination q27's vowel heuristic cannot:
    * French/German/Spanish/English fixture sentences all classify
    * correctly.
    */
  def q119LangTrigram(spark: SparkSession, dir: String): DataFrame =
    withLangTrigramPred(Tables.documents(spark, dir).select("doc_id", "text"))
      .drop("text")
      .orderBy("doc_id")

  /** The q119 classifier as a reusable row-local stage over any
    * relation with a `text` column — adds per-language `<l>_hits`
    * columns and the argmax `lang_pred`. ONE definition shared by
    * q119 and every key that gates on the predicted language.
    */
  private[graft] def withLangTrigramPred(docs: DataFrame): DataFrame = {
    val t = lower(col("text"))
    val langs = LangTrigramProfiles.map(_._1)
    val scored = docs.select(
      docs.columns.map(col).toSeq ++ LangTrigramProfiles.map { case (l, gs) =>
        trigramHits(t, gs).as(s"${l}_hits") }: _*)
    val hitCols = langs.map(l => col(s"${l}_hits"))
    val best = greatest(hitCols: _*)
    val pick = langs.foldRight(lit(langs.last): Column) { (l, acc) =>
      when(col(s"${l}_hits") === best, lit(l)).otherwise(acc)
    }
    scored.withColumn("lang_pred",
      when(hitCols.reduce(_ + _) === 0L, lit("und")).otherwise(pick))
  }

  /** q81 — incremental dedup against an existing corpus: the production
    * shape where yesterday's corpus is already deduplicated and INDEXED
    * (here: sources src0–src9 stand in for the existing index;
    * src10–src19 are the new crawl). The new batch first drops its own
    * internal exact duplicates (first-wins on the content digest), then
    * anti-joins the index's digest set — new docs whose content already
    * exists anywhere in the index never enter the corpus. Both the
    * within-batch window and the anti-join key on the sha2-256 digest,
    * so no document body ever shuffles, and the index side is digests
    * only (at 100 TB the index is a digest TABLE, not the corpus
    * itself — exactly what this plan reads).
    */
  def q81IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val indexSources = (0 to 9).map(i => s"src$i")
    val docs = Tables.documents(spark, dir).select("doc_id", "source", "text")
    val indexDigests = docs.filter(col("source").isin(indexSources: _*))
      .select(sha2(col("text"), 256).as("digest")).distinct()
    val batch = docs.filter(!col("source").isin(indexSources: _*))
      .withColumn("digest", sha2(col("text"), 256))
    val wFirst = Window.partitionBy("digest").orderBy("doc_id")
    batch
      .withColumn("rn", row_number().over(wFirst))
      .filter(col("rn") === 1)
      .join(indexDigests, Seq("digest"), "left_anti")
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  /** q82 — train/eval decontamination at the n-gram level (the
    * GPT-3/Pile protocol): flag every training document sharing at
    * least one n-gram with the held-out evaluation set (source src19
    * stands in for the benchmark), with the count of distinct shared
    * n-grams and of eval documents hit. n is the protocol knob —
    * published pipelines use 8–13-word grams; this corpus's synthetic
    * cross-source overlap tops out at 4 words, so the declared query
    * runs n=4 (the semantics and plan are n-independent). Both sides
    * reduce to DISTINCT n-gram hashes per doc (the `shingle_hashes`
    * kernel — row-local, deduped before the explode), so the
    * contamination join is an equi-join on longs: the eval side is
    * benchmark-sized (small by construction), the shuffle carries
    * (hash, doc_id) longs only, and ubiquitous-gram fan-out is bounded
    * by per-doc dedup. The engine's hashed grams match the oracle's
    * string grams under the usual injective-relabeling argument.
    */
  def q82Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val n = 4
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(shingleHashes(split(col("text"), " "), n)).as("h"))
    val evalGrams = grams.filter(col("source") === "src19")
      .select(col("h"), col("doc_id").as("eval_doc_id"))
    grams.filter(col("source") =!= "src19")
      .join(evalGrams, "h")
      .groupBy("doc_id")
      .agg(
        countDistinct(col("h")).as("n_shared_ngrams"),
        countDistinct(col("eval_doc_id")).as("n_eval_docs_hit"))
      .orderBy("doc_id")
  }

  /** q58 — corpus composition report: per (source, lang) doc counts,
    * token/char volumes and average doc length — the numbers a data-mix
    * design starts from (how much of each source exists, at what token
    * cost). One partial+final aggregation; token counts are row-local
    * size(split(...)) so the shuffle carries per-group partials only.
    */
  def q58CorpusStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), col("lang"),
        size(split(col("text"), " ")).cast(LongType).as("toks"),
        length(col("text")).cast(LongType).as("chars"))
      .groupBy("source", "lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("total_tokens"),
        sum(col("chars")).as("total_chars"),
        davg4(col("toks")).as("avg_tokens"))
      .orderBy("source", "lang")

  /** q188 — MIX-CONTINGENCY AUDIT: the source × language independence
    * readout of the training mix — per cell, the observed doc count
    * against the independence expectation (row·col/total), with
    * over/under flags CROSS-MULTIPLIED into exact DECIMAL space
    * (`n_cell·n_docs` vs `n_source·n_lang` — q186's trick: no
    * division, no engine-dependent rounding, no overflow at any
    * corpus size). q58 reports what each cell contains; this reports
    * whether the mix is BALANCED — an over-represented (source, lang)
    * cell means one crawl dominates a language (q113's source cap
    * knows where to bite), an under-represented one is a coverage gap
    * (q119's language-ID work list). One scan, one cell-keyed groupBy;
    * marginals are rollups of the cell relation, never rescans.
    */
  def q188MixContingency(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .groupBy("source", "lang").agg(count(lit(1)).as("n_cell"))
    val bySource = cells.groupBy("source").agg(sum(col("n_cell")).cast(LongType).as("n_source"))
    val byLang = cells.groupBy("lang").agg(sum(col("n_cell")).cast(LongType).as("n_lang"))
    val total = cells.agg(sum(col("n_cell")).cast(LongType).as("n_docs"))
    cells.join(bySource, "source").join(byLang, "lang")
      .crossJoin(broadcast(total))
      .select(col("source"), col("lang"), col("n_cell"), col("n_source"),
        col("n_lang"), col("n_docs"),
        (col("n_cell").cast(DecimalType(38, 0)) * col("n_docs") >
          col("n_source").cast(DecimalType(38, 0)) * col("n_lang")).as("over_represented"),
        (col("n_cell").cast(DecimalType(38, 0)) * col("n_docs") <
          col("n_source").cast(DecimalType(38, 0)) * col("n_lang")).as("under_represented"))
      .orderBy("source", "lang")
  }

  /** q129 — PADDING-BUCKET analysis: assign each doc to the smallest
    * power-of-two length bucket that holds it (16 … 2048, the
    * fixed-shape batch sizes an attention kernel compiles for) and
    * report per-bucket doc counts, real token volume, padded volume and
    * the waste fraction — the readout that decides between padded
    * fixed-shape batching and q80/q106's contiguous packing (which
    * wastes nothing but splits docs across sequence boundaries). The
    * bucket ladder is an integer CASE chain, NOT `2^ceil(log2 n)` —
    * float log2 mis-rounds at exact powers of two, the q21 boundary
    * lesson in log space.
    *
    * Scale: entirely row-local until one ≤8-row partial+final
    * aggregation.
    */
  def q129PaddingBuckets(spark: SparkSession, dir: String): DataFrame = {
    val n = size(split(col("text"), " ")).cast(LongType)
    val bucket = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L)
      .foldRight(lit(2048L): org.apache.spark.sql.Column) { (b, rest) =>
        when(n <= b, b).otherwise(rest)
      }
    Tables.documents(spark, dir)
      .select(n.as("n_tokens"), bucket.as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("real_tokens"),
        sum(col("bucket")).as("padded_tokens"))
      .withColumn("waste_frac",
        roundD4(lit(1.0) - col("real_tokens").cast("double") / col("padded_tokens")))
      .orderBy("bucket")
  }

  /** q130 — per-source CONTAMINATION report: q82's doc-level eval-gram
    * join aggregated to the number a data-mix decision actually reads —
    * for each training source, how many docs carry at least one eval
    * 4-gram, what fraction of the source that is, and the total distinct
    * shared grams. A source with a high contaminated fraction gets
    * dropped or re-filtered wholesale; per-doc surgery (q82/q117) is for
    * the rest. Same equi-join-on-longs shape as q82 (eval side is
    * benchmark-sized; per-doc distinct grams bound ubiquitous-gram
    * fan-out), finished with one ≤|sources|-row aggregation.
    */
  def q130ContaminationReport(spark: SparkSession, dir: String): DataFrame = {
    val n = 4
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(shingleHashes(split(col("text"), " "), n)).as("h"))
    val evalG = grams.filter(col("source") === "src19").select("h").distinct()
    val perDoc = grams.filter(col("source") =!= "src19")
      .join(evalG, "h")
      .groupBy(col("doc_id"), col("source"))
      .agg(countDistinct(col("h")).as("n_shared"))
    Tables.documents(spark, dir)
      .filter(col("source") =!= "src19")
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(perDoc.groupBy("source")
          .agg(count(lit(1)).as("n_contaminated"), sum(col("n_shared")).as("total_shared_grams")),
        Seq("source"), "left_outer")
      .na.fill(0L, Seq("n_contaminated", "total_shared_grams"))
      .withColumn("contaminated_frac",
        roundD4(col("n_contaminated").cast("double") / col("n_docs")))
      .select("source", "n_docs", "n_contaminated", "contaminated_frac", "total_shared_grams")
      .orderBy("source")
  }

  /** q127 — token-ENTROPY gate: per-doc Shannon entropy of the token
    * distribution, H = ln(n) − (Σ c·ln c)/n — the single-aggregate
    * algebraic form, so each doc needs exactly one (doc, token) count
    * pass and one per-doc reduction (no per-token p = c/n division
    * chain, and the identical expression mirrors into the oracle).
    * Low-entropy documents are keyboard-mash / template spam /
    * single-phrase repetition — the signal Gopher's repetition rules
    * (q79) approximate with ratios; entropy catches distributional
    * degeneracy those miss (e.g. two tokens alternating perfectly has
    * dup_2gram_frac ≈ 1 BUT a 50/50 unigram mix; conversely a 95/5 mix
    * has low entropy with few repeated bigrams). The gate compares the
    * ROUNDED entropy so the flag flips identically on both engines.
    *
    * Scale: (doc_id, tok) counting is partial+final; the per-doc
    * reduction shuffles ≤ one row per distinct (doc, token); everything
    * after is row-local. Threshold 2.8 nats is corpus-calibrated (the
    * generator's 31-token vocab tops out near ln 31 ≈ 3.43).
    */
  def q127EntropyGate(spark: SparkSession, dir: String): DataFrame =
    withTokenEntropy(Tables.documents(spark, dir).select("doc_id", "text"))
      .select("doc_id", "n_tokens", "token_entropy", "low_entropy")
      .orderBy("doc_id")

  /** The entropy computation as a ROW-LOCAL stage (round 7 — replacing
    * the original explode → (doc, tok) count → per-doc reduce, which
    * cost two shuffles for a quantity that is a pure function of the
    * row): sort the token array, fold run-lengths of equal tokens
    * through one `aggregate` HOF accumulating Σ c·ln c, and finish with
    * ln n − Σ/n. Zero shuffle — the gate scales like a scan. The
    * run-start test is `run == 0`, not a sentinel `prev` value, so an
    * empty-string token (split artifacts) still counts as a run.
    */
  private[graft] def withTokenEntropy(docs: DataFrame): DataFrame = {
    val sorted = array_sort(split(col("text"), " "))
    // acc = (prev token, current run length, Σ c·ln c so far)
    val folded = aggregate(
      sorted,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0.0).as("slc")),
      (a, t) => {
        val run = a.getField("run"); val slc = a.getField("slc")
        // Spark log(x<=0) is NULL, so the run==0 first step must not
        // touch log(run): flush only non-empty runs (run·ln run = 0 for
        // run = 1, so singleton flushes are exact no-ops)
        val flushed = when(run > 0L,
          slc + run.cast("double") * log(run.cast("double"))).otherwise(slc)
        when(run > 0L && t === a.getField("prev"),
          struct(t.as("prev"), (run + 1L).as("run"), slc.as("slc")))
          .otherwise(struct(t.as("prev"), lit(1L).as("run"), flushed.as("slc")))
      },
      a => when(a.getField("run") > 0L, a.getField("slc") +
        a.getField("run").cast("double") * log(a.getField("run").cast("double")))
        .otherwise(a.getField("slc")))
    docs
      .withColumn("n_tokens", size(split(col("text"), " ")).cast(LongType))
      .withColumn("token_entropy",
        roundD4(log(col("n_tokens").cast("double")) - folded / col("n_tokens")))
      .withColumn("low_entropy", (col("token_entropy") < 2.8).cast(LongType))
  }

  /** q128 — per-source quality-score CALIBRATION: q28's composite score
    * rank-normalized WITHIN each source (percent_rank), because raw
    * score distributions differ by domain — a fixed global threshold
    * over-prunes terse sources and under-prunes verbose ones (the
    * CCNet/RefinedWeb motivation for per-domain quality buckets). The
    * output is the calibrated percentile plus the keep flag at the
    * bottom-20% cut, computed on the ROUNDED percentile so the flag is
    * engine-agnostic. Shares [[qualityScored]] with q28/q113 — one
    * score definition, three consumers, no drift.
    *
    * Scale: one window per source partition (millions of domains spread
    * the key space; a mega-domain is q60's salting story); score ties
    * get equal percent_rank on both engines by definition.
    */
  def q128SourceCalibration(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy("score")
    qualityScored(Tables.documents(spark, dir))
      .withColumn("cal_pct", Det.roundD4(percent_rank().over(w)))
      .withColumn("keep", (col("cal_pct") >= 0.2).cast(LongType))
      .select("doc_id", "source", "score", "cal_pct", "keep")
      .orderBy("doc_id")
  }

  /** q143 — CURRICULUM INTERLEAVE: a deterministic global training
    * order that walks sources round-robin in descending quality — doc
    * #1 of every source first, then every #2, … — so early training
    * steps see the best of EACH source instead of one source's entire
    * archive (the anti-clustering schedule curriculum/data-ordering
    * papers converge on; a source-sequential order is the pathological
    * case they measure against).
    *
    * The schedule key is ARITHMETIC, not a global window:
    * (rank_in_source − 1)·n_sources + source_index — a strict total
    * order computed from the per-source rank (one window per source,
    * q113's spread argument) and a tiny broadcast source index. No
    * global row_number runs; materializing the schedule order at 100 TB
    * is a range-partitioned sort on the key, exactly what a shard
    * writer does anyway (q118), and the key itself costs nothing.
    */
  def q143CurriculumInterleave(spark: SparkSession, dir: String): DataFrame = {
    val wSrc = Window.partitionBy("source").orderBy(desc("score"), asc("doc_id"))
    // source directory: report-sized (distinct domains), one single-
    // partition window over it is the q15 tiny-metadata exception
    val srcIdx = Tables.documents(spark, dir).select("source").distinct()
      .withColumn("sidx", row_number().over(Window.orderBy("source")).cast(LongType))
    val nSrc = srcIdx.agg(count(lit(1)).as("ns"))
    qualityScored(Tables.documents(spark, dir))
      .select("doc_id", "source", "score")
      .withColumn("rank_in_source", row_number().over(wSrc).cast(LongType))
      .join(broadcast(srcIdx), "source")
      .crossJoin(broadcast(nSrc))
      .withColumn("sched_key",
        (col("rank_in_source") - 1L) * col("ns") + (col("sidx") - 1L))
      .select("doc_id", "source", "rank_in_source", "score", "sched_key")
      .orderBy("sched_key")
  }

  /** q148 — DETERMINISTIC PER-EPOCH SHUFFLE: a reproducible, distinct
    * document order for each training epoch, keyed by md5(epoch ":"
    * doc_id) — multi-epoch runs must not replay one fixed order
    * (adjacent-batch correlations repeat), and the order must be a
    * pure function of (corpus, epoch) so a preempted job resumes
    * identically. q111's hash-function convention, pointed at ordering
    * instead of splitting.
    *
    * Scale: the key is row-local (an explode over a 3-literal array —
    * no join, no window); materializing an epoch's order is a
    * range-partitioned sort on (epoch, shuffle_key), exactly the shard
    * writer's sort (q143's argument).
    */
  private[graft] val ShuffleEpochs = 3

  def q148EpochShuffle(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(array((0 until ShuffleEpochs).map(e => lit(e)): _*)).as("epoch"))
      .select(col("epoch").cast(LongType).as("epoch"), col("doc_id"),
        md5(concat_ws(":", col("epoch"), col("doc_id"))).as("shuffle_key"))
      .orderBy("epoch", "shuffle_key", "doc_id")

  /** q158 — QUALITY RETENTION CURVE: documents and tokens surviving at
    * each quality-score threshold (0.0 … 3.0 in 0.5 steps) — the
    * quality-vs-quantity pareto a curation run reads BEFORE picking
    * q128's cut: every filtering decision is a point on this curve,
    * and the curve says what a stricter cut costs in tokens.
    *
    * Thresholds are a 7-element literal explode (row-local, no join);
    * the per-threshold aggregate is map-side combinable; the one-row
    * corpus total is the sanctioned scalar broadcast (q15's class).
    * Thresholds the whole corpus fails simply drop out — on both
    * engines, by the same group-by semantics.
    */
  private[graft] val RetentionThresholdSteps = 7 // 0.0, 0.5, …, 3.0

  def q158QualityRetention(spark: SparkSession, dir: String): DataFrame = {
    val scored = qualityScored(Tables.documents(spark, dir))
      .select(col("score"), col("n_tokens"))
    val tot = scored.agg(sum("n_tokens").as("total_tokens"))
    scored
      .select(col("score"), col("n_tokens"),
        explode(array((0 until RetentionThresholdSteps).map(i => lit(i * 0.5)): _*))
          .as("threshold"))
      .filter(col("score") >= col("threshold"))
      .groupBy("threshold")
      .agg(count(lit(1)).as("n_docs_kept"), sum("n_tokens").as("tokens_kept"))
      .crossJoin(broadcast(tot))
      .select(col("threshold"), col("n_docs_kept"), col("tokens_kept"),
        roundD4(col("tokens_kept").cast("double") / col("total_tokens")).as("token_frac"))
      .orderBy("threshold")
  }

  /** q144 — TOKENIZER FERTILITY REPORT: per (source, language), the
    * corpus priced in trained-BPE units ([[bpeTokenCount]], q133's
    * staged merges) against whitespace words and raw characters —
    * fertility (BPE tokens per word) and compression (chars per BPE
    * token) are THE tokenizer-fit diagnostics a multilingual data
    * pipeline reports per slice, because a slice with outlier fertility
    * is paying a token-budget tax the mixing weights (q65/q137) must
    * price in.
    *
    * Row-local pricing + one map-side-combinable aggregate over
    * (source, lang) — scales like a scan; ratios are computed from the
    * exact integer sums at the end (never averaged per-doc), matching
    * how a budget is actually spent.
    */
  def q144FertilityReport(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("source"), col("lang"),
        size(split(col("text"), " ")).cast(LongType).as("ws"),
        bpeTokenCount(col("text"), trainedBpeMerges(spark, dir)).as("bpe"),
        length(col("text")).cast(LongType).as("chars"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"),
        sum(col("chars")).as("n_chars"))
      .withColumn("fertility",
        roundD4(col("bpe_tokens").cast("double") / col("ws_tokens")))
      .withColumn("chars_per_token",
        roundD4(col("n_chars").cast("double") / col("bpe_tokens")))
      .orderBy("source", "lang")
  }

  /** q208 — EMBEDDING COVERAGE AUDIT: per source, how much of the
    * document corpus actually has an embedding row — the cross-TABLE
    * completeness check (q172 audits completeness over TIME, q169
    * row-local constraints; a missing embedding silently drops the doc
    * from every vector op: q22/q31/q94/q114's joins are inner). A
    * source with partial coverage biases SemDeDup and ANN retrieval
    * toward its embedded subset — this is the gate that catches the
    * embedding job that died mid-source. One FK-sized left join +
    * a map-combinable per-source aggregate; the embedding side
    * collapses to DISTINCT vec_id first, so a retried job's duplicate
    * vectors cannot inflate the document count (the audit must stay
    * right exactly when the embedding job misbehaved).
    */
  def q208EmbeddingCoverage(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .join(Tables.embeddings(spark, dir).select(col("vec_id")).distinct(),
        col("doc_id") === col("vec_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(col("vec_id")).as("n_with_vec"))
      .select(col("source"), col("n_docs"), col("n_with_vec"),
        (col("n_docs") - col("n_with_vec")).as("n_missing"),
        (col("n_docs") === col("n_with_vec")).as("full_coverage"))
      .orderBy("source")

  /** q203 — OUT-OF-FOLD TARGET ENCODING: the leakage-safe categorical
    * feature build — encode each (segment, fold) cell as the exact
    * mean order value over the OTHER folds, so a model trained on fold
    * k never sees a statistic computed from its own rows (the classic
    * target-leak that inflates validation scores). Folds are q111's
    * engine-agnostic md5-hex assignment (first hex digit of the order
    * key, mod 4) — reproducible across engines, stable across reruns,
    * and uniform without a shuffle-order dependency.
    *
    * The OOF trick is ONE pass, not k: per-(segment, fold) partial
    * sums/counts (map-combinable, catalog × 4 rows), a segment-level
    * rollup of those partials, and the complement read
    * `(S_seg − S_fold)/(n_seg − n_fold)` — never k re-scans of the fact
    * table. Sums accumulate in DECIMAL(20,6) (Det.sumDec) and the mean
    * rounds half-up in decimal space (Det.davg4's discipline; positive
    * target, so the oracle's floor-division mirror is exact). A fold
    * holding ALL of a segment's rows encodes NULL (no out-of-fold
    * evidence — the consumer backs off to the global prior).
    */
  def q203TargetEncoding(spark: SparkSession, dir: String): DataFrame = {
    val perFold = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        col("o_totalprice").cast(DecimalType(20, 6)).as("y"),
        ((expr("instr('0123456789abcdef', substring(md5(cast(o_orderkey AS STRING)), 1, 1))")
          - lit(1)) % 4).cast(LongType).as("fold"))
      .groupBy("segment", "fold")
      .agg(count(lit(1)).as("n_f"), sum(col("y")).as("s_f"))
    val perSeg = perFold.groupBy("segment")
      .agg(sum(col("n_f")).cast(LongType).as("n_seg"), sum(col("s_f")).as("s_seg"))
    perFold.join(perSeg, Seq("segment"))
      .select(col("segment"), col("fold"),
        col("n_f").as("n_in_fold"),
        (col("n_seg") - col("n_f")).as("n_other"),
        // the complement sum collapses to DECIMAL(30,6) before the
        // division (q210's merge discipline): subtracting two
        // DECIMAL(30,6) partial sums yields (31,6), whose quotient
        // Spark adjusts to scale 6 — round(...,4) would then DOUBLE-
        // round (half-up at 1e-6, then 1e-4), diverging from the
        // oracle's exact 4-dp floor formula near .xxxx5 boundaries.
        // At (30,6) the quotient keeps scale 14, inside davg4's
        // tie-exactness bound.
        when(col("n_seg") - col("n_f") > 0L,
          round((col("s_seg") - col("s_f")).cast(DecimalType(30, 6))
            / (col("n_seg") - col("n_f")), 4)
            .cast(DoubleType)).as("encoding"))
      .orderBy("segment", "fold")
  }
}
