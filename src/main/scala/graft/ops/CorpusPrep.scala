package graft.ops

import graft.Tables
import graft.functions.GraftFunctions.shingleHashes
import graft.stage.Staging.stagedTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The END-TO-END corpus-prep pipeline: the engine's individual
  * training-data operators composed into the one program a pretraining
  * data run actually executes. Each stage is the operator the
  * standalone queries expose; composing them proves the operators fit
  * together (column contracts, determinism, plan shapes) and gives the
  * driver an oracle check over the WHOLE pipeline, not just its parts.
  */
object CorpusPrep {

  /** Pipeline constants: one definition for every stage of q67 that
    * reads them.
    */
  val MinTokens = 10
  val ChunkWindow = 16
  val ChunkStride = 12

  /** Stages 1–2 (PII scrub → tokenize → length gate) of q67's
    * pipeline. Keeps every input column besides
    * `text`; adds `clean_text` and `toks`.
    */
  private[graft] def scrubAndGate(docs: DataFrame): DataFrame =
    docs
      .withColumn("clean_text", TextOps.scrubText(col("text")))
      .drop("text")
      .withColumn("toks", split(col("clean_text"), " "))
      .filter(size(col("toks")) >= MinTokens)

  /** The staged scrub → gate → exact-dedup FRONT — the shared head of
    * both composed pipelines, built once per (session, corpus) in the
    * cross-query registry and scanned by q67 (near-dup prep) and q112
    * (substring-cut prep): (doc_id, lang, source, clean_text, toks).
    * Strings and string arrays round-trip parquet exactly, so the
    * staged copy is output-identical to the inline window
    * (StagedRegistrySpec). This is the first materialization point of
    * a production prep run — the scrubbed, gated, exactly-deduped
    * corpus every downstream variant starts from.
    */
  private[graft] def stagedPrepDeduped(spark: SparkSession, dir: String): DataFrame =
    stagedTable(spark, dir, "prep_deduped") {
      val cleaned = scrubAndGate(
        Tables.documents(spark, dir).select("doc_id", "lang", "source", "text"))
      val wDup = Window.partitionBy(sha2(col("clean_text"), 256)).orderBy("doc_id")
      cleaned
        .withColumn("rn", row_number().over(wDup))
        .filter(col("rn") === 1)
        .drop("rn")
    }

  /** The exact-dup collapse OVER the staged prep front — q67's group
    * relation in the cross-query registry (the prep cascade's
    * equivalent of [[Similarity.stagedUnigramGroups]], but keyed on the
    * scrubbed/gated/deduped corpus).
    */
  private[graft] def stagedPrepGroups(spark: SparkSession, dir: String): DataFrame =
    stagedTable(spark, dir, "prep_groups") {
      Similarity.tokenSetGroupsBy(
        stagedPrepDeduped(spark, dir).select(col("doc_id"),
          shingleHashes(col("toks"), 1).as("toks")))
    }

  /** The staged qualifying pairs at J ≥ 4/5 OVER the prep collapse —
    * the prep cascade's equivalent of [[Similarity.stagedSetPairs45]].
    * Before round 7 this candidate+verify join (the quadratic stage)
    * re-ran on every q67 evaluation even though both its inputs were
    * staged; a production run materializes the verified pair list
    * right after the collapse, exactly like the main cascade does.
    */
  private[graft] def stagedPrepPairs45(spark: SparkSession, dir: String): DataFrame =
    stagedTable(spark, dir, "prep_pairs_45") {
      // pair-join partition policy (see stagedSetPairs45): the scrubbed
      // prep collapse feeds the same candidate+verify join shape
      Similarity.setPairsOverStagedGroups(spark, dir, "prep_groups",
        stagedPrepGroups(spark, dir), 4, 5)
    }

  /** q67 — scrub → length-gate → exact-dedup → near-dup survivors →
    * chunk, as one DataFrame program:
    *
    *  1. PII scrub (q63's redaction) — row-local regex passes.
    *  2. Length gate: keep docs with ≥ 10 tokens after scrubbing (the
    *     short-doc drop every web pipeline applies).
    *  3. Exact dedup, first-wins (q20's shape): one row per distinct
    *     cleaned text, keyed by sha2 digest so the shuffle ships 32-byte
    *     digests, never document bodies.
    *  4. Near-dup survivor selection at J ≥ 0.8 (q56's group-level drop
    *     set over the exact-dup-collapsed token sets of the remaining
    *     docs) — the full cascade, candidates from the prefix join.
    *  5. Chunking (q64's sliding windows) of the surviving docs'
    *     cleaned token arrays.
    *
    * Stage order matters and is the production order: scrubbing changes
    * tokenization (so it precedes everything), exact dedup halves the
    * near-dup input on duplicate-heavy corpora, and only survivors are
    * chunked (chunking dropped docs is wasted fan-out). Every stage is
    * deterministic, so the whole composition hash-matches a DuckDB CTE
    * chain replicating the five stages.
    *
    * The shared front (scrub → gate → dedup window) is the CROSS-QUERY
    * staged [[stagedPrepDeduped]] relation (shared with q112 — one
    * materialization of the prep head per corpus, the write a
    * production run does after stage 3), so the three
    * differently-pruned consumers — the group build, the survivor doc
    * side, the chunk join — scan the staging parquet instead of
    * recomputing the window 3×; the near-dup collapse over it is
    * registry-staged the same way. PlanQualitySpec pins both (no sha2
    * exchange, no collapse aggregate in the consumer plan) so a
    * refactor can't silently regress the reuse.
    */
  def q67CorpusPrep(spark: SparkSession, dir: String): DataFrame = {
    val deduped = stagedPrepDeduped(spark, dir)
    val groups = stagedPrepGroups(spark, dir)
    val survivors = Similarity
      .survivorsFromPairs(stagedPrepPairs45(spark, dir), groups,
        deduped.select("doc_id", "lang", "source"))
      .select("doc_id")
    TrainingData.chunkTokens(
        survivors.join(deduped.select("doc_id", "toks"), "doc_id"),
        ChunkWindow, ChunkStride)
      .orderBy("doc_id", "chunk_id")
  }

  /** q112 — the ROUND-5 operators composed into the second flagship
    * pipeline, in the production order: scrub (q63) → length gate →
    * exact dedup (q20/q67's window) → ExactSubstr span cut over the
    * SURVIVORS (q104/q107 at L = 15, so repeated-gram counts are
    * measured on the deduped corpus — exact dedup first, or every
    * duplicate pair would mark BOTH copies' full text as repeated
    * spans) → re-gate (a cut can leave a stump under MinTokens) →
    * chunk (q64's windows) with each chunk PRICED IN BPE UNITS
    * (q105's tokenizer stub) — the quantity a sequence budget is
    * written in. Beside q67 (which composes the near-dup cascade),
    * this proves the substring-dedup and tokenizer operators fit the
    * same column contracts; one DuckDB statement replays all six
    * stages.
    */
  def q112PrepPipelineV2(spark: SparkSession, dir: String): DataFrame = {
    val deduped = stagedPrepDeduped(spark, dir)
      .select("doc_id", "clean_text", "toks")
    // spans and toksP share deduped's lineage — rename the span-side key
    // so the equi-join can't collapse to a trivially-true self-compare
    val spans = TextOps.repeatedSpansIn(
        deduped.select(col("doc_id"), col("clean_text").as("text")))
      .withColumnRenamed("doc_id", "span_doc")
    val toksP = deduped.select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
    val cut = toksP
      .join(spans,
        col("doc_id") === col("span_doc") &&
          col("pos") >= col("span_start") && col("pos") < col("span_end"),
        "left_anti")
      .groupBy("doc_id")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
        s => s.getField("tok")).as("toks"))
      .filter(size(col("toks")) >= MinTokens)
    TrainingData.chunkTokens(cut, ChunkWindow, ChunkStride)
      .withColumn("bpe_tokens", TrainingData.bpeTokenCount(col("chunk_text"),
        TrainingData.trainedBpeMerges(spark, dir)))
      .orderBy("doc_id", "chunk_id")
  }

  /** q72 — dedup observability report: per source, how many docs the
    * dedup cascade drops as EXACT duplicates (an earlier doc with the
    * identical token set exists) vs NEAR duplicates (dropped by q56's
    * first-wins rule through a Jaccard ≥ 0.8 partner, but not
    * set-identical), and the survival rate. This is the report a
    * pipeline run ships with its output — mix designs are made against
    * per-source survival, not global counts. Attribution is by the
    * dropped doc's own source (its partner may live elsewhere).
    *
    * Same cascade as q56 (group-level, no pair expansion); the
    * classification is free: set-exact drops are exactly the
    * above-minimum members of multi-member groups, near drops are the
    * remaining dropped docs.
    */
  def q72DedupReport(spark: SparkSession, dir: String): DataFrame = {
    // groups and verified pairs come from the cross-query staging
    // registry (the round-5 regression re-ran the whole cascade here):
    // the report is a pure reclassification of the staged pairs
    val groups = Similarity.stagedUnigramGroups(spark, dir)
    val setPairs = Similarity.stagedSetPairs45(spark, dir)
    // the same shared drop-set derivations q56's survivor selection uses
    val exactDropped = Similarity.dropWithinSet(groups)
    val nearOnly = Similarity.dropCrossSet(setPairs).distinct()
      .join(exactDropped, Seq("doc_id"), "left_anti")
    Tables.documents(spark, dir).select("doc_id", "source")
      .join(exactDropped.withColumn("is_exact", lit(1L)), Seq("doc_id"), "left")
      .join(nearOnly.withColumn("is_near", lit(1L)), Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_exact"), lit(0L))).as("n_exact_dropped"),
        sum(coalesce(col("is_near"), lit(0L))).as("n_near_dropped"))
      .withColumn("n_survivors", col("n_docs") - col("n_exact_dropped") - col("n_near_dropped"))
      .withColumn("survival_rate",
        Det.roundD4(col("n_survivors").cast(org.apache.spark.sql.types.DoubleType) / col("n_docs")))
      .orderBy("source")
  }
}
