package graft.stage

import org.apache.spark.sql.SparkSession

/** The per-family shuffle-partition policy of the staged builds: the
  * candidate+verify pair joins want FINE hashing, the iterative
  * fixpoints want COARSE. Each policy resolves to a cloned session
  * (shared SparkContext, own SQLConf) carrying its partition count —
  * a staged build is an isolated plan tree written eagerly to
  * parquet, so the clone scopes the conf exactly to that plan, and
  * staged inputs reach it through [[Staging.stagedReadIn]]. No clone
  * is made when the policy resolves to the session's own setting.
  */
private[graft] object PartitionPolicy {

  /** Shuffle-partition count for the staged PAIR-JOIN builds.
    * Round-13's re-record measured the two staged build classes wanting
    * OPPOSITE partition counts at 30×: the candidate+verify joins drop
    * their straggler under 128-way hashing (SCALING.md §2.3's clean
    * curve), while the O(diameter) fixpoints pay +50% at 128 from
    * per-round scheduling on small relations. So the pair joins size
    * their shuffles from the CORPUS (one partition per ~160 KB of
    * compressed documents — the join's intermediate explodes ~100×
    * over the input, so partitions this "small" are right-sized for
    * the exploded prefix/candidate stream), and once the corpus
    * outgrows the session setting the fine regime FLOORS AT 128: the
    * regression class is one hot token's candidate bucket landing
    * whole in one hash partition, and a merely proportional count was
    * measured insufficient — the 10× corpus at 39 partitions still
    * pays the straggler (37.3 s) while 125/128 split it at both 10×
    * and 30× (20.6 s at 30×). Capped at 4096.
    */
  def pairJoinShufflePartitions(spark: SparkSession, docBytes: BigInt): Int = {
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val byBytes = (docBytes / BigInt(160L << 10)).min(BigInt(4096)).toInt
    if (byBytes <= session) session else math.max(128, byBytes)
  }

  def pairJoinSession(spark: SparkSession, docBytes: BigInt): SparkSession =
    sessionWithPartitions(spark, pairJoinShufflePartitions(spark, docBytes))

  /** Shuffle-partition count for the staged FIXPOINT builds (coreness,
    * pagerank_scores, component_labels). An O(diameter) or
    * fixed-iteration loop pays per-round scheduling and shuffle-file
    * overhead proportional to the partition count on per-round
    * relations that are SMALL (contracted remnants, vertex-sized
    * labels): the 30× grid measured coreness +33% slower at 128
    * partitions than at 32 (300.7 s vs 226.2 s, SCALING.md §2.3/§2.4),
    * while going below the core count is refuted (round-14's q62b A/B:
    * 1-partition rounds 37% slower; job fixed cost dominates). Policy:
    * cap the loop at the context's core count when the session conf is
    * finer; never move when it is already at or below cores. Local
    * sessions run shuffle.partitions == cores, so the policy resolves
    * to the session conf and no clone is made.
    */
  def fixpointShufflePartitions(spark: SparkSession): Int = {
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.min(session, math.max(1, spark.sparkContext.defaultParallelism))
  }

  def fixpointSession(spark: SparkSession): SparkSession =
    sessionWithPartitions(spark, fixpointShufflePartitions(spark))

  private def sessionWithPartitions(spark: SparkSession, parts: Int): SparkSession =
    if (parts.toString == spark.conf.get("spark.sql.shuffle.partitions")) spark
    else {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", parts.toString)
      s2
    }
}
