package graft.stage

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** CROSS-QUERY staging registry: a relation shared by several queries
  * (the dedup cascade's collapse, pairs and labels; the retrieval
  * index; trained models) is built ONCE per (session, corpus dir),
  * written to a parquet staging table, and every consumer scans the
  * staged copy — what a pipeline run does between its stages.
  *
  * Parquet, not `localCheckpoint`: staged relations must survive the
  * inter-query RDD unpersist the bench harness performs, and
  * checkpointed lineage cannot be recomputed once truncated. Staged
  * schemas are longs, long arrays, strings and 4-dp-rounded doubles,
  * so the round trip is exact (MaterializedCascadeSpec /
  * StagedRegistrySpec prove output-identity against the inline
  * computation).
  *
  *  - **Per-key latches, no global build lock.** The registry maps
  *    (session, corpus, key) → a promise; the first caller installs it
  *    and builds, concurrent callers of the same key await that one
  *    build, and different keys build in parallel. A failed build
  *    removes its promise so the key is retryable. Builds run outside
  *    any registry lock, so a build may consume other staged relations.
  *  - **Root**: `spark.graft.stagingDir` points staging tables at a
  *    caller-owned directory (per-session subdirectory); unset, a
  *    per-JVM temp root is used and deleted by a shutdown hook.
  *    [[evictStagedSession]] drops a session's entries and files;
  *    entries of GC'd sessions are swept before later builds.
  *  - **Session identity is a UUID** held in a WeakHashMap keyed by the
  *    live session, so it cannot collide with a later session after GC.
  *  - **One job per build.** The row count comes from the write itself
  *    (an [[Observation]] on the build) and the schema is the build's
  *    schema made nullable, as the parquet writer stores it — so a
  *    build runs its write and nothing else: no read-back, no footer
  *    inference, no count.
  */
private[graft] object Staging {

  final case class StagedEntry(
      session: String, dir: String, key: String, path: String, rows: Long,
      schema: StructType)

  private val registry = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), scala.concurrent.Promise[StagedEntry]]

  private val sessionIds = new java.util.WeakHashMap[SparkSession, String]

  private def sessionId(spark: SparkSession): String = sessionIds.synchronized {
    Option(sessionIds.get(spark)).getOrElse {
      val id = java.util.UUID.randomUUID().toString
      sessionIds.put(spark, id)
      id
    }
  }

  /** JVM-default staging root, deleted on exit; `spark.graft.stagingDir`
    * overrides per session (that dir is the caller's artifact store —
    * eviction deletes per-session subtrees inside it, never the root).
    */
  private lazy val defaultStagingRoot: java.io.File = {
    val root = java.nio.file.Files.createTempDirectory("graft_staging_").toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(root)))
    root
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  private def stagingRoot(spark: SparkSession): java.io.File =
    spark.conf.getOption("spark.graft.stagingDir")
      .map(new java.io.File(_)).getOrElse(defaultStagingRoot)

  /** `key`'s staged relation, building it on first use. Reads supply
    * the recorded schema, so a consumer never pays parquet footer
    * inference at DataFrame construction (~30-50 ms per
    * `spark.read.parquet`, paid on every staged read of every consumer;
    * OPTIMIZATION_r14.md).
    */
  def stagedTable(spark: SparkSession, dir: String, key: String)
      (build: => DataFrame): DataFrame =
    read(spark, stagedEntry(spark, dir, key)(build))

  private def stagedEntry(spark: SparkSession, dir: String, key: String)
      (build: => DataFrame): StagedEntry = {
    val sid = sessionId(spark)
    val mapKey = (sid, dir, key)
    val fresh = scala.concurrent.Promise[StagedEntry]()
    val existing = registry.putIfAbsent(mapKey, fresh)
    if (existing != null) {
      scala.concurrent.Await.result(existing.future, scala.concurrent.duration.Duration.Inf)
    } else {
      try {
        sweepStaleSessions()
        // corpus-dir hash in the table name keeps two corpora of one
        // session from colliding inside the per-session subtree; the
        // `graft_stage_<key>` prefix is part of the public contract
        // (plan-pinning specs grep scans for it)
        val table = new java.io.File(new java.io.File(stagingRoot(spark), sid),
          f"graft_stage_${key}_${dir.hashCode & 0x7fffffff}%08x")
        val df = build
        val rows = Observation(s"graft_stage_${key}_${java.util.UUID.randomUUID()}")
        df.observe(rows, count(lit(1)).as("rows"))
          .write.mode("overwrite").parquet(table.toString)
        val entry = StagedEntry(sid, dir, key, table.toString,
          rows.get("rows").asInstanceOf[Long],
          nullable(df.schema).asInstanceOf[StructType])
        fresh.success(entry)
        entry
      } catch {
        case t: Throwable =>
          registry.remove(mapKey, fresh)
          fresh.failure(t)
          throw t
      }
    }
  }

  /** The schema a parquet write stores for `t`: every field, array
    * element and map value nullable, recursively.
    */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  private def read(session: SparkSession, e: StagedEntry): DataFrame =
    session.read.schema(e.schema).parquet(e.path)

  /** Force `key`'s staged build in the CALLER's session, then read it
    * in `session` — the hand-off from a caller to a partition-policy
    * clone ([[PartitionPolicy]]).
    */
  def stagedReadIn(session: SparkSession, spark: SparkSession, dir: String,
      key: String)(force: => DataFrame): DataFrame = {
    force
    read(session, stagedEntries(spark, dir).find(_.key == key).getOrElse(
      throw new IllegalStateException(s"staged '$key' missing after forcing its build")))
  }

  /** Completed staged entries of (session, corpus), key-ordered — the
    * session's staging-table inventory (q135's source).
    */
  def stagedEntries(spark: SparkSession, dir: String): Seq[StagedEntry] = {
    val sid = sessionId(spark)
    import scala.jdk.CollectionConverters._
    registry.asScala.toSeq
      .collect { case ((`sid`, `dir`, _), p) if p.isCompleted =>
        p.future.value.get.toOption }
      .flatten.sortBy(_.key)
  }

  /** Eagerly drop a session's staged entries and delete their files —
    * call on session teardown. Idempotent.
    */
  def evictStagedSession(spark: SparkSession): Unit = {
    val sid = sessionIds.synchronized(Option(sessionIds.get(spark))).getOrElse(return)
    evictSessionId(sid)
  }

  private def evictSessionId(sid: String): Unit = {
    import scala.jdk.CollectionConverters._
    registry.asScala.keys.filter(_._1 == sid).foreach { k =>
      Option(registry.remove(k)).foreach { p =>
        p.future.value.foreach(_.foreach(e => deleteRecursively(new java.io.File(e.path))))
      }
    }
  }

  /** Drop entries whose owning session has been GC'd (its WeakHashMap
    * id mapping is gone) — the long-lived-JVM leak guard, run before
    * each new staging build.
    */
  private def sweepStaleSessions(): Unit = {
    import scala.jdk.CollectionConverters._
    val live = sessionIds.synchronized(sessionIds.values.asScala.toSet)
    registry.asScala.keys.map(_._1).toSet.diff(live).foreach(evictSessionId)
  }
}
