package graft

import java.nio.file.{Files, Paths}
import graft.etl.DelotonPipeline
import org.apache.spark.sql.functions.col

/** The `graftlog` DataSource V2 driven through the public read API:
  * schema/offsets, column pruning, stream-equality pushdown (whole-file
  * skip, observable as the partition count), and the ETL running
  * unchanged on top of the source.
  */
class LogSourceSpec extends SparkSpecBase {

  private def msg(ts: String, line: String): String = s"""{"log": "$ts $line"}"""

  private def writeLogs(dir: String, stream: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(dir, s"$stream.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))

  private def fixture(): String = {
    val dir = tmpDir()
    writeLogs(dir, "bike-1", Seq(
      msg("2024-01-01 12:00:00.000", "[INFO]: --------- beginning of a new ride"),
      msg("2024-01-01 12:00:01.000", "[INFO]: Getting user data from server"),
      msg("2024-01-01 12:00:02.000", "[INFO]: Ride - duration = 1.0; resistance = 30")))
    writeLogs(dir, "bike-2", Seq(
      msg("2024-01-02 09:00:00.000", "[INFO]: --------- beginning of a new ride"),
      msg("2024-01-02 09:00:01.000", "[INFO]: Telemetry - hrt = 84; rpm = 27; power = 5.25")))
    dir
  }

  test("reads (stream, offset, value): stream = basename, offsets 0-based per file") {
    val dir = fixture()
    val out = DelotonPipeline.readLogs(spark, dir)
    assert(out.schema == graft.sources.LogSource.Schema)
    assert(out.schema == DelotonPipeline.rawSchema,
      "source schema must be interchangeable with the ETL's raw schema, nullability included")
    val rows = out.collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(rows.toSeq == Seq(("bike-1", 0L), ("bike-1", 1L), ("bike-1", 2L),
      ("bike-2", 0L), ("bike-2", 1L)))
    val v = out.filter(col("stream") === "bike-2" && col("offset") === 1).collect()
    assert(v.head.getString(2).contains("Telemetry"))
  }

  test("column pruning reaches the source: scan description lists only read columns") {
    val dir = fixture()
    val df = DelotonPipeline.readLogs(spark, dir).select("value")
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("graftlog"), plan)
    assert(plan.contains("columns=value") && !plan.contains("columns=stream"),
      "scan must materialize only the value column:\n" + plan)
    assert(df.collect().length == 5)
  }

  test("stream-equality pushdown skips whole files: 1 partition instead of 2") {
    val dir = fixture()
    val all = DelotonPipeline.readLogs(spark, dir)
    val one = all.filter(col("stream") === "bike-2")
    assert(all.rdd.getNumPartitions == 2, "one partition per file expected")
    assert(one.rdd.getNumPartitions == 1,
      "pushed stream filter must prune the non-matching file's partition")
    assert(one.collect().forall(_.getString(0) == "bike-2"))
    val plan = one.queryExecution.executedPlan.toString()
    assert(plan.contains("pushed stream=bike-2"), "pushdown must be visible in the scan:\n" + plan)
    // a filter the source does NOT handle stays in the plan as residual
    val residual = DelotonPipeline.readLogs(spark, dir).filter(col("offset") > 0)
    assert(residual.collect().length == 3)
    // CONFLICTING stream equalities: the source enforces the first and
    // must leave the disagreeing one as a residual — the correct result
    // is empty, not the first stream's rows
    val conflicting = DelotonPipeline.readLogs(spark, dir)
      .filter(col("stream") === "bike-1" && col("stream") === "bike-2")
    assert(conflicting.collect().isEmpty, "conflicting equalities must yield zero rows")
  }

  test("streaming: AvailableNow drains all lines then stops; checkpoint resumes on the delta") {
    val dir = fixture()
    val cp = tmpDir()
    val out = tmpDir() + "/sink"
    def drain(): Unit = {
      val q = spark.readStream.format("graftlog").load(dir)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      assert(!q.isActive, "AvailableNow must stop after the drain")
    }
    drain()
    val first = spark.read.parquet(out).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(first == Set(("bike-1", 0L), ("bike-1", 1L), ("bike-1", 2L),
      ("bike-2", 0L), ("bike-2", 1L)))
    // append to an existing stream + add a whole new stream, then resume
    // from the SAME checkpoint: only the delta may arrive (Kafka-consumer
    // semantics — committed (file -> line) offsets are honored, nothing
    // is re-read and nothing is duplicated in the sink)
    Files.write(Paths.get(dir, "bike-1.jsonl"),
      ("\n" + msg("2024-01-01 12:00:03.000", "[INFO]: Ride - duration = 2.0; resistance = 40"))
        .getBytes("UTF-8"), java.nio.file.StandardOpenOption.APPEND)
    writeLogs(dir, "bike-3", Seq(
      msg("2024-01-03 08:00:00.000", "[INFO]: --------- beginning of a new ride")))
    drain()
    val all = spark.read.parquet(out).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(all.length == 7, s"no duplicates on resume: ${all.toSeq.sorted}")
    assert(all.toSet -- first == Set(("bike-1", 3L), ("bike-3", 0L)),
      s"resume must read only appended lines and new files, got ${all.toSet -- first}")
  }

  test("duplicate stream ids (bike-1.jsonl + bike-1.log) are rejected, not silently merged (ADVICE r3)") {
    val dir = fixture()
    Files.write(Paths.get(dir, "bike-1.log"),
      msg("2024-01-09 00:00:00.000", "[INFO]: impostor file").getBytes("UTF-8"))
    val e = intercept[Exception] {
      DelotonPipeline.readLogs(spark, dir).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("bike-1"),
      s"error must name the colliding stream id: ${e.getMessage}")
  }

  test("a truncated file below its committed offset fails fast instead of losing data (ADVICE r3)") {
    val dir = fixture()
    val cp = tmpDir()
    val out = tmpDir() + "/sink"
    def drain(): Unit = {
      val q = spark.readStream.format("graftlog").load(dir)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    drain()
    // rotate bike-1 in place: 3 lines committed, rewrite with 1 line
    writeLogs(dir, "bike-1", Seq(msg("2024-01-05 00:00:00.000", "[INFO]: rewritten")))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] { drain() }
    val root = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(root.contains("shrank") || root.contains("append-only"),
      s"truncation must surface the append-only violation, got: $root")
  }

  test("same-size append within one query is seen by the snapshot (mtime in cache key, ADVICE r3)") {
    // The line-count cache lives inside ONE MicroBatchStream (= one
    // query run), so the stale-cache hazard needs two micro-batches in
    // the SAME query: batch 1 populates the cache, then the file is
    // rewritten to the SAME byte size with one MORE line. A size-only
    // cache key serves the stale count and processAllAvailable() sees
    // "no new data"; the size+mtime key recounts and drains the line.
    val dir = fixture()
    val out = tmpDir() + "/sink"
    val q = spark.readStream.format("graftlog").load(dir)
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", tmpDir())
      .start()
    try {
      q.processAllAvailable()
      val old = Files.readAllBytes(Paths.get(dir, "bike-2.jsonl"))
      val extra = msg("2024-01-06 00:00:00.000", "[INFO]: X")
      val pad = old.length - 2 - extra.length // two joining newlines
      assert(pad >= 2, s"fixture too small to embed an extra line (pad=$pad)")
      // 3 raw lines (the source doesn't require JSON), byte-identical total
      val rewritten = ("x" * (pad / 2) + "\n" + "y" * (pad - pad / 2) + "\n" + extra)
        .getBytes("UTF-8")
      assert(rewritten.length == old.length,
        s"rewrite must keep the byte size identical (${rewritten.length} vs ${old.length})")
      Files.write(Paths.get(dir, "bike-2.jsonl"), rewritten)
      Files.setLastModifiedTime(Paths.get(dir, "bike-2.jsonl"),
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.parquet(out).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.count(_ == ("bike-2", 2L)) == 1,
      s"the third line of the same-size rewrite must be read, got ${rows.toSeq.sorted}")
  }

  private def userRide(t: String, uid: Long): Seq[String] = Seq(
    msg(s"$t:00.000", "[INFO]: --------- beginning of a new ride"),
    msg(s"$t:01.000", s"[INFO]: data = {'user_id': $uid, 'name': 'Sam Rider', " +
      "'gender': 'male', 'address': '1 Way,London,AB1 2CD', 'date_of_birth': 0, " +
      "'height_cm': 180, 'weight_kg': 80, 'account_create_date': 0, " +
      "'original_source': 'offline'}"),
    msg(s"$t:02.000", "[INFO]: Ride - duration = 1.0; resistance = 30"),
    msg(s"$t:03.000", "[INFO]: Telemetry - hrt = 84; rpm = 27; power = 5.25"))

  test("the ETL runs unchanged on the DSv2 source") {
    val dir = tmpDir()
    writeLogs(dir, "bike-1", userRide("2024-01-01 12:00", 11L) ++
      userRide("2024-01-01 12:10", 12L) ++ userRide("2024-01-01 12:20", 13L))
    writeLogs(dir, "bike-2", userRide("2024-01-02 09:00", 21L) ++
      userRide("2024-01-02 09:10", 22L) ++ userRide("2024-01-02 09:20", 23L))
    val raw = DelotonPipeline.readLogs(spark, dir)
    // each stream numbers its rides from its own first marker — state
    // never crosses files — and the trim keeps each stream's middle ride
    val rides = DelotonPipeline.rides(raw).orderBy("stream")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(8))).toSeq
    assert(rides == Seq(("bike-1", 2L, 12L), ("bike-2", 2L, 22L)))
    val users = DelotonPipeline.users(raw).collect().map(_.getLong(0)).sorted.toSeq
    assert(users == Seq(11L, 12L, 13L, 21L, 22L, 23L))
  }
}
