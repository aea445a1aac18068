package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, length, lit, sum}

import graft.SparkEntry
import graft.etl.DelotonPipeline
import graft.serve.Endpoints

/** Drives one workload of the benchmark in a fresh JVM.
  *
  * Usage: `perfbench.Harness <plan.json>`. The plan, written by
  * `perfbench/run.py`, names the workload, its inputs, the operation
  * order drawn from the seed and a work directory. The harness times
  * calls into the engine's public functions only, records what the
  * scheduler did through its own listener, captures every output it must
  * check, and writes `result.json` into the work directory. It judges
  * nothing itself: run.py checks the captured outputs.
  */
object Harness {
  private val mapper = new ObjectMapper
  private val nf = JsonNodeFactory.instance

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(Paths.get(args(0)).toFile)
    new Harness(plan).run()
  }

  private val tsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** A value as JSON, in the normal form run.py also gives DuckDB's values:
    * timestamps as UTC wall-clock text with microseconds, structs as lists,
    * maps as key-sorted pairs.
    */
  def render(v: Any): JsonNode = v match {
    case null => nf.nullNode()
    case s: String => nf.textNode(s)
    case b: Boolean => nf.booleanNode(b)
    case i: Int => nf.numberNode(i.toLong)
    case i: Long => nf.numberNode(i)
    case i: Short => nf.numberNode(i.toLong)
    case i: Byte => nf.numberNode(i.toLong)
    case d: Double => if (d.isNaN || d.isInfinite) nf.textNode(d.toString) else nf.numberNode(d)
    case f: Float => render(f.toDouble)
    case d: java.math.BigDecimal => nf.numberNode(d)
    case d: scala.math.BigDecimal => nf.numberNode(d.bigDecimal)
    case t: java.sql.Timestamp => nf.textNode(tsFormat.format(t.toLocalDateTime))
    case t: java.time.LocalDateTime => nf.textNode(tsFormat.format(t))
    case t: java.time.Instant =>
      nf.textNode(tsFormat.format(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC)))
    case d: java.sql.Date => nf.textNode(d.toLocalDate.toString)
    case d: java.time.LocalDate => nf.textNode(d.toString)
    case r: Row => list(r.toSeq)
    case m: scala.collection.Map[_, _] =>
      list(m.toSeq.map { case (k, x) => Seq(k, x) }.sortBy(_.head.toString))
    case b: Array[Byte] => nf.textNode(b.map("%02x".format(_)).mkString)
    case s: scala.collection.Seq[_] => list(s.toSeq)
    case other => nf.textNode(other.toString)
  }

  private def list(xs: Seq[Any]): ArrayNode = {
    val a = nf.arrayNode()
    xs.foreach(x => a.add(render(x)))
    a
  }

  def rowLines(rows: Array[Row]): Array[String] = rows.map(r => mapper.writeValueAsString(list(r.toSeq)))
}

final class Harness(plan: JsonNode) {
  import Harness._

  private val workload = plan.get("workload").asText
  private val work = Paths.get(plan.get("work").asText)
  private val dataDir = plan.path("data").asText
  private val cores = plan.get("cores").asInt
  private val trace = plan.get("trace").asBoolean
  private val out: ObjectNode = nf.objectNode()
  private val ops = out.putArray("ops")
  private val spans = out.putArray("spans")
  private val probe = new Probe(trace)
  private var spark: SparkSession = _
  private var firstOpNs = 0L
  // nanoTime -> epoch milliseconds, so run.py can time set-up from its launch
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  private var lastResultNs = 0L
  // intervals the harness spends between operations capturing and checking
  // outputs; the part inside the measured interval is not wall time
  private val captures = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

  private def now(): Long = System.nanoTime()
  private def epochMs(ns: Long): Double = epochOffsetMs + ns / 1e6
  private def secs(ns: Long): Double = ns / 1e9

  /** Run `f` inside a span. Jobs it submits are credited to `name`. */
  private def span[T](name: String, parent: String = null)(f: => T): T = {
    val sc = spark.sparkContext
    val prior = sc.getLocalProperty(Probe.SpanKey)
    sc.setLocalProperty(Probe.SpanKey, name)
    val gc0 = Heap.gcMs
    val t0 = now()
    try f
    finally {
      val t1 = now()
      sc.setLocalProperty(Probe.SpanKey, prior)
      if (trace) {
        val s = spans.addObject()
        s.put("name", name).put("parent", parent)
        s.put("start_ms", epochMs(t0)).put("end_ms", epochMs(t1)).put("gc_ms", Heap.gcMs - gc0)
      }
    }
  }

  private def measured(t0: Long, t1: Long): Unit = {
    if (firstOpNs == 0L) firstOpNs = t0
    lastResultNs = t1
  }

  private def captured[T](f: => T): T = {
    val t0 = now()
    try f finally captures += ((t0, now()))
  }

  def run(): Unit = {
    Files.createDirectories(work)
    Heap.watch()
    val t0 = now()
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.graft.stagingDir", work.resolve("staging").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(probe)
    if (trace) spark.listenerManager.register(planPhases)
    out.put("session_s", secs(now() - t0))
    out.put("calib_start_s", calibrate("start"))
    workload match {
      case "corpus-cold" => corpusCold()
      case "deloton-ingest-serve" => delotonIngestServe()
    }
    out.put("calib_end_s", calibrate("end"))
    out.put("first_op_epoch_ms", epochMs(firstOpNs))
    val captureNs = captures.map { case (a, b) =>
      math.max(0L, math.min(b, lastResultNs) - math.max(a, firstOpNs)) }.sum
    out.put("wall_s", secs(lastResultNs - firstOpNs - captureNs))
    out.put("capture_s", secs(captureNs))
    out.put("heap_peak_bytes", Heap.peakAfterGcBytes)
    out.put("gc_ms", Heap.gcMs)
    val oracle = out.putObject("oracle_sql")
    val keys = plan.path("keys").elements().asScala.map(_.asText).toSet
    SparkEntry.oracleSql.foreach { case (k, v) => if (keys(k)) oracle.put(k, v) }
    spark.stop() // drains the listener bus, so the counters below are final
    probe.total.write(out.putObject("total"))
    val phases = out.putArray("plan_phases")
    planPhases.phases.forEach(p => phases.add(p))
    val perSpan = out.putObject("span_counters")
    probe.spans.asScala.foreach { case (k, c) => c.write(perSpan.putObject(k)) }
    mapper.writeValue(work.resolve("result.json").toFile, out)
  }

  /** Optimisation and planning intervals of every action, from Spark's own
    * query-planning tracker; run.py credits each to the request it falls in.
    */
  private object planPhases extends org.apache.spark.sql.util.QueryExecutionListener {
    val phases = new java.util.concurrent.ConcurrentLinkedQueue[ArrayNode]()
    override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        if (phase != "analysis") phases.add(nf.arrayNode().add(p.startTimeMs).add(p.endTimeMs))
      }
    override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
        exception: Exception): Unit = ()
  }

  /** A fixed Spark-only job with no engine code: a control for host speed. */
  private def calibrate(tag: String): Double = span(s"u:calib|$tag") {
    val t0 = now()
    spark.range(0, 1000000, 1, cores).selectExpr("sum(hash(id) % 1000) AS s").collect()
    secs(now() - t0)
  }

  // --------------------------------------------------------- query workloads

  private val moduleOf: Map[String, String] =
    plan.path("modules").fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap

  /** One declared query: construction, planning, full materialisation. */
  private def queryOp(s: SparkSession, key: String, round: Int, dump: Option[Path]): Unit = {
    val fn = SparkEntry.queries(key)
    val op = s"$key#$round"
    val rec = nf.objectNode()
    rec.put("kind", "query").put("key", key).put("module", moduleOf.getOrElse(key, "?"))
      .put("round", round)
    val t0 = now()
    var t1, t2, t3 = t0
    var rows: Array[Row] = null
    var schema: org.apache.spark.sql.types.StructType = null
    try {
      val df = span(s"construct|$op", op)(fn(s, dataDir))
      t1 = now()
      span(s"plan|$op", op)(df.queryExecution.executedPlan)
      t2 = now()
      rows = span(s"exec|$op", op)(df.collect())
      t3 = now()
      schema = df.schema
    } catch {
      case e: Throwable =>
        t3 = now()
        rec.put("error", s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
    }
    rec.put("construct_s", secs(t1 - t0)).put("plan_s", secs(t2 - t1))
      .put("exec_s", secs(t3 - t2)).put("total_s", secs(t3 - t0))
    measured(t0, t3)
    System.err.println(f"[perfbench] $op%-40s ${secs(t3 - t0)}%8.3f s")
    captured {
      if (rows != null) {
        val ls = rowLines(rows)
        rec.put("rows", rows.length)
        rec.put("digest", scala.util.hashing.MurmurHash3.arrayHash(ls))
        dump.foreach { p =>
          val header = nf.objectNode()
          val cols = header.putArray("columns")
          val types = header.putArray("types")
          schema.fields.foreach { f => cols.add(f.name); types.add(f.dataType.simpleString) }
          Files.write(p, (mapper.writeValueAsString(header) +: ls.toSeq).asJava)
        }
      }
    }
    ops.add(rec)
  }

  private def keysOf(field: String): Seq[String] =
    plan.path(field).elements().asScala.map(_.asText).toSeq

  private def dumpPath(key: String): Some[Path] = {
    val d = work.resolve("rows")
    Files.createDirectories(d)
    Some(d.resolve(s"$key.jsonl"))
  }

  /** A staging directory's families, files and bytes. */
  private def stagingStats(dir: Path): (Int, Int, Long) =
    if (!Files.exists(dir)) (0, 0, 0L) else {
      val all = Files.walk(dir).iterator().asScala.toSeq
      val families = all.count(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("graft_stage_"))
      val files = all.filter(Files.isRegularFile(_))
      (families, files.size, files.map(Files.size(_)).sum)
    }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  /** Each round runs every key once in a new session whose staging
    * directory starts empty, so every round pays the staged-family builds.
    */
  private def corpusCold(): Unit = {
    val keys = keysOf("keys")
    val rounds = plan.get("rounds").asInt
    val staging = out.putArray("staging")
    for (r <- 0 until rounds) {
      val s = spark.newSession()
      val dir = work.resolve(s"staging-$r")
      s.conf.set("spark.graft.stagingDir", dir.toString)
      keys.foreach(k => queryOp(s, k, r, if (r == 0) dumpPath(k) else None))
      val (families, files, bytes) = stagingStats(dir)
      staging.addObject().put("families", families).put("files", files).put("bytes", bytes)
      graft.ops.Similarity.evictStagedSession(s)
      deleteTree(dir)
    }
  }

  // --------------------------------------------------- deloton ingest and serve

  private lazy val steps = out.putObject("steps")

  /** A timed ingest step. */
  private def step[T](name: String, parent: String)(f: => T): T = {
    val t0 = now()
    val r = span(name, parent)(f)
    val t1 = now()
    measured(t0, t1)
    steps.put(name, secs(t1 - t0))
    r
  }

  private def delotonIngestServe(): Unit = {
    val logs = plan.get("logs")
    val tables = work.resolve("tables")
    deleteTree(tables)
    val usersPath = tables.resolve("users").toString
    val ridesPath = tables.resolve("rides").toString
    val scans = out.putArray("logsource_scans")

    // LogSource on its own, for the line-count check and its layer figures:
    // every column of every line, so the source cannot prune its work away.
    // The product path never makes this scan, so it stays out of the
    // measured time and counters.
    def scan(batch: String, dir: String): Unit = captured {
      val t0 = now()
      val r = span(s"u:logsource.scan|$batch", batch) {
        DelotonPipeline.readLogs(spark, dir)
          .agg(count(lit(1)), sum(length(col("value"))), sum(col("offset")),
            sum(length(col("stream")))).collect().head
      }
      scans.addObject().put("batch", batch).put("rows", r.getLong(0)).put("seconds", secs(now() - t0))
    }

    val b1 = logs.get("batch1").asText
    val b2 = logs.get("batch2").asText
    step("pipeline.users|b1", "b1")(
      DelotonPipeline.users(DelotonPipeline.readLogs(spark, b1)).write.parquet(usersPath))
    step("pipeline.rides|b1", "b1")(
      DelotonPipeline.rides(DelotonPipeline.readLogs(spark, b1)).write.parquet(ridesPath))
    scan("b1", b1)
    captured(warmEndpoints(usersPath, ridesPath))
    serve("serve1", usersPath, ridesPath)
    step("pipeline.upsert|b2", "b2") {
      val existing = spark.read.parquet(usersPath)
      DelotonPipeline.upsertNew(DelotonPipeline.users(DelotonPipeline.readLogs(spark, b2)),
        existing, "user_id").write.mode("append").parquet(usersPath)
    }
    step("pipeline.rides|b2", "b2")(
      DelotonPipeline.rides(DelotonPipeline.readLogs(spark, b2)).write.mode("append").parquet(ridesPath))
    scan("b2", b2)
    serve("serve2", usersPath, ridesPath)
    // the written tables, for the conservation checks
    captured {
      val d = work.resolve("rows")
      Files.createDirectories(d)
      Seq("users" -> usersPath, "rides" -> ridesPath).foreach { case (n, p) =>
        span(s"u:capture|$n") {
          val df = spark.read.parquet(p)
          val rows = df.collect()
          val header = nf.objectNode()
          val cols = header.putArray("columns")
          df.schema.fields.foreach(f => cols.add(f.name))
          Files.write(d.resolve(s"$n.jsonl"), (mapper.writeValueAsString(header) +: rowLines(rows).toSeq).asJava)
        }
      }
    }
  }

  /** One untimed request of each shape in the mix, so that the timed
    * requests do not include the first compilation of each endpoint's plan.
    */
  private def warmEndpoints(usersPath: String, ridesPath: String): Unit = {
    val users = spark.read.parquet(usersPath)
    val rides = spark.read.parquet(ridesPath)
    val shapes = plan.get("requests").elements().asScala.toSeq
      .groupBy(r => r.fieldNames().asScala.toSeq.sorted.mkString(",") + r.get("fn").asText)
      .values.map(_.head)
    shapes.foreach(req => span(s"u:warm|${req.get("fn").asText}")(
      Endpoints.toJsonRecords(endpoint(req.get("fn").asText, req, users, rides))))
  }

  /** A single-client closed loop over the plan's request mix. */
  private def serve(phase: String, usersPath: String, ridesPath: String): Unit = {
    val users = spark.read.parquet(usersPath)
    val rides = spark.read.parquet(ridesPath)
    val responses = new java.util.ArrayList[String]()
    plan.get("requests").elements().asScala.zipWithIndex.foreach { case (req, i) =>
      val fn = req.get("fn").asText
      val op = s"$phase#$i"
      val rec = nf.objectNode()
      rec.put("kind", "request").put("fn", fn).put("phase", phase).put("index", i)
      val t0 = now()
      rec.put("start_ms", epochMs(t0))
      var t1 = t0
      var body: Seq[String] = null
      try {
        val df = span(s"endpoint.$fn|$op", phase)(endpoint(fn, req, users, rides))
        t1 = now()
        body = span(s"endpoint.json|$op", phase)(Endpoints.toJsonRecords(df))
      } catch {
        case e: Throwable =>
          rec.put("error", s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      val t2 = now()
      measured(t0, t2)
      rec.put("construct_s", secs(t1 - t0)).put("json_s", secs(t2 - t1)).put("total_s", secs(t2 - t0))
        .put("end_ms", epochMs(t2))
      ops.add(rec)
      captured {
        val a = nf.arrayNode()
        if (body != null) body.foreach(a.add)
        responses.add(mapper.writeValueAsString(a))
      }
    }
    captured(Files.write(work.resolve(s"$phase.jsonl"), responses))
  }

  private def endpoint(fn: String, req: JsonNode, users: DataFrame, rides: DataFrame): DataFrame = {
    def opt(f: String): Option[Int] = Option(req.get(f)).filterNot(_.isNull).map(_.asInt)
    fn match {
      case "ride_by_id" => Endpoints.rideById(rides, req.get("id").asLong)
      case "riders" => Endpoints.allRiders(users)
      case "rider_by_id" => Endpoints.riderById(users, req.get("id").asLong)
      case "riders_by_gender" => Endpoints.ridersByGender(users, req.get("gender").asText)
      case "riders_by_age" => Endpoints.ridersByAge(users, opt("age"), opt("lower"), opt("upper"))
      case "rides_by_gender" => Endpoints.ridesByGender(users, rides, req.get("gender").asText)
      case "rides_for_rider" => Endpoints.ridesForRider(rides, req.get("id").asLong)
      case "daily" =>
        Endpoints.dailyRides(rides, opt("year").map(y => (y, opt("month"), opt("day"))))
    }
  }
}
