package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Extract a flat `"field":{"k":1.2,...}` numeric object from a JSON
    * string — the shape this tool itself emits for `queries`. Query
    * names contain no quotes/commas/colons (they are the code's own
    * map keys), so a brace scan + split is exact for our artifacts; a
    * malformed or foreign file yields an empty map and disables the
    * compare rather than failing the bench.
    */
  private[graft] def flatNumberMap(json: String, field: String): Map[String, Double] = {
    val marker = "\"" + field + "\":{"
    val i = json.indexOf(marker)
    if (i < 0) Map.empty
    else {
      val start = i + marker.length
      val end = json.indexOf('}', start)
      if (end < 0) Map.empty
      else json.substring(start, end).split(",").toSeq
        .flatMap { kv =>
          val c = kv.lastIndexOf(':')
          if (c <= 0) None
          else {
            val k = kv.substring(0, c).trim.stripPrefix("\"").stripSuffix("\"")
            scala.util.Try(kv.substring(c + 1).trim.toDouble).toOption.map(k -> _)
          }
        }.toMap
    }
  }

  /** The compact line's `queries` entries: `"name":seconds`, slowest
    * first, stopping at the first entry that does not fit `budget` chars
    * (each entry counted with its separating comma) — so the published
    * entries are always exactly the N slowest queries, never a slowest
    * prefix with later, shorter-named keys filling the gaps.
    */
  private[graft] def slowestFirstPrefix(times: Seq[(String, Double)], budget: Int): Seq[String] = {
    val entries = times.sortBy { case (k, v) => (-v, k) }.map { case (k, v) => JsonStr(k) + f":$v%.3f" }
    val used = entries.scanLeft(0)(_ + _.length + 1).tail
    entries.zip(used).takeWhile(_._2 <= budget).map(_._1)
  }

  /** The checkout's commit, or "unknown" outside a git work tree. */
  private def gitSha(): String =
    scala.util.Try(scala.sys.process.Process(Seq("git", "rev-parse", "HEAD")).!!.trim)
      .filter(_.matches("[0-9a-f]{40}")).getOrElse("unknown")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: JIT + codegen + filesystem cache, so the first
    // timed query measures the engine, not JVM cold start.
    try {
      spark.range(2000000).selectExpr("sum(id * 2)").collect()
      spark.read.parquet(s"$sfDir/region.parquet").count()
    } catch { case _: Throwable => () }
    // Optional subset for local profiling: bench only the named queries.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    // Min of N reps per query (default 3): a query inside the 90-query
    // sequence can measure up to 8× its isolated wall time from GC/JIT
    // carryover (observed: 40.6 s in one full run vs 4.0 s isolated, and
    // a 13.4 s full-run q55 vs 1.2 s isolated); the min across reps
    // recovers the signal a single sample loses. Min-of-2 still let a
    // polluted pair through (both q55 reps >13 s in one run) — 3 reps
    // bounds that tail at ~40% extra wall clock.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // Compare-to-prior (VERDICT r13 Next #2): the previous committed
    // full-suite artifact, read UP FRONT (this run overwrites the file
    // at the end). Its per-query map selects the movers re-timed in
    // isolation after the run, so the artifact itself distinguishes
    // host drift from real regressions — see `movers_isolated` below.
    val priorPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PRIOR", "BENCH_FULL_latest.json")
    val prior: Map[String, Double] = {
      val f = java.nio.file.Paths.get(priorPath)
      if (!java.nio.file.Files.isReadable(f)) Map.empty
      else flatNumberMap(java.nio.file.Files.readString(f), "queries")
    }
    // Per-query rep spread (max/min over successful reps), published in
    // the JSON: min-of-N rejects pollution WITHIN a query's reps, but
    // when the whole run lands in a loaded window every rep is slow and
    // the min can't recover (observed: a 40% whole-run swing between a
    // post-build snapshot and an idle re-run of identical code). The
    // spread makes that failure mode visible in the artifact itself —
    // median spread > ~1.3 means the host was loaded and the snapshot
    // should be retaken, a judgment the consumer can now make without
    // re-running anything.
    val spreads = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val ordered = selected.toSeq.sortBy(_._1)
    // One timed rep of `fn` with the untimed inter-query cleanup: dead
    // broadcasts and shuffle state from query N are only reclaimed by
    // ContextCleaner after a GC, so without this, query N+1 pays query
    // N's garbage (observed 5-10× inflation late in the run vs the same
    // query in isolation). localCheckpoint RDDs (q62's label-propagation
    // rounds) and any cached relations are unpersisted EXPLICITLY —
    // ContextCleaner only reclaims them after their references are
    // GC'd, which can lag several queries behind.
    // `recordFailure = false` for post-pass/mover extra reps: a query
    // whose base reps all succeeded has a valid published measurement —
    // an extra-rep crash is reported on stderr but must not list the
    // key in `failed` (round-13 ADVICE).
    def timedRep(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        recordFailure: Boolean = true): Double = {
      val t0 = System.nanoTime()
      // A failed rep reports +Inf, not its elapsed-until-failure — a
      // partial duration is not a measurement of the query, and letting
      // it into the min would publish a bogus short time for a query
      // that crashed on one rep and succeeded on another.
      // The noop sink executes the whole plan without collecting it; a
      // count() would let Catalyst prune the query's projections, regex
      // passes and sort away.
      val ok = try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true } catch {
        case e: Throwable =>
          if (recordFailure && !failed.contains(name)) failed += name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
      }
      val sec = if (ok) (System.nanoTime() - t0) / 1e9 else Double.PositiveInfinity
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
      System.gc()
      sec
    }
    val base = ordered.flatMap { case (name, fn) =>
      val times = (1 to reps).map(_ => timedRep(name, fn))
      val sec = times.min
      // spread over reps AFTER the first successful one: rep 1
      // legitimately carries the query's one-time codegen/JIT (and, for
      // queries consuming a cross-query staging table, the one-time
      // staging build), so including it would flag warm-up as host
      // noise — at sub-second query times rep1/rep3 exceeds 1.7 on an
      // idle machine. Reps 2..N re-run identical warm work; their
      // max/min only widens when the HOST is contended.
      val good = times.filter(!_.isInfinity).drop(1)
      if (good.size >= 2 && good.min > 0) spreads(name) = good.max / good.min
      System.err.println(f"[bench] $name%-24s $sec%8.2f s  (reps: ${times.map(t => f"$t%.2f").mkString(", ")})")
      // a query with zero successful reps has no timing at all: it is
      // reported in `failed` but contributes nothing to queries/total
      if (sec.isInfinity) None else Some(name -> sec)
    }.toMap
    // Post-pass for the run's first EarlyKeys keys (VERDICT r12 Next
    // #6): the first few queries execute while the JVM is still
    // compiling Spark's own hot paths, and min-of-N over CONSECUTIVE
    // early reps cannot shed that — observed as a spurious +0.3-0.5 s
    // on the run's early keys in round-over-round full-map diffs, each
    // re-measuring at its prior value in isolation. One extra rep at
    // the END of the run, when the JVM is as warm as it will get,
    // folded into each early key's min — so first-run keys are
    // measured under the same JIT state as everything else. (~3 s of
    // extra wall clock.)
    val EarlyKeys = 12
    val postImproved = scala.collection.mutable.Set.empty[String]
    val results = base ++ ordered.take(EarlyKeys).flatMap { case (name, fn) =>
      if (!base.contains(name)) None else {
        val sec = timedRep(name, fn, recordFailure = false)
        if (sec.isInfinity) None else {
          if (sec < base(name)) postImproved += name
          Some(name -> math.min(base(name), sec))
        }
      }
    }
    // a key whose published min came from the post-pass rep no longer
    // matches its consecutive-rep spread — drop the stale entry rather
    // than publish a spread that disagrees with the published time
    // (round-13 ADVICE)
    postImproved.foreach(spreads.remove)
    // Movers re-timed in ISOLATION (VERDICT r13 Next #2): the top
    // absolute round-over-round movers against the prior committed
    // artifact get one extra end-of-run rep each, published as
    // `movers_isolated`. A whole-run host-load swing moves ~everything
    // together and the isolated re-time lands back near the prior
    // value; a real regression re-measures at its new value — the
    // artifact now carries the discrimination a round-over-round diff
    // needs, without anyone re-running the suite.
    val movers: Seq[(String, Double)] =
      if (prior.isEmpty || only.nonEmpty) Seq.empty
      else results.toSeq
        .flatMap { case (k, v) => prior.get(k).map(p => (k, v - p)) }
        .filter { case (_, d) => math.abs(d) >= 0.3 }
        .sortBy { case (_, d) => -math.abs(d) }
        .take(8)
    val moversIsolated = movers.flatMap { case (name, _) =>
      val sec = timedRep(name, SparkEntry.queries(name), recordFailure = false)
      if (sec.isInfinity) None else Some(name -> sec)
    }
    // Every interpolated string (query names, failure list, sfDir)
    // goes through the shared encoder: a path or exception-derived
    // name containing a quote/backslash/control char must not make the
    // one line the driver tail-scans unparseable.
    def jstr(s: String): String = JsonStr(s)
    val qs = results.map { case (k, v) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    val fails = failed.map(jstr).mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val spreadJson = spreads.map { case (k, v) => jstr(k) + ":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val medianSpread = if (spreads.isEmpty) 1.0 else {
      val s = spreads.values.toSeq.sorted
      s(s.size / 2)
    }
    // loaded-host verdict: with an idle host, rep 2-3 of the same query
    // re-read hot caches and the spread stays near 1; a contended host
    // shows fat spreads ACROSS the board. The flag travels with the
    // numbers so a slow snapshot is self-describing.
    val hostLoaded = medianSpread > 1.3
    // `queries` holds only successful-rep minimums; a query whose every
    // rep failed is absent from `queries`/`total` and listed in `failed`.
    // A partially-failed query contributes its best SUCCESSFUL time and
    // is also listed in `failed`.
    // movers_isolated: key → {prior, run, isolated} — prior committed
    // value, this run's published min, and the end-of-run isolated
    // re-time. isolated ≈ prior ⇒ the run-time delta was host/JIT
    // drift; isolated ≈ run ⇒ the movement is real.
    val moverJson = moversIsolated.map { case (k, iso) =>
      jstr(k) + f""":{"prior":${prior(k)}%.3f,"run":${results(k)}%.3f,"isolated":$iso%.3f}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$fails,""" +
      f""""rep_spread":$spreadJson,"median_spread":$medianSpread%.3f,"host_loaded":$hostLoaded,""" +
      s""""movers_isolated":$moverJson,"sf":${jstr(sfDir)},""" +
      s""""cpus":${spark.sparkContext.defaultParallelism},"git_sha":${jstr(gitSha())}}"""
    // stdout for humans; the file for the driver — sbt prefixes stdout
    // lines with [info], which broke machine parsing of round 1's metric.
    println(json)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get("target/bench.json"), json + "\n")
    // The driver snapshots only the LAST ~2000 chars of stdout into
    // BENCH_rNN.json's `tail`; a 200-query metric line is ~13 KB, so
    // rounds 6-9 all recorded `parsed: null` and per-query history
    // survived only via a hand-committed side file. Two fixes at the
    // source: (a) the COMPLETE metric JSON self-persists to a committed
    // path (BENCH_FULL_latest.json — commit it each round) — FULL-SUITE
    // runs only, so a SPARK_GRAFT_BENCH_ONLY profiling subset can never
    // clobber the committed history artifact; and (b) a compact summary
    // line — bounded to fit the 2000-char window — prints LAST, so the
    // driver's JSON-line scan always parses something: totals, a CAPPED
    // failure list (a mass failure is exactly when the tail must still
    // parse), host-health verdict, and the slowest 10 queries (the ones
    // any regression triage reads first).
    if (only.isEmpty)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_FULL_latest.json"), json + "\n")
    val failsCapped = (failed.take(10).map(jstr) ++
      (if (failed.size > 10) Seq("\"...\"") else Nil)).mkString("[", ",", "]")
    // The compact line's `queries` now carries as many slowest-first
    // entries as fit the driver's ~2000-char tail window (round-14
    // PERF's round-over-round per-query compare reads exactly this
    // parsed map, so every extra entry widens next round's n_common) —
    // additions only: the former slowest-10 are still the first 10
    // entries, and the full map still self-persists above.
    val fixedHead = s"""{"metric":"total","value":$total,"unit":"sec","queries":{"""
    val fixedTail =
      s"""},"n_queries":${results.size},"n_failed":${failed.size},"failed":$failsCapped,""" +
      f""""median_spread":$medianSpread%.3f,"host_loaded":$hostLoaded,""" +
      s""""sf":${jstr(sfDir)},"note":"queries=slowest-first, as many as fit the tail window; full per-query map in BENCH_FULL_latest.json"}"""
    val lineBudget = 1900 - fixedHead.length - fixedTail.length
    println(fixedHead + slowestFirstPrefix(results.toSeq, lineBudget).mkString(",") + fixedTail)
    spark.stop()
  }
}
