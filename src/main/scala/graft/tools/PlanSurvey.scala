package graft.tools

import org.apache.spark.sql.SparkSession

/** Plan audit of the declared queries against a corpus dir. Every key
  * executes its own QueryExecution (toRdd, so AQE finalizes) before
  * its plan is read: only the final plan reports the join regime that
  * actually ran, so plan-shape pins must come from exactly this string.
  *
  * Usage:
  *   runMain graft.tools.PlanSurvey <dir> [keyPrefix]
  *     one CSV line per key: counts of the plan features the
  *     optimization guide says to look at (§2.4 exchanges, §3.1 join
  *     strategy, window/sort nodes), read from the final plan section.
  *   runMain graft.tools.PlanSurvey <dir> --plans <key1> [<key2> ...]
  *     prints each key's AQE-final executedPlan, the string the
  *     canary's plan-shape pins are chosen from. With
  *     SPARK_GRAFT_PLAN_OUT=<outdir> (and SPARK_GRAFT_PLAN_SUFFIX=
  *     <suffix>, default `before`) it also writes the same
  *     QueryExecution's `.explain("formatted")` string to
  *     `<outdir>/<key>_<suffix>.txt` (the committed plan evidence, e.g.
  *     plans/r14/<key>_{before,after}.txt).
  *
  * `local[N]` and the shuffle partitions follow SPARK_GRAFT_CPUS, else
  * the JVM's available processors.
  */
object PlanSurvey {
  def main(args: Array[String]): Unit = {
    val plans = args.lift(1).contains("--plans")
    require(args.nonEmpty && (!plans || args.length >= 3),
      "usage: PlanSurvey <dir> [keyPrefix] | PlanSurvey <dir> --plans <key1> [<key2> ...]")
    val dir = args.head
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.maxMetadataStringLength", "500") // full scan paths
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (plans) dumpPlans(spark, dir, args.drop(2).toSeq)
    else survey(spark, dir, args.lift(1).getOrElse(""))
    spark.stop()
  }

  private def dumpPlans(spark: SparkSession, dir: String, keys: Seq[String]): Unit = {
    val out = sys.env.get("SPARK_GRAFT_PLAN_OUT")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    keys.foreach { key =>
      val df = graft.SparkEntry.queries(key)(spark, dir)
      // drive THIS QueryExecution (df.count() plans a separate
      // aggregate and leaves this plan's AQE un-finalized)
      df.queryExecution.toRdd.count()
      println(s"===== $key =====")
      println(df.queryExecution.executedPlan.toString)
      out.foreach { o =>
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        val p = java.nio.file.Paths.get(o)
        java.nio.file.Files.createDirectories(p)
        java.nio.file.Files.writeString(p.resolve(s"${key}_$suffix.txt"), formatted)
      }
    }
  }

  private def survey(spark: SparkSession, dir: String, prefix: String): Unit = {
    def finalOnly(plan: String): String = {
      val i = plan.indexOf("== Initial Plan ==")
      if (i < 0) plan else plan.substring(0, i)
    }
    def n(plan: String, pat: String): Int = plan.sliding(pat.length).count(_ == pat)
    println("key,sec,exchange,bhj,smj,shj,bnlj,cartesian,window,sort,scans")
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(_._1.startsWith(prefix))
      .foreach { case (key, fn) =>
        try {
          val df = fn(spark, dir)
          val t0 = System.nanoTime()
          df.queryExecution.toRdd.count()
          val sec = (System.nanoTime() - t0) / 1e9
          val p = finalOnly(df.queryExecution.executedPlan.toString)
          println(f"$key,$sec%.2f,${n(p, "Exchange")},${n(p, "BroadcastHashJoin")}," +
            s"${n(p, "SortMergeJoin")},${n(p, "ShuffledHashJoin")}," +
            s"${n(p, "BroadcastNestedLoopJoin")},${n(p, "CartesianProduct")}," +
            s"${n(p, "Window")},${n(p, "Sort ")},${n(p, "Scan parquet")}")
        } catch {
          case e: Throwable => println(s"$key,FAILED: ${e.getMessage}")
        }
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        spark.catalog.clearCache()
      }
  }
}
