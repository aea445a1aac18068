package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession + tiny-fixture helpers for operator specs.
  *
  * Fixtures are written as parquet into a temp dir shaped like the driver
  * testdata (`<dir>/<table>.parquet`), then queried through the real
  * `SparkEntry.queries` functions — so specs cover the loaders (explicit
  * schemas, raw-ns events timestamps) as well as the operator logic.
  */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.debug.maxToStringFields", "200") // plan-shape asserts need untruncated strings
    .config("spark.sql.maxMetadataStringLength", "2000") // PushedFilters lists truncate at 100 chars otherwise
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()

  override def afterAll(): Unit = () // one JVM for all suites; let it die with the fork

  def tmpDir(): String = Files.createTempDirectory("graft-spec").toString

  def df(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  /** Write a fixture table as `<dir>/<name>.parquet`. */
  def write(dir: String, name: String, data: DataFrame): Unit =
    data.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  /** events fixture with ts given in raw nanoseconds (like the driver's
    * TIMESTAMP(NANOS) files read under nanosAsLong).
    */
  def writeEvents(dir: String, rows: (Long, Long, Long, String, Double, String)*): Unit = {
    val schema = Tables.eventsRawSchema
    write(dir, "events", df(schema, rows.map(r => Row(r._1, r._2, r._3, r._4, r._5, r._6)): _*))
  }

  def writeDocuments(dir: String, rows: (Long, String, String, String, Long)*): Unit =
    write(dir, "documents", df(Tables.documentsSchema,
      rows.map(r => Row(r._1, r._2, r._3, r._4, r._5)): _*))

  def writeEmbeddings(dir: String, rows: (Long, Seq[Float], Int)*): Unit =
    write(dir, "embeddings", df(Tables.embeddingsSchema,
      rows.map(r => Row(r._1, r._2, r._3)): _*))

  /** `body`'s result and the number of jobs it started on this thread:
    * the jobs carry a thread-local tag, and a sentinel job run after
    * `body` flushes the asynchronous listener bus up to that point.
    */
  def jobsOf[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val prop = "graft.spec.jobTag"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(prop))) match {
          case Some(`tag`) => jobs.incrementAndGet(): Unit
          case Some(t) if t == s"$tag-sentinel" => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(prop, tag)
      val out = body
      sc.setLocalProperty(prop, s"$tag-sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, jobs.get())
    } finally {
      sc.setLocalProperty(prop, null)
      sc.removeSparkListener(listener)
    }
  }

  val Ns: Long = 1000000000L // one second in nanos
  val Hour: Long = 3600L * Ns

  /** Minimal full warehouse — every table of the driver layout present,
    * customer keys parameterized (AuditSpec checksums / StorageSpec
    * inventories vary them).
    */
  def writeWarehouse(dir: String, custKeys: Seq[Long] = Seq(1L, 2L, 3L)): Unit = {
    write(dir, "region", df(Tables.regionSchema, Row(0, "r0"), Row(1, "r1")))
    write(dir, "nation", df(Tables.nationSchema, Row(0, "n0", 0), Row(1, "n1", 1)))
    write(dir, "customer", df(Tables.customerSchema,
      custKeys.map(k => Row(k, s"c$k", 0, 1.0, "SEG")): _*))
    write(dir, "supplier", df(Tables.supplierSchema, Row(7L, "s7", 0, 2.0)))
    write(dir, "part", df(Tables.partSchema, Row(9L, "p9", "B", "T", 1, 3.0)))
    write(dir, "orders", df(Tables.ordersSchema,
      Row(100L, 1L, "O", 10.0, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "1-URGENT")))
    write(dir, "lineitem", df(Tables.lineitemSchema,
      Row(100L, 9L, 7L, 1, 1.0, 2.0, 0.0, 0.0, "N", "O",
        java.sql.Timestamp.valueOf("2024-01-02 00:00:00"))))
    writeEvents(dir, (1L, 1704067200L * Ns, 1L, "click", 1.0, "{}"))
    writeDocuments(dir, (1L, "hello world", "en", "web", 11L))
    writeEmbeddings(dir, (1L, Seq(1.0f, 0.0f), 0))
  }

  /** Every table of the driver layout present with its full schema and
    * ZERO rows — the first run of a new replica (AuditSpec/StorageSpec
    * degenerates).
    */
  def writeEmptyWarehouse(dir: String): Unit = {
    write(dir, "region", df(Tables.regionSchema))
    write(dir, "nation", df(Tables.nationSchema))
    write(dir, "customer", df(Tables.customerSchema))
    write(dir, "supplier", df(Tables.supplierSchema))
    write(dir, "part", df(Tables.partSchema))
    write(dir, "orders", df(Tables.ordersSchema))
    write(dir, "lineitem", df(Tables.lineitemSchema))
    writeEvents(dir)
    writeDocuments(dir)
    writeEmbeddings(dir)
  }
}
