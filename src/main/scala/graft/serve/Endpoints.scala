package graft.serve

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelationWithTable}
import org.apache.spark.sql.functions._

/** The reference's Flask query surface (reference api.py:57-188) as pure
  * DataFrame functions — the HTTP layer is out of scope, but every
  * endpoint's query semantics is here, with the reference's client-side
  * pandas masks (api.py:65,79,86,115,119,143) folded into the engine so
  * filters reach the scan instead of materializing `SELECT *`.
  *
  * INTENDED semantics per SURVEY.md §4.3: gender filters match the given
  * value exactly (api.py:102-105 served the female set for any
  * non-"male" input); /daily compares date *parts as integers* (the
  * reference's string-vs-int compare at api.py:162 is always false).
  *
  * **Served tables.** Each read endpoint passes its table inputs through
  * [[served]]. A small table is collected once and held as a
  * `LocalRelation`; Catalyst's `ConvertToLocalRelation` then evaluates a
  * request's filter, projection and `to_json` during optimization, so a
  * filter request runs no Spark job (a join or an aggregate over held
  * rows still runs one). Small means all three of:
  *   - its optimized plan is one path-based file scan: a
  *     `LogicalRelation` over a `HadoopFsRelation` on an
  *     `InMemoryFileIndex`, with no catalog table;
  *   - its `stats.sizeInBytes`, the files' size, is at most
  *     [[ServedMaxFileBytes]];
  *   - it has at most [[ServedMaxRows]] rows.
  * Anything else (a larger table, a V2 or streaming source such as
  * `graftlog`, a catalog table, a DataFrame built in memory) is used as
  * given, and the request's filter reaches the parquet scan. The gate is
  * this object's own and does not follow any Spark setting.
  *
  * The held rows are a snapshot taken at the handle's first request,
  * keyed weakly by the caller's DataFrame instance and compared by
  * identity. A path-based `InMemoryFileIndex` fixes its file listing
  * when the DataFrame is created, so until the files under that listing
  * change, the snapshot holds the rows the handle's scan would return. A
  * re-read after a write is a new handle and a new entry, so it sees the
  * new files. An old handle asked again after the files were
  * overwritten or compacted answers from its snapshot, where its scan
  * would fail on the missing files. A dropped handle frees its rows. (A
  * catalog table's index is shared with the catalog's relation cache
  * and an insert refreshes it in place, so it is not served.)
  */
object Endpoints {

  /** The served gate, sized by timing requests against the parquet scan
    * on a 4-core host, over a rides-shaped table of poorly compressible
    * doubles (CHANGES.md has the figures). A request over held rows is
    * interpreted on one driver thread, so its cost grows with the row
    * count, while the scan's stays near one job's overhead. At 18,000
    * rows (1 MiB of parquet) a held request took 24–51 ms against
    * 60–105 ms for the scan; at 54,000 rows (2.9 MiB) the two were
    * nearly level, and at 160,000 rows (8.3 MiB) the held table was
    * slower. The held rides-shaped rows took about 6.5 times their file
    * bytes on the heap, 6.5 MB at 18,000 rows; rows of long repeated
    * strings, which parquet's dictionary shrinks most, would take more.
    */
  private val ServedMaxFileBytes = 1L << 20
  private val ServedMaxRows = 20000

  /** Per handle: `Some(held rows)`, or `None` for a table over the row
    * cap, so its first request pays the capped collect only once.
    */
  private val held =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[DataFrame, Option[DataFrame]])

  /** `df`, or its rows held in local memory when it is a small file scan
    * with a fixed listing (see the object doc). `Dataset` keeps
    * `Object`'s identity equality, and the held copy does not refer to
    * `df`, so the weak key frees with the caller's handle.
    */
  private def served(df: DataFrame): DataFrame =
    if (df.isStreaming) df // a streaming plan cannot be optimized as a batch one
    else Option(held.get(df)).getOrElse {
      val qe = df.queryExecution
      val smallFileScan = qe.optimizedPlan match {
        case LogicalRelationWithTable(fs: HadoopFsRelation, None) =>
          fs.location.isInstanceOf[InMemoryFileIndex] &&
            qe.optimizedPlan.stats.sizeInBytes <= ServedMaxFileBytes
        case _ => false
      }
      if (!smallFileScan) None
      else {
        val rows = df.limit(ServedMaxRows + 1).collectAsList()
        val local =
          if (rows.size > ServedMaxRows) None
          else Some(qe.sparkSession.createDataFrame(rows, df.schema))
        Option(held.putIfAbsent(df, local)).getOrElse(local)
      }
    }.getOrElse(df)

  /** GET /ride/<id> (api.py:62-67). */
  def rideById(rides: DataFrame, rideId: Long): DataFrame =
    served(rides).filter(col("ride_id") === rideId)

  /** GET /riders (api.py:70-74). */
  def allRiders(users: DataFrame): DataFrame = served(users)

  /** GET /rider/<id> (api.py:77-81). */
  def riderById(users: DataFrame, userId: Long): DataFrame =
    served(users).filter(col("user_id") === userId)

  /** GET /riders/<gender> (api.py:84-88) — exact match, both genders. */
  def ridersByGender(users: DataFrame, gender: String): DataFrame =
    served(users).filter(col("gender") === gender)

  /** GET /riders2?age=&lower_age=&upper_age= (api.py:110-121). */
  def ridersByAge(users: DataFrame, age: Option[Int],
                  lower: Option[Int], upper: Option[Int]): DataFrame =
    (age, lower, upper) match {
      case (Some(a), _, _) => served(users).filter(col("age") === a)
      case (_, Some(lo), Some(hi)) => served(users).filter(col("age").between(lo, hi))
      case _ => served(users)
    }

  /** GET /rides/<gender> (api.py:97-107): users⋈rides + gender filter. */
  def ridesByGender(users: DataFrame, rides: DataFrame, gender: String): DataFrame =
    served(users).filter(col("gender") === gender)
      .select("user_id", "gender", "age")
      .join(served(rides), "user_id")

  /** GET /rider/<id>/rides (api.py:140-145). */
  def ridesForRider(rides: DataFrame, userId: Long): DataFrame =
    served(rides).filter(col("user_id") === userId)

  /** GET /daily?date=yyyy[-mm[-dd]] (api.py:148-182, intended
    * semantics): prefix filter on the ride start date; no date → the
    * most recent day in the data (anchored, not wall-clock "today").
    */
  def dailyRides(rides: DataFrame, date: Option[(Int, Option[Int], Option[Int])]): DataFrame = {
    val table = served(rides)
    date match {
      case Some((y, m, d)) =>
        table.filter(
          year(col("start_time")) === y &&
            m.map(month(col("start_time")) === _).getOrElse(lit(true)) &&
            d.map(dayofmonth(col("start_time")) === _).getOrElse(lit(true)))
      case None =>
        val latest = table.agg(max(to_date(col("start_time"))).as("latest_day"))
        table.crossJoin(broadcast(latest))
          .filter(to_date(col("start_time")) === col("latest_day"))
          .drop("latest_day")
    }
  }

  /** DELETE /ride/del/<id> (api.py:185-188): immutable delete — returns
    * the table without the key (J5 anti-join; write-back is the caller's
    * choice of sink). Typed parameter, no SQL string splicing.
    */
  def deleteRide(rides: DataFrame, rideId: Long): DataFrame =
    rides.filter(col("ride_id") =!= rideId)

  /** The reference serializes every response via
    * `to_json(orient="records")` (api.py:66,73,94). The records are
    * built inside the query's own plan — the same JSON writer
    * `Dataset.toJSON` uses, byte for byte — so a request plans once and
    * skips `toJSON`'s second plan and RDD round trip.
    */
  def toJsonRecords(df: DataFrame): Seq[String] =
    df.select(to_json(struct(col("*")))).collect().toSeq.map(_.getString(0))
}
