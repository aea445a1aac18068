package graft.serve

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  */
object Endpoints {

  /** GET /ride/<id> (api.py:62-67). */
  def rideById(rides: DataFrame, rideId: Long): DataFrame =
    rides.filter(col("ride_id") === rideId)

  /** GET /riders (api.py:70-74). */
  def allRiders(users: DataFrame): DataFrame = users

  /** GET /rider/<id> (api.py:77-81). */
  def riderById(users: DataFrame, userId: Long): DataFrame =
    users.filter(col("user_id") === userId)

  /** GET /riders/<gender> (api.py:84-88) — exact match, both genders. */
  def ridersByGender(users: DataFrame, gender: String): DataFrame =
    users.filter(col("gender") === gender)

  /** GET /riders2?age=&lower_age=&upper_age= (api.py:110-121). */
  def ridersByAge(users: DataFrame, age: Option[Int],
                  lower: Option[Int], upper: Option[Int]): DataFrame =
    (age, lower, upper) match {
      case (Some(a), _, _) => users.filter(col("age") === a)
      case (_, Some(lo), Some(hi)) => users.filter(col("age").between(lo, hi))
      case _ => users
    }

  /** GET /rides/<gender> (api.py:97-107): users⋈rides + gender filter. */
  def ridesByGender(users: DataFrame, rides: DataFrame, gender: String): DataFrame =
    users.filter(col("gender") === gender)
      .select("user_id", "gender", "age")
      .join(rides, "user_id")

  /** GET /rider/<id>/rides (api.py:140-145). */
  def ridesForRider(rides: DataFrame, userId: Long): DataFrame =
    rides.filter(col("user_id") === userId)

  /** GET /daily?date=yyyy[-mm[-dd]] (api.py:148-182, intended
    * semantics): prefix filter on the ride start date; no date → the
    * most recent day in the data (anchored, not wall-clock "today").
    */
  def dailyRides(rides: DataFrame, date: Option[(Int, Option[Int], Option[Int])]): DataFrame =
    date match {
      case Some((y, m, d)) =>
        rides.filter(
          year(col("start_time")) === y &&
            m.map(month(col("start_time")) === _).getOrElse(lit(true)) &&
            d.map(dayofmonth(col("start_time")) === _).getOrElse(lit(true)))
      case None =>
        val latest = rides.agg(max(to_date(col("start_time"))).as("latest_day"))
        rides.crossJoin(broadcast(latest))
          .filter(to_date(col("start_time")) === col("latest_day"))
          .drop("latest_day")
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
