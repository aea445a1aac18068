package graft

import graft.etl.DelotonPipeline
import graft.serve.Endpoints
import org.apache.spark.sql.Row

/** Fixture replay of the full reference ETL (SURVEY.md §5.2.4): a
  * reconstructed Kafka-log batch (FIXTURES.md §1) through
  * log→users+rides, asserting golden rows. 4 rides, 2 distinct users
  * (one id repeated to exercise first-wins dedup); rides 1 and 4 are
  * dropped by the boundary trim.
  */
class DelotonPipelineSpec extends SparkSpecBase {

  private def msg(ts: String, line: String): String =
    s"""{"log": "$ts $line"}"""

  private def userLine(id: Long, name: String): String =
    s"[INFO]: data = {'user_id': $id, 'name': '$name', 'gender': 'male', " +
      "'address': '11 Crane Street,London,AB1 2CD', 'date_of_birth': -336700800000, " +
      "'email_address': 'w@example.com', 'height_cm': 183, 'weight_kg': 82, " +
      "'account_create_date': 1641052800000, 'bike_serial': 'SN0000', 'original_source': 'offline'}"

  private def ride(n: Int, ts0: String, uid: Long, name: String): Seq[String] = Seq(
    msg(s"2024-01-0$n 12:00:00.000", "[INFO]: --------- beginning of a new ride"),
    msg(s"2024-01-0$n 12:00:01.000", "[INFO]: Getting user data from server"),
    msg(s"2024-01-0$n 12:00:01.500", userLine(uid, name)),
    msg(s"2024-01-0$n 12:00:02.000", s"[INFO]: Ride - duration = $n.0; resistance = 30"),
    msg(s"2024-01-0$n 12:00:02.500", "[INFO]: Telemetry - hrt = 84; rpm = 27; power = 5.25"),
    msg(s"2024-01-0$n 12:00:03.000", s"[INFO]: Ride - duration = $n.5; resistance = 50"),
    msg(s"2024-01-0$n 12:00:03.500", "[INFO]: Telemetry - hrt = 86; rpm = 29; power = 7.75"),
    msg(s"2024-01-0$n 12:00:04.000", "[INFO]: Telemetry - hrt = 88; rpm = 31; power = 9.5"))

  private lazy val raw = {
    val lines =
      ride(1, "", 815L, "Mr Wayne Fitzgerald") ++
        ride(2, "", 816L, "Dr Jane Doe") ++
        ride(3, "", 815L, "Mr Wayne Fitzgerald") ++ // repeat user: first wins
        ride(4, "", 817L, "Alex Smith") // no honorific
    df(DelotonPipeline.rawSchema,
      lines.zipWithIndex.map { case (v, i) => Row("bike-1", i.toLong, v) }: _*)
  }

  test("users: parsed, honorific-stripped, first-wins, epoch-ms converted") {
    val u = DelotonPipeline.users(raw).orderBy("user_id").collect()
    assert(u.length == 3)
    val wayne = u(0)
    assert(wayne.getLong(0) == 815L)
    assert(wayne.getString(1) == "Wayne Fitzgerald") // 'Mr ' stripped
    assert(wayne.getString(2) == "male")
    // dob 1959-05-02 (epoch -336700800000), anchor year 2024 -> age 65
    assert(wayne.getInt(3) == 65)
    assert(wayne.getInt(4) == 183 && wayne.getInt(5) == 82)
    assert(wayne.getTimestamp(6).toString.startsWith("2022-01-01"))
    assert(wayne.getString(8) == "AB1 2CD")
    assert(u(2).getString(1) == "Alex Smith") // honorific-less name intact
  }

  test("rides: intended per-ride aggregation + boundary trim") {
    val r = DelotonPipeline.rides(raw).orderBy("ride_id").collect()
    // rides 1 and 4 trimmed -> rides 2 and 3 remain
    assert(r.map(_.getLong(1)).toSeq == Seq(2L, 3L))
    val ride2 = r(0)
    assert(ride2.getTimestamp(2).toString.startsWith("2024-01-02 12:00:01")) // session min(ts)
    assert(ride2.getDouble(3) == 2.5) // last Ride sample's duration
    assert(ride2.getDouble(4) == 40.0) // avg resistance over the 2 Ride samples
    assert(ride2.getDouble(5) == 29.0) // avg rpm over the 3 telemetry samples
    assert(ride2.getDouble(6) == 7.5) // avg power
    assert(ride2.getDouble(7) == 86.0) // avg hrt
    assert(ride2.getLong(8) == 816L)
  }

  /** A ride of [[ride]]'s shape, starting at `t` ("yyyy-MM-dd HH:mm"):
    * durations d.0 then d.5, resistance avg 40, rpm 29, power 7.5, hrt 86.
    */
  private def plainRide(t: String, d: Int, uid: Long): Seq[String] = Seq(
    msg(s"$t:00.000", "[INFO]: --------- beginning of a new ride"),
    msg(s"$t:01.000", "[INFO]: Getting user data from server"),
    msg(s"$t:01.500", userLine(uid, "Sam Rider")),
    msg(s"$t:02.000", s"[INFO]: Ride - duration = $d.0; resistance = 30"),
    msg(s"$t:02.500", "[INFO]: Telemetry - hrt = 84; rpm = 27; power = 5.25"),
    msg(s"$t:03.000", s"[INFO]: Ride - duration = $d.5; resistance = 50"),
    msg(s"$t:03.500", "[INFO]: Telemetry - hrt = 86; rpm = 29; power = 7.75"),
    msg(s"$t:04.000", "[INFO]: Telemetry - hrt = 88; rpm = 31; power = 9.5"))

  /** Four log files, one per stream:
    *  - bike-a: two rides, both dropped by the boundary trim;
    *  - bike-b: a user-less line before the first marker (ride 0), then
    *    rides 1-4 with users and a user-less ride 5. Rides 0 and 5 are
    *    dropped before the trim and do not count as its bounds, so the
    *    trim drops 1 and 4. Ride 2 has no `Ride -` sample; ride 3's
    *    `Ride -` samples are logged out of timestamp order;
    *  - bike-c: an empty file;
    *  - bike-d: three plain rides, the middle one kept.
    */
  private lazy val multiStream: Seq[(String, Seq[String])] = Seq(
    "bike-a" -> (plainRide("2024-02-01 09:00", 1, 911L) ++ plainRide("2024-02-01 09:10", 2, 912L)),
    "bike-b" -> (Seq(msg("2024-02-01 09:59:59.000", "[INFO]: Telemetry - hrt = 70; rpm = 10; power = 1.0")) ++
      plainRide("2024-02-01 10:00", 1, 901L) ++
      Seq(
        msg("2024-02-01 10:10:00.000", "[INFO]: --------- beginning of a new ride"),
        msg("2024-02-01 10:10:01.000", "[INFO]: Getting user data from server"),
        msg("2024-02-01 10:10:01.500", userLine(902L, "Ms Ann Lee")),
        msg("2024-02-01 10:10:02.000", "[INFO]: Telemetry - hrt = 90; rpm = 40; power = 10.5"),
        msg("2024-02-01 10:10:03.000", "[INFO]: Telemetry - hrt = 92; rpm = 42; power = 11.5"),
        msg("2024-02-01 10:20:00.000", "[INFO]: --------- beginning of a new ride"),
        msg("2024-02-01 10:20:01.000", userLine(903L, "Bo Chen")),
        // logged later, sampled later: the ride's final duration
        msg("2024-02-01 10:20:05.000", "[INFO]: Ride - duration = 30.0; resistance = 20"),
        msg("2024-02-01 10:20:03.000", "[INFO]: Ride - duration = 31.0; resistance = 40"),
        msg("2024-02-01 10:20:04.000", "[INFO]: Telemetry - hrt = 100; rpm = 50; power = 20.25")) ++
      plainRide("2024-02-01 10:30", 4, 904L) ++
      Seq(
        msg("2024-02-01 10:40:00.000", "[INFO]: --------- beginning of a new ride"),
        msg("2024-02-01 10:40:02.000", "[INFO]: Ride - duration = 5.0; resistance = 30"),
        msg("2024-02-01 10:40:03.000", "[INFO]: Telemetry - hrt = 84; rpm = 27; power = 5.25"))),
    "bike-c" -> Seq.empty,
    "bike-d" -> (plainRide("2024-02-02 08:00", 1, 921L) ++ plainRide("2024-02-02 08:10", 2, 922L) ++
      plainRide("2024-02-02 08:20", 3, 923L)))

  private def multiStreamDir(): String = {
    val dir = tmpDir()
    multiStream.foreach { case (stream, lines) =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, s"$stream.jsonl"),
        lines.mkString("\n").getBytes("UTF-8"))
    }
    dir
  }

  test("rides over several graftlog streams: golden rows, trim bounds per stream") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val got = DelotonPipeline.rides(DelotonPipeline.readLogs(spark, multiStreamDir()))
      .orderBy("stream", "ride_id").collect().toSeq
    assert(got == Seq(
      Row("bike-b", 2L, ts("2024-02-01 10:10:01"), null, null, 41.0, 11.0, 91.0, 902L),
      Row("bike-b", 3L, ts("2024-02-01 10:20:01"), 30.0, 30.0, 50.0, 20.25, 100.0, 903L),
      Row("bike-d", 2L, ts("2024-02-02 08:10:01"), 2.5, 40.0, 29.0, 7.5, 86.0, 922L)))
  }

  test("rides: graftlog files and the same rows as a DataFrame give one result") {
    val fromFiles = DelotonPipeline.rides(DelotonPipeline.readLogs(spark, multiStreamDir()))
    val rows = multiStream.flatMap { case (stream, lines) =>
      lines.zipWithIndex.map { case (v, i) => Row(stream, i.toLong, v) }
    }
    val fromRows = DelotonPipeline.rides(df(DelotonPipeline.rawSchema, rows: _*))
    def sorted(d: org.apache.spark.sql.DataFrame) = d.orderBy("stream", "ride_id").collect().toSeq
    assert(fromFiles.schema == fromRows.schema)
    assert(sorted(fromFiles) == sorted(fromRows))
  }

  test("idempotent upsert skips existing keys (ON CONFLICT DO NOTHING)") {
    val u = DelotonPipeline.users(raw)
    val existing = u.filter(org.apache.spark.sql.functions.col("user_id") === 815L)
    val fresh = DelotonPipeline.upsertNew(u, existing, "user_id")
    assert(fresh.collect().map(_.getLong(0)).sorted.toSeq == Seq(816L, 817L))
  }

  test("S3 JDBC sink round-trips through embedded Derby; re-run inserts nothing") {
    // Derby ships with Spark (/opt/spark/jars) — a real write.jdbc +
    // read.jdbc exercise of the sink, not just the anti-join primitive
    val url = s"jdbc:derby:${tmpDir()}/derbydb;create=true"
    val ddl = java.sql.DriverManager.getConnection(url)
    ddl.createStatement().execute(
      "CREATE TABLE users_t (user_id BIGINT, name VARCHAR(100))")
    ddl.createStatement().execute("INSERT INTO users_t VALUES (815, 'existing')")
    ddl.close()
    import spark.implicits._
    val incoming = Seq((815L, "conflict-dropped"), (816L, "fresh"), (817L, "fresher"))
      .toDF("user_id", "name")
    DelotonPipeline.writeJdbcIdempotent(incoming, url, "users_t", "user_id")
    DelotonPipeline.writeJdbcIdempotent(incoming, url, "users_t", "user_id") // no-op re-run
    val back = spark.read.jdbc(url, "users_t", new java.util.Properties)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back == Map(815L -> "existing", 816L -> "fresh", 817L -> "fresher"))
  }

  test("toJsonRecords is byte-identical to Dataset.toJSON") {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types._
    val users = DelotonPipeline.users(raw)
    val rides = DelotonPipeline.rides(raw)
    val shapes = Seq(
      "ride_by_id" -> Endpoints.rideById(rides, 3L),
      "riders" -> Endpoints.allRiders(users),
      "rider_by_id" -> Endpoints.riderById(users, 816L),
      "riders_by_gender" -> Endpoints.ridersByGender(users, "male"),
      "riders_by_age" -> Endpoints.ridersByAge(users, None, Some(0), Some(200)),
      "rides_by_gender" -> Endpoints.ridesByGender(users, rides, "male"),
      "rides_for_rider" -> Endpoints.ridesForRider(rides, 815L),
      "daily" -> Endpoints.dailyRides(rides, None),
      "null fields" -> rides.withColumn("duration", lit(null).cast(DoubleType))
        .withColumn("user_id", lit(null).cast(LongType)),
      "empty" -> Endpoints.rideById(rides, -1L),
      "dotted name" -> users.select(col("user_id").as("user.id"), col("name")),
      "sub-second ts" -> df(StructType(Seq(StructField("ts", TimestampType))),
        Row(java.sql.Timestamp.valueOf("2024-01-02 12:00:01.125")),
        Row(java.sql.Timestamp.valueOf("2024-01-02 12:00:01.000001"))))
    shapes.foreach { case (name, d) =>
      val viaToJson = d.toJSON.collect().toSeq.sorted
      assert(Endpoints.toJsonRecords(d).sorted == viaToJson, name)
      if (name != "empty") assert(viaToJson.nonEmpty, s"$name: the shape must serialise some rows")
    }
  }

  test("endpoints: gender join, daily prefix filter, delete anti-join") {
    val users = DelotonPipeline.users(raw)
    val rides = DelotonPipeline.rides(raw)
      .withColumnRenamed("ride_id", "ride_id") // rides already keyed
    val byGender = Endpoints.ridesByGender(users, rides, "male").collect()
    assert(byGender.length == 2)
    val daily = Endpoints.dailyRides(rides, Some((2024, Some(1), Some(3)))).collect()
    assert(daily.length == 1 && daily.head.getAs[Long]("ride_id") == 3L)
    val afterDelete = Endpoints.deleteRide(rides, 2L).collect()
    assert(afterDelete.map(_.getAs[Long]("ride_id")).toSeq == Seq(3L))
    val json = Endpoints.toJsonRecords(Endpoints.rideById(rides, 3L))
    assert(json.length == 1 && json.head.contains("\"ride_id\":3"))
  }
}
