package graft.engine

import graft.SparkSpec
import graft.engine.builders._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Builder semantics on a hand-computed imported-trips fixture
  * (FIXTURES.md §A2/§A3), including upsert/merge behavior. */
class BuildersSpec extends SparkSpec {
  import spark.implicits._

  private def trips(rows: (String, String, String, String, String)*): DataFrame =
    // (start_time, start_station, end_station, user_type, rideable_type)
    rows.toSeq.toDF("st", "sn", "en", "user_type", "rideable_type")
      .select(
        to_timestamp($"st").as("start_time"),
        to_timestamp($"st").as("end_time"),
        $"sn".as("start_station_name"), concat(lit("id_"), $"sn").as("start_station_id"),
        $"en".as("end_station_name"), concat(lit("id_"), $"en").as("end_station_id"),
        lit(-73.95).as("start_station_longitude"), lit(40.7).as("start_station_latitude"),
        lit(40.8).as("end_station_latitude"), lit(-73.96).as("end_station_longitude"),
        $"user_type", $"rideable_type",
        date_format($"st".cast("timestamp"), "yyyy").as("year"),
        date_format($"st".cast("timestamp"), "MMM").as("month"))

  val jan: DataFrame = trips(
    ("2021-01-05 08:00:00", "A", "B", "subscriber", "classic_bike"),
    ("2021-01-05 08:30:00", "A", "B", "subscriber", "classic_bike"),
    ("2021-01-06 09:00:00", "A", "C", "customer", "electric_bike"),
    ("2021-01-07 23:10:00", "B", "A", "subscriber", "classic_bike"))

  val feb: DataFrame = trips(
    ("2021-02-01 08:15:00", "A", "B", "customer", "classic_bike"),
    ("2021-02-02 12:00:00", "C", "A", "subscriber", "electric_bike"))

  test("LineGraph: conditional counts per (year, month)") {
    val r = LineGraph.build(jan).collect()
    assert(r.length == 1)
    assert(r(0).getString(0) == "2021" && r(0).getString(1) == "Jan")
    assert(r(0).getInt(2) == 3 && r(0).getInt(3) == 1)
  }

  test("HeatMap: build + additive merge") {
    val r1 = HeatMap.build(jan)
    assert(r1.filter($"hour" === 8).select("total_count").as[Int].head() == 2)
    val merged = HeatMap.merge(r1, HeatMap.build(jan)) // re-merge same delta
    assert(merged.filter($"hour" === 8).select("total_count").as[Int].head() == 4)
    assert(merged.count() == r1.count())
  }

  test("TripsMap: same-station filter, top-k, waypoints, count-only update merge") {
    val sameStation = trips(("2021-01-05 10:00:00", "A", "A", "subscriber", "classic_bike"))
    val r = TripsMap.build(jan.unionByName(sameStation))
    assert(r.filter($"from_station" === $"to_station").count() == 0)
    val ab = r.filter($"from_station" === "A" && $"to_station" === "B").collect()(0)
    assert(ab.getAs[Int]("trip_count") == 2)
    val wps = ab.getAs[String]("waypoints")
    assert(wps.startsWith("""[{"timestamp":"""))
    // straight-line stub: 40.7,-73.95 -> 40.8,-73.96 over 8:00 start
    // first waypoint stamped with seconds-of-day of 08:00 = 28800
    assert(wps.contains("28800.0"))

    val merged = TripsMap.merge(r, TripsMap.build(feb))
    val abM = merged.filter($"from_station" === "A" && $"to_station" === "B").collect()(0)
    assert(abM.getAs[Int]("trip_count") == 3)    // 2 + 1
    assert(abM.getAs[String]("waypoints") == wps) // existing waypoints kept
    assert(merged.filter($"from_station" === "C").count() == 1) // insert half
  }

  test("TripsMap.merge: same station pair under two rideable types does not cross-multiply") {
    val mixed = trips(
      ("2021-01-05 08:00:00", "A", "B", "subscriber", "classic_bike"),
      ("2021-01-05 08:10:00", "A", "B", "subscriber", "electric_bike"))
    val r = TripsMap.build(mixed)
    assert(r.count() == 2) // one row per rideable_type
    val merged = TripsMap.merge(r, r) // re-merge the same delta
    assert(merged.count() == 2, "duplicate (year,from,to) keys must not cross-join")
    assert(merged.select(sum("trip_count")).as[Long].head() == 4)
    // null rideable_type (legacy archives) must match null-safely too
    val legacy = trips(("2021-01-05 09:00:00", "A", "B", "subscriber", null))
    val lr = TripsMap.build(legacy)
    val lm = TripsMap.merge(lr, lr)
    assert(lm.count() == 1 && lm.select("trip_count").as[Int].head() == 2)
  }

  test("DockMap: full-outer starts/ends, nested maps, deep year merge") {
    val d1 = DockMap.build(jan)
    val a = d1.filter($"station_name" === "A").collect()(0)
    val data = a.getAs[Map[String, org.apache.spark.sql.Row]]("station_data")
    val y2021 = data("2021")
    assert(y2021.getAs[Long]("year_starts") == 3 && y2021.getAs[Long]("year_ends") == 1)
    val months = y2021.getAs[Map[String, org.apache.spark.sql.Row]]("months")
    assert(months("Jan").getAs[Long]("month_total") == 4)

    // station C only appears as an end in jan -> starts=0
    val c = d1.filter($"station_name" === "C").collect()(0)
    assert(c.getAs[Map[String, org.apache.spark.sql.Row]]("station_data")("2021")
      .getAs[Long]("year_starts") == 0)

    // merge feb delta: months union, year_starts/ends overwritten by delta
    val merged = DockMap.merge(d1, DockMap.build(feb))
    val aM = merged.filter($"station_name" === "A").collect()(0)
    val yM = aM.getAs[Map[String, org.apache.spark.sql.Row]]("station_data")("2021")
    val mM = yM.getAs[Map[String, org.apache.spark.sql.Row]]("months")
    assert(mM.keySet == Set("Jan", "Feb"))
    // reference semantics: colliding year takes the NEW year_starts
    assert(yM.getAs[Long]("year_starts") == 1) // feb delta for A: 1 start
    // round-trip through JSON storage
    val stored = DockMap.toStorage(merged)
    val back = DockMap.fromStorage(stored)
    val aB = back.filter($"station_name" === "A").collect()(0)
    assert(aB.getAs[Map[String, org.apache.spark.sql.Row]]("station_data")("2021")
      .getAs[Map[String, org.apache.spark.sql.Row]]("months").keySet == Set("Jan", "Feb"))
  }

  test("StatusData: one row per year, replace semantics, alreadyLoaded") {
    val m0 = StatusData.empty(spark)
    val m1 = StatusData.markLoaded(m0, 2021, Some(1))
    assert(StatusData.alreadyLoaded(m1, 2021, Some(1)))
    assert(!StatusData.alreadyLoaded(m1, 2021, Some(2)))
    val m2 = StatusData.markLoaded(m1, 2021, Some(2))
    assert(m2.count() == 1) // replaced, not appended
    // the row records the last loaded month: every month up to it is
    // covered, later ones are not
    assert(StatusData.alreadyLoaded(m2, 2021, Some(1)))
    assert(!StatusData.alreadyLoaded(m2, 2021, Some(3)))
    val m3 = StatusData.markLoaded(m2, 2021, None)
    assert(StatusData.alreadyLoaded(m3, 2021, None))
    assert(m3.filter($"complete").count() == 1)
  }

  test("Manifest.newPeriods: non-equi anti-join semantics") {
    val cand = Seq(("2023", 1), ("2023", 5), ("2024", 1), ("2024", 7), ("2025", 2))
      .toDF("year", "month")
    val manifest = Seq(("2023", 12, true), ("2024", 6, false))
      .toDF("year", "month", "complete")
    val got = Manifest.newPeriods(cand, manifest)
      .as[(String, Int)].collect().toSet
    assert(got == Set(("2024", 7), ("2025", 2)))
  }
}
