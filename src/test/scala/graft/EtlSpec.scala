package graft

import org.apache.spark.sql.functions._
import graft.etl.VehicleFeed

/** Mirrors the reference's test suite (main_test.go) on the Spark ETL. */
class EtlSpec extends SparkSpec {
  import spark.implicits._

  private val payload =
    """{"data":[{"id":"test-vehicle-1","type":"vehicle","attributes":{
      |"updated_at":"2024-01-15T10:30:00-05:00","speed":25.5,
      |"revenue_status":"REVENUE","occupancy_status":"MANY_SEATS_AVAILABLE",
      |"longitude":-71.0589,"latitude":42.3601,"label":"1234",
      |"direction_id":0,"current_stop_sequence":5,
      |"current_status":"IN_TRANSIT_TO","bearing":180}}]}""".stripMargin.replace("\n", "")

  test("extract: successful payload parse (main_test.go:18-69)") {
    val out = VehicleFeed.extract(Seq(payload).toDS()).collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("id") == "test-vehicle-1")
    assert(out(0).getAs[String]("label") == "1234")
  }

  test("extract: invalid JSON yields no rows (main_test.go:91-108)") {
    val out = VehicleFeed.extract(Seq("invalid json").toDS())
    assert(out.count() == 0)
  }

  test("transform: nullable speed/bearing default to 0 (main_test.go:111-154)") {
    val noNulls = payload.replace("\"speed\":25.5,", "").replace(",\"bearing\":180", "")
    val out = VehicleFeed.transform(VehicleFeed.extract(Seq(noNulls).toDS())).collect()(0)
    assert(out.getAs[Double]("speed") == 0.0)
    assert(out.getAs[Int]("bearing") == 0)
  }

  test("transform: filters records with empty id or label (main_test.go:157-210)") {
    val three =
      """{"data":[
        |{"id":"","type":"vehicle","attributes":{"updated_at":"2024-01-15T10:30:00-05:00","label":"1234","latitude":42.3601,"longitude":-71.0589}},
        |{"id":"test-2","type":"vehicle","attributes":{"updated_at":"2024-01-15T10:30:00-05:00","label":"","latitude":42.3601,"longitude":-71.0589}},
        |{"id":"test-3","type":"vehicle","attributes":{"updated_at":"2024-01-15T10:30:00-05:00","label":"5678","latitude":42.3601,"longitude":-71.0589}}
        |]}""".stripMargin.replace("\n", "")
    val out = VehicleFeed.transform(VehicleFeed.extract(Seq(three).toDS())).collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("id") == "test-3")
  }

  test("transform: empty status normalizes to UNKNOWN (main_test.go:213-247)") {
    val emptyStatus = payload.replace("\"current_status\":\"IN_TRANSIT_TO\",", "\"current_status\":\"\",")
    val out = VehicleFeed.transform(VehicleFeed.extract(Seq(emptyStatus).toDS())).collect()(0)
    assert(out.getAs[String]("current_status") == "UNKNOWN")
    assert(out.getAs[String]("occupancy_status") == "MANY_SEATS_AVAILABLE")
  }

  test("transform: RFC3339 offset timestamps parse to UTC instants") {
    val out = VehicleFeed.transform(VehicleFeed.extract(Seq(payload).toDS()))
      .select(col("updated_at").cast("long")).collect()(0).getLong(0)
    assert(out == java.time.Instant.parse("2024-01-15T15:30:00Z").getEpochSecond)
  }

  test("load/upsert: latest record per key wins (main_test.go:299-359)") {
    val obs = Seq(
      ("test-1", 25.5, java.sql.Timestamp.valueOf("2024-01-15 10:30:00"), 1L),
      ("test-1", 30.0, java.sql.Timestamp.valueOf("2024-01-15 10:35:00"), 2L),
      ("test-2", 12.0, java.sql.Timestamp.valueOf("2024-01-15 10:00:00"), 3L)
    ).toDF("id", "speed", "updated_at", "obs_id")
    val out = VehicleFeed.latest(obs)
    assert(out.count() == 2)
    val s = out.filter($"id" === "test-1").select("speed").collect()(0).getDouble(0)
    assert(s == 30.0)
  }

  test("load/upsert: ties break deterministically on obs_id") {
    val t = java.sql.Timestamp.valueOf("2024-01-15 10:30:00")
    val obs = Seq(("k", 1.0, t, 7L), ("k", 2.0, t, 9L), ("k", 3.0, t, 8L))
      .toDF("id", "speed", "updated_at", "obs_id")
    assert(VehicleFeed.latest(obs).select("speed").collect()(0).getDouble(0) == 2.0)
  }

  test("scd2 history: versions chain, current row equals the upsert result") {
    val obs = Seq(
      ("k1", 1.0, "A", java.sql.Timestamp.valueOf("2024-01-15 10:00:00"), 1L),
      ("k1", 2.0, "B", java.sql.Timestamp.valueOf("2024-01-15 10:05:00"), 2L),
      ("k1", 3.0, "C", java.sql.Timestamp.valueOf("2024-01-15 10:10:00"), 3L),
      ("k2", 9.0, "A", java.sql.Timestamp.valueOf("2024-01-15 09:00:00"), 4L)
    ).toDF("id", "speed", "current_status", "updated_at", "obs_id")
    val hist = VehicleFeed.scd2History(obs).collect()
      .groupBy(_.getAs[String]("id"))
    // versions are 1..n per key, ordered by time
    val k1 = hist("k1").sortBy(_.getAs[Int]("version"))
    assert(k1.map(_.getAs[Double]("speed")).toSeq == Seq(1.0, 2.0, 3.0))
    // each closed version's valid_to equals the next version's valid_from
    for (Array(prev, next) <- k1.sliding(2))
      assert(prev.getAs[java.sql.Timestamp]("valid_to") ==
        next.getAs[java.sql.Timestamp]("valid_from"))
    // exactly one open (is_current) version per key, and it matches latest()
    val current = VehicleFeed.scd2History(obs).filter($"is_current" === 1)
    assert(current.count() == 2)
    val viaUpsert = VehicleFeed.latest(obs)
      .select("id", "speed").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val viaHist = current
      .select("id", "speed").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(viaHist == viaUpsert)
  }

  test("scd2 history: same-timestamp versions total-order on obs_id") {
    val t = java.sql.Timestamp.valueOf("2024-01-15 10:30:00")
    val obs = Seq(("k", 1.0, "A", t, 7L), ("k", 2.0, "A", t, 9L), ("k", 3.0, "A", t, 8L))
      .toDF("id", "speed", "current_status", "updated_at", "obs_id")
    val hist = VehicleFeed.scd2History(obs).orderBy("version").collect()
    assert(hist.map(_.getAs[Double]("speed")).toSeq == Seq(1.0, 3.0, 2.0))
    assert(hist.last.getAs[Int]("is_current") == 1)
    assert(hist.init.forall(_.getAs[Int]("is_current") == 0))
  }

  test("PagedSource: stubbed paged fetch round-trips; corrupt page dead-letters") {
    import graft.etl.PagedSource
    val urls = PagedSource.pageUrls("http://api.example/vehicles", pages = 3, pageSize = 2)
    assert(urls == Seq(
      "http://api.example/vehicles?page[limit]=2&page[offset]=0",
      "http://api.example/vehicles?page[limit]=2&page[offset]=2",
      "http://api.example/vehicles?page[limit]=2&page[offset]=4"))
    // injectable transport: page 1 is a corrupt body, the rest are good
    val stub: PagedSource.Transport = {
      case u if u.endsWith("=2") => "<html>rate limited</html>"
      case u => payload.replace("test-vehicle-1", s"v-${u.takeRight(1)}")
    }
    val raw = PagedSource.fetchPages(spark, urls, stub)
    val obs = graft.etl.VehicleFeed.transform(graft.etl.VehicleFeed.extract(raw)).collect()
    assert(obs.map(_.getAs[String]("id")).sorted.sameElements(Array("v-0", "v-4")))
    val corrupt = graft.etl.VehicleFeed.corruptPayloads(raw).collect()
    assert(corrupt.length == 1 && corrupt(0).getString(0).startsWith("<html>"))
    // transport failure fails the batch, like extract.go:24-27
    val failing: PagedSource.Transport = _ => throw new java.io.IOException("HTTP 500")
    intercept[java.io.IOException] {
      PagedSource.fetchPages(spark, urls.take(1), failing)
    }
  }

  test("corruptPayloads: exactly the non-parsing payloads, extract+corrupt covers input") {
    val input = Seq(payload, "not json at all", """{"other":"shape"}""", payload).toDS()
    val good = VehicleFeed.extract(input).count()
    val bad = VehicleFeed.corruptPayloads(input)
    assert(bad.count() == 2)
    assert(good == 2)
    assert(bad.collect().map(_.getString(0)).toSet ==
      Set("not json at all", """{"other":"shape"}"""))
  }

  test("extractFromJsonFiles: distributed text scan parses page files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-json")
    java.nio.file.Files.writeString(dir.resolve("page0.json"), payload + "\n" + payload)
    val out = VehicleFeed.extract(spark.read.textFile(dir.toString))
    assert(out.count() == 2)
    assert(out.select("id").distinct().collect()(0).getString(0) == "test-vehicle-1")
  }

  test("transform: carries ingested_at alongside the reference schema") {
    val out = VehicleFeed.transform(VehicleFeed.extract(Seq(payload).toDS()))
    assert(out.columns.contains("ingested_at"))
    assert(out.filter(col("ingested_at").isNull).count() == 0)
  }

  test("fromEvents: deterministic derivation over testdata") {
    val v = VehicleFeed.fromEvents(graft.core.Tables(spark, TestSpark.sf0001).events)
    assert(v.columns.toSet == Set("id", "label", "latitude", "longitude", "speed",
      "direction_id", "current_status", "occupancy_status", "bearing", "updated_at", "obs_id"))
    assert(v.count() == 1000)
    assert(v.filter($"speed" < 0).count() == 0)
    assert(v.filter($"bearing" < 0 || $"bearing" >= 360).count() == 0)
  }
}
