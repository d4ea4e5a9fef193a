package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Geocode
import graft.streaming.EventStream

/** A15/A16 composition — the incremental daily-geocode loop
  * (geocode.js:542-549): run 1 resolves and appends its hits to the
  * cache; run 2 geocodes ONLY the delta, with yesterday's rows served
  * from the cache snapshot. */
class GeocodeDailySpec extends SparkSpec {
  import spark.implicits._

  // deterministic fake external geocoder: resolves any candidate that
  // carries a house number, at hash-derived coordinates — and records
  // which row ids reached it (the delta-only assertion), and, when asked,
  // the candidate rows themselves
  private def fakeResolver(seen: scala.collection.mutable.Set[Long],
      got: scala.collection.mutable.Set[(Long, String, Int)] = scala.collection.mutable.Set.empty)(
      cands: DataFrame): DataFrame = {
    seen ++= cands.select(col("id")).distinct().as[Long].collect()
    got ++= cands.select(col("id"), col("candidate"), col("rank")).as[(Long, String, Int)].collect()
    cands.filter(col("candidate").rlike("\\d+號$"))
      .select(col("candidate"),
        (lit(22.0) + pmod(xxhash64(col("candidate")), lit(1000)).cast("double") / 1000.0).as("lat"),
        (lit(120.0) + pmod(xxhash64(col("candidate"), lit(7)), lit(1000)).cast("double") / 1000.0).as("lng"))
  }

  test("day 2 resolves yesterday's rows from cache and geocodes only the delta") {
    val dir = tempDir("graft_daily_geo")
    val day1 = Seq(
      (1L, "台北市大安區和平東路12巷34號"),
      (2L, "高雄市左營區中山路5號")).toDF("id", "addr")
    val seen1 = scala.collection.mutable.Set.empty[Long]
    val out1 = Geocode.dailyGeocode(day1, "id", "addr", dir, 0L)(fakeResolver(seen1))
      .select(col("id"), col("source"), col("lat"), col("lng"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(seen1 == Set(1L, 2L), "first run: every row is delta")
    assert(out1(1L)._1 == "fresh" && out1(2L)._1 == "fresh")

    // the cache snapshot now holds the day-1 hits
    val cached = EventStream.readLatestState(spark, dir)
    assert(cached.count() > 0)

    // day 2: row 1 recurs verbatim, row 3 is new
    val day2 = Seq(
      (1L, "台北市大安區和平東路12巷34號"),
      (3L, "臺南市安平區育平路77號")).toDF("id", "addr")
    val seen2 = scala.collection.mutable.Set.empty[Long]
    val got2 = scala.collection.mutable.Set.empty[(Long, String, Int)]
    val out2 = Geocode.dailyGeocode(day2, "id", "addr", dir, 1L)(fakeResolver(seen2, got2))
      .select(col("id"), col("source"), col("lat"), col("lng"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(seen2 == Set(3L), "second run: only the new row reaches the resolver")
    // and it receives exactly the uncached row's ladder, ranks included
    val uncached = Geocode.expand(day2.filter(col("id") === 3L), "id", "addr")
      .select(col("id"), col("candidate"), col("rank")).as[(Long, String, Int)].collect().toSet
    assert(uncached.nonEmpty && got2 == uncached,
      s"resolver got ${got2.size} candidates, expand of the delta has ${uncached.size}")
    assert(out2(1L)._1 == "cache", "recurring row served from the cache")
    assert(out2(3L)._1 == "fresh")
    // the cached coordinates are exactly what day 1 resolved
    assert(out2(1L)._2 == out1(1L)._2 && out2(1L)._3 == out1(1L)._3)

    // write-back accumulated: cache now covers day-2's fresh hits too
    val day3Seen = scala.collection.mutable.Set.empty[Long]
    val out3 = Geocode.dailyGeocode(day2, "id", "addr", dir, 2L)(fakeResolver(day3Seen))
      .select(col("id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(day3Seen.isEmpty, "fully-cached day: the resolver sees nothing")
    assert(out3 == Map(1L -> "cache", 3L -> "cache"))
    graft.util.CacheRegistry.releaseAll()
  }

  test("the external resolver stage executes exactly once per day") {
    // the resolver is EXTERNAL work (rate-limited, possibly
    // nondeterministic): dailyGeocode must materialize its output once
    // and reuse it for both the cache write-back and the returned
    // roster — an accumulator counts the rows that actually flow
    // through the resolver's plan, so a recompute would double it
    val dir = tempDir("graft_daily_once")
    val day = Seq(
      (1L, "台北市大安區和平東路12巷34號"),
      (2L, "高雄市左營區中山路5號")).toDF("id", "addr")
    val acc = spark.sparkContext.longAccumulator("resolver_rows")
    def resolver(cands: DataFrame): DataFrame = {
      val counted = cands.map { r => acc.add(1); r }(
        org.apache.spark.sql.Encoders.row(cands.schema))
      counted.filter(col("candidate").rlike("\\d+號$"))
        .select(col("candidate"),
          (lit(22.0) + pmod(xxhash64(col("candidate")), lit(1000)).cast("double") / 1000.0).as("lat"),
          (lit(120.0) + pmod(xxhash64(col("candidate"), lit(7)), lit(1000)).cast("double") / 1000.0).as("lng"))
    }
    val out = Geocode.dailyGeocode(day, "id", "addr", dir, 0L)(resolver)
    assert(out.count() == 2) // consume the returned roster too
    val expected = Geocode.expand(day, "id", "addr").count()
    assert(acc.value == expected,
      s"resolver saw ${acc.value} rows for $expected candidates — " +
        "it must execute exactly once")
    graft.util.CacheRegistry.releaseAll()
  }

  test("a replayed day re-merges idempotently and a row with no hit stays null") {
    val dir = tempDir("graft_daily_geo2")
    val day = Seq(
      (1L, "台北市大安區和平東路12巷34號"),
      (9L, "not an address at all")).toDF("id", "addr")
    def run(): Map[Long, Option[String]] =
      Geocode.dailyGeocode(day, "id", "addr", dir, 0L)(
          fakeResolver(scala.collection.mutable.Set.empty))
        .select(col("id"), col("source")).collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val first = run()
    assert(first(1L).contains("fresh") && first(9L).isEmpty)
    val snapshotCount = EventStream.readLatestState(spark, dir).count()
    // same batchId again (epoch replay after a crash): committed snapshot
    // is reused, nothing double-applies — and the recurring row now comes
    // from the cache that replayed snapshot serves
    val replay = run()
    assert(replay(1L).contains("cache") && replay(9L).isEmpty)
    assert(EventStream.readLatestState(spark, dir).count() == snapshotCount)
    graft.util.CacheRegistry.releaseAll()
  }

  test("chunked daily loop: per-chunk commits bound a crash's lost provider calls to one slice") {
    val dir = tempDir("graft_daily_chunked")
    val dirRef = tempDir("graft_daily_chunkref")
    val rows = Seq(
      (1L, "台北市大安區和平東路12巷34號"),
      (2L, "高雄市左營區中山路5號"),
      (3L, "臺南市安平區育平路77號"),
      (4L, "新北市板橋區文化路100號"),
      (5L, "桃園市中壢區中正路8號"),
      (6L, "台中市西屯區台灣大道999號"),
      (7L, "基隆市仁愛區愛一路21號"),
      (8L, "新竹市東區光復路50號")).toDF("id", "addr")
    // precondition for the crash-at-invocation-2 injection below: the
    // deterministic hash split must populate at least two slices
    val sliceSizes = rows
      .groupBy(pmod(xxhash64(col("id")), lit(3L))).count()
      .collect().map(_.getLong(1))
    assert(sliceSizes.count(_ > 0) >= 2, s"fixture split degenerate: ${sliceSizes.toSeq}")

    // reference: the plain single-commit daily loop on the same day
    val ref = Geocode.dailyGeocode(rows, "id", "addr", dirRef, 7L)(
        fakeResolver(scala.collection.mutable.Set.empty))
      .select(col("id"), col("lat"), col("lng")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet

    // crash injection: the provider dies on its SECOND delta-bearing
    // chunk — chunk 1's hits are already durably committed
    var deltaCalls = 0
    def crashingResolver(cands: DataFrame): DataFrame = {
      if (cands.limit(1).count() > 0) {
        deltaCalls += 1
        if (deltaCalls == 2) throw new RuntimeException("provider down")
      }
      fakeResolver(scala.collection.mutable.Set.empty)(cands)
    }
    intercept[RuntimeException] {
      Geocode.dailyGeocodeChunked(rows, "id", "addr", dir, 7L,
        chunks = 3)(crashingResolver)
    }
    val committedAfterCrash = EventStream.readLatestState(spark, dir).count()
    assert(committedAfterCrash > 0,
      "the first chunk's hits must be durable before the crash")

    // replay the same day: every committed row resolves from cache and
    // re-buys ZERO provider calls; only the lost slice (and the ones
    // never started) reach the resolver
    val seen = scala.collection.mutable.Set.empty[Long]
    val out = Geocode.dailyGeocodeChunked(rows, "id", "addr", dir, 7L,
        chunks = 3)(fakeResolver(seen))
      .select(col("id"), col("lat"), col("lng"), col("source")).collect()
    assert(seen.size < rows.count(),
      s"committed-slice rows must not re-reach the resolver: $seen")
    assert(out.exists(_.getString(3) == "cache"),
      "the durable slice's rows replay from cache")
    // end state identical to the never-crashed single-commit run
    assert(out.map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet == ref)
    val refCache = EventStream.readLatestState(spark, dirRef)
      .select("query", "lat", "lng").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    val chunkCache = EventStream.readLatestState(spark, dir)
      .select("query", "lat", "lng").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(chunkCache == refCache)
    graft.util.CacheRegistry.releaseAll()
  }
}
