package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.EventStream

case class Ev(event_id: Long, ts: Timestamp, event_type: String, value: Double)
case class Doc(doc_id: Long, text: String)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")

  test("D1 streaming window agg matches batch semantics across batches") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = EventStream.windowAgg(ms.toDF(), watermark = "30 minutes", windowLen = "1 hour")
      .writeStream.format("memory").queryName("d1_agg").outputMode("complete").start()
    try {
      ms.addData(Ev(1, ts(5), "view", 1.0), Ev(2, ts(20), "view", 2.0), Ev(3, ts(70), "click", 5.0))
      q.processAllAvailable()
      ms.addData(Ev(4, ts(80), "click", 7.0))
      q.processAllAvailable()
      val out = spark.table("d1_agg").collect()
        .map(r => (r.getAs[Timestamp]("window_start").toString, r.getAs[String]("event_type"),
          r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"))).toSet
      assert(out == Set(
        ("2024-01-01 00:00:00.0", "view", 2L, 3.0),
        ("2024-01-01 01:00:00.0", "click", 2L, 12.0)))
    } finally q.stop()
  }

  case class UEv(user_id: Long, event_id: Long, ts: Timestamp, value: Double)

  test("D4 stream-stream interval join: prior-hour purchases only, state bounded by watermark") {
    implicit val ctx = spark.sqlContext
    val errs = MemoryStream[UEv]
    val purs = MemoryStream[UEv]
    val q = EventStream.intervalJoin(errs.toDF(), purs.toDF(),
        watermark = "30 minutes", windowMs = 60L * 60 * 1000)
      .writeStream.format("memory").queryName("d4_join").outputMode("append").start()
    try {
      purs.addData(
        UEv(1, 100, ts(10), 5.0),   // within the hour before the error
        UEv(1, 101, ts(200), 9.0),  // AFTER the error: must not join
        UEv(2, 102, ts(15), 7.0))   // other user
      errs.addData(UEv(1, 900, ts(60), 0.0), UEv(3, 901, ts(60), 0.0))
      q.processAllAvailable()
      // advance both watermarks so results flush
      purs.addData(UEv(9, 999, ts(600), 0.0))
      errs.addData(UEv(9, 998, ts(600), 0.0))
      q.processAllAvailable()
      val out = spark.table("d4_join").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
          r.getAs[Double]("p_value"))).toSet
      assert(out.contains((1L, 900L, 5.0)))            // in-window purchase joined
      assert(!out.exists(_._3 == 9.0))                 // future purchase excluded
      assert(!out.exists(t => t._1 == 3L && t._2 == 901L)) // no-purchase user absent (inner join)
    } finally q.stop()
  }

  test("D3 stateful sessionization closes sessions on gap and emits once") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.EventStream.SessionInput
    val ms = MemoryStream[SessionInput]
    val q = EventStream.sessionizeStateful(ms.toDS(), gapMs = 10 * 60 * 1000)
      .writeStream.format("memory").queryName("d3_sess").outputMode("append").start()
    try {
      // user 1: two events 5 min apart (one session), then a 30-min gap
      ms.addData(SessionInput(1, ts(0), 1.0), SessionInput(1, ts(5), 2.0))
      q.processAllAvailable()
      ms.addData(SessionInput(1, ts(35), 4.0)) // gap > 10min: closes session 1
      q.processAllAvailable()
      // push watermark far ahead so the open session times out too
      ms.addData(SessionInput(2, ts(600), 0.5))
      q.processAllAvailable()
      ms.addData(SessionInput(2, ts(1200), 0.5))
      q.processAllAvailable()
      val out = spark.table("d3_sess")
        .filter($"user_id" === 1).orderBy("session_start").collect()
        .map(r => (r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
      assert(out.length == 2, s"expected 2 closed sessions, got ${out.mkString(",")}")
      assert(out(0) == ((2L, 3.0)) && out(1) == ((1L, 4.0)))
    } finally q.stop()
  }

  test("D2 streaming dedup drops duplicate ids within the watermark") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = EventStream.dedupWithinWatermark(ms.toDF(), "event_id", watermark = "30 minutes")
      .writeStream.format("memory").queryName("d2_dedup").outputMode("append").start()
    try {
      ms.addData(Ev(1, ts(5), "view", 1.0), Ev(1, ts(6), "view", 1.0), Ev(2, ts(7), "click", 2.0))
      q.processAllAvailable()
      ms.addData(Ev(2, ts(8), "click", 2.0), Ev(3, ts(9), "view", 3.0))
      q.processAllAvailable()
      val ids = spark.table("d2_dedup").select("event_id").collect().map(_.getLong(0)).sorted
      assert(ids.sameElements(Array(1L, 2L, 3L)))
    } finally q.stop()
  }

  test("D5 foreachBatch upsert sink: keyed state merges across batches, replay is idempotent") {
    implicit val ctx = spark.sqlContext
    val dir = tempDir("graft_upsert")
    val ms = MemoryStream[Ev]
    // update-mode per-type counts: each batch carries the FULL new value
    // for every key it touches
    val q = ms.toDF()
      .groupBy($"event_type")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .writeStream
      .outputMode("update")
      .foreachBatch(EventStream.upsertBatch(dir, Seq("event_type")) _)
      .start()
    try {
      ms.addData(Ev(1, ts(1), "view", 1.0), Ev(2, ts(2), "view", 1.0), Ev(3, ts(3), "click", 1.0))
      q.processAllAvailable()
      ms.addData(Ev(4, ts(4), "view", 1.0), Ev(5, ts(5), "buy", 1.0))
      q.processAllAvailable()
      def state() = spark.read.parquet(s"$dir/current").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(state() == Map("view" -> 3L, "click" -> 1L, "buy" -> 1L))
      // replay of the last epoch (failure recovery): same batch id, same
      // data — merges from the PREVIOUS snapshot, state unchanged
      val replayed = Seq(("view", 3L), ("buy", 1L)).toDF("event_type", "n")
      EventStream.upsertBatch(dir, Seq("event_type"))(replayed, 1L)
      assert(state() == Map("view" -> 3L, "click" -> 1L, "buy" -> 1L))
      // race-free read path agrees with the pointer
      val latest = EventStream.readLatestState(spark, dir).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(latest == state())
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("D5 upsert sink runs the stream's stateful operator once per trigger and keeps no leaf") {
    import org.apache.spark.sql.functions.{col, lit, sum}
    implicit val ctx = spark.sqlContext
    val dir = tempDir("graft_upsert_once")
    val keys = Seq("window_start", "event_type", "batch_id")
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val ms = MemoryStream[Ev]
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2") // state partitions, fixed at start
    val q = try EventStream.dedupWithinWatermark(ms.toDF(), "event_id")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
        EventStream.upsertBatch(dir, keys, retainSnapshots = 2)(
          EventStream.windowAgg(b).withColumn("batch_id", lit(id)), id))
      .start()
      finally spark.conf.set("spark.sql.shuffle.partitions", parts)
    try {
      ms.addData(Ev(1, ts(5), "view", 1.0), Ev(2, ts(20), "view", 2.0), Ev(3, ts(70), "click", 5.0))
      q.processAllAvailable()
      ms.addData(Ev(2, ts(21), "view", 2.0), Ev(4, ts(80), "click", 7.0))
      q.processAllAvailable()
      ms.addData(Ev(5, ts(95), "view", 4.0), Ev(4, ts(81), "click", 7.0))
      q.processAllAvailable()
      val stateful = q.recentProgress.toSeq.flatMap(_.stateOperators)
      assert(stateful.size >= 3, q.recentProgress.mkString)
      stateful.foreach { op =>
        assert(op.numShufflePartitions == 2 && op.numStateStoreInstances == 2,
          s"the dedup ran more than once in a trigger: $op")
      }
      graft.streaming.StreamTelemetry.reset()
      graft.streaming.StreamTelemetry.record(q)
      assert(graft.streaming.StreamTelemetry.maxStorePasses == 1)
      assert(spark.sparkContext.getPersistentRDDs.size == persisted,
        "the sink left a batch leaf behind")
      // redelivered ids 2 and 4 count once: the published totals are
      // the batch window aggregate of the distinct events
      val got = EventStream.readLatestState(spark, dir)
        .groupBy(col("window_start"), col("event_type"))
        .agg(sum(col("n_events")), sum(col("sum_value"))).collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == Set(
        ("2024-01-01 00:00:00.0", "view", 2L, 3.0),
        ("2024-01-01 01:00:00.0", "click", 2L, 12.0),
        ("2024-01-01 01:00:00.0", "view", 1L, 4.0)))
    } finally q.stop()
  }

  test("D5 upsert sink releases its leaf when the write throws") {
    val dir = tempDir("graft_upsert_fail")
    // a committed previous snapshot whose data file is not parquet: the
    // merge's read of it fails inside the snapshot write job
    val prev = new java.io.File(s"$dir/snapshots/0")
    prev.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(prev, "part-00000.parquet").toPath, "not parquet")
    new java.io.File(prev, "_SUCCESS").createNewFile()
    val persisted = spark.sparkContext.getPersistentRDDs.size
    intercept[Exception] {
      EventStream.upsertBatch(dir, Seq("event_type"))(Seq(("view", 3L)).toDF("event_type", "n"), 1L)
    }
    assert(spark.sparkContext.getPersistentRDDs.size == persisted,
      "a failed write left the batch leaf behind")
    assert(!new java.io.File(s"$dir/snapshots/1/_SUCCESS").exists())
  }

  test("D5 upsert snapshots are sized from their bytes: one file when small") {
    val maxBytes = "spark.sql.files.maxPartitionBytes"
    def dataFiles(dir: String, id: Long): Int =
      new java.io.File(s"$dir/snapshots/$id").listFiles()
        .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    // 200 rows over 8 partitions: a write per merge partition would
    // leave 8 files
    val batch = (0 until 200).map(i => (s"k$i", i.toLong)).toDF("k", "n").repartition(8)
    val small = tempDir("graft_upsert_small")
    EventStream.upsertBatch(small, Seq("k"))(batch, 0L)
    EventStream.upsertBatch(small, Seq("k"))(batch.limit(10), 1L)
    assert(dataFiles(small, 0L) == 1 && dataFiles(small, 1L) == 1)
    // a tiny split size: the count follows the bytes (200 rows at the
    // schema's default row size), never the merge's partition count
    val tiny = tempDir("graft_upsert_tiny")
    val was = spark.conf.getOption(maxBytes)
    spark.conf.set(maxBytes, "1024")
    try EventStream.upsertBatch(tiny, Seq("k"))(batch, 0L)
    finally was.fold(spark.conf.unset(maxBytes))(spark.conf.set(maxBytes, _))
    val expected = math.ceil(200.0 * batch.schema.defaultSize / 1024).toInt
    assert(expected > 1 && expected < 8)
    assert(dataFiles(tiny, 0L) == expected)
    assert(EventStream.readLatestState(spark, tiny).count() == 200)
    assert(EventStream.readLatestState(spark, small).count() == 200)
  }

  test("D6 streaming incremental minhash dedup: batches check the persisted index, replay-safe") {
    implicit val ctx = spark.sqlContext
    val dir = tempDir("graft_sdedup")
    val ms = MemoryStream[Doc]
    val textA = "the quick brown fox jumps over the lazy dog again and again today"
    val textA2 = "the quick brown fox jumps over the lazy dog again and again tonight"
    val textB = "completely different words describing some other topic entirely here now"
    val textB2 = "completely different words describing some other topic entirely here too"
    val textC = "unrelated fresh content with nothing shared against anything else at all"
    val q = ms.toDF().writeStream
      .foreachBatch(EventStream.minhashDedupBatch(dir, "doc_id", "text",
        minEstSim = 0.25) _)
      .outputMode("append").start()
    try {
      ms.addData(Doc(10, textA), Doc(20, textB))
      q.processAllAvailable()
      ms.addData(Doc(5, textA2), Doc(99, textB2), Doc(7, textC))
      q.processAllAvailable()
      def pairs() = EventStream.readAllPairs(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch 2 near-dups surface against batch 1's index in BOTH id
      // orientations (5 < 10, 99 > 20); the unique doc pairs with nothing
      assert(pairs() == Set((5L, 10L), (20L, 99L)), s"got ${pairs()}")
      // equals the batch incremental path over the same index
      val batch2 = Seq(Doc(5, textA2), Doc(99, textB2), Doc(7, textC)).toDF()
      val index1 = spark.read.parquet(s"$dir/signatures/0")
      val batchPairs = graft.operators.Dedup.minhashLshIncremental(
          batch2, index1, "doc_id", "text", minEstSim = 0.25)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batchPairs == pairs())
      // committed replay of the last epoch: skipped outright, no change
      EventStream.minhashDedupBatch(dir, "doc_id", "text", minEstSim = 0.25)(
        batch2, 1L)
      assert(pairs() == Set((5L, 10L), (20L, 99L)))
      // crash-recovery replay: signatures/1 lost mid-write -> the replay
      // re-checks against the same prior index and restores both outputs
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$dir/signatures/1"))
      EventStream.minhashDedupBatch(dir, "doc_id", "text", minEstSim = 0.25)(
        batch2, 1L)
      assert(pairs() == Set((5L, 10L), (20L, 99L)))
      assert(new java.io.File(s"$dir/signatures/1/_SUCCESS").exists())
      // the accumulated signature index serves the NEXT batch: a doc
      // near-duplicating batch 2's unique doc pairs against it
      EventStream.minhashDedupBatch(dir, "doc_id", "text", minEstSim = 0.25)(
        Seq(Doc(42, textC + " extra")).toDF(), 2L)
      assert(pairs() == Set((5L, 10L), (20L, 99L), (7L, 42L)))
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  /** final summary from an update-mode heavy-hitter sink: max-seq row
    * per (bucket, ngram), tombstones dropped — the same recovery the
    * parity row performs. */
  private def hhFinal(view: String): Map[String, (Long, Long, Long, Long)] =
    spark.table(view)
      .groupBy($"bucket", $"ngram")
      .agg(org.apache.spark.sql.functions.max_by(
        org.apache.spark.sql.functions.struct(
          $"occ", $"occ_err", $"docs", $"docs_err", $"deleted"), $"seq").as("f"))
      .filter(!$"f.deleted")
      .select($"ngram", $"f.occ", $"f.occ_err", $"f.docs", $"f.docs_err")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap

  test("D7 heavy-hitter state blob: pack/unpack round-trips every field bit-exactly") {
    // the r15 state representation: one manually-packed byte blob in
    // place of the Catalyst-encoded Array[HHItem] (the encoder was the
    // row's largest CPU term) — the summary must survive the byte
    // round-trip exactly, including empty, unicode ngrams, and extreme
    // counts, or replayed triggers would fold against a corrupt summary
    import graft.streaming.EventStream.{packHH, unpackHH, HHItem}
    assert(unpackHH(packHH(Array.empty)).isEmpty)
    assert(unpackHH(Array.emptyByteArray).isEmpty) // fresh-state shape
    val items = Array(
      HHItem("the quick fox", 3L, 0L, 2L, 0L),
      HHItem("中文 трёх ☃", Long.MaxValue, 1L, Long.MaxValue - 1, 7L),
      HHItem("", 0L, 0L, 0L, 0L))
    assert(unpackHH(packHH(items)).toSeq == items.toSeq)
  }

  test("D7 heavy-hitter profile: exact occ + doc frequency across batches when under capacity") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Doc]
    val q = EventStream.ngramHeavyHitters(ms.toDF(), "doc_id", "text",
        n = 1, nBuckets = 2, capacityPerBucket = 64)
      .writeStream.format("memory").queryName("d7_hh_exact")
      .outputMode("update").start()
    try {
      ms.addData(Doc(1, "x y"), Doc(2, "x z"))
      q.processAllAvailable()
      ms.addData(Doc(3, "x y y"))
      q.processAllAvailable()
      // truth: x occ=3 docs=3, y occ=3 docs=2, z occ=1 docs=1 — the
      // cross-batch doc-frequency fold must be exact (docs never span
      // batches), every error field 0 (no eviction under capacity)
      assert(hhFinal("d7_hh_exact") == Map(
        "x" -> (3L, 0L, 3L, 0L), "y" -> (3L, 0L, 2L, 0L), "z" -> (1L, 0L, 1L, 0L)))
    } finally q.stop()
  }

  test("D7 heavy-hitter profile: space-saving guarantees under eviction pressure") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Doc]
    val q = EventStream.ngramHeavyHitters(ms.toDF(), "doc_id", "text",
        n = 1, nBuckets = 1, capacityPerBucket = 2)
      .writeStream.format("memory").queryName("d7_hh_evict")
      .outputMode("update").start()
    try {
      // true counts: a=10, b=5, then five singletons; N=20, capacity=2
      ms.addData(Doc(1, Seq.fill(10)("a").mkString(" ") + " " + Seq.fill(5)("b").mkString(" ")))
      q.processAllAvailable()
      ms.addData(Doc(2, "c"), Doc(3, "d"), Doc(4, "e"), Doc(5, "f"), Doc(6, "g"))
      q.processAllAvailable()
      val fin = hhFinal("d7_hh_evict")
      val truth = Map("a" -> 10L, "b" -> 5L, "c" -> 1L, "d" -> 1L,
        "e" -> 1L, "f" -> 1L, "g" -> 1L)
      // hard cap holds
      assert(fin.size <= 2, s"capacity exceeded: $fin")
      // any item with true count > N/capacity = 10 is guaranteed
      // tracked; a sits exactly at N/m here but survives because every
      // challenger inherits from the smaller counter — and its count
      // is exact (never evicted: err = 0)
      assert(fin.contains("a") && fin("a") == (10L, 0L, 1L, 0L), s"got $fin")
      // every tracked count over-estimates by at most its recorded
      // error: true <= occ, occ - occ_err <= true
      fin.foreach { case (g, (occ, err, docs, docsErr)) =>
        assert(occ >= truth(g), s"$g under-counted: $fin")
        assert(occ - err <= truth(g), s"$g error bound violated: $fin")
        assert(docs - docsErr <= 1L, s"$g doc-frequency bound violated: $fin")
      }
      // deterministic eviction order: the sorted singleton parade ends
      // with g holding the inherited chain (occ 10 = 1+9 inherited)
      assert(fin.contains("g") && fin("g")._1 == 10L && fin("g")._2 == 9L, s"got $fin")
    } finally q.stop()
  }
}
