package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.io.WrappedPublish

/** A12's wrapped publish as a DSv2 sink (`graft-wrapped`):
  * snapshot/pointer layout + content parity with the wrappedFrame
  * contract, the sink-declared clustering
  * (RequiresDistributionAndOrdering), commit-protocol atomicity on
  * failure, overwrite/append semantics, the change gate, and input
  * validation. */
class WrappedSinkSpec extends SparkSpec {
  import spark.implicits._

  private def sampleDf = Seq(
    ("north", 1L, "alice", 1.5), ("south", 2L, "bob", 2.5),
    ("north", 3L, "carol", 3.5), ("west", 4L, "dan", 4.5),
    ("south", 5L, "erin", 5.5), ("north", 6L, "frank", 6.5)
  ).toDF("county", "id", "name", "score")

  private def hfs(dir: String) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** resolve the published snapshot like a reader would. */
  private def currentDir(dir: String): String =
    WrappedPublish.resolveCurrent(hfs(dir), new Path(dir))
      .getOrElse(fail(s"no committed snapshot under $dir")).toString

  private def currentFiles(dir: String): Seq[String] =
    new java.io.File(new java.net.URI(
      currentDir(dir)).getPath).list().sorted.toSeq

  private def readWrapped(dir: String) = {
    val schema = "county string, total long, rows array<struct<id:long,name:string,score:double>>"
    spark.read.schema(schema).json(s"${currentDir(dir)}/*.json")
  }

  private def snapshotNames(dir: String): Seq[String] = {
    val f = new java.io.File(dir, "snapshots")
    Option(f.list()).map(_.sorted.toSeq).getOrElse(Seq.empty)
  }

  test("A12 DSv2 sink: per-group wrapped files from ROUND-ROBIN input (sink plans its own shuffle)") {
    val dir = tempDir("wrapped_sink")
    // repartition(5) scatters every group across partitions — if the
    // sink's declared clustering were not enforced, two partitions
    // would emit the same group file and the driver commit would
    // refuse the duplicate. Success here IS the distribution proof.
    sampleDf.repartition(5).write.format("graft-wrapped")
      .option("groupCol", "county").mode("append").save(dir)
    val files = currentFiles(dir)
    assert(files.filter(_.endsWith(".json")) == Seq("north.json", "south.json", "west.json"))
    assert(files.contains("_SUCCESS"))
    assert(!new java.io.File(dir, "_temporary").exists())
    // the pointer file names the snapshot a reader resolves
    val ptr = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "current")), "UTF-8").trim
    assert(currentDir(dir).endsWith(ptr))
    val back = readWrapped(dir).orderBy("county").collect()
    assert(back.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("north", 3L), ("south", 2L), ("west", 1L)))
    // row content parity with the wrappedFrame contract (sets: intra-
    // group order is the shuffle's, not part of the contract)
    val northRows = back(0).getSeq[org.apache.spark.sql.Row](2)
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(northRows == Set((1L, "alice", 1.5), (3L, "carol", 3.5), (6L, "frank", 6.5)))
    // the snapshot _SUCCESS manifest lists the group files
    assert(WrappedPublish.manifest(hfs(dir), new Path(currentDir(dir))) ==
      Seq("north.json", "south.json", "west.json"))
  }

  test("A12 DSv2 sink: overwrite republishes as a NEW snapshot; append onto an existing group refuses WITHOUT unpublishing") {
    val dir = tempDir("wrapped_over")
    sampleDf.write.format("graft-wrapped")
      .option("groupCol", "county").mode("append").save(dir)
    val firstSnap = currentDir(dir)
    // re-publishing the same groups without overwrite must refuse —
    // and the refusal must leave the prior publish fully intact and
    // still marked (the r9 ADVICE hazard: a refused append used to
    // drop _SUCCESS first and strand the layout unpublished)
    val e = intercept[Exception] {
      sampleDf.write.format("graft-wrapped")
        .option("groupCol", "county").mode("append").save(dir)
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("overwrite")), msgs(e))
    assert(currentDir(dir) == firstSnap, "refusal must not move the pointer")
    assert(readWrapped(dir).count() == 3, "prior publish still committed and readable")
    // overwrite with a DIFFERENT group set: a reader now resolves only
    // the new groups; the old snapshot survives as history
    sampleDf.filter(col("county") =!= "west").write.format("graft-wrapped")
      .option("groupCol", "county").mode("overwrite").save(dir)
    assert(currentFiles(dir).filter(_.endsWith(".json")) == Seq("north.json", "south.json"))
    assert(readWrapped(dir).count() == 2)
    assert(snapshotNames(dir).size == 2, "prior snapshot retained as history")
    // retention: an overwrite under retain=1 leaves only the newest
    sampleDf.write.format("graft-wrapped")
      .option("groupCol", "county").option("retain", "1")
      .mode("overwrite").save(dir)
    assert(snapshotNames(dir).size == 1)
    assert(readWrapped(dir).count() == 3)
  }

  test("A12 DSv2 sink: a failing task aborts the job without touching the published layout") {
    val dir = tempDir("wrapped_abort")
    sampleDf.write.format("graft-wrapped")
      .option("groupCol", "county").mode("append").save(dir)
    val before = currentDir(dir)
    // a poisoned row detonates mid-write, after other groups' temp
    // files may already exist — the published layout must not change
    // and no temp debris may survive the abort
    val poisoned = sampleDf.withColumn("name",
      when(col("name") === "erin", raise_error(lit("boom"))).otherwise(col("name")))
    intercept[Exception] {
      poisoned.write.format("graft-wrapped")
        .option("groupCol", "county").mode("overwrite").save(dir)
    }
    assert(currentDir(dir) == before, "pointer moved on an aborted write")
    assert(!new java.io.File(dir, "_temporary").exists(), "temp debris survived abort")
    assert(readWrapped(dir).count() == 3, "previous publish still reads back whole")
  }

  test("A12 DSv2 sink: append carries prior groups into the new snapshot; null vs literal \"__null__\"; NaN stays valid JSON") {
    val dir = tempDir("wrapped_edge")
    sampleDf.write.format("graft-wrapped")
      .option("groupCol", "county").mode("append").save(dir)
    // appending a DISJOINT group republishes prior groups + the new one
    Seq(("east", 9L, "zed", Double.NaN)).toDF("county", "id", "name", "score")
      .write.format("graft-wrapped").option("groupCol", "county")
      .mode("append").save(dir)
    val cur = currentDir(dir)
    assert(WrappedPublish.manifest(hfs(dir), new Path(cur)) ==
      Seq("east.json", "north.json", "south.json", "west.json"))
    // NaN serialized QUOTED: strict JSON parsers accept the file
    val east = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(new java.net.URI(cur).getPath, "east.json")), "UTF-8")
    assert(east.contains("\"score\": \"NaN\""), east)
    val parsed = spark.read.json(s"$cur/east.json")
    assert(!parsed.columns.contains("_corrupt_record"), parsed.columns.toSeq)
    // a null group and a doc whose group is literally the STRING
    // "__null__" are different groups: distinct files, no silent merge
    val dir2 = tempDir("wrapped_nullstr")
    Seq((Option.empty[String], 1L), (Option("__null__"), 2L), (Option.empty[String], 3L))
      .toDF("grp", "v").write.format("graft-wrapped")
      .option("groupCol", "grp").mode("append").save(dir2)
    val files2 = currentFiles(dir2).filter(_.endsWith(".json"))
    assert(files2.size == 2, files2)
    assert(files2.contains("__null__.json"))
    val litFile = files2.filterNot(_ == "__null__.json").head
    assert(litFile.startsWith("__null__-"), s"literal string must hash-disambiguate: $litFile")
    val base2 = new java.net.URI(currentDir(dir2)).getPath
    val nullObj = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(base2, "__null__.json")), "UTF-8")
    assert(nullObj.contains("\"grp\": null") && nullObj.contains("\"total\": 2"), nullObj)
    val litObj = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(base2, litFile)), "UTF-8")
    assert(litObj.contains("\"grp\": \"__null__\"") && litObj.contains("\"total\": 1"), litObj)
  }

  test("A12 DSv2 sink: change-gated batch publish — an identical overwrite mints no snapshot") {
    val dir = tempDir("wrapped_gate")
    // one row per group: byte-identity of a republish must not depend
    // on intra-group row order (which the sink's sort does not pin)
    def gateDf(bump: Double) = Seq(
      ("north", 1L, "alice", 1.5 + bump), ("south", 2L, "bob", 2.5 + bump),
      ("west", 3L, "dan", 4.5 + bump)).toDF("county", "id", "name", "score")
    def publish(bump: Double): Unit = gateDf(bump).write.format("graft-wrapped")
      .option("groupCol", "county").option("publishIfChanged", "true")
      .mode("overwrite").save(dir)
    publish(0.0)
    val firstSnaps = snapshotNames(dir)
    val firstCur = currentDir(dir)
    assert(firstSnaps.size == 1)
    // byte-identical republish: zero new dirs, pointer untouched
    publish(0.0)
    assert(snapshotNames(dir) == firstSnaps, "unchanged republish minted a snapshot")
    assert(currentDir(dir) == firstCur)
    // a changed value DOES publish
    publish(1.0)
    assert(snapshotNames(dir).size == 2, "changed republish must publish")
    assert(currentDir(dir) != firstCur)
  }

  test("A12 DSv2 sink streaming: per-epoch snapshots, current pointer, retention") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = tempDir("wrapped_stream")
    val ckpt = tempDir("wrapped_stream_ckpt")
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Long)]
    val agg = ms.toDF.toDF("county", "v").groupBy("county")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    val q = agg.writeStream.format("graft-wrapped")
      .option("groupCol", "county").option("retain", "2")
      .option("checkpointLocation", ckpt)
      .outputMode("complete").start(dir)
    try {
      ms.addData(("north", 1L), ("south", 2L)); q.processAllAvailable()
      ms.addData(("north", 3L)); q.processAllAvailable()
      ms.addData(("west", 4L)); q.processAllAvailable()
    } finally q.stop()
    // three epochs published, retain=2 keeps the newest two committed
    val snaps = snapshotNames(dir)
    assert(snaps.size == 2, snaps)
    assert(snaps.forall(n => new java.io.File(s"$dir/snapshots/$n/_SUCCESS").exists()))
    // the current pointer names the newest snapshot
    val ptr = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "current")), "UTF-8").trim
    assert(ptr == snaps.last, s"pointer $ptr vs ${snaps.last}")
    // complete-mode republish: the pointed snapshot carries ALL state
    val schema = "county string, total long, rows array<struct<n:long,s:long>>"
    val cur = spark.read.schema(schema).json(s"$dir/snapshots/$ptr/*.json")
      .orderBy("county").collect()
    assert(cur.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("north", 1L), ("south", 1L), ("west", 1L)))
    val north = cur(0).getSeq[org.apache.spark.sql.Row](2).head
    assert(north.getLong(0) == 2L && north.getLong(1) == 4L, north) // n=2 rows, sum=1+3
    // no temp debris
    assert(!new java.io.File(dir, "_temporary").exists())
  }

  test("A12 DSv2 sink: batch-after-streaming publishes take later-sorting slots (retention keeps the batch publish)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = tempDir("wrapped_mixed")
    val ckpt = tempDir("wrapped_mixed_ckpt")
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Long)]
    val agg = ms.toDF.toDF("county", "v").groupBy("county")
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("graft-wrapped")
      .option("groupCol", "county").option("checkpointLocation", ckpt)
      .outputMode("complete").start(dir)
    try {
      ms.addData(("north", 1L)); q.processAllAvailable()
      ms.addData(("south", 2L)); q.processAllAvailable()
    } finally q.stop()
    val streamed = snapshotNames(dir)
    assert(streamed.nonEmpty)
    // a BATCH overwrite on the same (now-quiet) path, with retention:
    // the old clock-based name ('b<millis>…') sorted BEFORE every 'ep'
    // snapshot, so retention evicted the just-published batch snapshot
    // and the pointer fallback preferred stale streaming state — the
    // slot-numbered name must sort AFTER everything already there
    sampleDf.write.format("graft-wrapped")
      .option("groupCol", "county").option("retain", "1")
      .mode("overwrite").save(dir)
    val after = snapshotNames(dir)
    assert(after.size == 1, s"retain=1 must keep exactly the batch publish: $after")
    assert(streamed.forall(_ < after.head),
      s"batch snapshot ${after.head} must sort after streamed $streamed")
    val ptr = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "current")), "UTF-8").trim
    assert(ptr == after.head, s"pointer $ptr must name the batch publish")
    // and the published content is the batch data, resolvable by a reader
    val root = new org.apache.hadoop.fs.Path(dir)
    val resolved = graft.io.WrappedPublish.resolveCurrent(
      root.getFileSystem(spark.sessionState.newHadoopConf()), root)
    assert(resolved.exists(_.getName == after.head), resolved.toString)
  }

  test("A12 DSv2 sink: streaming-after-batch epochs take later-sorting slots (retention keeps the newest streaming publish)") {
    import org.apache.spark.sql.types._
    val dir = tempDir("wrapped_mixed_rev")
    // two BATCH publishes land first (slots 0 and 1)
    sampleDf.write.format("graft-wrapped")
      .option("groupCol", "county").mode("overwrite").save(dir)
    sampleDf.write.format("graft-wrapped")
      .option("groupCol", "county").mode("overwrite").save(dir)
    val batched = snapshotNames(dir)
    assert(batched.size == 2)
    // a FRESH streaming query restarts epochs at 0: an un-based ep0
    // name sorted BEFORE the batch slots, so retention's name-ordered
    // dropRight evicted the newest streaming snapshots while keeping
    // stale batch ones — the per-query base slot must push epoch 0
    // past everything already committed
    val schema = new StructType().add("grp", StringType).add("v", LongType)
    val w = new graft.io.WrappedJsonWrite(dir, schema, "grp", "qS", false, retain = 2)
    val sw = w.toStreaming
    def stageTemp(ep: Long, content: String): String = {
      val t = java.nio.file.Paths.get(dir, s"_temporary/qS/ep$ep/p0-t0-g.json")
      java.nio.file.Files.createDirectories(t.getParent)
      java.nio.file.Files.write(t, content.getBytes("UTF-8"))
      t.toString
    }
    sw.commit(0L, Array(graft.io.WrappedCommit(Seq(
      stageTemp(0, """{"grp": "g", "total": 1, "rows": [{"v": 1}]}""") -> "g.json"))))
    val after0 = snapshotNames(dir)
    assert(batched.forall(b => b < after0.last),
      s"streaming ep0 ${after0.last} must sort after batch $batched")
    sw.commit(1L, Array(graft.io.WrappedCommit(Seq(
      stageTemp(1, """{"grp": "g", "total": 2, "rows": [{"v": 1}, {"v": 2}]}""") -> "g.json"))))
    // retain=2: the two STREAMING snapshots survive, both batch ones evicted
    val kept = snapshotNames(dir)
    assert(kept.size == 2 && kept.forall(n => batched.forall(_ < n)), kept)
    val ptr = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "current")), "UTF-8").trim
    assert(ptr == kept.last, s"pointer $ptr must name the newest streaming publish")
    // a REPLAY of epoch 1 (same query id, fresh Write instance — a
    // restart) resolves the SAME slot via the persisted base: no-op
    val sw2 = new graft.io.WrappedJsonWrite(dir, schema, "grp", "qS", false,
      retain = 2).toStreaming
    sw2.commit(1L, Array(graft.io.WrappedCommit(Seq(
      stageTemp(1, """{"grp": "g", "total": 99, "rows": []}""") -> "g.json"))))
    assert(snapshotNames(dir) == kept, "replayed epoch after restart minted a snapshot")
  }

  test("A12 DSv2 sink streaming: a half-written (empty) base file recovers instead of wedging") {
    import org.apache.spark.sql.types._
    val dir = tempDir("wrapped_base_crash")
    spark.range(1).count()
    // a crash between create and close leaves an existing EMPTY base
    // file; every later commit used to throw NumberFormatException from
    // .trim.toLong, permanently wedging the stream
    val bp = java.nio.file.Paths.get(dir, "_epochs/base-qC")
    java.nio.file.Files.createDirectories(bp.getParent)
    java.nio.file.Files.write(bp, Array.empty[Byte])
    val schema = new StructType().add("grp", StringType).add("v", LongType)
    val sw = new graft.io.WrappedJsonWrite(dir, schema, "grp", "qC", false,
      retain = Int.MaxValue).toStreaming
    def stageTemp(ep: Long, content: String): String = {
      val t = java.nio.file.Paths.get(dir, s"_temporary/qC/ep$ep/p0-t0-g.json")
      java.nio.file.Files.createDirectories(t.getParent)
      java.nio.file.Files.write(t, content.getBytes("UTF-8"))
      t.toString
    }
    sw.commit(0L, Array(graft.io.WrappedCommit(Seq(
      stageTemp(0, """{"grp": "g", "total": 1, "rows": [{"v": 1}]}""") -> "g.json"))))
    assert(snapshotNames(dir) == Seq(f"ep${0L}%019d"),
      "empty base must be treated as absent and recomputed")
    // and the recovered base file is now durable + parseable
    assert(new String(java.nio.file.Files.readAllBytes(bp), "UTF-8").trim == "0")
    // a replay still resolves the same slot through the recovered base
    sw.commit(0L, Array(graft.io.WrappedCommit(Seq(
      stageTemp(0, """{"grp": "g", "total": 9, "rows": []}""") -> "g.json"))))
    assert(snapshotNames(dir).size == 1)
  }

  test("A12 DSv2 sink streaming: a batch publish interleaved at a tied slot refuses loudly") {
    import org.apache.spark.sql.types._
    val dir = tempDir("wrapped_slot_tie")
    spark.range(1).count()
    val schema = new StructType().add("grp", StringType).add("v", LongType)
    val sw = new graft.io.WrappedJsonWrite(dir, schema, "grp", "qT", false,
      retain = Int.MaxValue).toStreaming
    def stageTemp(ep: Long, content: String): String = {
      val t = java.nio.file.Paths.get(dir, s"_temporary/qT/ep$ep/p0-t0-g.json")
      java.nio.file.Files.createDirectories(t.getParent)
      java.nio.file.Files.write(t, content.getBytes("UTF-8"))
      t.toString
    }
    // stream bases at 0 and publishes epoch 0 → slot 0
    sw.commit(0L, Array(graft.io.WrappedCommit(Seq(
      stageTemp(0, """{"grp": "g", "total": 1, "rows": [{"v": 1}]}""") -> "g.json"))))
    // a batch publish interleaves mid-lifetime: takes slot 1 (ep…1-<qid>)
    sampleDf.write.format("graft-wrapped")
      .option("groupCol", "county").mode("overwrite").save(dir)
    assert(snapshotNames(dir).exists(_.startsWith(f"ep${1L}%019d-")))
    // streaming epoch 1 resolves to the SAME slot number: the commit
    // must refuse (order at a tied slot is name-ambiguous), not publish
    val e = intercept[IllegalStateException] {
      sw.commit(1L, Array(graft.io.WrappedCommit(Seq(
        stageTemp(1, """{"grp": "g", "total": 2, "rows": [{"v": 2}]}""") -> "g.json"))))
    }
    assert(e.getMessage.contains("interleaved"), e.getMessage)
    assert(!snapshotNames(dir).contains(f"ep${1L}%019d"),
      "the refused epoch must not publish")
  }

  test("A12 DSv2 sink streaming: change-gated epochs — unchanged state mints no snapshot, replay of a skipped epoch is a no-op") {
    import org.apache.spark.sql.types._
    val dir = tempDir("wrapped_stream_gate")
    spark.range(1).count() // ensure an active session for the sink's conf capture
    val schema = new StructType().add("grp", StringType).add("v", LongType)
    val w = new graft.io.WrappedJsonWrite(dir, schema, "grp", "q1", false,
      retain = Int.MaxValue, publishIfChanged = true)
    val sw = w.toStreaming
    def stageTemp(ep: Long, content: String): String = {
      val t = java.nio.file.Paths.get(dir, s"_temporary/q1/ep$ep/p0-t0-g.json")
      java.nio.file.Files.createDirectories(t.getParent)
      java.nio.file.Files.write(t, content.getBytes("UTF-8"))
      t.toString
    }
    val body = """{"grp": "g", "total": 1, "rows": [{"v": 1}]}"""
    sw.commit(1L, Array(graft.io.WrappedCommit(Seq(stageTemp(1, body) -> "g.json"))))
    assert(snapshotNames(dir).size == 1)
    // epoch 2 carries IDENTICAL bytes: no new snapshot, pointer stays,
    // but the epoch records itself committed
    sw.commit(2L, Array(graft.io.WrappedCommit(Seq(stageTemp(2, body) -> "g.json"))))
    assert(snapshotNames(dir).size == 1, "unchanged epoch minted a snapshot")
    assert(new java.io.File(dir, "_epochs").list()
      .count(_.endsWith(".unchanged")) == 1) // beside the base-<qid> slot file
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_temporary/q1/ep2")))
    // replaying the SKIPPED epoch after a crash: still a no-op
    sw.commit(2L, Array(graft.io.WrappedCommit(Seq(stageTemp(2, body) -> "g.json"))))
    assert(snapshotNames(dir).size == 1)
    // epoch 3 with different bytes publishes
    sw.commit(3L, Array(graft.io.WrappedCommit(Seq(
      stageTemp(3, """{"grp": "g", "total": 2, "rows": [{"v": 1}, {"v": 2}]}""") -> "g.json"))))
    assert(snapshotNames(dir).size == 2)
  }

  test("A12 DSv2 sink streaming: a replayed epoch is a no-op — and finishes a half-done pointer swap") {
    import org.apache.spark.sql.types._
    val dir = tempDir("wrapped_replay")
    spark.range(1).count() // ensure an active session for the sink's conf capture
    val schema = new StructType().add("grp", StringType).add("v", LongType)
    val w = new graft.io.WrappedJsonWrite(dir, schema, "grp", "q1", false)
    val sw = w.toStreaming
    def stageTemp(ep: Long, content: String): String = {
      val t = java.nio.file.Paths.get(dir, s"_temporary/q1/ep$ep/p0-t0-g.json")
      java.nio.file.Files.createDirectories(t.getParent)
      java.nio.file.Files.write(t, content.getBytes("UTF-8"))
      t.toString
    }
    val first = stageTemp(7, """{"grp": "g", "total": 1, "rows": [{"v": 1}]}""")
    sw.commit(7L, Array(graft.io.WrappedCommit(Seq(first -> "g.json"))))
    val snap = snapshotNames(dir).head
    val out = java.nio.file.Paths.get(dir, s"snapshots/$snap/g.json")
    val committed = new String(java.nio.file.Files.readAllBytes(out), "UTF-8")
    // recovery replays epoch 7 with DIFFERENT bytes: must be ignored
    val replay = stageTemp(7, """{"grp": "g", "total": 99, "rows": []}""")
    sw.commit(7L, Array(graft.io.WrappedCommit(Seq(replay -> "g.json"))))
    assert(new String(java.nio.file.Files.readAllBytes(out), "UTF-8") == committed,
      "replayed epoch must not overwrite the committed snapshot")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_temporary/q1/ep7")),
      "replay temps are swept")
    assert(snapshotNames(dir).size == 1)
    // crash-between-marker-and-swap: epoch 8 commits its snapshot but
    // the pointer is (simulated) still on epoch 7 — the REPLAY of
    // epoch 8 must re-point instead of returning early (r9 ADVICE)
    val e8 = stageTemp(8, """{"grp": "g", "total": 2, "rows": [{"v": 1}, {"v": 2}]}""")
    sw.commit(8L, Array(graft.io.WrappedCommit(Seq(e8 -> "g.json"))))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "current"),
      snap.getBytes("UTF-8")) // wind the pointer back to epoch 7's snapshot
    sw.commit(8L, Array(graft.io.WrappedCommit(Seq(
      stageTemp(8, "ignored") -> "g.json"))))
    val ptr = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "current")), "UTF-8").trim
    assert(ptr == snapshotNames(dir).last, s"replay must finish the pointer swap: $ptr")
  }

  test("A12 DSv2 sink: a FileContext rename that throws still swaps the pointer and names the exception") {
    val dir = tempDir("wrapped_fc_refused")
    val child = spark.newSession()
    child.conf.set("fs.AbstractFileSystem.file.impl", classOf[RenameRefusingFs].getName)
    child.conf.set("fs.file.impl.disable.cache", "true") // a FileSystem that carries this conf
    val err = new java.io.ByteArrayOutputStream()
    val prior = org.apache.spark.sql.SparkSession.getActiveSession
    org.apache.spark.sql.SparkSession.setActiveSession(child)
    try Console.withErr(err) {
      child.createDataFrame(Seq(("north", 1L), ("south", 2L))).toDF("county", "id")
        .write.format("graft-wrapped").option("groupCol", "county").mode("overwrite").save(dir)
    } finally prior match {
      case Some(s) => org.apache.spark.sql.SparkSession.setActiveSession(s)
      case None => org.apache.spark.sql.SparkSession.clearActiveSession()
    }
    assert(currentDir(dir).endsWith(snapshotNames(dir).last), "the pointer must still swap")
    assert(err.toString.contains("java.io.IOException: rename refused"), err.toString)
  }

  test("A12 DSv2 sink: null + unsafe group values, name-collision detection, option and schema validation") {
    val dir = tempDir("wrapped_names")
    Seq((Option("a/b"), 1L), (Option.empty[String], 2L), (Option("ok"), 3L))
      .toDF("grp", "v").write.format("graft-wrapped")
      .option("groupCol", "grp").mode("append").save(dir)
    val files = currentFiles(dir).filter(_.endsWith(".json"))
    assert(files.contains("ok.json"))
    assert(files.contains("__null__.json"))
    // "a/b" sanitizes with a disambiguating hash, never a subdirectory
    assert(files.exists(f => f.startsWith("a_b-") && f.endsWith(".json")), files)
    val base = new java.net.URI(currentDir(dir)).getPath
    assert(!new java.io.File(base, "a").exists())
    val nullObj = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(base, "__null__.json")), "UTF-8")
    assert(nullObj.contains("\"grp\": null"), nullObj)
    // the fileSafe residual edge: a raw value that IS another value's
    // sanitized+hashed name must refuse with the collision cause, not
    // overwrite silently or die on a misleading clustering error
    val hashed = "a_b-" + Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash("a/b"))
    val e0 = intercept[Exception] {
      Seq((Option("a/b"), 1L), (Option(hashed), 2L))
        .toDF("grp", "v").coalesce(1).write.format("graft-wrapped")
        .option("groupCol", "grp").mode("append").save(tempDir("wrapped_clash"))
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e0).exists(_.contains("sanitization")), msgs(e0))
    // missing groupCol and nested columns are named in the refusal
    val e1 = intercept[Exception] {
      sampleDf.write.format("graft-wrapped").mode("append").save(tempDir("wrapped_e1"))
    }
    assert(e1.getMessage.contains("groupCol"), e1.getMessage)
    val e2 = intercept[Exception] {
      sampleDf.withColumn("nested", array(col("id")))
        .write.format("graft-wrapped").option("groupCol", "county")
        .mode("append").save(tempDir("wrapped_e2"))
    }
    assert(e2.getMessage.contains("nested"), e2.getMessage)
  }

  test("A12c: WrappedPublish.read round-trips the sink's publish, typed") {
    val dir = tempDir("wrapped_read")
    val in = Seq(
      ("north", 1L, 10.5, true), ("north", 2L, -0.25, false),
      ("south", 3L, 3.0, true))
      .toDF("county", "id", "score", "ok")
    in.write.format("graft-wrapped").option("groupCol", "county")
      .mode("overwrite").save(dir)
    val back = WrappedPublish.read(spark, dir)
    // wrapper total attached per group, payload typed by inference
    val got = back.select("county", "total", "id", "score", "ok")
      .as[(String, Long, Long, Double, Boolean)].collect().toSet
    assert(got == Set(
      ("north", 2L, 1L, 10.5, true), ("north", 2L, 2L, -0.25, false),
      ("south", 1L, 3L, 3.0, true)))
    // a second publish is what read resolves after overwrite
    in.filter($"county" === "south").write.format("graft-wrapped")
      .option("groupCol", "county").mode("overwrite").save(dir)
    assert(WrappedPublish.read(spark, dir).count() == 1)
  }

  test("A12c: time travel — any committed snapshot reads back by name") {
    val dir = tempDir("wrapped_tt")
    def publish(rows: Seq[(String, Long)]): Unit =
      rows.toDF("county", "id").write.format("graft-wrapped")
        .option("groupCol", "county").mode("overwrite").save(dir)
    publish(Seq(("a", 1L), ("a", 2L)))
    publish(Seq(("b", 9L)))
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val names = WrappedPublish.snapshots(fs, new Path(dir))
    assert(names.length == 2 && names == names.sorted)
    // current resolves to the newest; the OLD publish stays readable by name
    assert(WrappedPublish.read(spark, dir).select("id").as[Long].collect().toSet == Set(9L))
    assert(WrappedPublish.read(spark, dir, Some(names.head))
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
    val e = intercept[IllegalArgumentException] {
      WrappedPublish.read(spark, dir, Some("ep-nope"))
    }
    assert(e.getMessage.contains("no committed snapshot 'ep-nope'"), e.getMessage)
  }

  test("A12c: payloadSchema restores declared types incl. quoted NaN doubles") {
    import org.apache.spark.sql.types._
    val dir = tempDir("wrapped_nan")
    Seq(("a", 1L, 1.5), ("a", 2L, Double.NaN), ("b", 3L, -0.25))
      .toDF("county", "id", "score")
      .write.format("graft-wrapped").option("groupCol", "county")
      .mode("overwrite").save(dir)
    // inference alone: the quoted "NaN" unifies score to string
    val inferred = WrappedPublish.read(spark, dir)
    assert(inferred.schema("score").dataType == StringType, inferred.schema.treeString)
    // declared payload schema: doubles stay doubles, NaN included
    val typed = WrappedPublish.read(spark, dir, payloadSchema = Some(
      new StructType().add("id", LongType).add("score", DoubleType)))
    assert(typed.schema("score").dataType == DoubleType, typed.schema.treeString)
    val got = typed.select("id", "score").as[(Long, Double)].collect()
      .map { case (i, s) => i -> (if (s.isNaN) "nan" else s.toString) }.toSet
    assert(got == Set(1L -> "1.5", 2L -> "nan", 3L -> "-0.25"))
  }

  test("A12c: total/rows name collisions refuse at WRITE time") {
    val e1 = intercept[Exception] {
      Seq(("a", 1L)).toDF("total", "id")
        .write.format("graft-wrapped").option("groupCol", "total")
        .mode("overwrite").save(tempDir("wrapped_res1"))
    }
    assert(e1.getMessage.contains("collides with the wrapper"), e1.getMessage)
    val e2 = intercept[Exception] {
      Seq(("a", 1L)).toDF("county", "total")
        .write.format("graft-wrapped").option("groupCol", "county")
        .mode("overwrite").save(tempDir("wrapped_res2"))
    }
    assert(e2.getMessage.contains("total/rows"), e2.getMessage)
  }

  test("A12c: read refuses a path with no committed snapshot") {
    val e = intercept[IllegalStateException] {
      WrappedPublish.read(spark, tempDir("wrapped_read_none"))
    }
    assert(e.getMessage.contains("no committed snapshot"), e.getMessage)
  }
}

/** a local FileContext whose renames throw */
class RenameRefusingFs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(uri,
      new org.apache.hadoop.fs.RawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit =
    throw new java.io.IOException("rename refused")
}
