package graft

import org.apache.spark.sql.functions.{col, posexplode}

import graft.streaming.StreamParity
import graft.operators.{Analytics, RefDemos, TextDemos}

/** D-series stream-batch parity (SURVEY §2 D1/D5/D6): the finite
  * replay of each streaming pipeline must produce VALUE-IDENTICAL
  * output to its batch twin — the same check the driver runs against
  * the DuckDB oracle at sf0.01, here asserted in-JVM at sf0.001 so
  * `sbt test` catches a drift without the driver. */
class StreamParitySpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("D1 parity: streamed window agg state equals batch time_window_agg") {
    val streamed = rows(StreamParity.streamWindowParity(spark, sfDir))
    val batch = rows(Analytics.timeWindowAgg(spark, sfDir))
    assert(streamed.nonEmpty && streamed == batch,
      s"stream=${streamed.take(3)}... batch=${batch.take(3)}...")
  }

  test("D7 parity: incremental ngram counters derive the exact batch top-25") {
    val streamed = rows(StreamParity.streamTopkNgramsParity(spark, sfDir))
    val batch = rows(TextDemos.topkNgrams(spark, sfDir))
    assert(streamed.nonEmpty && streamed == batch,
      s"stream=${streamed.take(3)}... batch=${batch.take(3)}...")
  }

  test("D7 parity: an empty staged input commits no batch and yields an empty top-25") {
    // pre-stage this dir's replay (StreamParity's `stkn_<dir name>`
    // fixture) as an input with no files: the stream commits zero
    // batches, so the update-log sink is never written
    val dir = tempDir("stkn_empty")
    sources.Tables.documents(spark, sfDir).limit(0)
      .write.parquet(s"$dir/documents.parquet")
    val staged = graft.util.Fixtures.dir(
      s"stkn_${new java.io.File(dir).getName}")
    java.nio.file.Files.createDirectories(staged.resolve("input"))
    graft.util.Fixtures.buildOnce(staged)(())
    val top = StreamParity.streamTopkNgramsParity(spark, dir)
    assert(top.columns.toSeq == Seq("ngram", "n_occurrences", "n_docs"))
    assert(top.collect().isEmpty)
  }

  test("D8 parity: streaming decontamination gate lands on the batch contamination check") {
    val streamed = rows(StreamParity.streamContaminationParity(spark, sfDir))
    val batch = rows(TextDemos.contaminationCheck(spark, sfDir))
    assert(streamed.nonEmpty && streamed == batch,
      s"stream=${streamed.take(3)}... batch=${batch.take(3)}...")
  }

  test("D9 parity: streaming quality gate lands on the batch C4 aggregate") {
    val streamed = rows(StreamParity.streamQualityGateParity(spark, sfDir))
    val batch = rows(
      graft.streaming.EventStream.qualityGateCounts(
          TextDemos.c4SynthPages(sources.Tables.documents(spark, sfDir)),
          "doc_id", "page", "source")
        .orderBy("source", "kept"))
    assert(streamed.nonEmpty && streamed == batch,
      s"stream=${streamed.take(3)}... batch=${batch.take(3)}...")
  }

  test("D15 parity: streamed takedown requests sweep the exact batch removal set") {
    val streamed = rows(StreamParity.streamTakedownParity(spark, sfDir))
    val batch = rows(TextDemos.takedownPropagateDemo(spark, sfDir)
      .select(col("doc_id"), col("cluster")).orderBy("doc_id"))
    assert(streamed.nonEmpty && streamed == batch,
      s"stream=${streamed.take(3)}... batch=${batch.take(3)}...")
  }

  test("D11 parity: streamed drift histogram lands on the batch PSI verbatim") {
    val streamed = rows(StreamParity.streamDriftParity(spark, sfDir))
    val batch = rows(TextDemos.corpusDrift(spark, sfDir))
    assert(streamed.nonEmpty && streamed == batch,
      s"stream=${streamed.take(3)}... batch=${batch.take(3)}...")
  }

  test("D12 parity: streamed reliability counters land on the batch calibration") {
    val streamed = rows(StreamParity.streamCalibrationParity(spark, sfDir))
    val batch = rows(TextDemos.qualityCalibration(spark, sfDir))
    assert(streamed.nonEmpty && streamed == batch,
      s"stream=${streamed.take(3)}... batch=${batch.take(3)}...")
  }

  test("D10 parity: streamed KMV sketch equals the batch sketch of the corpus") {
    val streamed = rows(StreamParity.streamKmvSketchParity(spark, sfDir))
    val batch = rows(
      graft.streaming.EventStream.corpusSketch(
          sources.Tables.documents(spark, sfDir), "text", k = 1024,
          tokenHash = graft.functions.Vec.md5Hash60)
        .select(posexplode(col("kmv")).as(Seq("pos", "h")))
        .select(col("pos").cast("long").as("pos"), col("h"))
        .orderBy("pos"))
    assert(streamed.nonEmpty && streamed == batch,
      s"stream=${streamed.take(3)}... batch=${batch.take(3)}...")
  }

  test("D5 parity: upsert sink's final snapshot renders A12's wrapped export") {
    val streamed = rows(StreamParity.streamUpsertParity(spark, sfDir))
    val batch = rows(RefDemos.wrappedExport(spark, sfDir))
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("D2 parity: doubled stream dedups back to the exact table") {
    val streamed = StreamParity.streamDedupStateParity(spark, sfDir)
    val batch = spark.read.parquet(s"$sfDir/events.parquet")
    assert(streamed.count() == batch.count())
    assert(rows(streamed) ==
      rows(graft.sources.Tables.events(spark, sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("event_id")))
  }

  test("D4 parity: streamed interval join emits the batch time-range join's pair set") {
    import org.apache.spark.sql.functions._
    val streamed = rows(StreamParity.streamIntervalJoinParity(spark, sfDir))
    val ev = graft.sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val e = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id"), col("ts").as("e_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value").as("p_value"))
    val batch = rows(e.join(p,
        col("user_id") === col("p_user") &&
          col("p_ts") <= col("e_ts") &&
          col("p_ts") >= col("e_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("event_id"), col("e_ts"), col("p_ts"), col("p_value"))
      .orderBy("event_id", "p_ts"))
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("D3 parity: stateful sessionization emits exactly the closed-session set") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val streamed = rows(StreamParity.streamSessionParity(spark, sfDir))
    // batch twin with the operator's emission semantics: ms-truncated
    // times; every session closed by a successor event emits, each
    // user's last session only if its timeout beat the final watermark
    val ev = graft.sources.Tables.events(spark, sfDir).select(col("user_id"),
      timestamp_micros(expr("unix_micros(ts) div 1000 * 1000")).as("ts"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val gapMs = 30L * 60 * 1000
    val sess = ev
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("new_sess", when(col("prev").isNull ||
        (unix_millis(col("ts")) - unix_millis(col("prev"))) > gapMs, 1L).otherwise(0L))
      .withColumn("sid", sum(col("new_sess")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .withColumn("last_sid",
        max(col("sid")).over(Window.partitionBy(col("user_id"))))
    val wmMs = ev.agg(max(unix_millis(col("ts")))).head.getLong(0) - 3600000L
    val batch = rows(sess
      .filter(col("sid") < col("last_sid") ||
        unix_millis(col("session_end")) + gapMs < wmMs)
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
      .orderBy("user_id", "session_start"))
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("D6 parity: streamed+compacted dedup pair set equals batch minhash LSH") {
    val streamed = rows(StreamParity.streamDedupParity(spark, sfDir))
    val batch = rows(TextDemos.dedupMinhashLsh(spark, sfDir))
    graft.util.CacheRegistry.releaseAll()
    assert(streamed.nonEmpty && streamed == batch)
  }
}
