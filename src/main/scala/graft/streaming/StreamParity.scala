package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.Tables
import graft.util.Fixtures

/** Driver-checkable stream-batch parity (SURVEY §2 D).
  *
  * The six streaming components were spec-gated only: no CORRECTNESS
  * row proved a streaming plan's OUTPUT. These three demos close that
  * tier for the components with batch twins — each replays a test
  * table through the REAL streaming pipeline as a finite stream
  * (file source staged as N parquet files, `maxFilesPerTrigger`
  * micro-batching, `Trigger.AvailableNow`), then returns the final
  * sink state as a DataFrame, value-checked by the driver against the
  * batch twin's DuckDB oracle:
  *
  *  - [[streamWindowParity]]  D1 windowAgg          ↔ B7 time_window_agg
  *  - [[streamUpsertParity]]  D5 upsertBatch sink   ↔ A12 wrapped_export
  *  - [[streamDedupParity]]   D6 minhashDedupBatch  ↔ C2 dedup_minhash_lsh
  *
  * This is exactly the daily batch loop the streams replace
  * (reference entrypoint.sh:1-62) run as one bounded stream: if the
  * incremental path and the from-scratch batch disagree anywhere, the
  * hash gate catches it.
  *
  * Scale note: the parity HARNESS is finite-replay machinery; the
  * operators under test are the production ones. The D1 check reads
  * final state through a complete-mode memory sink (bounded: one row
  * per (hour, event_type)); production D1 stays append-mode with
  * watermark eviction. Replay determinism does not depend on how the
  * engine splits files into micro-batches: windowed aggregation and
  * the upsert merge are order-free, and the dedup pair set is
  * partition-invariant (every unordered pair surfaces in exactly one
  * batch — both docs' batch, or the later doc's batch vs the index).
  */
object StreamParity {

  private def sfName(dir: String) = new java.io.File(dir).getName

  // Staged INPUT is shared per run (buildOnce), but every invocation
  // writes to a FRESH sink target: each call re-runs the whole
  // streaming pipeline, so a bench pass times the real work, never a
  // checkpoint resume of the previous pass's completed query. (A
  // shared target + persistent checkpoint would make passes 2..n
  // no-ops — structurally fake medians against a baseline that
  // computes the full answer each pass.) The per-call dirs register
  // with the Fixtures janitor like everything else.
  private val invocation = new java.util.concurrent.atomic.AtomicLong()
  private def freshTarget(key: String): String =
    Fixtures.dir(s"${key}_i${invocation.incrementAndGet()}").toString

  /** Stage a batch table as `nFiles` parquet files (run-scoped fixture,
    * written once per run) and open it as a file-source stream reading
    * `filesPerTrigger` files per micro-batch — the finite replay of an
    * unbounded ingest. */
  private def fileStream(df: DataFrame, key: String, nFiles: Int,
                         filesPerTrigger: Int): DataFrame = {
    val dir = Fixtures.dir(key)
    val input = s"$dir/input"
    Fixtures.buildOnce(dir)(
      df.repartition(nFiles).write.mode("overwrite").parquet(input))
    df.sparkSession.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(input)
  }

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily
    * lowered: every stateful streaming operator keeps one state-store
    * instance PER shuffle partition PER trigger, so the session's
    * corpus-sized default (32 here) is pure fixed overhead when the
    * keyed state is tiny — the right parallelism for stateful streams
    * tracks KEY cardinality, not batch corpus cores (at 100 TB the two
    * are sized independently; this harness makes the same choice).
    * The conf only affects queries planned inside `body`; batch plans
    * already compiled are untouched, and it is restored after.
    *
    * Sized 2, not 8, since r14: each state partition costs a
    * delta-file write + fsync + commit-validation RPC PER TRIGGER, and
    * on a host with ~4.5 ms small-file fsync (this round's, measured)
    * that fixed cost dominated every parity row — the r13→r14
    * attribution read noop-machinery 3.2 s, +state@8 = 8.1 s,
    * +state@2 = 3.0 s on identical code (the r15 re-measure is in
    * OPTIMIZATION_r15.md and BENCH_ATTRIB_r15.json). The parity key
    * cardinalities (5 priorities … ~10⁵ counters) all fit 2
    * partitions with room; production streams size this to their own
    * key volume. */
  private def withStateParallelism[T](spark: SparkSession, n: Int)(body: => T): T =
    withConfs(spark, "spark.sql.shuffle.partitions" -> n.toString)(body)

  /** awaitTermination plus a synchronous state-telemetry capture from
    * the terminated query itself ([[StreamTelemetry]]) — the listener
    * bus delivers progress asynchronously, so recording at the await
    * site is the only read that can never race a straggling event. */
  private def awaitRecorded(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.awaitTermination()
    StreamTelemetry.record(q)
  }

  /** Run `body` with session confs temporarily overridden (restored
    * after, even on failure). Only queries PLANNED inside `body` see
    * the overrides. */
  private def withConfs[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** D1 ↔ B7: the events table streamed through [[EventStream.windowAgg]]
    * (the production transform, hour windows), final state read via a
    * complete-mode memory sink. `value` pre-casts to decimal so the
    * incremental sum is order-exact against the oracle's decimal sum;
    * the watermark is set past the replay horizon — the parity question
    * is "same answer on the same data", so the late-data POLICY must
    * drop nothing (production keeps the 30-minute default). */
  def streamWindowParity(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir).select(
      col("ts"), col("event_type"),
      col("value").cast("decimal(18,4)").as("value"))
    val src = fileStream(events, s"swin_${sfName(dir)}", nFiles = 8, filesPerTrigger = 2)
    val view = s"graft_swin_${Fixtures.runId}"
    spark.catalog.dropTempView(view) // re-invocation reuses the name
    withStateParallelism(spark, 2) {
      val q = EventStream.windowAgg(src, watermark = "3650 days")
        .writeStream.format("memory").queryName(view)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      awaitRecorded(q)
    }
    spark.table(view).select(
        col("window_start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value").cast("double").as("sum_value"))
      .orderBy("hour_start", "event_type")
  }

  /** D7 ↔ C60: the documents table streamed through
    * [[EventStream.ngramHeavyHitters]] (the BOUNDED-state production
    * profile — r14's pair-keyed exact tier grew state linearly with
    * the corpus; this one is hard-capped at nBuckets×capacity
    * entries), update-mode deltas landing in a memory sink, the final
    * summary recovered as the max-seq row per (bucket, ngram), then
    * the C60 top-25 derived by a BATCH finishing aggregation. The
    * parity scales see no eviction (capacity 32k/bucket vs a 27k
    * total vocabulary at sf0.1 — vocabulary saturates, Heaps' law),
    * so every reported count is exact and order-free and the row
    * answers the topk_ngrams oracle VERBATIM; the eviction path is
    * property-tested against exact batch counts in EventStreamSpec. */
  def streamTopkNgramsParity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val src = fileStream(docs, s"stkn_${sfName(dir)}", nFiles = 8, filesPerTrigger = 2)
    // update log lands in a parquet append sink via foreachBatch, NOT a
    // memory sink (r16, guide §5: the memory sink collects every
    // trigger's full delta — ~2·2¹⁵ string-keyed rows per trigger — to
    // the DRIVER, and the final aggregation then re-parallelizes that
    // LocalRelation with per-row/per-field InternalRow conversion:
    // measured as the row's single largest CPU term, 8–14 s of 32-task
    // ParallelCollectionRDD work vs 0.3–0.6 s per StateStore stage. An
    // executor-side columnar sink keeps the log distributed end to end;
    // at 100 TB a driver-collecting sink is not survivable at all.)
    val target = freshTarget(s"stkn_tgt_${sfName(dir)}")
    withStateParallelism(spark, 2) {
      val q = EventStream.ngramHeavyHitters(src, "doc_id", "text", n = 3,
          nBuckets = 2, capacityPerBucket = 1 << 15)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[EventStream.HHUpdate], _: Long) =>
          batch.write.mode("append").parquet(s"$target/out"): Unit
        }
        .option("checkpointLocation", s"$target/ckpt")
        .outputMode("update").trigger(Trigger.AvailableNow()).start()
      awaitRecorded(q)
    }
    // zero committed batches (an empty staged input) leave no sink file
    // to infer a schema from: fall back to an empty update log
    val out = s"$target/out"
    val updates =
      if (Option(new java.io.File(out).list()).exists(_.exists(_.startsWith("part-"))))
        spark.read.parquet(out)
      else spark.emptyDataset(
        org.apache.spark.sql.Encoders.product[EventStream.HHUpdate]).toDF()
    updates
      .groupBy(col("bucket"), col("ngram"))
      .agg(max_by(struct(col("occ"), col("docs"), col("deleted")),
        col("seq")).as("f"))
      .filter(!col("f.deleted"))
      .select(col("ngram"), col("f.occ").as("n_occurrences"),
        col("f.docs").as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("ngram"))
      .limit(25)
  }

  /** D8 ↔ C21: the documents table streamed through
    * [[EventStream.contaminationGate]] against the static benchmark
    * slice (doc_id % 20, the C21 fixture), final per-doc counter
    * state read via a complete-mode memory sink. The benchmark hash
    * table is computed ONCE as a batch table (eval sets are static);
    * the per-doc ratios must land on C21's exact batch answer no
    * matter how the replay splits documents into micro-batches (each
    * doc's shingles arrive in one row, so its counters are complete
    * the moment it is processed) — answers to the
    * contamination_check oracle verbatim. */
  def streamContaminationParity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // persisted: the static side of a stream-static join re-evaluates
    // per micro-batch otherwise — 4 triggers would re-shingle and
    // re-hash the benchmark 4 times (review finding)
    val bench = graft.util.CacheRegistry.register(
      docs.filter(col("doc_id") % 20 === 0)
        .select(explode(graft.functions.Text.shingles(col("text"), 3)).as("_sh"))
        .select(graft.functions.Vec.md5Hash60(col("_sh")).as("_h"))
        .persist())
    val src = fileStream(docs, s"scontam_${sfName(dir)}", nFiles = 8, filesPerTrigger = 2)
    val view = s"graft_scontam_${Fixtures.runId}"
    spark.catalog.dropTempView(view) // re-invocation reuses the name
    withStateParallelism(spark, 2) {
      val q = EventStream.contaminationGate(src, bench, "doc_id", "text",
          shingleN = 3, flagThreshold = 0.2,
          tokenHash = graft.functions.Vec.md5Hash60)
        .writeStream.format("memory").queryName(view)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      awaitRecorded(q)
    }
    spark.table(view).orderBy("doc_id")
  }

  /** D13 ↔ C94: the C94 synthesized turn table streamed through
    * [[EventStream.sftTurnState]] (per-conversation (idx, role, empty)
    * triples collected as mergeable state), final state finalized by
    * [[graft.operators.Sft.verdictsFromTurnState]] — must equal the
    * batch validator's oracle verbatim regardless of micro-batch
    * splits (the collected list is order-free; idx restores order). */
  def streamSftGateParity(spark: SparkSession, dir: String): DataFrame = {
    val turns = graft.operators.TextDemos.sftSynthTurns(Tables.documents(spark, dir))
    val src = fileStream(turns, s"ssft_${sfName(dir)}", nFiles = 8, filesPerTrigger = 2)
    val view = s"graft_ssft_${Fixtures.runId}"
    spark.catalog.dropTempView(view) // re-invocation reuses the name
    withStateParallelism(spark, 2) {
      val q = EventStream.sftTurnState(src, "conv_id", "turn_idx", "role", "content")
        .writeStream.format("memory").queryName(view)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      awaitRecorded(q)
    }
    graft.operators.Sft.verdictsFromTurnState(spark.table(view), "conv_id")
      .orderBy("conv_id")
  }

  /** D14 ↔ C105: the planted corpus streamed through
    * [[EventStream.mojibakeGateCounts]], final (lang, flagged)
    * counters read via a complete-mode memory sink — must land on the
    * batch aggregate of the same scorer over the same docs. */
  def streamMojibakeParity(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.operators.TextDemos.mojibakePlanted(spark, dir)
    val src = fileStream(docs, s"smoji_${sfName(dir)}", nFiles = 8, filesPerTrigger = 2)
    val view = s"graft_smoji_${Fixtures.runId}"
    spark.catalog.dropTempView(view) // re-invocation reuses the name
    withStateParallelism(spark, 2) {
      val q = EventStream.mojibakeGateCounts(src, "doc_id", "text", "lang")
        .writeStream.format("memory").queryName(view)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      awaitRecorded(q)
    }
    spark.table(view).orderBy("lang", "flagged")
  }

  /** D9 ↔ C70: the synthesized C4 pages streamed through
    * [[EventStream.qualityGateCounts]], final (source, kept) counter
    * state read via a complete-mode memory sink — must land on the
    * batch aggregate of the same gate over the same pages (each
    * page's verdict is in-row, so micro-batch splits cannot shift
    * counts). */
  def streamQualityGateParity(spark: SparkSession, dir: String): DataFrame = {
    val pages = graft.operators.TextDemos.c4SynthPages(Tables.documents(spark, dir))
    val src = fileStream(pages, s"squal_${sfName(dir)}", nFiles = 8, filesPerTrigger = 2)
    val view = s"graft_squal_${Fixtures.runId}"
    spark.catalog.dropTempView(view) // re-invocation reuses the name
    withStateParallelism(spark, 2) {
      val q = EventStream.qualityGateCounts(src, "doc_id", "page", "source")
        .writeStream.format("memory").queryName(view)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      awaitRecorded(q)
    }
    spark.table(view).orderBy("source", "kept")
  }

  /** D11 ↔ C80: the C71 v2 fixture streamed through the maintained
    * drift histogram (quality scored IN-ROW as pages arrive — the D9
    * discipline), the reference (v1) histogram computed batch-side,
    * PSI over (batch ref, streamed live) — must land on corpus_drift's
    * batch answer verbatim (the histogram count is mergeable, so
    * micro-batch splits cannot shift it). */
  def streamDriftParity(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Curation
    val docs = Tables.documents(spark, dir)
    val edges = (1 to 9).map(_ / 10.0)
    val v1 = docs.filter(col("doc_id") % 7 =!= 0)
      .select(graft.functions.Text.qualityScore(col("text")).as("q"))
    val v2 = docs.filter(col("doc_id") % 5 =!= 0)
      .select(when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2-edit")))
        .otherwise(col("text")).as("text")) // only text is scored — don't ship the rest
    val src = fileStream(v2, s"sdrift_${sfName(dir)}", nFiles = 8, filesPerTrigger = 2)
    val view = s"graft_sdrift_${Fixtures.runId}"
    spark.catalog.dropTempView(view) // re-invocation reuses the name
    withStateParallelism(spark, 2) {
      val q = EventStream.driftHistogram(
          src.select(graft.functions.Text.qualityScore(col("text")).as("q")),
          "q", edges)
        .writeStream.format("memory").queryName(view)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      awaitRecorded(q)
    }
    Curation.driftFromHistograms(
        Curation.driftHistogram(v1, "q", edges),
        spark.table(view), edges.size + 1)
      .orderBy("bucket")
  }

  /** D12 ↔ C81: the classifier trains batch-side on the landed corpus
    * (the deployment split — the model ships as a weight literal),
    * then the SAME corpus streams through the in-row scorer into the
    * maintained reliability counters; the final diagram must equal the
    * batch calibration of the same scores verbatim. */
  def streamCalibrationParity(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Classifier
    val docs = Tables.documents(spark, dir)
    def label = array_contains(
      graft.functions.Text.wsTokens(col("text")), "key")
    // bucket-scale collect: the trained weight vector IS the artifact
    // a deployment ships (1025 rows here)
    val w = Classifier.logregTrain(docs, "doc_id", "text", label)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val src = fileStream(docs.select(col("doc_id"), col("text")),
      s"scalib_${sfName(dir)}", nFiles = 8, filesPerTrigger = 2)
    val view = s"graft_scalib_${Fixtures.runId}"
    spark.catalog.dropTempView(view) // re-invocation reuses the name
    withStateParallelism(spark, 2) {
      val q = EventStream.calibrationMonitor(
          Classifier.scoreWith(src, "doc_id", "text", label, w),
          "score", "is_target", nBins = 10)
        .writeStream.format("memory").queryName(view)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      awaitRecorded(q)
    }
    spark.table(view).orderBy("bin")
  }

  /** D10 ↔ C67: the documents table streamed through
    * [[EventStream.corpusSketch]] (the KmvSketch native aggregate
    * running INSIDE streaming state), final sketch posexploded to
    * (pos, h) rows — must equal the batch KMV of the same corpus
    * (`SELECT DISTINCT h ORDER BY h LIMIT k` in the oracle) no matter
    * how the replay splits documents: the sketch is mergeable and
    * order-free by construction. */
  def streamKmvSketchParity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val src = fileStream(docs, s"skmv_${sfName(dir)}", nFiles = 8, filesPerTrigger = 2)
    val view = s"graft_skmv_${Fixtures.runId}"
    spark.catalog.dropTempView(view) // re-invocation reuses the name
    withStateParallelism(spark, 2) {
      val q = EventStream.corpusSketch(src, "text", k = 1024,
          tokenHash = graft.functions.Vec.md5Hash60)
        .writeStream.format("memory").queryName(view)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      awaitRecorded(q)
    }
    spark.table(view)
      .select(posexplode(col("kmv")).as(Seq("pos", "h")))
      .select(col("pos").cast("long").as("pos"), col("h"))
      .orderBy("pos")
  }

  /** D5 ↔ A12: orders streamed through an update-mode aggregate into
    * the [[EventStream.upsertBatch]] snapshot sink; the final committed
    * snapshot ([[EventStream.readLatestState]]) must render the exact
    * wrapped-export object A12 publishes — per-priority total plus the
    * sorted orderkey rows as JSON. Update mode re-emits each touched
    * key's FULL aggregate, which is precisely the upsert sink's
    * replace-by-key contract; a replayed epoch re-merges from the
    * previous snapshot, so the state is identical no matter how the
    * replay splits batches. The collect_list state is A12's semantic
    * (the wrapped export carries the group's rows) and is
    * fixture-sized here; a production stream materializing group
    * MEMBERSHIP at scale would keep the rows in the sink partition
    * (upsert key = (group, row-id)) and leave only bounded aggregates
    * in stream state. */
  def streamUpsertParity(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_orderkey"))
    val src = fileStream(orders, s"sups_${sfName(dir)}", nFiles = 8, filesPerTrigger = 2)
    val target = freshTarget(s"sups_tgt_${sfName(dir)}")
    withStateParallelism(spark, 2) {
      val q = src.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("total"),
          collect_list(struct(col("o_orderkey"))).as("rows"))
        .writeStream.outputMode("update")
        .foreachBatch(EventStream.upsertBatch(target, Seq("o_orderpriority")) _)
        // checkpoint lives WITH its (fresh-per-call) target, as in
        // production; the crash-replay discipline is spec-gated in
        // StreamingSpec
        .option("checkpointLocation", s"$target/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      awaitRecorded(q)
    }
    EventStream.readLatestState(spark, target)
      .select(col("o_orderpriority"), col("total"),
        to_json(array_sort(col("rows"))).as("rows_json"))
      .orderBy("o_orderpriority")
  }

  /** D15 ↔ C103: takedown REQUESTS replayed as a stream against the
    * static near-dup cluster table — the direction a takedown pipeline
    * actually runs (requests ARRIVE; the cluster labels already landed
    * with the dedup pass, so they are computed once batch-side and
    * persisted — the D8 static-side discipline). Per micro-batch the
    * newly-listed ids taint their clusters; streaming dropDuplicates
    * state guarantees each cluster sweeps EXACTLY ONCE across batches
    * no matter how requests arrive, repeat, or split; the member
    * fan-out lands in an append file sink. The accumulated
    * (doc_id, cluster) removal set must equal the batch C103 audit
    * over the union of all requests — the SET is what a takedown
    * response certifies (the listed-vs-cluster reason column is the
    * batch row's decoration, already gated there). State is bounded by
    * TAINTED-CLUSTER cardinality (request-scale), not corpus size;
    * production adds a retention watermark. */
  def streamTakedownParity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val pairs = graft.operators.Dedup.minhashLsh(docs, "doc_id", "text",
      shingleN = 3, k = 32, bands = 8, minEstSim = 0.25,
      tokenHash = graft.functions.Vec.md5Hash60, hashBandKeys = false)
    // persisted: the static side of a stream-static join re-evaluates
    // per micro-batch, and the CC labels are an ITERATIVE computation
    val clusters = graft.util.CacheRegistry.register(
      graft.operators.Dedup.connectedComponents(docs, pairs, "doc_id")
        .select(col("doc_id"), col("cluster")).persist())
    val listed = docs.filter(pmod(col("doc_id"), lit(29)) === 0)
      .select(col("doc_id"))
    val src = fileStream(listed, s"stkd_${sfName(dir)}", nFiles = 4, filesPerTrigger = 1)
    val target = freshTarget(s"stkd_tgt_${sfName(dir)}")
    withStateParallelism(spark, 2) {
      val q = src.join(clusters, Seq("doc_id"))
        .select(col("cluster"))
        .dropDuplicates("cluster")
        .join(clusters, Seq("cluster"))
        .writeStream.format("parquet").option("path", s"$target/out")
        .option("checkpointLocation", s"$target/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      awaitRecorded(q)
    }
    spark.read.parquet(s"$target/out")
      .select(col("doc_id"), col("cluster"))
      .orderBy("doc_id")
  }

  /** [[fileStream]] staged in EVENT-TIME order: range-partitioned on
    * `orderCol`, one file per range, file modification times stamped
    * strictly increasing in range order so the file source replays
    * ranges oldest-first regardless of which write task finished last
    * (the source orders files by mod time; local-fs write completion
    * order would otherwise be racy). For pipelines whose state logic
    * assumes in-order arrival (sessionization) this is the faithful
    * replay of an ordered ingest like Kafka-per-key. */
  private def fileStreamOrdered(df: DataFrame, key: String, nFiles: Int,
                                orderCol: String): DataFrame = {
    val dir = Fixtures.dir(key)
    val input = s"$dir/input"
    Fixtures.buildOnce(dir) {
      df.repartitionByRange(nFiles, col(orderCol))
        .sortWithinPartitions(col(orderCol))
        .write.mode("overwrite").parquet(input)
      val p = new org.apache.hadoop.fs.Path(input)
      val fs = p.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
      fs.listStatus(p).map(_.getPath).filter(_.getName.startsWith("part-"))
        .sortBy(_.getName).zipWithIndex
        .foreach { case (f, i) => fs.setTimes(f, 1000000000L + i * 1000L, -1) }
    }
    df.sparkSession.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(input)
  }

  /** D2 ↔ SELECT DISTINCT: the events table doubled (every row twice)
    * and streamed through [[EventStream.dedupWithinWatermark]]; the
    * deduped stream must reproduce the original table exactly — 20k
    * rows in, 10k out, value-identical to the batch distinct. Watermark
    * past the replay horizon: the parity question is exact global
    * dedup, so no key state may expire mid-replay (production bounds
    * state with the 30-minute default). Duplicate rows are identical,
    * so "keep first seen" is value-deterministic however the replay
    * interleaves them. The sink is a FILE sink with its checkpoint
    * (the deduped-corpus shape at scale — never a driver-side
    * collect); per the [[freshTarget]] contract each invocation gets a
    * new sink+checkpoint and fully re-runs the pipeline, so a bench
    * pass never no-op-resumes the previous pass's completed query. */
  def streamDedupStateParity(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val doubled = events.unionAll(events)
    val src = fileStream(doubled, s"sdws_${sfName(dir)}", nFiles = 4, filesPerTrigger = 2)
    val target = freshTarget(s"sdws_tgt_${sfName(dir)}")
    withStateParallelism(spark, 2) {
      val q = EventStream.dedupWithinWatermark(src, "event_id", watermark = "3650 days")
        .writeStream.format("parquet").option("path", s"$target/out")
        .option("checkpointLocation", s"$target/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      awaitRecorded(q)
    }
    spark.read.parquet(s"$target/out").orderBy("event_id")
  }

  /** D4 ↔ the batch time-range join: error events streamed against
    * purchase events through [[EventStream.intervalJoin]] (same-user
    * purchases in the preceding hour). Both watermarks sit past the
    * replay horizon so no buffered row is evicted before its
    * out-of-order match arrives — the inner interval join then emits
    * exactly the batch join's pair set (production watermarks bound
    * the buffers; here they would race the unordered file replay). */
  def streamIntervalJoinParity(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val errSrc = fileStream(events.filter(col("event_type") === "error"),
      s"sij_err_${sfName(dir)}", nFiles = 2, filesPerTrigger = 1)
    val purSrc = fileStream(events.filter(col("event_type") === "purchase"),
      s"sij_pur_${sfName(dir)}", nFiles = 2, filesPerTrigger = 1)
    val target = freshTarget(s"sij_tgt_${sfName(dir)}")
    withStateParallelism(spark, 2) {
      val q = EventStream.intervalJoin(errSrc, purSrc, watermark = "3650 days")
        .writeStream.format("parquet").option("path", s"$target/out")
        .option("checkpointLocation", s"$target/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      awaitRecorded(q)
    }
    spark.read.parquet(s"$target/out").orderBy("event_id", "p_ts")
  }

  /** D3 ↔ B8: the events table replayed in event-time order through
    * [[EventStream.sessionizeStateful]] (flatMapGroupsWithState,
    * event-time timeout). Two faithfulness constraints shape the
    * harness: (1) timestamps pre-truncate to whole milliseconds on
    * BOTH sides — the state struct keeps `Timestamp.getTime` ms, so
    * micro-precision inputs could never value-match; (2) only sessions
    * whose timeout (end + 30 min) fell behind the final watermark
    * (max ts − the 1 h production delay) ever EMIT — sessions still
    * open when the finite replay ends live only in state, exactly as
    * in production — so the batch-twin oracle filters to the same
    * closed set. Emission order is state-iteration order; the driver
    * gate row-sorts, and the returned frame orders for readability. */
  def streamSessionParity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.events(spark, dir).select(col("user_id"),
      timestamp_micros(expr("unix_micros(ts) div 1000 * 1000")).as("ts"),
      col("value"))
    val src = fileStreamOrdered(events, s"ssess_${sfName(dir)}", nFiles = 4, orderCol = "ts")
      .as[EventStream.SessionInput]
    val target = freshTarget(s"ssess_tgt_${sfName(dir)}")
    withStateParallelism(spark, 2) {
      val q = EventStream.sessionizeStateful(src)
        .writeStream.format("parquet").option("path", s"$target/out")
        .option("checkpointLocation", s"$target/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      awaitRecorded(q)
    }
    spark.read.parquet(s"$target/out")
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
      .orderBy("user_id", "session_start")
  }

  /** D6 ↔ C2: documents streamed through the
    * [[EventStream.minhashDedupBatch]] sink (oracle-portable md5-60
    * hash + string band keys, C2's exact config), one file per
    * micro-batch so the index check runs incrementally; then the
    * signature archive COMPACTS (crash-safe segment sweep) before the
    * accumulated pair set is read back — the near-dup pairs of the
    * streamed corpus must equal the from-scratch batch LSH, and
    * compaction must not change them. */
  def streamDedupParity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // 12 staged files, 4 per trigger: 3 micro-batches (empty-index,
    // one-prior, two-prior — the minimum that still exercises a REAL
    // below-newest compaction fold), each reading 4 input splits so the
    // minhash map side (md5 × k permutations over every shingle — the
    // CPU-heavy half) parallelizes inside the batch exactly as a
    // production micro-batch with many source files would. The r6 shape
    // (4 files × 1/trigger) ran that map side in ONE task per batch.
    val src = fileStream(docs, s"sded_${sfName(dir)}", nFiles = 12, filesPerTrigger = 4)
    val target = freshTarget(s"sded_tgt_${sfName(dir)}")
    // the foreachBatch body plans its joins/aggs per micro-batch, so the
    // lowered parallelism applies to every batch: ~5 shuffle stages over
    // a ~1/3-corpus batch do not need 32 partitions each (same
    // key-cardinality-not-core-count sizing as the stateful harnesses).
    // maxPartitionBytes drops too: the staged fixture files are ~0.5 MB,
    // so at the 128 MB default the 4-file batch packs into ONE input
    // split and the minhash map side runs single-task — production
    // source files are split-sized and get map parallelism for free;
    // the harness has to ask for it.
    // AQE off for the replay only: its per-stage re-optimization jobs
    // are latency on fixture-sized batches with nothing to re-plan
    // (production micro-batches keep it for skew/coalesce)
    withConfs(spark,
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.files.maxPartitionBytes" -> (1024 * 1024).toString,
      "spark.sql.files.openCostInBytes" -> (64 * 1024).toString) {
      val q = src.writeStream.outputMode("append")
        .foreachBatch(EventStream.minhashDedupBatch(target, "doc_id", "text",
          shingleN = 3, k = 32, bands = 8, minEstSim = 0.25,
          tokenHash = graft.functions.Vec.md5Hash60, hashBandKeys = false) _)
        .option("checkpointLocation", s"$target/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      awaitRecorded(q)
      // 8 segment files, not the production 32: the parity archive is
      // fixture-sized, and the fold's cost here is task-commit overhead
      EventStream.compactSignatures(spark, target, nFiles = 8)
    }
    EventStream.readAllPairs(spark, target)
      .orderBy("id_a", "id_b")
  }

  /** Stage a table as one parquet file PER EXPLICIT BATCH (batchExpr ∈
    * [0, nBatches)), mtimes ordered by batch index, and open it at one
    * file per trigger — a finite replay whose micro-batch MEMBERSHIP is
    * a deterministic function of the data, which is what lets a
    * sequential-admission oracle unroll the exact same batches. (The
    * range-staged [[fileStreamOrdered]] can't promise that: its file
    * boundaries are sampled quantiles.) */
  private def fileStreamByBatch(df: DataFrame, key: String,
                                batchExpr: org.apache.spark.sql.Column,
                                nBatches: Int): DataFrame = {
    val dir = Fixtures.dir(key)
    val input = s"$dir/input"
    Fixtures.buildOnce(dir) {
      val p = new org.apache.hadoop.fs.Path(input)
      val fs = p.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
      var assigned = Set.empty[String]
      (0 until nBatches).foreach { b =>
        df.filter(batchExpr === b).coalesce(1)
          .write.mode("append").parquet(input)
        val fresh = fs.listStatus(p).map(_.getPath)
          .filter(_.getName.startsWith("part-")).map(_.getName).toSet -- assigned
        require(fresh.size == 1,
          s"batch $b staged ${fresh.size} files (want exactly 1): empty batch?")
        fresh.foreach(n => fs.setTimes(
          new org.apache.hadoop.fs.Path(p, n), 1000000000L + b * 1000L, -1))
        assigned ++= fresh
      }
    }
    df.sparkSession.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(input)
  }

  /** D15 ↔ C122's sequential form: odd-id docs are the arriving
    * candidate stream in three explicit batches ((doc_id div 2) % 3 —
    * oracle-reconstructible membership), even-id docs land once as the
    * reference window-hash dimension, and each batch's per-doc novelty
    * is gated at tau = 0.5 against reference ∪ previously-ADMITTED
    * batches via [[EventStream.noveltyAdmitBatch]]. The oracle unrolls
    * the same three admission rounds in SQL; any disagreement in the
    * incremental archive bookkeeping (a hash double-landed, a batch
    * read out of order, an admitted doc's windows dropped) breaks the
    * hash gate. Shuffle partitions drop to 8 for the replay (fixture-
    * sized batches; the r14 state-parallelism lesson applies to
    * foreachBatch plans too). */
  def streamNoveltyAdmitParity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val refDir = Fixtures.dir(s"snov_ref_${sfName(dir)}")
    val refPath = s"$refDir/h"
    Fixtures.buildOnce(refDir)(
      graft.operators.Curation.seenWindowHashes(
          docs.filter(col("doc_id") % 2 === 0), "text", k = 8,
          tokenHash = graft.functions.Vec.md5Hash60)
        .write.mode("overwrite").parquet(refPath))
    val refHashes = spark.read.parquet(refPath)
    val src = fileStreamByBatch(docs.filter(col("doc_id") % 2 === 1),
      s"snov_${sfName(dir)}", expr("(doc_id div 2) % 3"), nBatches = 3)
    val target = freshTarget(s"snov_tgt_${sfName(dir)}")
    withConfs(spark,
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.enabled" -> "false") {
      val q = src.writeStream.outputMode("append")
        .foreachBatch(EventStream.noveltyAdmitBatch(target, refHashes,
          "doc_id", "text", k = 8, tau = 0.5,
          tokenHash = graft.functions.Vec.md5Hash60) _)
        .option("checkpointLocation", s"$target/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      awaitRecorded(q)
      // fold the archive before reading back: the oracle-gated answer
      // must survive compaction (8 segment files — fixture-sized)
      EventStream.compactSeen(spark, target, nFiles = 8)
    }
    EventStream.readAllVerdicts(spark, target)
      .select(col("doc_id"), col("batch_id"), col("n_windows"),
        col("n_novel"), col("novelty"), col("admitted"))
      .orderBy("doc_id")
  }
}
