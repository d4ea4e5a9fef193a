package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming twins of the batch operators (SURVEY §2 D).
  *
  * The same logical transforms as Analytics.timeWindowAgg / Dedup, but
  * over an unbounded source: event-time tumbling windows bounded by a
  * watermark (late data past the watermark is dropped and window state
  * is reclaimed — mandatory for unbounded state at scale), and
  * streaming dedup whose key state also expires with the watermark.
  *
  * Sources/sinks are the caller's choice (`readStream` Kafka/files →
  * these transforms → `writeStream`); tests drive them with
  * MemoryStream + append/update sinks.
  */
object EventStream {

  /** D1: watermarked tumbling-window aggregation. Input needs an
    * event-time `ts` column and an `event_type`/`value` pair. */
  def windowAgg(events: DataFrame,
                watermark: String = "30 minutes",
                windowLen: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** D7: streaming corpus n-gram profile — the incremental form of the
    * C60 heavy-hitter scan: each arriving document explodes through
    * the codegen'd shingler into (ngram, doc) occurrence counts, and
    * the streaming aggregation keeps one counter per (ngram, doc) key.
    * The per-doc granularity is what makes BOTH heavy-hitter outputs
    * derivable from final state with no distinct aggregation (which
    * streaming disallows): Σ n_in_doc = occurrences, count(keys) =
    * document frequency. Works in update mode (each touched key
    * re-emits its full count — an upsert-sink merge needs no
    * read-modify-write) or complete mode for bounded replays. At
    * scale the state is bounded by the corpus's distinct (ngram, doc)
    * pairs; a production profile over an unbounded stream would bound
    * it with a watermark-windowed variant or a count-min sketch —
    * this operator is the exact tier. */
  def ngramDocCounts(docs: DataFrame, idCol: String, textCol: String,
                     n: Int = 3): DataFrame =
    docs
      .select(col(idCol), explode(call_function("graft_shingles",
        col(textCol), lit(n), lit(false))).as("ngram"))
      .groupBy(col("ngram"), col(idCol))
      .agg(count(lit(1)).as("n_in_doc"))

  // ---- D7 production tier: bounded heavy-hitter n-gram state ----

  /** one exploded n-gram occurrence (bucket = pmod(hash(ngram), nBuckets)) */
  case class NgramOcc(bucket: Int, ngram: String, doc_id: Long)
  /** a tracked summary entry: occ/docs are space-saving OVER-estimates,
    * the *Err fields the inherited error (0 ⇒ the value is exact) */
  case class HHItem(ngram: String, occ: Long, occErr: Long,
                    docs: Long, docsErr: Long)
  /** the summary state, carried as ONE manually-packed byte blob
    * (r15): Catalyst's product encoder mapped every HHItem through
    * reflection serializers per trigger — at 2¹⁵ entries × 2 buckets
    * that encode/decode was the single largest CPU term of the D7
    * parity row (18.6 s task CPU measured). A length-prefixed
    * DataOutputStream pack of the same fields round-trips bit-exactly
    * (StreamingSpec's D7 tests + a dedicated roundtrip pin) for a flat
    * byte-array copy at the state store boundary. Layout: n, then per
    * item UTF(ngram) + 4 longs,
    * items in ngram order (the old sorted-array order, so state bytes
    * stay replay-deterministic). */
  case class HHState(seq: Long, blob: Array[Byte])
  private[graft] def packHH(items: Array[HHItem]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(items.length * 48 + 4)
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(items.length)
    items.foreach { it =>
      out.writeUTF(it.ngram)
      out.writeLong(it.occ); out.writeLong(it.occErr)
      out.writeLong(it.docs); out.writeLong(it.docsErr)
    }
    out.flush(); bos.toByteArray
  }
  private[graft] def unpackHH(blob: Array[Byte]): Array[HHItem] = {
    if (blob.isEmpty) return Array.empty
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(blob))
    Array.fill(in.readInt())(
      HHItem(in.readUTF(), in.readLong(), in.readLong(), in.readLong(), in.readLong()))
  }
  /** one update-mode emission: the entry's value as of trigger `seq`
    * (deleted = evicted this trigger). Final value per (bucket, ngram)
    * = the max-seq row — see [[StreamParity.streamTopkNgramsParity]]. */
  case class HHUpdate(bucket: Int, seq: Long, ngram: String, occ: Long,
                      occ_err: Long, docs: Long, docs_err: Long,
                      deleted: Boolean)

  /** D7 (production tier): the corpus n-gram profile with HARD-CAPPED
    * state — the r14 3× smoke showed [[ngramDocCounts]]'s (ngram, doc)
    * keyed state growing linearly with the corpus (260k→791k rows,
    * 87→199 MB), unbounded at 100 TB. This operator keeps at most
    * `nBuckets × capacityPerBucket` counters, period, via the
    * space-saving stream summary (Metwally, Agrawal, El Abbadi,
    * ICDT'05): a full summary evicts its minimum-count entry and the
    * newcomer inherits that count as its error bound, guaranteeing
    * (a) every item with true count > N/capacity is tracked and
    * (b) tracked counts over-estimate by at most the recorded `occErr`
    * (`occErr = 0` ⇒ exact).
    *
    * Two exactness levers the naive pair-keyed form lacks:
    *  - state keys on the NGRAM, not the (ngram, doc) pair: document
    *    frequency folds EXACTLY without distinct-state because a
    *    document row explodes atomically into one micro-batch — the
    *    batch-local distinct-doc count per ngram (computed in the
    *    group iterator, bounded by batch size) sums across batches
    *    with no overlap. Vocabulary saturates where pairs don't
    *    (measured: 10× corpus = 1.7× vocab, 10× pairs).
    *  - within a batch, ngrams apply in sorted order and eviction
    *    ties break deterministically (min occ, then lexicographically
    *    largest ngram), so a replay reproduces the summary bit-for-bit.
    *
    * Scale shape: ngrams hash-partition across `nBuckets` independent
    * summaries (each ngram lives in exactly one bucket, so cross-bucket
    * union preserves per-ngram exactness); state per bucket is capped
    * at `capacityPerBucket` entries regardless of corpus size. At
    * 100 TB: size nBuckets to the stateful parallelism and capacity to
    * the tolerated error N_bucket/capacity; the profile consumer reads
    * top-k ≪ capacity, so the cap is error margin, not truncation.
    * Emission is update-mode delta (touched + evicted entries only),
    * never the full summary. */
  def ngramHeavyHitters(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, nBuckets: Int = 2,
                        capacityPerBucket: Int = 1 << 15): Dataset[HHUpdate] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        explode(call_function("graft_shingles",
          col(textCol), lit(n), lit(false))).as("ngram"))
      .select(pmod(xxhash64(col("ngram")), lit(nBuckets)).cast("int").as("bucket"),
        col("ngram"), col("doc_id"))
      .as[NgramOcc]
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[HHState, HHUpdate](
        OutputMode.Update(), GroupStateTimeout.NoTimeout)(
        updateHHBucket(capacityPerBucket))
  }

  /** per-bucket space-saving fold of one micro-batch (see
    * [[ngramHeavyHitters]]). O(batch + evictions·log capacity) via a
    * lazy-deletion min-heap; the heap seeds only when the summary is
    * full (steady gate-scale batches never build it). */
  private def updateHHBucket(capacity: Int)(
      bucket: Int, rows: Iterator[NgramOcc],
      state: GroupState[HHState]): Iterator[HHUpdate] = {
    import scala.collection.mutable
    // batch-local EXACT fold: occurrences + distinct docs per ngram
    // (a doc's rows never span batches, so these sum exactly)
    final class Acc { var occ = 0L; val docs = new mutable.HashSet[Long] }
    val local = new mutable.HashMap[String, Acc]
    rows.foreach { r =>
      val a = local.getOrElseUpdate(r.ngram, new Acc)
      a.occ += 1; a.docs += r.doc_id
    }
    val prev = state.getOption.getOrElse(HHState(0L, Array.empty[Byte]))
    val summary = new mutable.HashMap[String, HHItem]
    unpackHH(prev.blob).foreach(it => summary(it.ngram) = it)
    val touched = new mutable.HashSet[String]
    val sawTombstone = new mutable.HashSet[String]
    // deterministic application order; untracked ngrams defer to the
    // eviction phase so phase-1 updates precede every eviction decision
    val untracked = new mutable.ArrayBuffer[(String, Acc)]
    local.toSeq.sortBy(_._1).foreach { case (g, a) =>
      summary.get(g) match {
        case Some(it) =>
          summary(g) = it.copy(occ = it.occ + a.occ, docs = it.docs + a.docs.size)
          touched += g
        case None if summary.size < capacity =>
          summary(g) = HHItem(g, a.occ, 0L, a.docs.size.toLong, 0L)
          touched += g
        case None => untracked += ((g, a))
      }
    }
    if (untracked.nonEmpty) {
      // lazy-deletion min-heap over (occ, ngram): pop order = smallest
      // occ, ties to the lexicographically largest ngram (deterministic)
      implicit val evictFirst: Ordering[(Long, String)] =
        new Ordering[(Long, String)] {
          def compare(a: (Long, String), b: (Long, String)): Int = {
            val c = java.lang.Long.compare(b._1, a._1)
            if (c != 0) c else a._2.compareTo(b._2)
          }
        }
      val pq = mutable.PriorityQueue.empty[(Long, String)]
      summary.foreach { case (g, it) => pq.enqueue((it.occ, g)) }
      untracked.foreach { case (g, a) =>
        var victim: Option[HHItem] = None
        while (victim.isEmpty) {
          val (o, vg) = pq.dequeue()
          summary.get(vg) match {
            case Some(it) if it.occ == o => victim = Some(it) // current
            case _ => () // stale heap entry (evicted or re-counted)
          }
        }
        val v = victim.get
        summary.remove(v.ngram)
        sawTombstone += v.ngram
        val item = HHItem(g, v.occ + a.occ, v.occ,
          v.docs + a.docs.size, v.docs)
        summary(g) = item
        touched += g
        pq.enqueue((item.occ, g))
      }
    }
    val seq = prev.seq + 1
    state.update(HHState(seq, packHH(summary.values.toArray.sortBy(_.ngram))))
    // one row per affected ngram: its END-of-batch status (an entry
    // evicted then re-inserted this batch emits its live value)
    (touched ++ sawTombstone).toSeq.sorted.iterator.map { g =>
      summary.get(g) match {
        case Some(it) =>
          HHUpdate(bucket, seq, g, it.occ, it.occErr, it.docs, it.docsErr,
            deleted = false)
        case None => HHUpdate(bucket, seq, g, 0L, 0L, 0L, 0L, deleted = true)
      }
    }
  }

  /** D8: streaming decontamination gate — C21's streaming twin, the
    * production direction of the train-test-overlap scan: benchmark
    * shingle hashes are a STATIC dimension table (eval sets are
    * bounded), arriving documents hash their distinct shingles IN-ROW
    * (each doc is one row, so per-doc distinctness needs no state),
    * stream-static left join marks the hits, and one streaming
    * aggregation keyed by doc id folds them into the contamination
    * ratio — new crawl data is gated before it ever lands. State is
    * one counter pair per in-flight doc; the parity row proves the
    * incremental fold lands on C21's exact batch answer. */
  def contaminationGate(docs: DataFrame, benchHashes: DataFrame,
                        idCol: String, textCol: String,
                        shingleN: Int = 3, flagThreshold: Double = 0.2,
                        tokenHash: Column => Column = xxhash64(_)): DataFrame =
    docs.select(col(idCol),
        explode(array_distinct(transform(
          call_function("graft_shingles", col(textCol), lit(shingleN), lit(true)),
          s => tokenHash(s)))).as("_h"))
      .join(benchHashes.select(col("_h")).distinct().withColumn("_hit", lit(1L)),
        Seq("_h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_contaminated"))
      .withColumn("contamination",
        when(col("n_shingles") > 0,
          col("n_contaminated").cast("double") / col("n_shingles")).otherwise(0.0))
      .withColumn("flagged", col("contamination") >= flagThreshold)

  /** D13: streaming SFT format gate — C94's streaming twin, the
    * direction an instruction-tuning pipeline actually runs (validate
    * conversations as they land, before the tokenizer sees them). A
    * turn's contribution to every check is knowable from the row
    * itself — (idx, role, empty-flag) — so the stream needs NO
    * content in state and no ordering guarantee: one aggregation
    * keyed by conversation collects the tiny per-turn triples
    * (collect_list is mergeable and order-free; order restores by
    * sorting on the unique idx at read time), state bounded by the
    * template's turn count per conversation, never by content size.
    * Finalize the collected state into verdicts with
    * [[graft.operators.Sft.verdictsFromTurnState]]. */
  def sftTurnState(turns: DataFrame, convCol: String, turnCol: String,
                   roleCol: String, contentCol: String): DataFrame =
    turns.groupBy(col(convCol))
      .agg(collect_list(struct(
        col(turnCol).as("idx"), col(roleCol).as("role"),
        (col(contentCol).isNull || col(contentCol) === "").as("empty"))).as("ts"))

  /** D9: streaming quality gate — C70's streaming twin, and the
    * gate's production direction (score crawl pages as they ARRIVE,
    * before they land): each page is one row, so the C4 line/page
    * rules evaluate stateless IN-ROW (map-only codegen on the
    * stream), and ONE streaming aggregation keyed by (group, kept)
    * folds the accept/reject counters — state is one counter pair per
    * (source, verdict), bounded by source cardinality. Because every
    * page's verdict is complete the moment its row is processed,
    * micro-batch splits cannot shift the counts — the parity row
    * answers a batch aggregate oracle verbatim. */
  def qualityGateCounts(pages: DataFrame, idCol: String, pageCol: String,
                        groupCol: String,
                        minWordsPerLine: Int = 5, minLines: Int = 3): DataFrame =
    graft.operators.Filtering.c4Filters(pages, idCol, pageCol,
        minWordsPerLine, minLines, keepCols = Seq(groupCol))
      .groupBy(col(groupCol), col("kept"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_lines_kept").cast("long")).as("kept_lines"))

  /** D14: streaming encoding-damage gate — C105's streaming twin (the
    * production direction: score crawl pages for mojibake as they
    * ARRIVE, before they land): the per-doc hit count is map-only
    * codegen IN-ROW (literal replace deltas, no state), and ONE
    * streaming aggregation keyed by (group, flagged) folds the
    * doc/hit counters — state bounded by group cardinality × 2.
    * Verdicts complete per row, so micro-batch splits cannot shift
    * any counter; the parity row answers a batch aggregate oracle
    * verbatim. */
  def mojibakeGateCounts(docs: DataFrame, idCol: String, textCol: String,
                         groupCol: String): DataFrame =
    graft.operators.Curation.mojibakeScore(docs, idCol, textCol,
        keepCols = Seq(groupCol))
      .groupBy(col(groupCol), col("flagged"))
      .agg(count(lit(1)).as("n_docs"), sum(col("hits")).as("total_hits"))

  /** D10: incremental corpus KMV sketch — C67's streaming twin:
    * maintain the k-minimum-values distinct-shingle sketch AS DATA
    * ARRIVES, so corpus-overlap triage (est. cardinality / Jaccard vs
    * any other corpus's sketch) is answerable at every instant without
    * rescanning what already landed. The [[graft.expressions.KmvSketch]]
    * aggregate is mergeable and order-free, so it runs NATIVELY inside
    * the streaming global aggregation — its bounded buffer (≤ k longs)
    * IS the query state, and the final sketch provably equals the
    * batch sketch of the same corpus regardless of micro-batch splits
    * (the parity row's claim). */
  def corpusSketch(docs: DataFrame, textCol: String, k: Int, shingleN: Int = 3,
                   tokenHash: Column => Column = xxhash64(_)): DataFrame =
    docs.select(explode(call_function("graft_shingles",
        col(textCol), lit(shingleN), lit(true))).as("_sh"))
      .select(tokenHash(col("_sh")).as("_h"))
      .agg(call_function("graft_kmv", col("_h"), lit(k)).as("kmv"))

  /** D11: streaming drift monitor — C80's streaming twin: maintain
    * the live corpus's fixed-edge score histogram AS DATA ARRIVES.
    * The bucket assignment is stateless per row (map-only codegen on
    * the stream, like D9's in-row verdicts), so the whole operator is
    * ONE streaming aggregation whose state is B counters — bounded
    * regardless of stream length — and distribution drift against any
    * released reference histogram is answerable at every instant
    * without rescanning what already landed. The PSI algebra itself
    * is bucket-scale batch work over the maintained counters
    * ([[graft.operators.Curation.driftFromHistograms]]); the parity
    * row proves the maintained histogram lands on the batch histogram
    * of the same corpus regardless of micro-batch splits (count is
    * mergeable and order-free), so the final PSI answers C80's batch
    * oracle verbatim. */
  def driftHistogram(live: DataFrame, valueCol: String,
                     edges: Seq[Double]): DataFrame =
    graft.operators.Curation.driftHistogram(live, valueCol, edges)

  /** D12: streaming calibration monitor — C81's streaming twin, and
    * the diagram's production direction: a TRAINED classifier (its
    * weights shipped as a broadcast array literal) scores pages
    * IN-ROW as they arrive ([[graft.operators.Classifier.scoreWith]]
    * is map-only), and ONE streaming aggregation keyed by score bin
    * maintains the reliability counters — state is ≤ nBins rows of
    * (count, decimal mean parts, positives), bounded regardless of
    * stream length, so the deployed model's calibration curve (and
    * its drift toward overconfidence) is answerable at every instant.
    * Counts and decimal sums are mergeable and order-free, so the
    * parity row lands on C81's batch answer verbatim regardless of
    * micro-batch splits. */
  def calibrationMonitor(scored: DataFrame, scoreCol: String,
                         isPosCol: String, nBins: Int): DataFrame =
    graft.operators.Classifier.calibration(scored, scoreCol, isPosCol, nBins)

  /** D2: streaming dedup with watermark-bounded key state. */
  def dedupWithinWatermark(events: DataFrame, idCol: String,
                           watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCol)

  case class SessionInput(user_id: Long, ts: Timestamp, value: Double)
  case class SessionState(start: Long, end: Long, n: Long, sum: Double)
  case class SessionOut(user_id: Long, session_start: Timestamp,
                        session_end: Timestamp, n_events: Long, sum_value: Double)

  /** D3: custom per-key state via flatMapGroupsWithState — streaming
    * sessionization (the stateful twin of Analytics.sessionize). A
    * session closes when the 30-min event-time gap elapses (state
    * timeout keyed to the watermark), emitting one row per session.
    * State per key is one fixed-size struct — bounded regardless of
    * stream length, the only state shape that survives 100 TB/day. */
  def sessionizeStateful(events: Dataset[SessionInput],
                         gapMs: Long = 30L * 60 * 1000): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, new Timestamp(s.start), new Timestamp(s.end), s.n, s.sum))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.end <= gapMs =>
                  cur = Some(s.copy(end = math.max(s.end, t), n = s.n + 1, sum = s.sum + e.value))
                case Some(s) =>
                  closed ::= SessionOut(userId, new Timestamp(s.start), new Timestamp(s.end), s.n, s.sum)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** D4: watermarked stream-stream interval join — each error event
    * enriched with the same user's purchases from the preceding
    * `windowMs` (the streaming twin of the batch as-of/range joins).
    * Both sides carry watermarks and the join condition bounds the
    * event-time distance, so each side's buffered state is
    * watermark-reclaimed — the only stream-stream join shape whose
    * state stays bounded on an unbounded stream. */
  def intervalJoin(errors: DataFrame, purchases: DataFrame,
                   watermark: String = "30 minutes",
                   windowMs: Long = 60L * 60 * 1000): DataFrame = {
    val e = errors.withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id"), col("ts").as("e_ts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("p_value"))
    e.join(p,
      col("user_id") === col("p_user") &&
        col("p_ts") <= col("e_ts") &&
        col("p_ts") >= col("e_ts") - expr(s"INTERVAL ${windowMs / 1000} SECONDS"))
      .select(col("user_id"), col("event_id"), col("e_ts"), col("p_ts"), col("p_value"))
  }

  /** D5: foreachBatch upsert sink — merge each micro-batch's per-key
    * aggregate deltas into a persistent keyed target (the streaming
    * materialized-view pattern for sinks with no native upsert: plain
    * parquet/object storage).
    *
    * Per batch: read the previous target state, merge the batch's
    * keys, write the merged state to a batch-id-named snapshot
    * directory, then re-point `current`. The SNAPSHOT directories are
    * the durable source of truth — [[readLatestState]] reads the
    * highest-id snapshot and never races the pointer swap; `current`
    * is a convenience copy that can briefly lag (or vanish for the
    * instant between its delete and rename) and is rebuilt by the
    * next batch if a crash interrupts the swap. Replayed batches
    * (failure recovery re-runs the last epoch) are idempotent: a
    * batch that finds its own snapshot id already present re-merges
    * from the PREVIOUS snapshot, not from its own output, so deltas
    * never double-apply.
    *
    * `retainSnapshots` bounds the directory count: after each batch
    * commits, committed snapshots older than the newest N are deleted.
    * Minimum 2 — the current epoch's crash replay re-merges from the
    * snapshot BELOW it, so the previous snapshot must survive. Pruning
    * runs only after this batch's snapshot is committed, and
    * [[readLatestState]] reads the newest committed snapshot, so a
    * reader STARTING now always finds a live target. The guarantee is
    * read-start-time only: a job still scanning snapshot X after N
    * further batches commit loses X's files — size `retainSnapshots`
    * to cover the longest expected reader lag (it is a count-based
    * retention window, exactly like table-format snapshot expiry).
    *
    * `publishIfChanged` (the reference's CHANGE_COUNT = 0 skip,
    * entrypoint.sh:33-62): a batch whose rows are all already present
    * identically in the previous snapshot writes NO snapshot and
    * leaves the pointer untouched — a daily upsert that usually
    * changes nothing stops minting identical state copies. The skip is
    * recomputed deterministically on replay, so it needs no marker.
    *
    * One pass per micro-batch: after the committed-replay check, the
    * batch runs ONCE into an [[graft.util.Iterative.leaf]] (an eager
    * localCheckpoint, released when the batch returns or throws) that
    * the change gate, the merge's key side and its union all read. A
    * `foreachBatch` batch's plan includes the stream's stateful
    * operator, and reading the batch twice ran that operator twice per
    * trigger: twice the state-store instances, commits and state rows.
    * The previous snapshot is read with the batch's schema (a
    * snapshot's own schema by construction: every snapshot is written
    * from the batch's columns), so no trigger pays a footer-inference
    * job; a batch whose columns differ from the previous snapshot's
    * reads it through its own schema (a new column reads null there, a
    * dropped one is not carried). The snapshot is written as
    * ceil(bytes / `spark.sql.files.maxPartitionBytes`) files (floor 1,
    * a narrow coalesce), where bytes = the previous snapshot's size on
    * disk plus the batch's rows at the schema's default row size: one
    * file at fixture scale, a count that grows with the state at scale.
    *
    * Per trigger on the perfbench `event_stream` workload (500 events,
    * 4 state partitions, 4-core host), measured with a listener probe.
    * Before: the dedup ran as 8 store instances (~540-600 ms summed
    * commit, 1280 state rows for 640 keys), a 1-task footer job read
    * the previous snapshot's schema, the write took ~150-190 ms for 8
    * files of ~175 rows, and the `current` copy plus the prune ~60-90
    * ms; a trigger took ~1030-1100 ms at p50. After: 4 store instances
    * (~360 ms summed commit, 640 rows), the leaf's job (~170-230 ms)
    * in place of the footer job, a ~165 ms write of one file, ~15 ms
    * for the copy and the prune; ~760 ms per trigger at p50. Much of
    * what was left was Hadoop's local filesystem, not the store
    * provider (RocksDB summed the same commit time): without the native
    * library it forked `chmod` for every checkpoint, state and snapshot
    * file and directory it created and `readlink` twice per FileContext
    * rename, ~2300 child processes per 2-iteration run (JFR), and
    * forks from 4 state tasks committing at once contend. With
    * [[graft.io.NioLocalFs]] (registered by
    * [[graft.GraftSession.local]]) a trigger starts none: the summed
    * state commit per trigger went 269-293 → 23-24 ms, the WAL and
    * offset commits 30-31 → 1-2 ms each, `addBatch` 533 → 411-438 ms
    * (traced, seeds 1-2), and a trigger took ~457 ms at p50 (~686 ms
    * before, 10 alternating pairs).
    *
    * Use with `ds.writeStream.foreachBatch(EventStream.upsertBatch(dir) _)`
    * on an update-mode aggregate, or call per-batch as here. */
  def upsertBatch(targetDir: String, keyCols: Seq[String],
                  retainSnapshots: Int = Int.MaxValue,
                  publishIfChanged: Boolean = false)(
      batch: DataFrame, batchId: Long): Unit = {
    require(retainSnapshots >= 2,
      s"retainSnapshots must be >= 2 (replay needs the previous snapshot), got $retainSnapshots")
    val spark = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(targetDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val snapDir = new org.apache.hadoop.fs.Path(s"$targetDir/snapshots")
    // idempotent replay: if this batch's snapshot already COMMITTED,
    // the merge already happened with identical input — rewriting it
    // would delete a committed snapshot out from under concurrent
    // readLatestState readers for no new information. Just re-point.
    val own = new org.apache.hadoop.fs.Path(s"$targetDir/snapshots/$batchId/_SUCCESS")
    if (!fs.exists(own)) {
      // recovery: merge on top of the latest snapshot BELOW this batch
      // id (a replay of batch N must not read N's own partial output)
      val prevId = // committed snapshots only
        committedIds(fs, snapDir).filter(_ < batchId).sorted.lastOption
      val (leaf, Seq(rows)) = graft.util.Iterative.leaf(batch)
      val published = try {
        val prev = prevId.map(id =>
          spark.read.schema(leaf.schema).parquet(s"$targetDir/snapshots/$id"))
        // change gate (entrypoint.sh:33-62's CHANGE_COUNT = 0 skip): a
        // batch whose every row already sits identically in the previous
        // snapshot changes nothing — skip the snapshot write AND the
        // pointer refresh; a later batch merges from the same prev, and
        // a replay of this batch recomputes the same verdict (the skip
        // is deterministic, so no committed-marker is needed). The check
        // is one bounded anti-diff of the DELTA against prev — delta-
        // scale work, not an archive scan.
        val unchanged = publishIfChanged && prev.exists(leaf.exceptAll(_).isEmpty)
        if (!unchanged) {
          // keyed upsert: batch rows REPLACE the key's previous state (the
          // batch side of an update-mode agg carries the full new value)
          val merged = prev.fold(leaf)(
            _.join(leaf.select(keyCols.map(col): _*), keyCols, "left_anti")
              .unionByName(leaf))
          val bytes = prevId.fold(0L)(id => fs.getContentSummary(
            new org.apache.hadoop.fs.Path(snapDir, id.toString)).getLength) +
            rows * leaf.schema.defaultSize
          val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
          val files = ((bytes + maxBytes - 1) / maxBytes).max(1L).toInt
          // commit detection rides _SUCCESS markers; the option reaches
          // only THIS write job's Hadoop conf (newHadoopConfWithOptions),
          // so an object-store tuning that disabled markers globally is
          // overridden without mutating the shared SparkContext
          // configuration
          merged.coalesce(files).write.mode("overwrite")
            .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "true")
            .parquet(s"$targetDir/snapshots/$batchId")
        }
        !unchanged
      } finally graft.util.Iterative.release(leaf)
      if (!published) return
    }
    // best-effort pointer refresh (snapshots stay the source of truth):
    // a pointer failure after the snapshot committed must NOT fail the
    // batch — replaying a whole epoch to recover a convenience copy is
    // worse than serving reads from readLatestState until the next
    // batch repoints it
    val tmp = new org.apache.hadoop.fs.Path(s"$targetDir/current.tmp")
    val cur = new org.apache.hadoop.fs.Path(s"$targetDir/current")
    try {
      // raw byte copy of the committed snapshot dir, not a Spark
      // read+rewrite (r15): `current` is a verbatim COPY by contract,
      // so decoding and re-encoding the full state through parquet per
      // trigger paid two extra jobs and a codec round-trip for
      // byte-equivalent output — at scale the pointer refresh is
      // O(state bytes) either way, but a stream copy skips the CPU and
      // the job-scheduling latency entirely
      if (fs.exists(tmp)) fs.delete(tmp, true)
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(s"$targetDir/snapshots/$batchId"),
        fs, tmp, false, spark.sessionState.newHadoopConf())
      if (fs.exists(cur)) fs.delete(cur, true)
      if (!fs.rename(tmp, cur))
        Console.err.println(s"[upsertBatch] could not re-point $cur; " +
          "readers should fall back to readLatestState")
    } catch {
      case e: Exception =>
        Console.err.println(s"[upsertBatch] pointer refresh failed (${e.getMessage}); " +
          "snapshots are intact — readers should fall back to readLatestState")
    }
    // retention: prune committed snapshots beyond the newest N (this
    // batch's snapshot is committed by now, so the newest N always
    // include the replay anchor)
    if (retainSnapshots != Int.MaxValue) {
      committedIds(fs, snapDir).sorted.dropRight(retainSnapshots)
        .foreach(id => fs.delete(
          new org.apache.hadoop.fs.Path(s"$targetDir/snapshots/$id"), true))
    }
  }

  /** D6: streaming incremental corpus dedup — [[upsertBatch]]'s replay
    * discipline composed with Dedup.minhashLshIncremental. Each
    * micro-batch of documents:
    *
    *  1. builds its banded minhash signatures ONCE (persisted),
    *  2. checks them against the index = the union of every COMMITTED
    *     prior batch's signatures (new×new + new×index pairs — the
    *     daily-corpus-dedup job as a stream; signature work scales with
    *     the delta, never the archive),
    *  3. appends pairs to `pairs/<batchId>` and its signatures to
    *     `signatures/<batchId>` — in that order.
    *
    * Replay safety: a batch whose SIGNATURE dir is committed already
    * ran to completion and is skipped outright; a crash between the
    * pairs write and the signature write replays against the same
    * committed-prior index (batches are sequential, so no later batch
    * can have committed) and overwrites byte-identical pairs. The
    * index is append-only — no batch rewrites another's files, so at
    * 100 TB the per-batch cost is the delta's signatures plus one
    * banded join against the (bucketable) signature archive.
    *
    * Batch-id contract: each id is checked against EVERY other
    * committed batch (the index is membership-defined — a compacted
    * segment's `_MEMBERS` manifest or a plain committed dir — never a
    * numeric id range), so ids only need to be unique: the streaming
    * engine's gapless monotonic ids are the normal case, and a
    * manually-supplied out-of-order or gap id still runs, still
    * dedups against the full archive, and is never mistaken for a
    * committed replay. Pair completeness holds for ANY arrival order
    * (a pair is emitted by whichever member arrives later), and crash
    * replays stay deterministic because batches against one target are
    * sequential — nothing new can commit between a batch's crash and
    * its replay.
    *
    * Use with `docs.writeStream.foreachBatch(
    *   EventStream.minhashDedupBatch(dir, "doc_id", "text") _)`. */
  def minhashDedupBatch(targetDir: String, idCol: String, textCol: String,
                        shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                        minEstSim: Double = 0.5,
                        tokenHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
                          org.apache.spark.sql.functions.xxhash64(_),
                        hashBandKeys: Boolean = true,
                        shingler: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column =
                          graft.functions.Text.shingles)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val sigRoot = new org.apache.hadoop.fs.Path(s"$targetDir/signatures")
    val fs = sigRoot.getFileSystem(spark.sessionState.newHadoopConf())
    if (isCommitted(fs, sigRoot, batchId))
      return // committed replay: pairs + signatures are already durable
    val banded = graft.operators.Dedup.minhashBandedSignatures(
      batch, idCol, textCol, shingleN, k, bands, tokenHash, hashBandKeys,
      shingler).persist()
    try {
      val prior = archivePaths(fs, sigRoot, batchId)
      val pairs = prior match {
        // first epoch: no index exists, so the batch-vs-index half is
        // statically empty — plan only the self-join instead of a
        // join/union pair against an empty relation
        case Seq() => graft.operators.Dedup
          .minhashSelfPairs(banded, idCol, k, minEstSim)
        // the archive's schema IS the banded schema — passing it skips
        // per-batch parquet footer inference, which at scale means not
        // listing/reading footers across an ever-growing archive on
        // every micro-batch
        case paths => graft.operators.Dedup.minhashPairsWithIndex(banded,
          spark.read.schema(banded.schema).parquet(paths: _*),
          idCol, k, minEstSim)
      }
      // _SUCCESS markers forced on per write job (see upsertBatch) —
      // commit detection depends on them
      pairs.write.mode("overwrite")
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "true")
        .parquet(s"$targetDir/pairs/$batchId")
      banded.write.mode("overwrite")
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "true")
        .parquet(s"$targetDir/signatures/$batchId")
    } finally banded.unpersist()
  }

  /** D15: streaming n-gram-novelty admission — C122's gate run the way
    * a continual-pretraining pipeline actually runs it: candidate
    * batches arrive as a stream, each batch's per-document novelty is
    * measured against the corpus-SO-FAR (the landed reference window-
    * hash dimension PLUS every previously ADMITTED batch), documents
    * with novelty ≥ tau are admitted, and the admitted documents' new
    * window hashes extend the seen archive for every later batch — so
    * a re-crawl that copies an earlier ADMITTED batch is rejected even
    * though the original reference never contained it (the signal the
    * batch form structurally cannot see).
    *
    * Layout under `targetDir`: `verdicts/<batchId>` (one row per doc:
    * n_windows, n_novel, novelty, admitted, batch_id) and
    * `seen/<batchId>` (the admitted docs' window hashes NOT already in
    * the seen set — the archive stays a disjoint union, so its size is
    * the corpus's distinct-window growth, not Σ batch windows).
    *
    * Replay discipline (= [[minhashDedupBatch]]): the seen segment is
    * the COMMIT POINT and writes last; a committed batch id returns
    * immediately; a crash between the verdict write and the seen write
    * replays against the same committed-prior archive and overwrites
    * byte-identical verdicts. Batches against one target are
    * sequential, so nothing can commit in between.
    *
    * 100 TB: per batch, work is the DELTA's windows (explode + hash)
    * joined against the archive — the archive side is hash-only
    * 8-byte rows, bucketable by `h`, and is exactly the dimension
    * [[graft.operators.Curation.seenWindowHashes]] lands for the
    * batch gate; admission adds only genuinely-new hashes, so archive
    * growth is bounded by distinct-window growth of the ADMITTED
    * corpus. `referenceHashes` is that landed dimension (column `h`),
    * read once outside the stream.
    *
    * Use with `docs.writeStream.foreachBatch(
    *   EventStream.noveltyAdmitBatch(dir, refHashes, "doc_id", "text") _)`. */
  def noveltyAdmitBatch(targetDir: String, referenceHashes: DataFrame,
                        idCol: String, textCol: String,
                        k: Int = 8, tau: Double = 0.5,
                        tokenHash: Column => Column = xxhash64(_))(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val seenRoot = new org.apache.hadoop.fs.Path(s"$targetDir/seen")
    val fs = seenRoot.getFileSystem(spark.sessionState.newHadoopConf())
    if (isCommitted(fs, seenRoot, batchId))
      return // committed replay: verdicts + seen segment already durable
    val prior = archivePaths(fs, seenRoot, batchId)
    val seen = prior match {
      case Seq() => referenceHashes.select(col("h"))
      case paths => referenceHashes.select(col("h")).unionByName(
        spark.read.schema(referenceHashes.select(col("h")).schema)
          .parquet(paths: _*))
    }
    // windows computed and PROBED against the archive once per batch:
    // the persisted table carries the per-window seen flag, so the
    // verdict agg and the archive append both reuse the single
    // archive-scale join (the old shape re-joined the archive a second
    // time as an anti-join for the append — one whole archive pass per
    // batch for a set the flag already encodes). Batch-delta-scale;
    // released before return.
    val nw = batch.select(col(idCol),
        explode(graft.functions.Text.shinglesWithDuplicates(col(textCol), k)).as("w"))
      .select(col(idCol), tokenHash(col("w")).as("h"))
      // the seen union is DISTINCT by construction (referenceHashes is
      // the distinct landed dimension; every segment anti-joined before
      // landing), so the left join cannot fan out a window row and no
      // per-batch dedup of the archive is ever paid — a duplicate `h`
      // would double-count joined candidate windows, which is why the
      // disjoint-union invariant is load-bearing
      .join(seen.withColumn("_seen", lit(1L)), Seq("h"), "left")
      .persist()
    try {
      val verdicts = nw
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("_seen").isNull, 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty",
          round(col("n_novel").cast("double") / col("n_windows"), 6))
        .withColumn("admitted", col("novelty") >= tau)
        .withColumn("batch_id", lit(batchId))
        .persist()
      try {
        verdicts.write.mode("overwrite")
          .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "true")
          .parquet(s"$targetDir/verdicts/$batchId")
        // admitted docs' hashes not already seen — the disjoint delta,
        // read straight off the flag (h ∉ seen ⟺ _seen null on every
        // row carrying that h, so the filtered distinct is exactly the
        // old distinct-then-anti-join set)
        val newHashes = nw.filter(col("_seen").isNull)
          .join(verdicts.filter(col("admitted")).select(col(idCol)), Seq(idCol), "left_semi")
          .select(col("h")).distinct()
        newHashes.write.mode("overwrite")
          .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "true")
          .parquet(s"$targetDir/seen/$batchId")
      } finally verdicts.unpersist()
    } finally nw.unpersist()
  }

  /** Compact the [[noveltyAdmitBatch]] target: committed `seen`
    * segments strictly below the newest batch coalesce into one
    * hash-sorted segment (the archive side of every later batch's
    * join reads few, tight, stats-prunable files instead of one dir
    * per batch forever), and the verdict output dirs fold the same
    * way keyed by doc id. Same crash discipline as
    * [[compactSignatures]]: segment + `_MEMBERS` manifest commit
    * BEFORE covered dirs delete; the read paths prefer the widest
    * committed segment either way; disjointness of the seen union is
    * preserved (a union of disjoint inputs). Returns true when a
    * segment was written. */
  def compactSeen(spark: org.apache.spark.sql.SparkSession,
                  targetDir: String, nFiles: Int = 32,
                  idCol: String = "doc_id"): Boolean = {
    val seenRoot = new org.apache.hadoop.fs.Path(s"$targetDir/seen")
    val verdictRoot = new org.apache.hadoop.fs.Path(s"$targetDir/verdicts")
    val fs = seenRoot.getFileSystem(spark.sessionState.newHadoopConf())
    sweepCovered(fs, seenRoot)
    sweepCovered(fs, verdictRoot)
    val plain = committedIds(fs, seenRoot)
    if (plain.isEmpty) return false
    val newest = plain.max
    val seenDone = compactRoot(spark, fs, seenRoot, newest, Seq("h"), nFiles)
    val verdictDone = compactRoot(spark, fs, verdictRoot, newest,
      Seq(idCol), nFiles)
    seenDone || verdictDone
  }

  /** every per-document admission verdict the [[noveltyAdmitBatch]]
    * sink has recorded so far (committed batches only). */
  def readAllVerdicts(spark: org.apache.spark.sql.SparkSession,
                      targetDir: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(s"$targetDir/verdicts")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(root), s"novelty target $targetDir has no verdicts")
    val paths = archivePaths(fs, root, excludeId = -1L)
    require(paths.nonEmpty, s"novelty target $targetDir has no committed verdicts")
    spark.read.parquet(paths: _*)
  }

  /** all near-dup pairs the [[minhashDedupBatch]] sink has recorded so
    * far (committed batches only). */
  def readAllPairs(spark: org.apache.spark.sql.SparkSession,
                   targetDir: String): DataFrame = {
    val pairsRoot = new org.apache.hadoop.fs.Path(s"$targetDir/pairs")
    val fs = pairsRoot.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(pairsRoot), s"dedup target $targetDir has no pairs")
    val paths = archivePaths(fs, pairsRoot, excludeId = -1L)
    require(paths.nonEmpty, s"dedup target $targetDir has no committed pairs")
    spark.read.parquet(paths: _*)
  }

  /** Compact the [[minhashDedupBatch]] signature archive: every
    * committed batch dir (and any previous segment) STRICTLY below the
    * newest committed batch coalesces into one `lo-hi` segment, written
    * sorted + range-disjoint on the (band, key) join key
    * ([[graft.io.Layout.writeSorted]]) so the archive side of the
    * banded join reads few, tight, stats-prunable files instead of one
    * small directory per batch forever. The newest batch stays a plain
    * dir — the streaming engine only ever crash-replays the current
    * epoch, and that replay's index/skip logic must see the world it
    * committed against.
    *
    * Crash-safe ordering: the segment commits (with its _SUCCESS)
    * BEFORE any covered dir is deleted, and the read path
    * ([[archivePaths]]) always prefers the widest committed segment —
    * a crash between the two steps leaves covered dirs that are merely
    * redundant and are swept by the next compaction. Returns true when
    * a segment was written. */
  def compactSignatures(spark: org.apache.spark.sql.SparkSession,
                        targetDir: String, nFiles: Int = 32): Boolean = {
    val sigRoot = new org.apache.hadoop.fs.Path(s"$targetDir/signatures")
    val fs = sigRoot.getFileSystem(spark.sessionState.newHadoopConf())
    // crash recovery first: a compaction that died between its segment
    // commit and its member deletes left covered dirs behind — the read
    // path ignores them, but archivePaths excludes them from `members`,
    // so without this sweep they would leak forever
    sweepCovered(fs, sigRoot)
    sweepCovered(fs, new org.apache.hadoop.fs.Path(s"$targetDir/pairs"))
    val plain = committedIds(fs, sigRoot)
    if (plain.isEmpty) return false
    val newest = plain.max
    val sigDone = compactRoot(spark, fs, sigRoot, newest, Seq("band", "key"), nFiles)
    // the pairs OUTPUT dirs accumulate the same way; same sweep, same
    // bound (ids below the newest signature batch are final — only the
    // current epoch ever replays, and its rewrite is byte-identical).
    // Attempted INDEPENDENTLY of the signatures result: the two roots
    // can decline for different reasons (lone source, or the gap-id
    // same-name guard in compactRoot), and a signatures no-op must not
    // leave a legal pairs fold deferred forever.
    val pairsDone = compactRoot(spark, fs,
      new org.apache.hadoop.fs.Path(s"$targetDir/pairs"), newest,
      Seq("id_a", "id_b"), nFiles)
    sigDone || pairsDone
  }

  /** Coalesce `root`'s committed archive strictly below `newest` (the
    * widest committed segment + uncovered plain dirs) into one segment
    * carrying a `_MEMBERS` manifest of the ACTUAL batch ids inside —
    * membership, not the `lo-hi` name range, decides commit/skip and
    * sweep decisions everywhere, so batch ids need NOT be gapless: a
    * genuinely new id that falls inside a segment's numeric range is
    * still processed, never mistaken for a committed replay. No-op
    * (false) when fewer than two sources exist. */
  private def compactRoot(spark: org.apache.spark.sql.SparkSession,
                          fs: org.apache.hadoop.fs.FileSystem,
                          root: org.apache.hadoop.fs.Path, newest: Long,
                          sortCols: Seq[String], nFiles: Int): Boolean = {
    val best = bestSegment(fs, root)
    val plainBelow = committedIds(fs, root)
      .filter(id => id < newest && !best.exists(_.members(id)))
    val paths = best.map(_.path.toString).toSeq ++
      plainBelow.sorted.map(id => new org.apache.hadoop.fs.Path(root, id.toString).toString)
    if (paths.size < 2) return false
    val memberIds = best.map(_.members).getOrElse(Set.empty) ++ plainBelow
    val outName = s"${memberIds.min}-${memberIds.max}"
    // A gap id strictly inside the segment's range widens the MEMBER
    // set but not the min-max NAME — writing there would overwrite the
    // very segment being read. Leave the gap dir plain; a later
    // compaction whose range extends past hi folds it in. The read
    // path is correct either way (archivePaths includes uncovered
    // plain dirs). Compared by NAME: listStatus returns qualified
    // (file:/...) paths while `root` may be scheme-less.
    if (best.exists(_.path.getName == outName)) return false
    compactInto(spark, fs, paths, memberIds, sortCols, nFiles,
      new org.apache.hadoop.fs.Path(root, outName).toString)
    true
  }

  /** delete committed plain dirs and narrower segments whose MEMBERS
    * the widest committed segment already carries — the crash-recovery
    * sweep for a compaction that died between its segment commit and
    * its member deletes. Membership (not name range) gates every
    * delete: a new gap-id batch dir inside the range survives. Returns
    * whether anything was removed. */
  private def sweepCovered(fs: org.apache.hadoop.fs.FileSystem,
                           root: org.apache.hadoop.fs.Path): Boolean = {
    val segs = committedSegments(fs, root)
    if (segs.isEmpty) return false
    val best = segs.sortBy(s => (s.hi, -s.lo)).last
    val doomed =
      committedIds(fs, root).filter(best.members)
        .map(id => new org.apache.hadoop.fs.Path(root, id.toString)) ++
      segs.filter(s => s.path != best.path && s.members.subsetOf(best.members))
        .map(_.path)
    doomed.foreach(p => fs.delete(p, true))
    doomed.nonEmpty
  }

  /** segment write + member manifest + explicit commit marker +
    * covered-dir sweep. The `_MEMBERS` manifest is the real commit
    * point ([[committedSegments]] ignores a segment without one), so a
    * crash mid-sequence leaves the covered dirs in place for the next
    * compaction to redo — writeSorted overwrites the segment dir. */
  private def compactInto(spark: org.apache.spark.sql.SparkSession,
                          fs: org.apache.hadoop.fs.FileSystem,
                          paths: Seq[String], memberIds: Iterable[Long],
                          sortCols: Seq[String],
                          nFiles: Int, out: String): Unit = {
    graft.io.Layout.writeSorted(spark.read.parquet(paths: _*),
      sortCols, nFiles, out)
    val manifest = fs.create(
      new org.apache.hadoop.fs.Path(s"$out/_MEMBERS"), true)
    try manifest.write(memberIds.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
    finally manifest.close()
    // Layout writes through the default committer; make the marker
    // explicit in case a global tuning disabled it
    val marker = new org.apache.hadoop.fs.Path(s"$out/_SUCCESS")
    if (!fs.exists(marker)) fs.create(marker, true).close()
    paths.foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), true))
  }

  private case class Segment(lo: Long, hi: Long,
                             path: org.apache.hadoop.fs.Path,
                             members: Set[Long])

  /** committed compacted segments `<lo>-<hi>` under `root` — committed
    * means BOTH the `_SUCCESS` marker and the `_MEMBERS` manifest of
    * actual batch ids exist (the manifest is what distinguishes "ran
    * and was compacted" from "happens to fall in the name range").
    * Migration note: a segment written by the pre-manifest format
    * (marker only) is treated as uncommitted and ignored by reads and
    * sweeps — to adopt one, write an `_MEMBERS` file listing its batch
    * ids (newline-separated); nothing in this repo's history shipped
    * manifest-less segments outside transient test dirs. */
  private def committedSegments(fs: org.apache.hadoop.fs.FileSystem,
                                root: org.apache.hadoop.fs.Path): Seq[Segment] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).map(_.getPath).toSeq
      .filter(p => p.getName.matches("\\d+-\\d+") &&
        fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      .flatMap { p =>
        val mf = new org.apache.hadoop.fs.Path(p, "_MEMBERS")
        if (!fs.exists(mf)) None // manifest is the commit point
        else {
          val in = fs.open(mf)
          val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                    finally in.close()
          val ids = txt.split("\\s+").iterator.filter(_.nonEmpty)
            .map(_.toLong).toSet
          val Array(lo, hi) = p.getName.split("-")
          Some(Segment(lo.toLong, hi.toLong, p, ids))
        }
      }

  /** the widest committed segment: max hi, then widest lo — an
    * interrupted compaction can leave nested segments. */
  private def bestSegment(fs: org.apache.hadoop.fs.FileSystem,
                          root: org.apache.hadoop.fs.Path): Option[Segment] =
    committedSegments(fs, root).sortBy(s => (s.hi, -s.lo)).lastOption

  /** The committed archive EXCEPT `excludeId` (pass a negative id for
    * the whole archive): the widest committed segment plus every plain
    * batch dir not among its members. Selection is by membership, not
    * id ordering — a batch checking its prior index must see every
    * OTHER committed batch whatever order ids arrived in (a gap id's
    * near-dups against later-id batches would otherwise silently
    * vanish). `excludeId` can never sit inside the segment: only
    * COMPLETED batches compact, and a completed id is skipped by
    * [[isCommitted]] before any index read. */
  private def archivePaths(fs: org.apache.hadoop.fs.FileSystem,
                           root: org.apache.hadoop.fs.Path,
                           excludeId: Long): Seq[String] = {
    val best = bestSegment(fs, root)
    val plain = committedIds(fs, root)
      .filter(id => id != excludeId && !best.exists(_.members(id)))
    best.map(_.path.toString).toSeq ++
      plain.sorted.map(id => new org.apache.hadoop.fs.Path(root, id.toString).toString)
  }

  /** committed either as its own plain dir or as a segment MEMBER — a
    * gap id inside a segment's numeric range is NOT committed. */
  private def isCommitted(fs: org.apache.hadoop.fs.FileSystem,
                          root: org.apache.hadoop.fs.Path, id: Long): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(root, s"$id/_SUCCESS")) ||
      committedSegments(fs, root).exists(_.members(id))

  /** ids of subdirectories carrying a _SUCCESS commit marker. Only
    * all-digit names count: a foreign directory that happens to carry a
    * _SUCCESS (hand-copied backup, `_temporary` remnant) must be
    * IGNORED, not NumberFormatException the whole read path. */
  private def committedIds(fs: org.apache.hadoop.fs.FileSystem,
                           root: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).map(_.getPath).toSeq
      .filter(p => p.getName.matches("\\d+") &&
        fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      .map(_.getName.toLong)

  /** the race-free read path for [[upsertBatch]] targets: the
    * highest-id COMMITTED snapshot — only directories carrying Spark's
    * _SUCCESS marker count, so an in-flight (or crashed-partial)
    * snapshot write is never read. A caller that knows the snapshot's
    * `schema` passes it, and the read infers none (no footer job). */
  def readLatestState(spark: org.apache.spark.sql.SparkSession,
                      targetDir: String,
                      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val snapDir = new org.apache.hadoop.fs.Path(s"$targetDir/snapshots")
    val fs = snapDir.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(snapDir), s"upsert target $targetDir has no snapshots")
    val committed = committedIds(fs, snapDir)
    require(committed.nonEmpty, s"upsert target $targetDir has no committed snapshots")
    schema.fold(spark.read)(spark.read.schema)
      .parquet(s"$targetDir/snapshots/${committed.max}")
  }
}
