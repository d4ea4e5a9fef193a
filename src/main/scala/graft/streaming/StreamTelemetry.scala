package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.streaming.StreamingQuery

/** Synchronous state-store telemetry for finished streaming queries.
  *
  * The r14 StreamScale tool read state footprints from a global
  * `StreamingQueryListener`, but progress events are delivered
  * asynchronously on the listener bus — a read right after
  * `awaitTermination()` can miss the final trigger, and a straggling
  * event from the PREVIOUS query can contaminate the next sample's
  * max (base vs scaled runs shared the counters). This object replaces
  * that with the synchronous source of truth: the terminated query's
  * own `recentProgress` array, recorded by the parity harness at the
  * `awaitTermination()` site (so it can never race) and read by
  * whoever wants the numbers afterwards.
  *
  * Accumulation is max-across-queries since the last [[reset]]: a
  * parity row that runs several streams reports its largest state
  * footprint, matching the old listener's semantics minus the races.
  *
  * [[maxStorePasses]] makes a re-executed stateful operator visible:
  * per operator and trigger, `numStateStoreInstances /
  * numShufflePartitions` rounded up, maxed over both. 1 means every
  * stateful operator ran once per trigger; a `foreachBatch` sink that
  * reads its batch twice runs the operator twice and reads 2. A
  * stream-stream join opens four stores per partition, so it reads 4
  * per pass.
  * Until `EventStream.upsertBatch` read its batch once, rows that sink
  * into it reported [[maxStateRows]] double-counted: each pass added
  * the full state's rows.
  */
object StreamTelemetry {
  private val rows = new AtomicLong()
  private val bytes = new AtomicLong()
  private val passes = new AtomicLong()

  def reset(): Unit = { rows.set(0); bytes.set(0); passes.set(0) }

  /** Record a TERMINATED query's state maxima (max across its triggers
    * of the per-trigger operator sums). `recentProgress` retains the
    * last `spark.sql.streaming.numRecentProgressUpdates` (default 100)
    * triggers — far above the finite-replay trigger counts here. */
  def record(q: StreamingQuery): Unit = {
    val perTrigger = q.recentProgress.toSeq.map { p =>
      (p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum)
    }
    if (perTrigger.nonEmpty) {
      rows.accumulateAndGet(perTrigger.map(_._1).max, Math.max(_, _))
      bytes.accumulateAndGet(perTrigger.map(_._2).max, Math.max(_, _))
    }
    val storePasses = for {
      p <- q.recentProgress.toSeq
      op <- p.stateOperators if op.numShufflePartitions > 0
    } yield (op.numStateStoreInstances + op.numShufflePartitions - 1) / op.numShufflePartitions
    if (storePasses.nonEmpty) passes.accumulateAndGet(storePasses.max, Math.max(_, _))
  }

  def maxStateRows: Long = rows.get
  def maxStateBytes: Long = bytes.get
  def maxStorePasses: Long = passes.get
}
