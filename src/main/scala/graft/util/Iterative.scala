package graft.util

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{coalesce, count, lit}

/** Shared discipline for iterative driver loops (PageRank, label
  * propagation, connected components, logreg training): run the loop
  * body with AQE OFF and the shuffle-partition count matched to the
  * loop's working-set size.
  *
  * Why AQE off (guide §2.4): adaptive execution materializes every
  * exchange as its OWN scheduled job to re-plan downstream stages.
  * For a one-shot query that re-planning pays for itself; inside a
  * fixed-shape iteration it only multiplies the per-round job count —
  * measured on the C68 PageRank row: 58 jobs / 835 tasks for 6 rounds
  * under AQE vs ~2 jobs/round without (the round's plan never changes,
  * so there is nothing for AQE to learn after round 1). The classifier
  * gradient loop proved the pattern in r10; this utility applies it
  * uniformly.
  *
  * Why a derived partition count (guide §2.2): the loop's exchanges
  * carry node-scale (id, long) rows, far smaller than the session's
  * corpus-sized shuffle setting assumes. Partitions are sized from the
  * actual row count at `spark.graft.loop.rowsPerPartition` rows per
  * task (default 4M ≈ 64 MB of 16-byte rows, inside the guide's
  * 100 MB–1 GB band) — scale-adaptive by construction: a 500-node
  * fixture iterates in 1 partition, a 10¹⁰-node corpus in thousands,
  * with no constant tuned to either.
  *
  * SESSION-SCOPED, by construction: the overrides are visible to any
  * other query planned on the same SparkSession while the body runs —
  * fine for single-query drivers (Verify/Bench); a multi-tenant
  * service should isolate the loop on `spark.newSession()`. The confs
  * restore on exit.
  *
  * Why plan leaves ([[leaf]]): a loop input read through `persist()`
  * drags its cached lineage into every round's plan, and the driver
  * re-analyses, re-matches and re-prints it each round — on the corpus
  * benchmark's PageRank that cost more than the rounds' jobs. An eager
  * `localCheckpoint` leaves a `LogicalRDD` with no lineage that keeps
  * its physical layout (a `repartition(n, k)` leaf still reports
  * `hashpartitioning(k, n)`). The trade: its blocks die with their
  * executor, so a lost executor fails the loop instead of recomputing
  * — as the per-round checkpoints already accept. Loops [[release]]
  * every leaf but the one their result reads. */
object Iterative {

  val RowsPerPartitionKey = "spark.graft.loop.rowsPerPartition"
  val RowsPerPartitionDefault = 4000000L

  /** partition count for a loop whose per-round exchanges carry
    * ~`rows` rows: ceil(rows / rowsPerPartition), floor 1. */
  def partitionsFor(spark: SparkSession, rows: Long): Int = {
    val per = spark.conf.getOption(RowsPerPartitionKey)
      .map(_.toLong).getOrElse(RowsPerPartitionDefault).max(1L)
    (((rows.max(0L) + per - 1) / per).max(1L)).min(Int.MaxValue.toLong).toInt
  }

  /** join hint for a round's build side. A leaf's size estimate is its
    * origin plan's, so a small loop would broadcast a leaf (the edges
    * too) every round, one build job each; a shuffle-hash join reads
    * the co-partitioned leaves with no build job, exchange or sort. */
  val ShuffleHash = "shuffle_hash"

  /** `df` as an eager localCheckpoint — a plan leaf — with its row
    * count and each `metrics` aggregate as a long (null reads 0), all
    * observed in the checkpoint's own job. Returns the leaf and
    * `count +: metrics`. The leaf's partitioning names the OPTIMIZED
    * plan's attributes, and a same-name alias (`col("id").as("id")`) is
    * optimized away, losing it: rename with `withColumnRenamed`. */
  def leaf(df: DataFrame, metrics: Column*): (DataFrame, IndexedSeq[Long]) = {
    val obs = Observation()
    val named = (count(lit(1)) +: metrics).zipWithIndex.map { case (m, i) =>
      coalesce(m.cast("long"), lit(0L)).as(s"m$i")
    }
    val cp = df.observe(obs, named.head, named.tail: _*).localCheckpoint(true)
    val got = obs.get
    (cp, named.indices.map(i => got(s"m$i").asInstanceOf[Long]))
  }

  /** drop a [[leaf]]'s checkpointed blocks (non-blocking). Only for a
    * leaf nothing still reads: its blocks are its only copy. */
  def release(leaf: DataFrame): Unit = leaf.queryExecution.logical match {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false)
    case _ => ()
  }

  /** run `body` with AQE off (one action = one scheduled job, not one
    * job per materialized stage), `spark.sql.shuffle.partitions` pinned
    * to `npart`, and constraint propagation off: a [[leaf]] keeps its
    * origin plan's constraints, so the optimizer would otherwise re-infer
    * the caller's predicates as filters in every round's plan. All three
    * confs restore on exit. */
  def withLoopConf[A](spark: SparkSession, npart: Int)(body: => A): A = {
    val loop = Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> npart.toString,
      "spark.sql.constraintPropagation.enabled" -> "false")
    val was = loop.map { case (k, _) => k -> spark.conf.getOption(k) }
    loop.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally was.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
