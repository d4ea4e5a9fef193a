package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph}
import graft.util.Iterative

/** The discipline the graph loops share ([[graft.util.Iterative]]):
  * inputs and rounds as checkpointed plan leaves, loop partitions sized
  * from the edge count, and no checkpoint left behind but the result's. */
class IterativeSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Int = spark.sparkContext.getPersistentRDDs.size

  // a dense graph: every ordered pair of 12 nodes, 132 edges
  private val nodes = (0L until 12L).toDF("id")
  private val dense = (for (a <- 0L until 12L; b <- 0L until 12L if a != b) yield (a, b))
    .toDF("src", "dst")

  test("leaf: one job checkpoints and observes its count; release drops it") {
    val before = persisted
    val ((lf, got), trace) = LoopProbe.record(spark) {
      Iterative.leaf(spark.range(10).toDF("x"), sum(col("x")), max(col("x")))
    }
    try {
      assert(got == Seq(10L, 45L, 9L))
      assert(trace.jobs.size == 1, trace.jobs)
      assert(lf.queryExecution.executedPlan.collectLeaves().map(_.nodeName) == Seq("Scan ExistingRDD"),
        lf.queryExecution.executedPlan)
      assert(persisted == before + 1)
      assert(lf.as[Long].collect().sorted.toSeq == (0L until 10L))
    } finally Iterative.release(lf)
    assert(persisted == before)
  }

  test("pageRank and labelPropagation size the edge layout from the edge count") {
    val key = Iterative.RowsPerPartitionKey
    val pr0 = Graph.pageRank(nodes, dense, "id", iters = 2).collect().toSet
    val lp0 = Graph.labelPropagation(nodes, dense, "id", iters = 2).collect().toSet
    spark.conf.set(key, "20")
    try {
      val npart = Iterative.partitionsFor(spark, 132L)
      assert(npart == 7 && Iterative.partitionsFor(spark, 12L) == 1)
      def rounds(run: => DataFrame, iters: Int) = {
        val (out, trace) = LoopProbe.record(spark)(run)
        (out.collect().toSet, trace.plans.takeRight(iters))
      }
      val (pr, prRounds) = rounds(Graph.pageRank(nodes, dense, "id", iters = 2), 2)
      val (lp, lpRounds) = rounds(Graph.labelPropagation(nodes, dense, "id", iters = 2), 2)
      assert(pr == pr0 && lp == lp0, "the partition count must not change a result")
      (prRounds ++ lpRounds).foreach { p =>
        val edgeScans = p.collectLeaves().filter(_.output.exists(_.name == "src"))
        assert(edgeScans.nonEmpty && edgeScans.forall(_.outputPartitioning.numPartitions == npart),
          s"edge layout must have partitionsFor(edges) = $npart partitions:\n$p")
        assert(p.collect { case e: ShuffleExchangeExec => e.numPartitions }.forall(_ == npart), p)
      }
      // the rank side and both leaves share one hash layout: a PageRank
      // round shuffles only its contributions
      prRounds.foreach { p =>
        assert(p.collect { case e: ShuffleExchangeExec => e }.size == 1, p)
      }
    } finally {
      spark.conf.unset(key)
      graft.util.CacheRegistry.releaseAll()
    }
  }

  test("graph loops leave at most one persisted RDD behind per call") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 8L), (8L, 9L)).toDF("id_a", "id_b")
    val calls = Seq[(String, () => DataFrame)](
      "pageRank" -> (() => Graph.pageRank(nodes, dense, "id", iters = 3)),
      "labelPropagation" -> (() => Graph.labelPropagation(nodes, dense, "id", iters = 3)),
      "connectedComponents" -> (() => Dedup.connectedComponents(nodes, pairs, "id")))
    calls.foreach { case (name, call) =>
      val before = persisted
      val out = call()
      assert(persisted - before <= 1, s"$name left ${persisted - before} persisted RDDs")
      assert(out.count() == 12L, s"$name: its result must stay readable")
    }
  }
}
