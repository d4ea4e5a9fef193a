package graft.tools

import org.apache.spark.sql.SparkSession

/** Prints the physical-plan shape counts (shuffle exchanges, broadcast
  * exchanges, joins) for the expensive bench rows, as measured from
  * each demo's pre-execution executedPlan at a given sf dir. Feeds the
  * PlanShapeSpec regression gate: run this after an intentional plan
  * change, read the new counts, update the pinned map — a count that
  * moved WITHOUT an intentional change is a plan regression that
  * should fail `sbt test` instead of surfacing as an unexplained bench
  * delta.
  *
  * Run: `sbt "runMain graft.tools.PlanCounts [sfDir]"`. */
object PlanCounts {
  /** rows the gate pins: the r11 verdict's top-10 bench rows, plus
    * the r12 multi-second additions (bitext_mine ~4 s, setsim_join
    * ~2 s at sf0.1) */
  val Gated: Seq[String] = Seq(
    "pagerank_centrality", "centrality_gate", "cdc_chunk_dedup",
    "bm25_index", "bm25_index_append", "bm25_topk",
    "dedup_canonicalize", "cluster_representative",
    "dup_span_detect", "minhash_lsh_eval", "winnow_fingerprint",
    "bitext_mine", "setsim_join", "contain_join",
    "ivf_recall_curve", "lsh_recall_curve",
    // r13 additions (r12 verdict task 8): the remaining shuffle-heavy
    // r12 plans — the two-sided prefix join, the LSH-candidate bitext
    // path, and the two-phase cumsum shard layout
    "setsim_join_rs", "bitext_mine_ann", "shard_balance",
    // r13 additions: the two heaviest new batch rows (takedown rides
    // the full minhash+CC chain; mink rides the bigram LM + rank cut)
    "takedown_propagate", "mink_score",
    // r14 additions (r13 verdict task 5): the remaining multi-second
    // r13 rows. bm25_index_compact's compaction work is side-effecting
    // artifact I/O at demo-build time; the pinned plan is its read-back
    // path (postings scan + verdict joins) — the lifecycle cost is
    // priced by the bm25 family ladder instead (SURVEY §2 C114)
    "curriculum_order", "sft_pack", "unimax_apply", "bm25_index_compact")

  /** gated rows resolve from the full registry: oracle-gated demos,
    * bench extras, and the smoke-only variants (bitext_mine_ann lives
    * there — its oracle-stable twin is the exhaustive bitext_mine). */
  def resolve(name: String): (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
    (graft.SparkEntry.queries ++ graft.SparkEntry.benchExtras ++
      graft.ScaleSmoke.SmokeExtras)(name)

  // ReusedExchange nodes are excluded from BOTH counts: reuse of an
  // existing exchange changes no shuffle/broadcast work, and counting
  // it would fail the gate on an optimizer reuse decision while
  // blaming shuffle shape
  def shuffles(plan: String): Int =
    "(?<!Broadcast)(?<!Reused)Exchange".r.findAllIn(plan).length
  def broadcasts(plan: String): Int =
    "BroadcastExchange".r.findAllIn(plan).length
  def joins(plan: String): Int =
    ("SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|" +
      "BroadcastNestedLoopJoin|CartesianProduct").r.findAllIn(plan).length

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    // same cores as the PlanShapeSpec gate's session, so the printed
    // counts are the ones the gate checks
    val spark = graft.GraftSession.local("plan-counts", "4", 4)
    Gated.foreach { name =>
      val df = resolve(name)(spark, sfDir)
      val p = df.queryExecution.executedPlan.toString
      println(s"""PLANCOUNT {"query":"$name","shuffles":${shuffles(p)},""" +
        s""""broadcasts":${broadcasts(p)},"joins":${joins(p)}}""")
      graft.util.CacheRegistry.releaseAll()
    }
    spark.stop()
  }
}
