package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.Iterative

/** Graph centrality for corpus curation.
  *
  * Web-pipeline lineage: CCNet/RefinedWeb-class curation weights
  * sources by link-graph centrality (Common Crawl publishes harmonic
  * centrality for exactly this); inside a corpus, the same signal
  * over the document similarity graph (C46's mutual-kNN edges) scores
  * how "central" each document is to its corpus — hubs are
  * representative, isolated nodes are outliers — feeding
  * centrality-weighted sampling the way [[Sampling.sourceQualityGate]]
  * consumes quality scores.
  */
object Graph {

  /** Fixed-iteration PageRank over a directed edge list, in EXACT
    * scaled-integer arithmetic.
    *
    * Two design decisions carry this to 100 TB:
    *
    *  1. **One query and one action per round, over plan leaves.**
    *     The iteration count is fixed up front (the standard production
    *     form). The src-partitioned edges (out-degrees attached) and the
    *     node set (its `_dng` flag marks no out-edge) are eager
    *     [[graft.util.Iterative.leaf]] checkpoints, so no round re-walks
    *     the caller's lineage. Each round's ranks are a leaf too, and the
    *     NEXT round's dangling mass (Σ r over `_dng` nodes) is observed
    *     in that checkpoint's job: 1 job per round, where a separate
    *     dangling-mass `first()` made it 3 (`GraphSpec` pins it). AQE is
    *     off and partitions are sized from the observed EDGE count
    *     ([[graft.util.Iterative]]); ranks and edges share that hash
    *     layout, so a round shuffles only its contributions.
    *
    *  2. **Scaled-integer ranks (`scale` = 10^15), not doubles.**
    *     Float PageRank ties the result to an unguaranteed summation
    *     order; here rank mass is a BIGINT in units of 10^-15, every
    *     contribution is an integer `DIV`, and sums of longs are
    *     order-free — any engine, any partitioning, any fold order
    *     produces identical bits (the rand_proj_reduce discipline).
    *     The floor losses are the DEFINED semantics, mirrored
    *     verbatim by the DuckDB oracle's `//`. Max intermediate is
    *     dampNum · 2·scale ≈ 1.7e17 ≪ 2^63.
    *
    * Per iteration: r'(v) = ((dampDen-dampNum)·S DIV n
    *                         + dampNum · (Σ_{u→v} r(u) DIV outdeg(u)
    *                                      + dangling DIV n)) DIV dampDen
    * where dangling = Σ r(u) over nodes with no out-edges (their mass
    * redistributes uniformly — the standard dangling-node treatment).
    *
    * Shuffle shape: 8-byte ids only (document text never moves); each
    * round shuffles (id, long) contributions on the node key,
    * map-side combinable. The leaves and every round but the last are
    * released before returning; the result reads the last round's
    * checkpoint.
    *
    * `edges` must be DIRECTED (src, dst) — pass both directions for an
    * undirected graph. `nodes` fixes the vertex set (isolated nodes
    * keep teleport mass). Returns (id, rank_e15, rank). */
  def pageRank(nodes0: DataFrame, edges: DataFrame, idCol: String,
               srcCol: String = "src", dstCol: String = "dst",
               iters: Int = 6, dampNum: Long = 85L, dampDen: Long = 100L,
               scale: Long = 1000000000000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampNum >= 0 && dampNum <= dampDen,
      s"damping $dampNum/$dampDen out of [0, 1]")
    val spark = nodes0.sparkSession
    val (ed, Seq(nEdges)) = Iterative.leaf(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    val npart = Iterative.partitionsFor(spark, nEdges)
    val ranks = Iterative.withLoopConf(spark, npart) {
      val eo = Iterative.leaf(edgesWithOutdeg(ed, npart))._1
      Iterative.release(ed)
      val (nodes, Seq(n, nDang)) = Iterative.leaf(
        nodes0.select(col(idCol)).withColumnRenamed(idCol, "id").repartition(npart, col("id"))
          .join(eo.select(col("src").as("id"), lit(false).as("_dng")).distinct()
            .hint(Iterative.ShuffleHash), Seq("id"), "left")
          .select(col("id"), coalesce(col("_dng"), lit(true)).as("_dng")),
        sum(col("_dng").cast("long")))
      require(n > 0, "pageRank needs a non-empty node set")
      var r = nodes.withColumn("r", lit(scale / n))
      var dang = nDang * (scale / n)
      for (_ <- 1 to iters) {
        // alias both sides so the re-join's attributes stay unambiguous;
        // shuffle-hash joins over the shared layout (Iterative.ShuffleHash)
        val contrib = r.hint(Iterative.ShuffleHash).as("rr")
          .join(eo.as("ee"), col("rr.id") === col("ee.src"))
          .select(col("ee.dst").as("id"), expr("rr.r DIV ee.outdeg").as("c"))
          .groupBy("id").agg(sum(col("c")).as("contrib"))
        // dang / n: longs ≥ 0, the same floor as SQL DIV
        val (next, Seq(_, nextDang)) = Iterative.leaf(
          r.select(col("id"), col("_dng"))
            .join(contrib.hint(Iterative.ShuffleHash), Seq("id"), "left")
            .select(col("id"), col("_dng"), expr(
              s"(${(dampDen - dampNum) * scale} DIV $n + $dampNum * " +
                s"(coalesce(contrib, CAST(0 AS BIGINT)) + ${dang / n})) DIV $dampDen")
              .as("r")),
          sum(when(col("_dng"), col("r"))))
        Iterative.release(r) // round 1's r projects the node leaf: a no-op
        r = next
        dang = nextDang
      }
      Iterative.release(eo)
      Iterative.release(nodes)
      r
    }
    ranks.select(col("id"), col("r").as("rank_e15"),
      (col("r").cast("double") / lit(scale.toDouble)).as("rank"))
  }

  /** Synchronous label-propagation community detection (Raghavan,
    * Albert, Kumara 2007) — the near-dup-cluster / topic-pocket
    * grouping step a corpus pipeline runs where connected components
    * (C13) is too coarse (CC merges everything touching; LPA keeps
    * densely-linked pockets separate): every node starts labeled with
    * its own id, and each round adopts the label carried by the
    * PLURALITY of its neighbors.
    *
    * DETERMINISM (classic LPA is randomized — random visit order,
    * random tie choice — and irreproducible at cluster scale): rounds
    * are synchronous (all updates read round i−1, so partitioning and
    * visit order cannot matter), ties break to the SMALLEST label via
    * one integer `min(struct(-count, label))`, and a node with no
    * neighbors keeps its label. Fixed `iters` bounds the known
    * oscillation of synchronous LPA on bipartite-ish structures —
    * the defined semantics is "labels after N rounds", mirrored
    * verbatim by the oracle's N unrolled CTEs.
    *
    * Shuffle shape per round: labels (8-byte pairs) join the
    * src-partitioned edge leaf (the [[edgesWithOutdeg]] layout
    * discipline) — the edge table never re-shuffles — then ONE
    * map-side-combinable count per (dst, label) and one argmax fold
    * per dst; node-scale exchanges only. The [[pageRank]] discipline:
    * each round is one eager checkpoint of a plan over leaves only, and
    * the leaves and every round but the last are released before
    * returning. Returns (id, community). */
  def labelPropagation(nodes0: DataFrame, edges: DataFrame, idCol: String,
                       srcCol: String = "src", dstCol: String = "dst",
                       iters: Int = 4): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = nodes0.sparkSession
    // the [[pageRank]] discipline: edge-count-sized loop partitions,
    // AQE off, and every round planned against checkpointed leaves
    val (ed0, Seq(nEdges)) = Iterative.leaf(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    val npart = Iterative.partitionsFor(spark, nEdges)
    val labels = Iterative.withLoopConf(spark, npart) {
      val ed = Iterative.leaf(ed0.repartition(npart, col("src")))._1
      Iterative.release(ed0)
      var lab = Iterative.leaf(nodes0.select(col(idCol)).withColumnRenamed(idCol, "id")
        .withColumn("lab", col("id")).repartition(npart, col("id")))._1
      for (_ <- 1 to iters) {
        val winner = lab.hint(Iterative.ShuffleHash).as("ll")
          .join(ed.as("ee"), col("ll.id") === col("ee.src"))
          .groupBy(col("ee.dst").as("id"), col("ll.lab").as("lab"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("id"))
          .agg(min(struct((-col("c")).as("nc"), col("lab").as("lab"))).as("best"))
          .select(col("id"), col("best.lab").as("w"))
        val next = Iterative.leaf(lab.join(winner.hint(Iterative.ShuffleHash), Seq("id"), "left")
          .select(col("id"), coalesce(col("w"), col("lab")).as("lab")))._1
        Iterative.release(lab)
        lab = next
      }
      Iterative.release(ed)
      lab
    }
    labels.select(col("id"), col("lab").as("community"))
  }

  /** Edges (src, dst) with out-degree attached, repartitioned by src
    * into `npart` partitions: as a [[graft.util.Iterative.leaf]] it
    * keeps that layout, so every round's rank × edge join reuses it
    * instead of re-shuffling the edges (pinned by PlanShapeSpec). */
  private[graft] def edgesWithOutdeg(ed: DataFrame, npart: Int): DataFrame = {
    val odeg = ed.groupBy("src").agg(count(lit(1)).as("outdeg"))
    ed.join(odeg, "src").repartition(npart, col("src"))
  }
}
