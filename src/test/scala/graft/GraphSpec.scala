package graft

import org.apache.spark.sql.functions._

import graft.operators.{Graph, TextDemos}

/** C68 — PageRank: the distributed scaled-integer recurrence against
  * an independent sequential driver implementation of the SAME
  * integer semantics, plus structural properties. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** sequential reference: identical integer arithmetic, maps and
    * loops instead of joins */
  private def refPageRank(nodes: Seq[Long], edges: Seq[(Long, Long)],
                          iters: Int, dampNum: Long = 85L, dampDen: Long = 100L,
                          scale: Long = 1000000000000000L): Map[Long, Long] = {
    val n = nodes.size.toLong
    val out = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to iters) {
      val contrib = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (s, d) => contrib(d) += r(s) / out(s) }
      val dang = nodes.filterNot(out.contains).map(r).sum
      r = nodes.map { v =>
        v -> (((dampDen - dampNum) * scale / n
          + dampNum * (contrib(v) + dang / n)) / dampDen)
      }.toMap
    }
    r
  }

  test("pageRank matches the sequential integer reference on a hand graph") {
    // 1 -> 2 -> 3 -> 1 cycle, 4 dangling, 5 isolated
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (2L, 4L))
    val nodes = Seq(1L, 2L, 3L, 4L, 5L)
    val got = Graph.pageRank(
        nodes.toDF("id"), edges.toDF("src", "dst"), "id", iters = 4)
      .select("id", "rank_e15").as[(Long, Long)].collect().toMap
    assert(got == refPageRank(nodes, edges, iters = 4))
  }

  test("rank is partitioning-invariant (exact integer bits)") {
    val edges = (0L until 60L).map(i => (i, (i * 7 + 3) % 60)) ++
      (0L until 30L).map(i => (i, (i * 13 + 1) % 60))
    val nodes = (0L until 64L) // 4 isolated
    val a = Graph.pageRank(nodes.toDF("id"), edges.toDF("src", "dst"), "id", iters = 5)
      .select("id", "rank_e15").as[(Long, Long)].collect().toMap
    val b = Graph.pageRank(nodes.toDF("id").repartition(7),
        edges.toDF("src", "dst").repartition(5), "id", iters = 5)
      .select("id", "rank_e15").as[(Long, Long)].collect().toMap
    assert(a == b)
    assert(a == refPageRank(nodes, edges, iters = 5))
  }

  test("dangling and isolated nodes keep teleport-plus-redistributed mass") {
    // star: everyone points at 0; 0 points nowhere (dangling hub)
    val edges = (1L to 9L).map(i => (i, 0L))
    val nodes = (0L to 10L) // node 10 isolated
    val got = Graph.pageRank(nodes.toDF("id"), edges.toDF("src", "dst"), "id", iters = 3)
      .select("id", "rank_e15").as[(Long, Long)].collect().toMap
    val ref = refPageRank(nodes, edges, iters = 3)
    assert(got == ref)
    assert(got(0L) > got(1L), "hub must outrank spokes")
    assert(got(10L) == got(1L),
      "an isolated node and a spoke receive identical (teleport+dangling) mass here")
  }

  test("pageRank: no first() job, at most 2 more jobs per extra round") {
    // the dangling mass is observed on each round's checkpoint; a
    // separate dangling-mass query per round would show up as a
    // `first` job and as a third job per round
    val edges = (0L until 60L).map(i => (i, (i * 7 + 3) % 60)) ++
      (0L until 30L).map(i => (i, (i * 13 + 1) % 60))
    def jobs(iters: Int): Seq[Seq[String]] = LoopProbe.record(spark) {
      Graph.pageRank((0L until 64L).toDF("id"), edges.toDF("src", "dst"), "id", iters = iters)
    }._2.jobs
    jobs(2) // warm-up: the first call compiles
    val (j2, j4) = (jobs(2), jobs(4))
    val firsts = (j2 ++ j4).flatten.filter(_.startsWith("first at"))
    assert(firsts.isEmpty, s"dangling-mass first() jobs: $firsts")
    assert(j4.size - j2.size <= 4, s"${j2.size} jobs at 2 rounds, ${j4.size} at 4")
  }

  test("C75 centrality gate: per-source bar and keep set recompute from driver math") {
    val kept = TextDemos.centralityGate(spark, sfDir)
      .select("doc_id", "source", "centrality", "threshold")
      .as[(Long, String, Double, Double)].collect()
    assert(kept.nonEmpty)
    val pr = TextDemos.pagerankCentrality(spark, sfDir)
      .select("id", "rank_e15").as[(Long, Long)].collect()
      .map { case (id, r) => id -> r.toDouble }.toMap
    val srcOf = sources.Tables.documents(spark, sfDir)
      .select("doc_id", "source").as[(Long, String)].collect().toMap
    val bySrc = pr.toSeq.map { case (id, c) => (srcOf(id), id, c) }.groupBy(_._1)
    val want = bySrc.flatMap { case (_, rows) =>
      val vs = rows.map(_._3).sorted
      val pos = (vs.length - 1) * 0.5
      val lo = vs(pos.toInt)
      val hi = vs(math.min(pos.toInt + 1, vs.length - 1))
      val thr = lo + (hi - lo) * (pos - math.floor(pos))
      rows.filter(_._3 >= thr).map(r => r._2 -> thr)
    }
    assert(kept.map(k => k._1 -> k._4).toMap == want)
    // each source keeps roughly its top half, never everything
    kept.groupBy(_._2).foreach { case (s, ks) =>
      val n = bySrc(s).size
      assert(ks.length <= n && ks.length >= n / 2, s"$s keeps ${ks.length}/$n")
    }
  }

  test("C68 demo row: mass conserved within floor loss, hubs outrank isolated") {
    val rows = TextDemos.pagerankCentrality(spark, sfDir)
      .select("id", "rank_e15").as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    val total = rows.map(_._2).sum
    val n = rows.length
    // each of 6 rounds floors at most (dampDen + n + 1) units per node
    val scale = 1000000000000000L
    assert(total <= scale && total >= scale - 6L * n * 200L,
      s"mass $total vs scale $scale (n=$n)")
    val ranks = rows.map(_._2)
    assert(ranks.max > ranks.min, "graph must differentiate nodes")
  }
}
