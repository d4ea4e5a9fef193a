package graft

import graft.operators.Similarity

/** C91 kcenter_select: the greedy farthest-point traversal checked
  * against a plain-Scala reference (same seed, same squared-L2, same
  * tie-break), plus closed-form geometry and the k > n edge.
  */
class KcenterSpec extends SparkSpec {
  import spark.implicits._

  private def sq(a: Seq[Double], b: Seq[Double]): Double =
    a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }

  /** driver-side greedy reference: seed = smallest id, then argmax of
    * min distance to the selected set, ties to the smallest id. */
  private def refGreedy(pts: Seq[(Long, Seq[Double])], k: Int): Seq[(Int, Long, Double)] = {
    if (pts.isEmpty) return Nil
    val sorted = pts.sortBy(_._1)
    val sel = scala.collection.mutable.ArrayBuffer((0, sorted.head._1, 0.0))
    val centers = scala.collection.mutable.ArrayBuffer(sorted.head._2)
    while (sel.size < math.min(k, pts.size)) {
      val cands = sorted.filterNot(p => sel.exists(_._2 == p._1))
        .map { case (id, v) => (id, centers.map(c => sq(v, c)).min) }
      val (id, d) = cands.maxBy { case (id, d) => (d, -id) }
      sel += ((sel.size, id, d))
      centers += sorted.find(_._1 == id).get._2
    }
    sel.toSeq.map { case (r, id, d) =>
      (r, id, java.math.BigDecimal.valueOf(d)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue)
    }
  }

  private def run(pts: Seq[(Long, Seq[Double])], k: Int): Seq[(Int, Long, Double)] =
    Similarity.kcenterSelect(
        pts.map { case (id, v) => (id, v.map(_.toFloat)) }.toDF("vec_id", "embedding"),
        "vec_id", "embedding", k)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq

  test("closed form: corners of a line are picked outside-in from the smallest-id seed") {
    // seed is id 1 (0.0); farthest is 10.0 (id 4); then 5.0 (mid) etc.
    val pts = Seq(1L -> Seq(0.0), 2L -> Seq(1.0), 3L -> Seq(5.0), 4L -> Seq(10.0))
    val got = run(pts, 3)
    assert(got == Seq((0, 1L, 0.0), (1, 4L, 100.0), (2, 3L, 25.0)))
  }

  test("ties break to the smallest id") {
    // ids 2 and 3 are both at distance 4 from the seed
    val pts = Seq(1L -> Seq(0.0), 2L -> Seq(2.0), 3L -> Seq(-2.0))
    val got = run(pts, 2)
    assert(got == Seq((0, 1L, 0.0), (1, 2L, 4.0)))
  }

  test("k > n returns exactly n rows; k = 1 returns the seed") {
    val pts = Seq(7L -> Seq(1.0, 2.0), 9L -> Seq(3.0, 4.0))
    assert(run(pts, 5).map(_._2) == Seq(7L, 9L))
    assert(run(pts, 1) == Seq((0, 7L, 0.0)))
  }

  /** coverage radius of a selection: max over all points of the
    * squared-L2 distance to the nearest selected center. */
  private def coverage(pts: Seq[(Long, Seq[Double])], ids: Seq[Long]): Double = {
    val centers = ids.map(id => pts.find(_._1 == id).get._2)
    pts.map { case (_, v) => centers.map(c => sq(v, c)).min }.max
  }

  test("parallel (k-means|| shaped) selection covers planted clusters like exact greedy") {
    // 8 well-separated cluster centers on a 2-D grid, 10 points each
    // within radius 0.1 — any correct k=8 selection picks one point
    // per cluster, giving coverage radius <= (2*0.1)^2 = 0.04 vs
    // inter-cluster gaps >= 9.0
    val pts = (for {
      c <- 0 until 8
      j <- 0 until 10
    } yield {
      val cx = (c % 4) * 3.0; val cy = (c / 4) * 3.0
      val off = 0.1 * math.cos(c * 10 + j)
      val off2 = 0.1 * math.sin(c * 10 + j)
      ((c * 10 + j).toLong, Seq(cx + off, cy + off2))
    }).toSeq
    val df = pts.map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding")
    val par = Similarity.kcenterSelectParallel(df, "vec_id", "embedding",
        k = 8, rounds = 3, oversample = 4.0)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(par.size == 8)
    val exact = refGreedy(pts, 8)
    val covPar = coverage(pts, par.map(_._2))
    val covExact = coverage(pts, exact.map(_._2))
    // one center per planted cluster: both radii collapse to the
    // in-cluster scale, nowhere near the >= 9.0 inter-cluster gap
    assert(par.map(_._2 / 10).toSet.size == 8,
      s"parallel selection missed a cluster: $par")
    assert(covPar <= 0.05 && covExact <= 0.05,
      s"coverage par=$covPar exact=$covExact")
    // the greedy-on-coreset tail keeps the 2-approx flavor: the
    // parallel radius stays within 2x greedy's (here both are tiny)
    assert(covPar <= covExact * 2.0 + 1e-9, s"par=$covPar exact=$covExact")
    // same output contract as the exact form
    assert(par.head._1 == 0 && par.head._3 == 0.0)
  }

  test("parallel selection is deterministic and respects k > n") {
    val pts = Seq(1L -> Seq(0.0), 2L -> Seq(5.0), 3L -> Seq(9.0))
    val df = pts.map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding")
    def once() = Similarity.kcenterSelectParallel(df, "vec_id", "embedding",
        k = 5, rounds = 2, oversample = 8.0)
      .orderBy("rank").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val a = once(); val b = once()
    assert(a == b)
    assert(a.size <= 3 && a.head == ((0, 1L)))
  }

  test("k above the greedy ceiling routes to the k-means|| parallel path (r16)") {
    // the greedy loop costs k driver round-trips — above
    // spark.graft.kcenter.greedyMaxK (default 256) the same API must
    // dispatch to kcenterSelectParallel (fixed scan count, independent
    // of k). Pin the dispatch by lowering the ceiling and comparing
    // bit-for-bit against a direct parallel call.
    val pts = Seq(1L -> Seq(0.0, 0.0), 2L -> Seq(8.0, 0.0), 3L -> Seq(0.0, 8.0),
      4L -> Seq(8.0, 8.0), 5L -> Seq(4.0, 4.0), 6L -> Seq(1.0, 1.0))
    val df = pts.map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding")
    val key = "spark.graft.kcenter.greedyMaxK"
    spark.conf.set(key, "2")
    try {
      val viaDispatch = Similarity.kcenterSelect(df, "vec_id", "embedding", 3)
        .orderBy("rank").collect().toSeq
      val direct = Similarity.kcenterSelectParallel(df, "vec_id", "embedding", 3)
        .orderBy("rank").collect().toSeq
      assert(viaDispatch == direct,
        s"k=3 > ceiling=2 must take the parallel path: $viaDispatch vs $direct")
      // at/below the ceiling the exact greedy answer is unchanged
      val greedy = Similarity.kcenterSelect(df, "vec_id", "embedding", 2)
        .orderBy("rank").collect().toSeq
      assert(greedy.map(_.getLong(1)) == Seq(1L, 4L), greedy.toString)
      // a malformed ceiling fails naming the key and the value, not
      // with a bare NumberFormatException
      spark.conf.set(key, "25x")
      val e = intercept[IllegalArgumentException](
        Similarity.kcenterSelect(df, "vec_id", "embedding", 2))
      assert(!e.isInstanceOf[NumberFormatException] &&
        e.getMessage.contains(key) && e.getMessage.contains("25x"), e.getMessage)
    } finally {
      spark.conf.unset(key)
      graft.util.CacheRegistry.releaseAll()
    }
  }

  test("matches the driver-side greedy reference on sf0.001 embeddings") {
    val pts = graft.sources.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toSeq)).toSeq
    for (k <- Seq(1, 4, 8)) {
      val want = refGreedy(pts, k)
      val got = Similarity.kcenterSelect(
          graft.sources.Tables.embeddings(spark, sfDir), "vec_id", "embedding", k)
        .orderBy("rank").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got == want, s"k=$k: got $got want $want")
    }
  }
}
