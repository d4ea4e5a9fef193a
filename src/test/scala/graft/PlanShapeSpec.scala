package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{Exchange, REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import graft.operators.{Curation, Packing, Similarity}

/** Plan-shape assertions for the r8 operators: the 100 TB claims in
  * SURVEY §2 (map-only, single-exchange, broadcast-only) checked
  * against the actual physical plans, not just prose. Reads the
  * pre-execution executedPlan (AQE's initial plan) so tiny spec
  * inputs can't let runtime re-planning rewrite the shape under
  * test.
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  // executedPlan, not sparkPlan: EnsureRequirements only inserts the
  // exchanges/sorts during preparation, so sparkPlan under-counts
  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
  private def exchanges(df: DataFrame): Int =
    "Exchange".r.findAllIn(plan(df)).length

  // repartition(4): a single-partition LocalTableScan satisfies EVERY
  // required distribution, which would let the planner elide the very
  // exchanges these tests count
  private val docs = Seq(
    (1L, "a b c d e f g h i j"), (2L, "a b c"), (3L, "")
  ).toDF("doc_id", "text").repartition(4)
  private val vecs = Seq(
    (1L, Seq(1.0f, 2.0f, 3.0f, 4.0f)), (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding").repartition(4)

  test("geocode expand shuffles once: a fixed-count hash repartition on the id below the explode") {
    // one partition in: only a repartition with an explicit count (which
    // AQE never coalesces) spreads the ladder over more than the input's
    // one task; the (id, candidate) dedup then reuses it
    val rows = Seq((1L, "台北市大安區和平東路12巷3-1號"), (2L, "高雄市左營區中山路5號"))
      .toDF("id", "addr").coalesce(1)
    val df = graft.operators.Geocode.expand(rows, "id", "addr")
    val p = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    val ex = p.collect { case e: Exchange => e } match {
      case Seq(e: ShuffleExchangeExec) => e
      case other => fail(s"expected exactly one shuffle exchange, got ${other.size}\n$p")
    }
    assert(ex.shuffleOrigin == REPARTITION_BY_NUM, p)
    ex.outputPartitioning match {
      case HashPartitioning(Seq(a: Attribute), n) =>
        assert(a.name == "id" && n == spark.conf.get("spark.sql.shuffle.partitions").toInt, p)
      case other => fail(s"expected a hash repartition on id, got $other\n$p")
    }
    val generates = p.collect { case g: GenerateExec => g }
    assert(generates.nonEmpty && generates.forall(_.find(_ eq ex).isDefined),
      s"the exchange must sit below every explode\n$p")
  }

  test("chunk_overlap is map-only: adds zero exchanges over its input") {
    val df = Packing.chunkOverlap(docs, "doc_id", "text", size = 4, stride = 3)
    assert(exchanges(df) == exchanges(docs), plan(df))
  }

  test("vec_quantize is map-only: adds zero exchanges over its input") {
    val df = Similarity.quantizeInt8(vecs, "vec_id", "embedding")
    assert(exchanges(df) == exchanges(vecs), plan(df))
  }

  test("moving time-range window shuffles once on user, no self-join") {
    val events = Seq(
      (1L, 10L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.5),
      (2L, 10L, java.sql.Timestamp.valueOf("2024-01-01 10:30:00"), 2.5),
      (3L, 11L, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 3.0)
    ).toDF("event_id", "user_id", "ts", "value").repartition(4)
    val df = graft.operators.Analytics.movingWindow(events)
    assert(exchanges(df) == exchanges(events) + 1, plan(df))
    assert(!plan(df).contains("Join"), "time-range frame must not plan as a self-join")
  }

  test("winnow fingerprints shuffle once: the window's hash(doc) serves the distinct") {
    // HashPartitioning(doc) from the window satisfies the distinct's
    // ClusteredDistribution((doc, pos, hash)) — a second exchange
    // appearing here means that reuse broke
    val df = Curation.winnowFingerprints(docs, "doc_id", "text", k = 2, w = 2)
    assert(exchanges(df) == exchanges(docs) + 1, plan(df))
  }

  /** run `body` with statistics-driven broadcasting off, so the only
    * broadcasts left in a plan are the ones an operator FORCES with a
    * broadcast() hint — the actual shape claim under test (tiny spec
    * inputs would otherwise auto-broadcast every join). */
  private def withoutAutoBroadcast[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, prev)
  }

  test("image dHash is map-only; near-dup candidates shuffle only the banded hashes") {
    val media = docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id =>
        graft.multimodal.Multimodal.MediaRow(id, graft.multimodal.ImageHash.synthPng(id), "png")))
    val hashes = graft.multimodal.ImageHash.dHash(media)
    // decode+hash adds no exchange over its input
    assert(exchanges(hashes) == exchanges(hashes.sparkSession.emptyDataFrame) + exchanges(docs),
      plan(hashes))
  }

  test("source quantile gate: corpus keep-side joins only by FORCED broadcast") {
    withoutAutoBroadcast {
      val scored = docs.select(col("doc_id"),
        (col("doc_id") % 2).cast("string").as("source"),
        length(col("text")).cast("double").as("score"))
      val df = graft.operators.Sampling.sourceQuantileFilter(
        scored, "doc_id", "score", "source", q = 0.5)
      val p = plan(df)
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
      assert(p.contains("BroadcastHashJoin"), p)
    }
  }

  test("dsir score joins only by FORCED broadcast: no shuffle join even with stats off") {
    withoutAutoBroadcast {
      val df = Curation.dsirScore(docs, "doc_id", "text",
        isTarget = col("doc_id") === 1L, buckets = 16)
      val p = plan(df)
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    }
  }

  test("semantic_dedup broadcasts centroids; the pair join is NOT broadcast") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.9f, 0.1f), 0), (3L, Seq(0.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label").repartition(4)
    withoutAutoBroadcast {
      val df = Similarity.semanticDedup(emb, "vec_id", "embedding", "label", 0.5)
      val p = plan(df)
      // the centroid attach is a FORCED broadcast: it survives stats-off
      assert(p.contains("BroadcastHashJoin"), p)
      // the within-cluster pair join must shuffle both corpus sides
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    }
  }

  test("classifier GD round: one bucket-scale exchange, zero joins (one action by construction)") {
    // the packed-cache SHAPE at multi-partition (at-scale) layout —
    // preparePacked on a spec corpus coalesces to 1 partition, where
    // SinglePartition satisfies every distribution and the planner
    // rightly elides the exchange this test exists to count
    val packed = Seq(
      (1L, 1.0, Seq(0L, 3L, -1L)), (2L, 0.0, Seq(3L, -1L)), (3L, 0.0, Seq(1L, -1L))
    ).toDF("doc_id", "_y", "_bs").repartition(4, col("doc_id"))
    val df = graft.operators.Classifier.gradientRound(
      packed, Map(-1L -> 0.1, 0L -> 0.2, 1L -> 0.0, 3L -> -0.05),
      buckets = 16, nDocs = 3L)
    val p = plan(df)
    // the weight lookup is an array-literal fold — a join appearing
    // here means the r8 margins⋈features corpus join came back
    assert(!p.contains("Join"), p)
    // exactly ONE exchange beyond the input's own repartition: the
    // bucket-scale gradient aggregation
    assert(exchanges(df) == exchanges(packed) + 1, p)
  }

  test("stratified_split shuffles ONCE: row_number and count share the strata exchange") {
    val df = graft.operators.Sampling.stratifiedSplit(
      docs.withColumn("s", col("doc_id") % 2), Seq("s"), "doc_id", 0.2, seed = 1)
    assert(exchanges(df) == exchanges(docs) + 1, plan(df))
  }

  test("kanon ladder: the fact side joins only by FORCED broadcast, never shuffles") {
    withoutAutoBroadcast {
      // keys must VARY: literal lang/source constant-fold the join
      // condition away and the planner rightly degrades to a
      // nested-loop — not the shape under test
      val d = docs.withColumn("lang", (col("doc_id") % 2).cast("string"))
        .withColumn("source", (col("doc_id") % 3).cast("string"))
      val df = graft.operators.Governance.kanonGeneralize(
        d, "doc_id", "lang", "source", k = 2)
      val p = plan(df)
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
      assert(p.contains("BroadcastHashJoin"), p)
    }
  }

  test("takedown propagation: the cluster table joins only by FORCED broadcast") {
    withoutAutoBroadcast {
      val clusters = docs.select(col("doc_id"), (col("doc_id") % 2).as("cluster"))
      val listed = docs.select("doc_id").limit(1)
      val df = graft.operators.Governance.takedownPropagate(
        clusters, listed, "doc_id")
      val p = plan(df)
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
      assert(p.contains("BroadcastHashJoin"), p)
    }
  }

  test("unimax allocation: ONE lang-keyed exchange; the tiny-table windows add none") {
    // the water-fill windows run on a coalesce(1) language-cardinality
    // aggregate whose SinglePartition satisfies every window
    // distribution — a second exchange here means the coalesce stopped
    // covering them and the global windows would hit the corpus path
    val d = docs.withColumn("lang", (col("doc_id") % 2).cast("string"))
    val df = graft.operators.Sampling.unimaxMix(
      d, "lang", length(col("text")).cast("long"), budget = 100L, maxEpochs = 2)
    assert(exchanges(df) == exchanges(docs) + 1, plan(df))
  }

  test("knn_graph never broadcasts the corpus: the bucket join shuffles both sides") {
    withoutAutoBroadcast {
      val df = Similarity.knnGraph(vecs, "vec_id", "embedding",
        k = 1, nPlanes = 2, dim = 4, probeBits = 0)
      val p = plan(df)
      // no forced broadcast anywhere: with stats-driven broadcasting
      // off, the bucket join must plan as a two-sided shuffle join
      assert(!p.contains("BroadcastHashJoin"), p)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    }
  }

  test("semantic_dedup bucketed variant reads the landed layout, no InMemoryRelation") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.9f, 0.1f), 0), (3L, Seq(0.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label").repartition(4)
    val dir = graft.util.Fixtures.dir("semdedup_plan").toString
    val df = Similarity.semanticDedupBucketed(
      emb, "vec_id", "embedding", "label", 0.5, dir)
    val p = plan(df)
    // the whole point of the variant: corpus state lives in the landed
    // label-partitioned layout, not in a cache
    assert(!p.contains("InMemoryRelation") && !p.contains("InMemoryTableScan"), p)
    // and every consumer scans that layout
    assert(p.contains("Scan parquet") || p.contains("FileScan"), p)
  }

  test("corpus_drift reduces each version map-side before anything joins") {
    // the 100 TB claim: nothing corpus-sized survives the first
    // aggregation — both version histograms must partial-aggregate
    // (map-side combine) on bucket before their exchange
    val v1 = docs.select((col("doc_id") % 3).cast("double").as("v"))
    val v2 = docs.select((col("doc_id") % 5).cast("double").as("v"))
    val df = Curation.distributionDrift(v1, v2, "v", Seq(1.0, 2.0))
    val p = plan(df)
    val partials = "partial_count".r.findAllIn(p).length
    assert(partials >= 2, p)
  }

  test("ccnet bucket assignment broadcasts the bars: no sort-merge join") {
    withoutAutoBroadcast {
      val scored = docs.select(col("doc_id"),
        when(col("doc_id") % 2 === 0, "en").otherwise("fr").as("lang"),
        (col("doc_id") % 7).cast("double").as("ppl"))
      val df = Curation.perplexityBuckets(scored, "doc_id", "lang", "ppl")
      val p = plan(df)
      assert(!p.contains("SortMergeJoin"), p)
      assert(p.contains("BroadcastHashJoin"), p)
    }
  }

  test("c4_filters is map-only: adds zero exchanges over its input") {
    val pages = docs.select(col("doc_id"), col("text").as("page"))
    val df = graft.operators.Filtering.c4Filters(pages, "doc_id", "page")
    assert(exchanges(df) == exchanges(pages), plan(df))
  }

  test("kmv sketch aggregates object-hash with map-side partials; only buffers shuffle") {
    val hashes = docs.select(functions.Vec.md5Hash60(col("text")).as("h"))
    val df = hashes.agg(call_function("graft_kmv", col("h"), lit(8)))
    val p = plan(df)
    // TypedImperativeAggregate → ObjectHashAggregate, partial mode
    // below the exchange: each partition reduces to ≤ k longs BEFORE
    // anything crosses the wire
    assert(p.contains("ObjectHashAggregate"), p)
    assert("ObjectHashAggregate".r.findAllIn(p).length == 2, // partial + final
      s"expected partial+final aggregate pair:\n$p")
    assert(exchanges(df) == exchanges(hashes) + 1, p) // the single buffer exchange
  }

  test("graph loops plan every round against leaves, never the caller's lineage") {
    // a predicate no loop writes itself, planted in the caller's input
    // lineage: it may appear only in the plans that checkpoint the
    // inputs into leaves, never in a round's plan (a persisted input
    // would print — and re-analyse — its cached lineage every round)
    val marker = "987654321"
    // RDD-backed inputs: the optimizer would evaluate a filter over a
    // local table at planning time, and the marker with it
    def planted(df: DataFrame, c: String) = df.filter(col(c) =!= lit(987654321L))
    val sc = spark.sparkContext
    val nodes = planted(sc.parallelize(0L until 12L, 3).toDF("id"), "id")
    val und = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 5L), (5L, 6L), (7L, 8L))
    val edges = planted(sc.parallelize(und.flatMap { case (a, b) => Seq((a, b), (b, a)) }, 3)
      .toDF("src", "dst"), "src")
    val pairs = planted(sc.parallelize(und, 3).toDF("id_a", "id_b"), "id_a")
    // (loop, its call, its rounds: the last plans the call executes)
    val loops = Seq[(String, () => DataFrame, Int)](
      ("pageRank", () => graft.operators.Graph.pageRank(nodes, edges, "id", iters = 3), 3),
      ("labelPropagation", () => graft.operators.Graph.labelPropagation(nodes, edges, "id", iters = 3), 3),
      // path 3-4-5-6 converges after 4 rounds (3 that change + 1 that
      // observes no change)
      ("connectedComponents", () => graft.operators.Dedup.connectedComponents(nodes, pairs, "id"), 4))
    try loops.foreach { case (name, call, rounds) =>
      val got = LoopProbe.record(spark)(call())._2.plans.map(_.toString)
      assert(got.size > rounds, s"$name: ${got.size} plans")
      assert(got.exists(_.contains(marker)), s"$name: marker never planned")
      got.takeRight(rounds).zipWithIndex.foreach { case (p, i) =>
        assert(!p.contains(marker), s"$name round ${i + 1} re-plans the caller's lineage:\n$p")
      }
    } finally graft.util.CacheRegistry.releaseAll()
  }

  test("pagerank round join reuses the cached src-partitioned edge layout") {
    // the r15 pre-partition pin, re-derived for the checkpoint leaf: the
    // edges-with-outdegree leaf keeps hashpartitioning(src, npart) on
    // its scan, so under the loop conf a rank-side join co-partitions
    // against it with exactly ONE fresh exchange (the node-scale rank
    // side) — the edge table never re-shuffles
    withoutAutoBroadcast {
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))
        .toDF("src", "dst").repartition(4)
      graft.util.Iterative.withLoopConf(spark, 3) {
        val eo = graft.util.Iterative.leaf(
          graft.operators.Graph.edgesWithOutdeg(edges, 3))._1
        try {
          val r = Seq((1L, 10L), (2L, 20L), (3L, 5L)).toDF("id", "r").repartition(4)
          val joined = r.as("rr").join(eo.as("ee"), col("rr.id") === col("ee.src"))
          val ex = joined.queryExecution.executedPlan
          val p = ex.toString
          assert(!p.contains("AdaptiveSparkPlan") && !p.contains("InMemoryRelation"), p)
          val scans = ex.collect { case s: org.apache.spark.sql.execution.RDDScanExec => s }
          assert(scans.size == 1, p)
          // the rank side brings its fixture round-robin + the one
          // co-partitioning hash exchange; no exchange sits above the leaf
          val shuffles = ex.collect { case e: ShuffleExchangeExec => e }
          assert(shuffles.size == 2, s"edge side must reuse the leaf's hash(src) layout:\n$p")
          assert(!shuffles.exists(_.find(_ eq scans.head).isDefined),
            s"no exchange may feed the edge leaf scan:\n$p")
        } finally graft.util.Iterative.release(eo)
      } : Unit
    }
  }

  test("cc message join reuses the cached dst-partitioned edge layout under the loop conf") {
    // the r16 pin for the connectedComponents round shape, re-derived
    // for the phase-2 checkpoint leaf: it carries hashpartitioning(dst,
    // npart) on its scan, and the loop plans with AQE off at exactly
    // npart shuffle partitions (Iterative.withLoopConf) — so the
    // per-round message join co-partitions against the leaf with ONE
    // fresh exchange (the node-scale frontier side); the edge table
    // never re-shuffles after the checkpoint.
    withoutAutoBroadcast {
      graft.util.Iterative.withLoopConf(spark, 2) {
        val edges = graft.util.Iterative.leaf(Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
          .toDF("src", "dst").repartition(2, col("dst")))._1
        try {
          val frontier = Seq((1L, 1L), (2L, 2L)).toDF("_fid", "_flabel").repartition(4)
          val joined = edges.join(frontier, edges("dst") === col("_fid"))
            .select(edges("src").as("id"), col("_flabel").as("_m"))
          val ex = joined.queryExecution.executedPlan
          val p = ex.toString
          assert(!p.contains("AdaptiveSparkPlan"),
            s"loop plans must be non-adaptive (withLoopConf):\n$p")
          val scans = ex.collect { case s: org.apache.spark.sql.execution.RDDScanExec => s }
          assert(scans.size == 1, p)
          // the frontier side exchanges exactly once (its co-partitioning
          // hash); the edge side must sit directly on the leaf's scan
          assert("Exchange hashpartitioning\\(_fid".r.findAllIn(p).length == 1,
            s"the frontier side must exchange exactly once:\n$p")
          assert(!ex.collect { case e: ShuffleExchangeExec => e }
              .exists(_.find(_ eq scans.head).isDefined),
            s"no exchange may feed the edge leaf scan:\n$p")
        } finally graft.util.Iterative.release(edges)
      } : Unit
    }
  }

  test("mutual_knn symmetrization reads ONE cached ranking on both join sides") {
    val df = graft.operators.Similarity.mutualKnnEdges(
      Similarity.knnGraph(vecs, "vec_id", "embedding",
        k = 1, nPlanes = 2, dim = 4, probeBits = 0))
    try {
      val p = plan(df)
      // the operator registers the persist itself (r9) — a caller
      // without the demo's discipline must still see two cache scans,
      // never a second inline LSH-ranking computation
      assert("InMemoryTableScan".r.findAllIn(p).length >= 2, p)
    } finally graft.util.CacheRegistry.releaseAll()
  }

  test("plan-shape regression gate: the top bench rows' exchange/join counts are pinned") {
    // The r11 lesson: a plan regression on an expensive row surfaces as
    // an unexplained bench delta a round later. This pins each gated
    // demo's (shuffle, broadcast, join) counts as measured from its
    // pre-execution plan at sf0.001 — a count that moves WITHOUT an
    // intentional plan change fails here instead. After an intentional
    // change: `sbt "runMain graft.tools.PlanCounts"` prints the fresh
    // counts; update this map in the same commit as the plan change.
    val expected = Map(
      "pagerank_centrality"    -> ((0, 0, 0)),  // the result is the last round's leaf; at 1 loop partition it is SinglePartition, so the orderBy needs no exchange
      "centrality_gate"        -> ((0, 3, 3)),  // bars broadcast; corpus never shuffle-joins; the SinglePartition rank leaf feeds the quantile aggregation with no exchange
      "cdc_chunk_dedup"        -> ((3, 0, 0)),  // token window + hash window + orderBy, NO join
      "bm25_index"             -> ((2, 0, 0)),
      "bm25_index_append"      -> ((2, 0, 0)),
      "bm25_topk"              -> ((4, 1, 1)),  // the ONE join is the broadcast term join
      "dedup_canonicalize"     -> ((4, 1, 2)),  // CC's label leaf is SinglePartition at 1 loop partition (its rounds run with no exchange); the consumer's join shuffles both sides into the session's partitions
      "cluster_representative" -> ((4, 1, 2)),  // same: +1 tail exchange on the SinglePartition label leaf
      "dup_span_detect"        -> ((4, 1, 1)),
      "minhash_lsh_eval"       -> ((46, 22, 32)), // dual-truth composite; r16: the corpus-scale truth-join sides carry shuffle_hash hints (a blind post-explode size estimate broadcast the exploded shingle table and OOM'd the 10x smoke) — 8 broadcasts became shuffles
      "winnow_fingerprint"     -> ((2, 0, 0)),  // doc window + orderBy; distinct reuses
      "bitext_mine"            -> ((6, 6, 11)), // docs⋈emb prep ×2 sides + the pair scan's three consumers
      "setsim_join"            -> ((6, 5, 5)), // df count + order + prefix self-join + verify rejoins; +1 from the r12 sets/prefix persist
      "contain_join"           -> ((5, 5, 5)), // same family, one fewer exchange: the full B side reuses the ordering shuffle the prefix slice repartitions
      "ivf_recall_curve"       -> ((12, 9, 9)),  // r13 fused form: ONE probe pass (truth ⋈ cluster rank), 5.6× fewer exchanges than the old 4-width re-plan
      "lsh_recall_curve"       -> ((6, 7, 7)), // r15 fused form (the ivf_recall_curve trick in Hamming space): ONE truth-distance tag + two conditional aggregates replace the 4-width re-planned sweep (78→20 jobs measured)
      "setsim_join_rs"         -> ((5, 5, 5)),   // two-sided prefix join: same family as setsim_join minus the self-join's extra persist exchange
      "bitext_mine_ann"        -> ((24, 12, 23)), // r15 §8 reshape: the bucket join fans out 16-byte (id, bucket) keys, vectors re-attach by two id joins AFTER the pair set is fixed — more (tiny) plan nodes, but the probe explode no longer replicates payloads (311→18 MB measured shuffle) and the provably-no-op pair dedup exchange is gone
      "shard_balance"          -> ((5, 1, 1)),   // two-phase cumsum: range partition + per-partition window + broadcast offsets + summary agg
      "takedown_propagate"     -> ((8, 3, 5)),   // minhash pairs + CC label join; cluster table touched only by broadcast joins (+2 tail exchanges: the CC label leaf is SinglePartition, as in dedup_canonicalize)
      "mink_score"             -> ((10, 3, 3)),  // r15: per-doc totals ride a second window over the rank window's doc partition — the separate totals agg re-ran the whole bigramLp chain and joined it back (15,7,7 → 10,3,3)
      // r14 pins (r13 verdict task 5): the remaining multi-second rows
      "curriculum_order"       -> ((10, 3, 3)),  // two range-partitioned cumsums (2 range + window shuffles each) + broadcast offsets
      "sft_pack"               -> ((6, 3, 3)),   // turn window + verdict join + shard cumsum; validator tables broadcast
      "unimax_apply"           -> ((3, 1, 1)),   // ONE lang-keyed cumsum exchange + the broadcast allocation join
      "bm25_index_compact"     -> ((2, 0, 0)))   // read-back path only; compaction I/O is side-effecting at build time (priced by the C114 family ladder)
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir not present")
    graft.tools.PlanCounts.Gated.foreach { name =>
      val df = graft.tools.PlanCounts.resolve(name)(spark, sfDir)
      try {
        val p = plan(df)
        val actual = (graft.tools.PlanCounts.shuffles(p),
          graft.tools.PlanCounts.broadcasts(p), graft.tools.PlanCounts.joins(p))
        assert(actual == expected(name),
          s"$name plan shape moved: expected ${expected(name)} " +
            s"(shuffles, broadcasts, joins), got $actual — if intentional, " +
            s"re-run graft.tools.PlanCounts and update the gate in the same commit")
      } finally graft.util.CacheRegistry.releaseAll()
    }
  }
}
