package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 scale smoke (VERDICT r9 item 6): run the most expensive
  * operators at 10× the bench scale and record how their wall time
  * scales. The 100×-design claims in the operator docs are plan-level
  * arguments; this is the load test that would catch a driver
  * bottleneck, a skew cliff, or an accidental quadratic term at 10×
  * long before a cluster sees it at 100×.
  *
  * The driver only generates testdata up to sf0.1, so sf1 is
  * SYNTHESIZED from sf0.1 under `target/` (never touching
  * /root/testdata): each smoke table unions `factor` replicas with
  * keys remapped into disjoint ranges (+k·10⁹). Content is perturbed
  * per replica so the workload SHAPE matches a real 10× corpus
  * instead of degenerating:
  *
  *  - documents: replica k>0 appends a ` repl<k>` suffix (n_chars
  *    adjusted), so duplicate structure WITHIN a replica is exactly
  *    sf0.1's and replicas don't collapse into 10-way exact-dup
  *    clusters (10 identical copies of every doc would quadratically
  *    inflate pair counts in every dedup operator — a shape no real
  *    sf1 corpus has);
  *  - embeddings: replica k jitters every component by +k·10⁻³, so
  *    ANN / near-dup distance structure is preserved without making
  *    every vector 10-way degenerate;
  *  - events: event_id AND user_id remap per replica — 10× users at
  *    sf0.1's per-user event counts, the realistic growth axis for
  *    sessionization and stateful-stream state size;
  *  - customer: key remap only (geocode candidates are per-row).
  *
  * Remaining tables pass through unreplicated (the smoke set never
  * times them). Timings: per query, one untimed warmup then the
  * median of SPARK_GRAFT_SF1_PASSES (default 2) passes, at BOTH
  * sf0.1 and synthesized sf1; `ratio` is sf1/sf0.1. A ratio at or
  * under ~`factor` is linear-or-better; anything materially above
  * needs a named cause. One JSON line lands in BENCH_SF1.json at the
  * repo root. */
object ScaleSmoke {

  /** disjoint key range per replica — far above any sf0.1 key. */
  private val KeySpan = 1000000000L

  /** the judge's 10 most-expensive-operator set, by registry name,
    * plus the r10 additions whose cost is corpus-scale (the ngram
    * explode, the IVF-PQ index+search chain, the iterative PageRank
    * over the kNN graph, the two-corpus KMV sketch scan, the WARC
    * land-and-ingest round trip, and the late-r10 curation set: the
    * CCNet LM+quantile split, the DoReMi per-source LM means, the
    * full-corpus cluster assignment, and the two-version PSI scan). */
  val SmokeQueries: Seq[String] = Seq(
    "dedup_minhash_prod", "dup_span_detect", "semantic_dedup",
    "bm25_topk", "quality_classifier", "image_phash_dedup",
    "geocode_candidates", "cdc_chunk_dedup", "knn_graph",
    "stream_dedup_parity", "topk_ngrams", "ivfpq_topk",
    "pagerank_centrality", "corpus_overlap_kmv", "warc_ingest",
    "ccnet_buckets", "mixture_reweight", "cluster_balance",
    "corpus_drift",
    // r12 additions (r10 verdict task 6): the contamination scan pair,
    // the retrieval-eval join ladder, the boilerplate extractor, the
    // crawl funnel e2e, rank fusion, the index append path, and
    // PageRank at DOUBLE the demo's rounds — lineage-checkpoint cost
    // scales with rounds, the one knob the 10× replication alone
    // doesn't stress
    "contamination_spans", "contamination_scrub", "retrieval_eval",
    "html_main_content", "crawl_ingest_e2e", "rrf_fusion",
    "bm25_index_append", "pagerank_2x_iters",
    // r12 additions: the prefix-filtered exact similarity join, the
    // two-phase budget cumsum, and bitext mining in its LSH-candidate
    // form — the exhaustive bitext_mine demo is quadratic BY DESIGN
    // (a candidate-slice operator; its doc says swap in ANN at scale),
    // so the smoke stresses the form that is claimed to scale
    "setsim_join", "budget_select", "bitext_mine_ann",
    // the asymmetric containment join stresses the full-token B side
    // (the one prefix-filtered join whose posting lists are unpruned)
    "contain_join",
    // r13 additions: the three corpus-scale new rows — takedown rides
    // the full minhash+CC chain (replicated docs multiply near-dup
    // clusters), mink rides the bigram LM + per-doc rank cut, and the
    // split-leakage audit scans every k-gram window across the split
    "takedown_propagate", "mink_score", "split_leakage",
    // r15: A3's decision-only form — the payload-independence claim
    // needs a measured point (cost must track ROWS, never row width)
    "dedup_first_key_hash",
    // r15: the graph family's second iterative member (same per-round
    // node-scale-shuffle claim as pagerank — measured, not inherited)
    "label_propagation",
    // r15 late additions: the novelty gate scans every k-gram window
    // of both corpus halves (the C122 claim is hash-dimension-join
    // linearity); its D15 sequential-admission form adds the archive
    // join per micro-batch; pref-pair prep is two quality scans + the
    // prompt-dedup window
    "ngram_novelty", "stream_novelty_admit_parity", "pref_pair_prep",
    // r16 (VERDICT item 2): scale-prove the r15 structural wins — the
    // fused Hamming recall sweep and the xxhash64-keyed truth self-join
    "lsh_recall_curve", "minhash_lsh_eval",
    // r16 (VERDICT item 5): the LM family rides corpus-bigram-scale
    // exchanges; the fixed-width-key change is gated on THIS smoke
    // (mink_score, the third member, is already in the set)
    "bigram_lm_score", "kn_lm_score")

  /** smoke-only variants that exist to stress a knob the registry
    * demos fix (SparkEntry rows must stay oracle-stable): PageRank at
    * 12 rounds = 2× the C68 demo, same mutual-kNN graph. */
  val SmokeExtras: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pagerank_2x_iters" -> ((s: SparkSession, dir: String) =>
      graft.operators.TextDemos.pagerankOverKnn(s, dir, iters = 12)),
    "bitext_mine_ann" -> ((s: SparkSession, dir: String) =>
      graft.operators.TextDemos.bitextMineAnn(s, dir)))

  private def replicate(factor: Int)(one: Int => DataFrame): DataFrame =
    (0 until factor).map(one).reduce(_ unionByName _)

  /** synthesize the smoke tables at `factor`× into outDir; idempotent
    * via an _SYNTH_OK marker. */
  def synthesize(spark: SparkSession, srcDir: String, outDir: String,
                 factor: Int): Unit = {
    val marker = java.nio.file.Paths.get(outDir, "_SYNTH_OK")
    if (java.nio.file.Files.exists(marker)) return
    import graft.sources.Tables

    val docs = Tables.documents(spark, srcDir)
    replicate(factor) { k =>
      val suffix = s" repl$k"
      if (k == 0) docs
      else docs.select(
        (col("doc_id") + lit(k * KeySpan)).as("doc_id"),
        concat(col("text"), lit(suffix)).as("text"),
        col("lang"), col("source"),
        (col("n_chars") + lit(suffix.length.toLong)).as("n_chars"))
    }.write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = Tables.embeddings(spark, srcDir)
    replicate(factor) { k =>
      if (k == 0) emb
      else emb.select(
        (col("vec_id") + lit(k * KeySpan)).as("vec_id"),
        transform(col("embedding"),
          x => (x + lit((k * 1e-3).toFloat)).cast("float")).as("embedding"),
        col("label"))
    }.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    val events = Tables.events(spark, srcDir)
    replicate(factor) { k =>
      if (k == 0) events
      else events.select(
        (col("event_id") + lit(k * KeySpan)).as("event_id"), col("ts"),
        (col("user_id") + lit(k * KeySpan)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.write.mode("overwrite").parquet(s"$outDir/events.parquet")

    val cust = Tables.customer(spark, srcDir)
    replicate(factor) { k =>
      if (k == 0) cust
      else cust.withColumn("c_custkey", col("c_custkey") + lit(k * KeySpan))
    }.write.mode("overwrite").parquet(s"$outDir/customer.parquet")

    // untimed by the smoke set: pass through so incidental reads work
    Seq("region", "nation", "supplier", "part", "orders", "lineitem")
      .foreach(t => Tables.read(spark, srcDir, t)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet"))
    java.nio.file.Files.createFile(marker)
  }

  private def timeQuery(spark: SparkSession, dir: String,
                        fn: (SparkSession, String) => DataFrame,
                        passes: Int): Either[String, Double] =
    try {
      def sample(): Double = {
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        graft.util.CacheRegistry.releaseAll()
        sec
      }
      sample() // warmup
      Right(Bench.median(Seq.fill(passes)(sample())))
    } catch {
      case e: Throwable =>
        graft.util.CacheRegistry.releaseAll()
        Left(e.getClass.getSimpleName)
    }

  def main(args: Array[String]): Unit = {
    val srcDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse(s"${Bench.repoRoot}/target/scale-sf1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SF1_FACTOR", "10").toInt
    val passes = sys.env.getOrElse("SPARK_GRAFT_SF1_PASSES", "2").toInt.max(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val spark = GraftSession.local("scale-smoke", cpus, cpus.toInt)

    synthesize(spark, srcDir, outDir, factor)

    val registry = SparkEntry.queries ++ SparkEntry.benchExtras ++ SmokeExtras
    val rows = SmokeQueries.filter(q => only.forall(_.contains(q))).map { name =>
      val fn = registry(name)
      Console.err.println(s"[scale-smoke] $name @ sf0.1 ...")
      val base = timeQuery(spark, srcDir, fn, passes)
      Console.err.println(s"[scale-smoke] $name @ sf1 ...")
      val big = timeQuery(spark, outDir, fn, passes)
      graft.util.Fixtures.sweep(spark)
      name -> ((base, big))
    }
    val qjson = rows.map {
      case (n, (Right(a), Right(b))) =>
        f""""$n":{"sf0_1":$a%.3f,"sf1":$b%.3f,"ratio":${b / a}%.2f}"""
      case (n, (a, b)) =>
        val f = (e: Either[String, Double]) =>
          e.fold(err => "\"error:" + err + "\"", v => f"$v%.3f")
        s""""$n":{"sf0_1":${f(a)},"sf1":${f(b)},"ratio":null}"""
    }.mkString("{", ",", "}")
    val superlinear = rows.collect {
      case (n, (Right(a), Right(b))) if b / a > factor * 1.3 => "\"" + n + "\""
    }.mkString("[", ",", "]")
    val json =
      s"""{"metric":"scale_smoke","unit":"sec","factor":$factor,"passes":$passes,""" +
      s""""base":"$srcDir","synth":"$outDir","method":"${factor}x replication of sf0.1: keys +k*1e9; docs text +' repl<k>'; embeddings +k*1e-3 jitter; events 10x users","queries":$qjson,"superlinear":$superlinear}"""
    println(json)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SF1_OUT",
      s"${Bench.repoRoot}/BENCH_SF1.json")
    // a SPARK_GRAFT_ONLY iteration must never CLOBBER the committed
    // full-set artifact (it did once): refuse to overwrite a file with
    // more queries than this restricted run measured
    val restrictedClobber = only.isDefined && {
      try {
        val prior = java.nio.file.Files.readString(java.nio.file.Paths.get(outPath))
        "\"sf0_1\"".r.findAllIn(prior).size > rows.size
      } catch { case _: Exception => false }
    }
    if (restrictedClobber)
      Console.err.println(s"[scale-smoke] SPARK_GRAFT_ONLY run measured fewer " +
        s"queries than $outPath holds - NOT overwriting (stdout has the JSON)")
    else
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
      catch { case e: Exception =>
        Console.err.println(s"[scale-smoke] could not write $outPath: ${e.getMessage}") }
    spark.stop()
  }
}
