package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Iterative

/** Deduplication operators.
  *
  * [[firstPerKey]] re-expresses the reference's first-wins map dedup
  * (uniqByKey, index.js:89-98) as a window row_number — one shuffle on
  * the key, partition-local sort, no driver state.
  *
  * [[exactByHash]] is the 100 TB-scale form: group on a 128-bit hash of
  * the dedup key so the shuffle carries 16 bytes per row instead of the
  * full payload; survivors rejoin their payload by key.
  */
object Dedup {

  /** Keep the first row per key under a deterministic order. */
  def firstPerKey(df: DataFrame, keyCols: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Exact dedup of `textCol`: one representative (min of `idCol`) per
    * distinct md5. Only (hash, id) pairs shuffle. */
  def exactByHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(md5(col(textCol)).as("text_hash"), col(idCol))
      .groupBy("text_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  import graft.functions.{Text, Vec}

  /** MinHash-LSH near-dup candidates: shingle -> k-perm minhash ->
    * banded bucket join -> estimated similarity (signature agreement).
    * `shingler` picks the segmentation: word 3-grams by default,
    * [[Text.charShingles]] for unspaced CJK corpora.
    *
    * Signatures are computed *relationally*: shingle hashes explode to
    * rows and `groupBy(id).agg(min(perm_i) × k)` builds the signature —
    * fully whole-stage-codegen'd with map-side partial aggregation, so
    * the shuffle carries k longs per (doc, partition), and giant docs
    * parallelize across partitions (a per-row array fold would be
    * interpreted, ~40× slower, and skew-bound). The verify step is a
    * bucket-local self-join, never a global cross product. */
  /** S-curve: probability a pair at Jaccard `s` becomes an LSH
    * candidate under (bands, rows) banding — 1 − (1 − s^rows)^bands. */
  def lshCandidateProb(s: Double, bands: Int, rows: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, rows), bands)

  /** Pick the banding for a `k`-hash signature that best separates at
    * `threshold` (the MMDS ch.3 construction): over every band count
    * dividing k, minimize
    * `fpWeight·∫₀ᵗ P(s) ds + fnWeight·∫ₜ¹ (1 − P(s)) ds`
    * — the false-positive mass below the threshold plus the
    * false-negative mass above it, with the weights encoding their
    * relative cost (candidate verification is cheap ⇒ tolerate FPs;
    * a missed near-dup poisons training ⇒ weight FNs up). Integrals
    * by Simpson's rule at 1e-4 resolution; deterministic driver-side
    * arithmetic, ties break toward fewer bands (cheaper: one shuffled
    * row per band per doc). Returns (bands, rowsPerBand).
    *
    * At 100 TB this is THE knob that sizes the dedup shuffle: bands ×
    * corpus rows is the exploded bucket-key volume, and the S-curve's
    * slack is pure wasted verification I/O — tune it, don't guess it. */
  def lshTune(k: Int, threshold: Double, fpWeight: Double = 1.0,
              fnWeight: Double = 1.0): (Int, Int) = {
    require(k >= 1, s"lshTune: k must be >= 1, got $k")
    require(threshold > 0 && threshold < 1,
      s"lshTune: threshold must be in (0,1), got $threshold")
    def simpson(lo: Double, hi: Double)(f: Double => Double): Double = {
      val n = 10000 // even
      val h = (hi - lo) / n
      var acc = f(lo) + f(hi)
      var i = 1
      while (i < n) {
        acc += f(lo + i * h) * (if (i % 2 == 1) 4.0 else 2.0)
        i += 1
      }
      acc * h / 3.0
    }
    val candidates = (1 to k).filter(k % _ == 0).map { b =>
      val r = k / b
      val cost = fpWeight * simpson(0.0, threshold)(lshCandidateProb(_, b, r)) +
        fnWeight * simpson(threshold, 1.0)(s => 1.0 - lshCandidateProb(s, b, r))
      (cost, b, r)
    }
    val best = candidates.minBy { case (c, b, _) => (c, b) }
    (best._2, best._3)
  }

  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                 minEstSim: Double = 0.5,
                 tokenHash: Column => Column = xxhash64(_),
                 hashBandKeys: Boolean = true,
                 shingler: (Column, Int) => Column = Text.shingles): DataFrame = {
    // persist: the banded table is tiny (id, sig, band, key) but its
    // lineage — shingle + signature computation — is the expensive part;
    // without it the self-join recomputes signatures for both sides.
    val banded = graft.util.CacheRegistry.register(
      minhashBandedSignatures(df, idCol, textCol, shingleN, k, bands,
        tokenHash, hashBandKeys, shingler).persist())
    candidatePairs(banded, banded, idCol, k, minEstSim, symmetric = true)
  }

  /** The banded minhash signature table (id, sig, band, key) that
    * [[minhashLsh]] self-joins — exposed so a daily pipeline can
    * PERSIST it (e.g. io.Layout / bucketed by band+key) and check each
    * new batch against the existing corpus with [[minhashLshIncremental]]
    * instead of re-hashing the corpus every run (the diff-merge
    * discipline applied to dedup: signature work scales with the
    * delta, not the archive). */
  def minhashBandedSignatures(df: DataFrame, idCol: String, textCol: String,
                              shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                              tokenHash: Column => Column = xxhash64(_),
                              hashBandKeys: Boolean = true,
                              shingler: (Column, Int) => Column = Text.shingles): DataFrame = {
    val exploded = df
      .select(col(idCol), explode(shingler(col(textCol), shingleN)).as("t"))
      .select(col(idCol), pmod(tokenHash(col("t")), lit(Vec.MinhashPrime)).as("h"))
    val aggs = (0 until k).map { i =>
      val a = 2L * i + 1
      val b = (i * 2654435761L) % Vec.MinhashPrime
      min(pmod(lit(a) * col("h") + lit(b), lit(Vec.MinhashPrime))).as(s"_m$i")
    }
    val sig = exploded.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
      .select(col(idCol), array((0 until k).map(i => col(s"_m$i")): _*).as("sig"))
    val keys = if (hashBandKeys) Vec.lshBandKeys(col("sig"), k, bands)
               else Vec.lshBandKeyStrings(col("sig"), k, bands)
    sig.select(col(idCol), col("sig"), posexplode(keys).as(Seq("band", "key")))
  }

  /** Near-dup candidates of a NEW batch against an existing signature
    * index (+ within the batch itself): signatures compute for the
    * delta only; the index joins as-is. Pairs are (id_a < id_b) over
    * the union, so new-vs-indexed and new-vs-new dups both surface.
    * The config (shingleN/k/bands/hash) must match the index's. */
  def minhashLshIncremental(newDocs: DataFrame, index: DataFrame,
                            idCol: String, textCol: String,
                            shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                            minEstSim: Double = 0.5,
                            tokenHash: Column => Column = xxhash64(_),
                            hashBandKeys: Boolean = true,
                            shingler: (Column, Int) => Column = Text.shingles): DataFrame = {
    val newBanded = graft.util.CacheRegistry.register(
      minhashBandedSignatures(newDocs, idCol, textCol, shingleN, k, bands,
        tokenHash, hashBandKeys, shingler).persist())
    minhashPairsWithIndex(newBanded, index, idCol, k, minEstSim)
  }

  /** [[minhashLshIncremental]] over a PRE-BUILT new-batch banded table —
    * for callers (the streaming dedup sink) that persist the banded
    * table once and reuse it for both the pair check and the index
    * append. Candidates must involve at least one NEW doc, split so
    * each part uses its cheapest orientation rule: new×new is symmetric
    * (the `<` filter halves verify work), new×index is asymmetric
    * (normalize). Batch and index id sets are disjoint → the two pair
    * sets are too. */
  private[graft] def minhashPairsWithIndex(newBanded: DataFrame, index: DataFrame,
                                           idCol: String, k: Int,
                                           minEstSim: Double): DataFrame =
    minhashSelfPairs(newBanded, idCol, k, minEstSim)
      .unionByName(candidatePairs(newBanded, index, idCol, k, minEstSim,
        symmetric = false))

  /** the batch-internal half of [[minhashPairsWithIndex]] alone — for a
    * first epoch whose index is statically empty. */
  private[graft] def minhashSelfPairs(banded: DataFrame, idCol: String,
                                      k: Int, minEstSim: Double): DataFrame =
    candidatePairs(banded, banded, idCol, k, minEstSim, symmetric = true)

  /** banded bucket join + signature-agreement estimate shared by the
    * self-join and incremental forms. `symmetric` picks the pair
    * filter: a self-join sees every unordered pair in both
    * orientations, so `id_a < id_b` keeps exactly one and halves the
    * verify work; an asymmetric a-side (the incremental delta) sees
    * each pair ONCE in whatever orientation, so `<` would silently
    * drop pairs whose b-side id sorts below — those normalize with
    * least/greatest instead. Bucket-local only; output (id_a, id_b,
    * est_sim), id_a < id_b either way. */
  private def candidatePairs(a0: DataFrame, b0: DataFrame, idCol: String,
                             k: Int, minEstSim: Double,
                             symmetric: Boolean): DataFrame = {
    val a = a0.select(col("band"), col("key"), col(idCol).as("_ia"), col("sig").as("sig_a"))
    val b = b0.select(col("band"), col("key"), col(idCol).as("_ib"), col("sig").as("sig_b"))
    val joined = a.join(b, Seq("band", "key"))
    val pairs =
      if (symmetric) joined.filter(col("_ia") < col("_ib"))
        .select(col("_ia").as("id_a"), col("_ib").as("id_b"),
          col("sig_a"), col("sig_b"))
      else joined.filter(col("_ia") =!= col("_ib"))
        .select(least(col("_ia"), col("_ib")).as("id_a"),
          greatest(col("_ia"), col("_ib")).as("id_b"),
          col("sig_a"), col("sig_b"))
    pairs
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), bb => bb))
          .cast("double") / k).as("est_sim"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("est_sim")).as("est_sim"))
      .filter(col("est_sim") >= minEstSim)
  }

  /** SimHash near-dup pairs: 64-bit simhash, 4x16-bit band candidate
    * join, exact hamming filter. Like [[minhashLsh]], the bit votes are
    * a relational aggregation (explode token hashes, 64 codegen'd
    * conditional sums per doc), not a per-row array fold. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 6,
                   tokenHash: Column => Column = xxhash64(_),
                   bits: Int = 64,
                   tokenizer: Column => Column = Text.wsTokens): DataFrame = {
    val banded = graft.util.CacheRegistry.register(
      simhashBandedSignatures(df, idCol, textCol, tokenHash, bits, tokenizer)
        .persist()) // see minhashLsh: avoid recomputing simhash on both join sides
    simhashCandidates(banded, banded, idCol, maxHamming, symmetric = true)
  }

  /** The banded simhash table (id, sh, band, key) [[simhashPairs]]
    * self-joins — persist it and check new batches with
    * [[simhashIncremental]], the same delta discipline as the minhash
    * index. Config (tokenHash/bits/tokenizer) must match across runs. */
  def simhashBandedSignatures(df: DataFrame, idCol: String, textCol: String,
                              tokenHash: Column => Column = xxhash64(_),
                              bits: Int = 64,
                              tokenizer: Column => Column = Text.wsTokens): DataFrame = {
    val exploded = df
      .select(col(idCol), explode(tokenizer(col(textCol))).as("t"))
      .select(col(idCol), tokenHash(col("t")).as("h"))
    val votes = (0 until bits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)).as(s"_v$j")
    }
    val hashed = exploded.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        (0 until bits).map { j =>
          when(col(s"_v$j") > 0, lit(1L << j)).otherwise(lit(0L))
        }.reduce((a, b) => a.bitwiseOR(b)).as("sh"))
    hashed.select(col(idCol), col("sh"),
      posexplode(Vec.simhashBands(col("sh"), bits)).as(Seq("band", "key")))
  }

  /** SimHash near-dups of a NEW batch against a persisted banded
    * index (+ within the batch): simhash computes for the delta only.
    * Pairs involve at least one new doc; output (id_a < id_b). */
  def simhashIncremental(newDocs: DataFrame, index: DataFrame,
                         idCol: String, textCol: String,
                         maxHamming: Int = 6,
                         tokenHash: Column => Column = xxhash64(_),
                         bits: Int = 64,
                         tokenizer: Column => Column = Text.wsTokens): DataFrame = {
    val newBanded = graft.util.CacheRegistry.register(
      simhashBandedSignatures(newDocs, idCol, textCol, tokenHash, bits, tokenizer)
        .persist())
    // same split as minhashLshIncremental: symmetric within the batch,
    // asymmetric against the (disjoint-id) index
    simhashCandidates(newBanded, newBanded, idCol, maxHamming, symmetric = true)
      .unionByName(simhashCandidates(newBanded, index, idCol, maxHamming,
        symmetric = false))
  }

  /** banded hamming-candidate join shared by the self-join and
    * incremental simhash forms (same pair-orientation discipline as
    * [[candidatePairs]]). */
  private[graft] def simhashCandidates(a0: DataFrame, b0: DataFrame, idCol: String,
                                maxHamming: Int, symmetric: Boolean): DataFrame = {
    val a = a0.select(col("band"), col("key"), col(idCol).as("_ia"), col("sh").as("sh_a"))
    val b = b0.select(col("band"), col("key"), col(idCol).as("_ib"), col("sh").as("sh_b"))
    val joined = a.join(b, Seq("band", "key"))
    val pairs =
      if (symmetric) joined.filter(col("_ia") < col("_ib"))
        .select(col("_ia").as("id_a"), col("_ib").as("id_b"), col("sh_a"), col("sh_b"))
      else joined.filter(col("_ia") =!= col("_ib"))
        .select(least(col("_ia"), col("_ib")).as("id_a"),
          greatest(col("_ia"), col("_ib")).as("id_b"), col("sh_a"), col("sh_b"))
    pairs
      .select(col("id_a"), col("id_b"), Vec.hamming(col("sh_a"), col("sh_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Connected components over near-dup pairs: every node gets the min
    * id of its component (the canonical representative to keep).
    *
    * Iterative min-label propagation to the exact fixpoint — each round
    * is one join + groupBy (all codegen'd), `localCheckpoint` cuts the
    * growing lineage (an iterative loop without it re-executes every
    * prior round). Rounds needed = component diameter, which for dedup
    * clusters is tiny; `maxIter` is a safety bound.
    *
    * Scale shape: only nodes that touch an edge iterate — at 100 TB the
    * near-dup subgraph is a small fraction of the corpus, and the
    * edgeless majority joins back self-labeled in one final pass, never
    * entering the loop. Edge endpoints absent from `nodes` PARTICIPATE
    * in propagation (they connect, and can label, the components they
    * touch — matching the recursive-CTE oracle semantics) but are
    * dropped from the output; pass pairs ⊆ nodes if ghost ids must not
    * bridge or label components. Within the loop, messages flow only FROM nodes
    * whose label changed last round (delta/frontier propagation — if a
    * neighbor's label didn't change, its contribution was already
    * received), so per-round join input shrinks as components converge.
    * Convergence detection rides the checkpoint job via `observe`
    * (no second action per round). The edge leaves and every round but
    * the last are released before returning; the result reads the last
    * round's checkpoint. */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
                          idCol: String, aCol: String = "id_a", bCol: String = "id_b",
                          maxIter: Int = 20): DataFrame = {
    val spark = nodes.sparkSession
    // Two-phase edge leaf. Phase 1 checkpoints the doubled edge list
    // and observes its count in the same job; phase 2 re-partitions it
    // by dst into a LOOP-SIZED partition count derived from that count
    // (guide §2.2: the per-round exchanges carry 16-byte rows;
    // [[graft.util.Iterative.partitionsFor]] gives 1 partition at
    // fixture scale, thousands at 10¹⁰ edges). The message join probes
    // edges on dst, and the phase-2 leaf keeps hashpartitioning(dst,
    // npart): the edge table never re-shuffles, and every round reads
    // leaves only.
    val (edges0, Seq(nEdges)) = Iterative.leaf(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst"))))
    val npart = Iterative.partitionsFor(spark, nEdges)
    // AQE off for the rounds: the loop's plan shape never changes, so
    // adaptive stage re-planning only multiplies the per-round job
    // count (the pageRank/classifier loop discipline) — and AQE's
    // runtime coalescing would break the npart co-partitioning with
    // the dst-partitioned edge leaf.
    val converged = Iterative.withLoopConf(spark, npart) {
      val edges = Iterative.leaf(edges0.repartition(npart, col("dst")))._1
      Iterative.release(edges0)
      // every endpoint's initial label counts as "changed": round 1
      // messages flow from everyone (the edge list is symmetric, so
      // its dst set is its endpoint set, already in the dst layout)
      var labels = Iterative.leaf(edges.select(col("dst").as("id")).distinct()
        .select(col("id"), col("id").as("label"), lit(true).as("_chg")))._1
      var changed = 1L
      var i = 0
      while (changed > 0 && i < maxIter) {
        val frontier = labels.filter(col("_chg"))
          .select(col("id").as("_fid"), col("label").as("_flabel"))
        val msgMin = edges.join(frontier.hint(Iterative.ShuffleHash), edges("dst") === col("_fid"))
          .select(edges("src").as("id"), col("_flabel").as("_m"))
          .groupBy("id").agg(min(col("_m")).as("_m"))
        // convergence rides the round's checkpoint job: no second action
        val (next, Seq(_, nChanged)) = Iterative.leaf(
          labels.select(col("id"), col("label"))
            .join(msgMin.hint(Iterative.ShuffleHash), Seq("id"), "left")
            .select(col("id"),
              least(col("label"), coalesce(col("_m"), col("label"))).as("label"),
              (coalesce(col("_m"), col("label")) < col("label")).as("_chg")),
          sum(col("_chg").cast("long")))
        Iterative.release(labels)
        labels = next
        changed = nChanged
        i += 1
      }
      Iterative.release(edges)
      labels
    }
    // the edgeless majority self-labels outside the loop
    nodes.select(col(idCol))
      .join(converged.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("label"), col(idCol)).as("cluster"))
  }

  /** Per-cluster representative selection (SURVEY §2 C58): given the
    * connected-component labels from [[connectedComponents]] and a
    * per-document quality score, keep the BEST document of every
    * near-dup cluster — argmax score, ties to the smallest id, so the
    * choice is deterministic and a re-run is idempotent. This is the
    * "keep-best" refinement of first-wins dedup: when a crawl carries
    * five near-copies of an article, first-wins keeps an arbitrary
    * one; keep-best keeps the cleanest.
    *
    * Relational shape: one hash join of the (id, cluster) label table
    * against the (id, score) table — both are 16-byte-row tables, the
    * corpus text never moves — then ONE aggregation keyed by cluster.
    * The argmax rides a `max(struct(score, -id))` struct-ordering
    * aggregate instead of a `row_number` window: a window moves every
    * member of a cluster to one task and sorts it; the struct max is
    * map-side-combinable, so each input partition reduces to one
    * candidate row per cluster before the shuffle. At 100 TB the
    * shuffle carries at most (clusters × partitions) 24-byte rows.
    *
    * Returns (cluster, rep_id, rep_score, n_members), one row per
    * cluster (singletons included — their sole member represents). */
  def clusterRepresentatives(clusters: DataFrame, scored: DataFrame,
                             idCol: String, scoreCol: String): DataFrame =
    clusters.join(scored, Seq(idCol))
      .groupBy(col("cluster"))
      .agg(
        count(lit(1)).as("n_members"),
        max(struct(col(scoreCol).as("s"), (-col(idCol)).as("nid"))).as("_best"))
      .select(col("cluster"),
        (-col("_best.nid")).as("rep_id"),
        col("_best.s").as("rep_score"),
        col("n_members"))

  /** Benchmark-contamination check: per corpus document, the fraction
    * of its distinct n-gram shingles that also occur anywhere in a
    * benchmark/eval document set (the train-test-overlap scan every
    * LLM data pipeline runs before training).
    *
    * Relational shape: both sides reduce to distinct shingle hashes
    * (the shuffle carries 8-byte hashes, not text), the benchmark's
    * distinct-hash set left-joins in (Catalyst broadcasts it when
    * dimension-sized — eval benchmarks are), and a map-side-combinable
    * count ratio per doc closes it. `tokenHash` defaults to xxhash64;
    * pass Vec.md5Hash60 where an external engine must reproduce it. */
  def contaminationCheck(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String,
                         shingleN: Int = 3, flagThreshold: Double = 0.2,
                         tokenHash: Column => Column = xxhash64(_),
                         shingler: (Column, Int) => Column = Text.shingles): DataFrame = {
    def hashes(df: DataFrame, keep: Boolean): DataFrame = {
      val base = df.select(
        (if (keep) Seq(col(idCol)) else Seq.empty) :+
          explode(shingler(col(textCol), shingleN)).as("_sh"): _*)
      base.select((if (keep) Seq(col(idCol)) else Seq.empty) :+
        tokenHash(col("_sh")).as("_h"): _*).distinct()
    }
    val corpusShingles = hashes(corpus, keep = true)
    val benchShingles = hashes(benchmark, keep = false)
      .withColumn("_hit", lit(1L))
    corpusShingles
      .join(benchShingles, Seq("_h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_contaminated"))
      .withColumn("contamination",
        when(col("n_shingles") > 0,
          col("n_contaminated").cast("double") / col("n_shingles")).otherwise(0.0))
      .withColumn("flagged", col("contamination") >= flagThreshold)
  }

  /** C58 — KMV corpus-overlap triage: estimate two corpora's distinct
    * shingle cardinalities and Jaccard overlap from two k-long
    * [[graft.expressions.KmvSketch]] sketches, WITHOUT joining them.
    *
    * This is the scale gate in front of [[contaminationCheck]]: the
    * exact scan shuffle-joins every distinct corpus shingle hash
    * against the benchmark; at 100 TB that is the corpus's whole
    * distinct-hash set through the network, even when the answer is
    * "no overlap". The KMV form reduces EACH corpus map-side to ≤ k
    * longs per partition (ObjectHashAggregate partial), ships two
    * k-long arrays to one combiner, and estimates
    *
    *   D̂(X)    = (k-1) / U_(k)                 (kth smallest, normalized)
    *   Ĵ(A,B)  = |KMV_k(A ∪ B) ∩ A ∩ B| / |KMV_k(A ∪ B)|
    *   |A ∩ B|̂ = Ĵ · D̂(A ∪ B)
    *
    * (Beyer et al., SIGMOD 2007). Every number is a deterministic
    * function of exact order statistics — below k distinct values the
    * sketch IS the set and the "estimates" are exact — so the driver's
    * DuckDB gate verifies this row value-for-value.
    *
    * `hashLo`/`hashSpan` describe the hash's output interval for the
    * normalization (md5-60: [0, 2^60); xxhash64: [-2^63, 2^63)).
    * Returns ONE row: sketch sizes, the three distinct-count
    * estimates, the match count, Ĵ, and the intersection estimate. */
  def corpusOverlapKmv(corpusA: DataFrame, corpusB: DataFrame,
                       textCol: String, shingleN: Int = 3, k: Int = 1024,
                       tokenHash: Column => Column = xxhash64(_),
                       hashLo: Double = -9.223372036854775808E18,
                       hashSpan: Double = 1.8446744073709551616E19,
                       shingler: (Column, Int) => Column = Text.shingles): DataFrame = {
    def sketch(df: DataFrame, as: String): DataFrame =
      df.select(explode(shingler(col(textCol), shingleN)).as("_sh"))
        .select(tokenHash(col("_sh")).as("_h"))
        .agg(call_function("graft_kmv", col("_h"), lit(k)).as(as))
    // (k-1)/U_(k) with U_(k) = (max - lo)/span; exact below k. The
    // arithmetic shape ((k-1)*span, then one divide) is mirrored
    // verbatim in the oracle SQL — IEEE ops are exactly rounded, so
    // identical shapes give identical doubles in any engine.
    def estDistinct(arr: Column): Column =
      when(size(arr) < k, size(arr).cast("double"))
        .otherwise(lit((k - 1).toDouble * hashSpan) /
          (element_at(arr, k).cast("double") - lit(hashLo)))
    sketch(corpusA, "ka").crossJoin(sketch(corpusB, "kb")) // 1 row × 1 row
      .withColumn("u", slice(array_sort(array_union(col("ka"), col("kb"))), 1, k))
      .withColumn("n_match",
        size(array_intersect(col("u"), array_intersect(col("ka"), col("kb")))).cast("long"))
      .withColumn("est_jaccard",
        when(size(col("u")) > 0,
          col("n_match").cast("double") / size(col("u"))).otherwise(0.0))
      .select(
        lit(k.toLong).as("k"),
        size(col("ka")).cast("long").as("ka_size"),
        size(col("kb")).cast("long").as("kb_size"),
        estDistinct(col("ka")).as("est_distinct_a"),
        estDistinct(col("kb")).as("est_distinct_b"),
        estDistinct(col("u")).as("est_distinct_union"),
        col("n_match"),
        col("est_jaccard"),
        (col("est_jaccard") * estDistinct(col("u"))).as("est_intersection"))
  }

  /** Cross-document repeated-chunk removal — the "line dedup" /
    * boilerplate scrub of web-corpus cleaning (CCNet/RefinedWeb drop
    * lines repeated across many pages: headers, footers, cookie
    * banners). Corpora without line structure segment into fixed
    * `chunkTokens`-token chunks instead; any chunk whose hash occurs
    * in more than `maxDocs` distinct documents is dropped from ALL of
    * them, and each document's text is rebuilt order-preserving.
    *
    * Relational shape (same ladder as docFreqFilter): posexplode
    * tokens → per-(doc, chunk) ordered re-agg → chunk-hash document
    * frequency (the shuffle carries 8-byte hashes) → hash join back →
    * ordered rebuild. Docs reduced to nothing (all chunks boilerplate)
    * survive with empty text, mirroring the reference's
    * keep-the-row-drop-the-noise cleaning posture. */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
                 chunkTokens: Int = 10, maxDocs: Int = 2,
                 tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    val toks = df.select(col(idCol),
      posexplode(Text.wsTokens(col(textCol))).as(Seq("pos", "tok")))
      // hash(id) satisfies BOTH the (id, chunk) assembly grouping and
      // the per-id rebuild grouping: the chunk strings shuffle once
      // (here, as tokens), not again for the rebuild
      .repartition(col(idCol))
    val chunks = toks
      .withColumn("_ck", floor(col("pos") / chunkTokens).cast("long"))
      .groupBy(col(idCol), col("_ck"))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("tok")))),
        x => x.getField("tok"))).as("chunk_text"))
    val hashed = chunks.withColumn("_h", tokenHash(col("chunk_text")))
    val chunkDf = hashed.select(col("_h"), col(idCol)).distinct()
      .groupBy(col("_h")).agg(count(lit(1)).as("_df"))
    val rebuilt = hashed.join(chunkDf, "_h")
      .filter(col("_df") <= maxDocs)
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("_ck"), col("chunk_text")))),
          x => x.getField("chunk_text"))).as("clean_text"),
        count(lit(1)).as("n_chunks_kept"))
    df.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_chunks_kept"), lit(0L)).as("n_chunks_kept"))
  }

  /** Content-defined chunking (C49) — the rsync/LBFS/FastCDC boundary
    * rule applied to token streams: position p ends a chunk iff
    * hash(token_p) ≡ 0 (mod `divisor`), so chunk boundaries are a
    * function of CONTENT, not offsets. That is what [[chunkDedup]]'s
    * fixed windows cannot give: insert one token at the front of a
    * page and every fixed chunk shifts (nothing matches), while every
    * CDC chunk after the first surviving boundary is byte-identical
    * and still deduplicates. Expected chunk length = `divisor` tokens.
    *
    * Relational shape (the [[chunkDedup]] ladder, boundary rule
    * swapped in): posexplode tokens → CODEGEN'd boundary flag →
    * per-doc cumsum window assigns chunk ids → ordered re-agg builds
    * chunk text. Everything between the one hash(id) shuffle stays in
    * whole-stage codegen — an array-lambda formulation is map-only on
    * paper but evaluates interpreted (the pqEncodeMapOnly lesson) and
    * measured ~2× slower end-to-end. The window's partitioning serves
    * the re-agg too, so tokens shuffle once; the cross-doc duplicate
    * scan downstream aggregates 8-byte chunk hashes only. A boundary
    * token ends (and belongs to) its chunk, so indices are contiguous
    * from 0. Output: (id, chunk_idx, start_tok, n_tokens, chunk_text,
    * chunk_hash). */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                divisor: Int = 8,
                tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    require(divisor >= 1, s"cdcChunks: divisor must be >= 1, got $divisor")
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, 0)
    df.select(col(idCol),
        posexplode(Text.wsTokens(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("_bflag",
        when(pmod(tokenHash(col("tok")), lit(divisor.toLong)) === 0, 1L)
          .otherwise(0L))
      // chunk of position p = boundaries strictly BEFORE p: inclusive
      // cumsum minus the row's own flag
      .withColumn("chunk_idx", sum(col("_bflag")).over(byDoc) - col("_bflag"))
      .groupBy(col(idCol), col("chunk_idx"))
      .agg(min(col("pos")).cast("long").as("start_tok"),
        count(lit(1)).as("n_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok"))).as("chunk_text"))
      .withColumn("chunk_hash", tokenHash(col("chunk_text")))
  }

  /** C31: survivor selection — the step AFTER near-dup clustering: one
    * canonical document per cluster (highest `scoreCol`, ties to the
    * lowest id — deterministic), every other member marked for drop.
    * This is how a production dedup actually shrinks the corpus: the
    * cluster step ([[connectedComponents]]) finds the groups, this
    * picks who survives. The rank window partitions by cluster, so the
    * only shuffle is hash(cluster); cluster sizes are bounded by real
    * duplication, not corpus size. */
  def canonicalPerCluster(clusters: DataFrame, scored: DataFrame,
                          idCol: String, scoreCol: String): DataFrame = {
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col(scoreCol).desc, col(idCol))
    clusters.join(scored, idCol)
      .withColumn("is_canonical", row_number().over(w) === 1)
      .select(col(idCol), col("cluster"), col(scoreCol), col("is_canonical"))
  }

  /** C30: exact duplicate-span detection — the substring-level dedup of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better") re-expressed relationally, replacing the paper's
    * suffix array with a sliding-window hash join. Every k-token window
    * hashes ([[graft.expressions.WordShingles]] keeps one entry per
    * start position, so `posexplode` yields the window's token offset);
    * a window whose hash occurs in ≥ `minDocs` DISTINCT documents is
    * duplicated text, and per document the duplicated window starts
    * coalesce into maximal token intervals [span_start, span_end]
    * (end-inclusive; overlapping-or-adjacent windows merge — the
    * classic island detection via a running max-end window function).
    *
    * Unlike [[chunkDedup]] (disjoint fixed chunks, boilerplate scrub),
    * the SLIDING window catches duplicated passages at any alignment —
    * the training-data case where a quote or template is embedded
    * mid-document. At 100 TB the shuffles carry (id, pos, 8-byte hash)
    * rows; duplicate detection is a map-side-combinable hash count,
    * never a string comparison, and the interval merge partitions by
    * document.
    *
    * Nothing here is persisted. The window set (~one row per corpus
    * token) is needed twice — duplicate detection and the position
    * join-back — and caching it would pin a corpus-sized intermediate
    * (r6 verdict: "at 100 TB that cache is corpus-scale"). Instead the
    * plan re-derives the windows in a second scan: tokenize+shingle+
    * hash is map-only and cache-free, so the trade is one extra pass
    * over the input against unbounded executor memory/disk pressure —
    * on a 1000-executor corpus read that is the right side of the
    * trade. The duplicated-hash side reduces to distinct 8-byte `h`
    * before the join, sized by actually-duplicated text, so AQE may
    * still broadcast it when duplication is sparse. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 8, minDocs: Int = 2,
                     tokenHash: Column => Column = xxhash64(_),
                     shingler: (Column, Int) => Column = Text.shinglesWithDuplicates): DataFrame = {
    def win = df
      .select(col(idCol), posexplode(shingler(col(textCol), k)).as(Seq("pos", "w")))
      .select(col(idCol), col("pos"), tokenHash(col("w")).as("h"))
    val dup = win.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("_nd"))
      .filter(col("_nd") >= minDocs)
      .select(col("h"))
    spanIslands(win, dup, idCol, k)
  }

  /** C116 — train/test split leakage: which TEST documents share a
    * verbatim k-gram window with any TRAIN document — the audit a
    * held-out split must pass before an eval number is trusted (C21
    * checks the corpus against an EXTERNAL benchmark; this checks a
    * split against ITSELF — near-dup pairs that straddle the split
    * boundary leak eval content into training even when both copies
    * are legitimate corpus members). Same window algebra as [[C30's
    * duplicateSpans]]: positional k-gram hashes; a window hash leaks
    * iff it occurs in ≥1 train doc AND ≥1 test doc.
    *
    * Scale shape: the window table shuffles hashes (8-byte), never
    * text; the leaked-hash set is duplication-scale; output is one
    * row per leaking test doc (window + distinct-hash counts). The
    * remedy it feeds: move the whole near-dup CLUSTER (C13/C103
    * machinery) to one side of the split. */
  def splitLeakage(df: DataFrame, idCol: String, textCol: String,
                   splitCol: String, trainVal: String = "train",
                   testVal: String = "test", k: Int = 8,
                   tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    require(k >= 1, s"splitLeakage: k must be >= 1, got $k")
    // the window table is consumed twice (leak-set build + test-side
    // join); persist it so the full-corpus shingle explode — the most
    // expensive projection in the audit — runs once (the DISK_ONLY
    // discipline refreshImpacts applies)
    val win = graft.util.CacheRegistry.register(
      df.select(col(idCol), col(splitCol).as("_split"),
          posexplode(Text.shinglesWithDuplicates(col(textCol), k))
            .as(Seq("pos", "w")))
        .select(col(idCol), col("_split"), tokenHash(col("w")).as("h"))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))
    val leak = win.groupBy(col("h")).agg(
        countDistinct(when(col("_split") === trainVal, col(idCol))).as("_ntr"),
        countDistinct(when(col("_split") === testVal, col(idCol))).as("_nte"))
      .filter(col("_ntr") >= 1 && col("_nte") >= 1)
      .select(col("h"))
    win.filter(col("_split") === testVal).join(leak, "h")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_leaked_windows"),
        countDistinct(col("h")).as("n_leaked_hashes"))
  }

  /** the island half of span detection: windows whose hash is in
    * `dirtyHashes` coalesce per document into maximal token intervals
    * (the running max-end window trick). Shared by [[duplicateSpans]]
    * (dirty = within-corpus repeats) and [[contaminationSpans]]
    * (dirty = a benchmark's window set). */
  private def spanIslands(win: DataFrame, dirtyHashes: DataFrame,
                          idCol: String, k: Int): DataFrame = {
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    win.join(dirtyHashes, "h")
      .select(col(idCol), col("pos"))
      .withColumn("_prev_end", max(col("pos") + lit(k - 1)).over(
        byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("_new", when(col("_prev_end").isNull ||
        col("pos") > col("_prev_end") + 1, 1L).otherwise(0L))
      .withColumn("_island", sum(col("_new")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("_island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + lit(k - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col(idCol), col("span_start"), col("span_end"), col("n_windows"))
  }

  /** C83 — surgical decontamination, the span-level form of C21: every
    * verbatim k-token overlap between a training document and the
    * benchmark corpus, located as maximal token intervals. C21 FLAGS
    * documents whose shingle-overlap ratio crosses a threshold (drop-
    * the-doc posture, the GPT-3 recipe); this finds the overlapping
    * islands themselves so [[scrubContamination]] can remove JUST the
    * leaked benchmark text and keep the rest of the document — at web
    * scale, whole-doc drops over one embedded eval question throw away
    * good tokens by the billions.
    *
    * Scale shape is [[duplicateSpans]]'s: the benchmark side reduces to
    * its DISTINCT window-hash set (benchmark-scale, ≪ corpus; AQE may
    * broadcast it), training windows shuffle as (id, pos, 8-byte hash)
    * rows, never text, and the interval merge partitions by document. */
  def contaminationSpans(train: DataFrame, idCol: String, textCol: String,
                         bench: DataFrame, benchTextCol: String,
                         k: Int = 8,
                         tokenHash: Column => Column = xxhash64(_),
                         shingler: (Column, Int) => Column = Text.shinglesWithDuplicates): DataFrame = {
    val win = train
      .select(col(idCol), posexplode(shingler(col(textCol), k)).as(Seq("pos", "w")))
      .select(col(idCol), col("pos"), tokenHash(col("w")).as("h"))
    val dirty = bench
      .select(explode(shingler(col(benchTextCol), k)).as("_w"))
      .select(tokenHash(col("_w")).as("h")).distinct()
    spanIslands(win, dirty, idCol, k)
  }

  /** C83b — remove the [[contaminationSpans]] intervals from each
    * training document (the scrub half; every doc survives, the
    * keep-the-row posture of [[scrubDuplicateSpans]]). */
  def scrubContamination(train: DataFrame, idCol: String, textCol: String,
                         bench: DataFrame, benchTextCol: String,
                         k: Int = 8,
                         tokenHash: Column => Column = xxhash64(_),
                         shingler: (Column, Int) => Column = Text.shinglesWithDuplicates): DataFrame =
    scrubWithSpans(train, idCol, textCol,
      contaminationSpans(train, idCol, textCol, bench, benchTextCol,
        k, tokenHash, shingler))

  /** C30b: remove the [[duplicateSpans]] intervals from each document —
    * the scrub half of substring dedup. Tokens join their document's
    * span list on (doc equi-key + position range); the anti join keeps
    * uncovered tokens, and the order-preserving rebuild is the same
    * sorted-collect discipline as [[chunkDedup]]. Every input document
    * survives (fully-duplicated text becomes empty, keep-the-row
    * posture). */
  def scrubDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                          k: Int = 8, minDocs: Int = 2,
                          tokenHash: Column => Column = xxhash64(_),
                          shingler: (Column, Int) => Column = Text.shinglesWithDuplicates): DataFrame =
    scrubWithSpans(df, idCol, textCol,
      duplicateSpans(df, idCol, textCol, k, minDocs, tokenHash, shingler))

  /** the rebuild half shared by [[scrubDuplicateSpans]] and
    * [[scrubContamination]]: tokens join their document's span list on
    * (doc equi-key + position range); the anti join keeps uncovered
    * tokens, and the order-preserving rebuild is the sorted-collect
    * discipline of [[chunkDedup]]. Every input document survives. */
  private def scrubWithSpans(df: DataFrame, idCol: String, textCol: String,
                             spansDf: DataFrame): DataFrame = {
    val spans = spansDf
      .select(col(idCol).as("_sid"), col("span_start"), col("span_end"))
    val toks = df.select(col(idCol),
      posexplode(Text.wsTokens(col(textCol))).as(Seq("pos", "tok")))
    val surviving = toks.join(spans,
      toks(idCol) === col("_sid") &&
        col("pos") >= col("span_start") && col("pos") <= col("span_end"),
      "left_anti")
    val rebuilt = surviving
      .groupBy(col(idCol))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("tok")))),
        x => x.getField("tok"))).as("scrubbed_text"))
    df.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("scrubbed_text"), lit("")).as("scrubbed_text"))
  }

  /** exact word-n-gram Jaccard for a candidate pair set; `pairs` has
    * (id_a, id_b); texts joined in by id. */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, idCol: String,
                   textCol: String, n: Int = 3,
                   shingler: (Column, Int) => Column = Text.shingles): DataFrame = {
    val sh = docs.select(col(idCol), shingler(col(textCol), n).as("sh"))
    pairs
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("n_common"),
        size(array_union(col("sh_a"), col("sh_b"))).cast("long").as("n_union"))
      .withColumn("jaccard",
        when(col("n_union") > 0, col("n_common").cast("double") / col("n_union")).otherwise(0.0))
  }
}
