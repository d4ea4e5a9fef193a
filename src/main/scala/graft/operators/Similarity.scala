package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Vec

/** Similarity search over an embedding column (SURVEY §2C).
  *
  * [[bruteTopK]] is the exact baseline: broadcast the (small) query set
  * against the candidate corpus, partition-local cosine + top-k via
  * row_number — no global sort, the corpus streams once. At 100 TB the
  * corpus side stays partitioned; only the query side broadcasts.
  *
  * [[lshTopK]] is the scale path: bucket both sides by random-hyperplane
  * sign bits (deterministic planes), join on bucket, rank within. Probes
  * a Hamming-ball of buckets (`probeBits`) to trade recall for cost.
  */
object Similarity {

  /** Bounded top-k of a scored stream, per query — the scale-safe
    * (sim desc, id asc) ranking: per-partition bounded heaps reduce
    * map-side (graft.expressions.BoundedTopK), the shuffle carries at
    * most k entries per (partition, query), and the final merge is
    * k·partitions rows — no task ever absorbs a query's full scored
    * stream the way Window.partitionBy(query) ranking does. The id
    * column keeps its own type (BoundedTopK orders any orderable id
    * via Catalyst's interpreted ordering — string doc ids included). */
  private[operators] def topK(scored: DataFrame, k: Int, queryId: String,
                   candId: String): DataFrame =
    scored
      .groupBy(col(queryId))
      .agg(call_function("graft_topk",
        struct(col("sim"), col(candId)), lit(k)).as("top"))
      .select(col(queryId), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col(queryId), col("t.id").as(candId), col("t.sim").as("sim"),
        (col("pos") + 1).cast("long").as("rank"))

  /** exact cosine top-k: `queries`(id, vec) × `corpus`(id, vec). */
  def bruteTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                queryId: String = "query_id", queryVec: String = "qv",
                candId: String = "cand_id", candVec: String = "cv"): DataFrame = {
    val scored = broadcast(queries)
      .crossJoin(corpus)
      .withColumn("sim", Vec.cosineFast(col(queryVec), col(candVec)))
    topK(scored, k, queryId, candId)
  }

  /** All XOR masks of Hamming weight <= `probeBits` over `nPlanes` bit
    * positions — the multi-probe flip set, enumerated STRUCTURALLY as
    * bit-combinations (sum of C(nPlanes, s) for s <= probeBits masks
    * generated, nothing else visited). The old form filtered all
    * 2^nPlanes longs, which forced an nPlanes <= 24 guard; this one
    * only needs the probe COUNT itself to stay broadcast-sized.
    * Ascending-weight, ascending-value order matches the filtered
    * enumeration for probeBits <= 1 (identity first), and the probe
    * set is order-insensitive anyway (it feeds a join). */
  private[graft] def hammingBallMasks(nPlanes: Int, probeBits: Int): Seq[Long] =
    (0 to probeBits).flatMap { s =>
      (0 until nPlanes).combinations(s)
        .map(_.foldLeft(0L)((m, bit) => m | (1L << bit)))
        .toSeq.sorted
    }

  /** sum of C(n, s) for s <= b, capped — the probe-budget check must
    * run on ARITHMETIC before [[hammingBallMasks]] enumerates anything
    * (C(63, 8) ≈ 6.6e9 masks would hang the driver long before a
    * post-hoc size check could fire). Returns early once past `cap`,
    * so no intermediate term exceeds cap * n and nothing overflows. */
  private def binomialSumCapped(n: Int, b: Int, cap: Long): Long = {
    var total = 0L
    var c = 1L // C(n, 0)
    var s = 0
    while (s <= b) {
      total += c
      if (total > cap) return total
      s += 1
      if (s <= b) c = c * (n - s + 1) / s
    }
    total
  }

  /** LSH-bucketed approximate top-k with multi-probe (probe every
    * bucket within Hamming distance `probeBits` of the query bucket —
    * all bit-combinations, not just single flips). */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nPlanes: Int, dim: Int, probeBits: Int = 1,
              queryId: String = "query_id", queryVec: String = "qv",
              candId: String = "cand_id", candVec: String = "cv"): DataFrame =
    lshTopKWithIndex(queries, lshBucketTable(corpus, nPlanes, dim, candVec),
      k, nPlanes, dim, probeBits, queryId, queryVec, candId, candVec)

  /** The bucketed corpus table (corpus columns + `bucket`) that
    * [[lshTopK]] computes per call — PERSIST it (io.Layout /
    * partitioned by bucket) and serve query batches against it with
    * [[lshTopKWithIndex]], the ANN twin of the minhash signature-index
    * discipline: bucket work is paid once per corpus, each query batch
    * pays only its own hashing plus bucket-local scoring, and at
    * 100 TB a bucket-partitioned layout makes each probe a
    * partition-pruned scan. Hyperplanes are deterministic (fixed
    * seed), so index and query sides agree whenever (nPlanes, dim)
    * match. */
  def lshBucketTable(corpus: DataFrame, nPlanes: Int, dim: Int,
                     candVec: String = "cv"): DataFrame =
    corpus.withColumn("bucket",
      Vec.lshBucket(col(candVec), Vec.hyperplanes(nPlanes, dim)))

  /** [[lshTopK]] against a pre-built [[lshBucketTable]]. */
  def lshTopKWithIndex(queries: DataFrame, index: DataFrame, k: Int,
                       nPlanes: Int, dim: Int, probeBits: Int = 1,
                       queryId: String = "query_id", queryVec: String = "qv",
                       candId: String = "cand_id", candVec: String = "cv"): DataFrame = {
    require(nPlanes >= 1 && nPlanes <= 63,
      s"nPlanes must be in [1, 63] (bucket ids are one long), got $nPlanes")
    require(probeBits >= 0 && probeBits <= nPlanes,
      s"probeBits must be in [0, $nPlanes], got $probeBits")
    require(binomialSumCapped(nPlanes, probeBits, 65536) <= 65536,
      s"probe set exceeds 65536 buckets per query (nPlanes=$nPlanes, " +
        s"probeBits=$probeBits); keep sum of C(nPlanes, s<=probeBits) <= 65536")
    val flips = hammingBallMasks(nPlanes, probeBits)
    val planes = Vec.hyperplanes(nPlanes, dim)
    val probes = array(flips.map(lit): _*)
    val qB = broadcast(
      queries.withColumn("bucket0", Vec.lshBucket(col(queryVec), planes))
        .withColumn("bucket", explode(transform(probes, f => col("bucket0").bitwiseXOR(f))))
        .drop("bucket0"))
    val scored = qB.join(index, "bucket")
      .withColumn("sim", Vec.cosineFast(col(queryVec), col(candVec)))
    topK(scored, k, queryId, candId)
  }

  // ---------------------------------------------------------------- PQ

  /** Product-quantization codebooks (C34): split dim-d vectors into `m`
    * contiguous subvectors of d/m dims and learn one codebook per
    * subspace — here trained by the supplied `codeCol` assignment (the
    * same bootstrap the IVF demo uses; swap in [[kmeansFit]] per
    * subspace for self-trained codebooks). Output long form
    * (subspace, code, subpos, centroid), dimension-scale — m × codes ×
    * d/m rows — so it BROADCASTS everywhere downstream.
    *
    * Why PQ at 100 TB: a 64-dim float corpus is 256 B/vector; encoded
    * at m=8 it is 8 one-byte codes — 32× smaller. Search then never
    * touches raw corpus vectors (see [[pqTopK]]); the corpus-side I/O
    * and shuffle shrink by the same factor. Same decimal-deterministic
    * mean as [[ivfCentroids]] so the DuckDB oracle hash-matches. */
  def pqCodebooks(vecs: DataFrame, vecCol: String, codeCol: String,
                  m: Int, dim: Int): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val sub = dim / m
    vecs.select(col(codeCol).as("code"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select((col("pos") / lit(sub)).cast("int").as("subspace"), col("code"),
        (col("pos") % lit(sub)).as("subpos"), col("v"))
      .groupBy(col("subspace"), col("code"), col("subpos"))
      .agg((sum(col("v").cast("decimal(27,20)")).cast("double") / count(col("v"))).as("centroid"))
  }

  /** Self-trained PQ codebooks: [[kmeansFit]] per subspace over the
    * subvectors (deterministic k-means++ with restarts), then the same
    * decimal-exact means as [[pqCodebooks]] — the quality upgrade over
    * the bootstrap assignment, exactly as kmeansFit is to the IVF
    * label bootstrap. Spec-gated (PqSpec: strictly lower reconstruction
    * error than the bootstrap books); the oracle rows pin the
    * bootstrap configuration, which is the cross-engine-reproducible
    * one. m fits over d/m-dim subvectors: training cost scales with m,
    * not with d². */
  def pqCodebooksFit(vecs: DataFrame, idCol: String, vecCol: String,
                     m: Int, dim: Int, codes: Int = 10,
                     maxIter: Int = 10, restarts: Int = 1): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val sub = dim / m
    (0 until m).map { s =>
      val subv = vecs.select(col(idCol), slice(col(vecCol), s * sub + 1, sub).as("_sv"))
      val labeled = kmeansFit(subv, idCol, "_sv", codes, maxIter, restarts = restarts)
      // pqCodebooks at m=1 over the subvector IS this subspace's book
      pqCodebooks(subv.join(labeled, idCol), "_sv", "label", 1, sub)
        .select(lit(s).as("subspace"), col("code"), col("subpos"), col("centroid"))
    }.reduce(_ unionByName _)
  }

  /** squared-L2 term with the cross-engine exactness discipline: each
    * per-dimension term rounds to 6 places and accumulates in decimal,
    * so partial-agg order cannot shift the sum (the [[graft.functions.Agg]]
    * rule applied to distances). The square is a plain multiply — IEEE
    * pow(x,2) is not guaranteed to equal x*x across engines. */
  private def l2Term(v: Column, centroid: Column): Column = {
    val d = v.cast("double") - centroid
    round(d * d, 6).cast("decimal(27,6)")
  }

  /** PQ encoding (C34): each vector compresses to `m` codes — per
    * subspace, the codebook entry with the smallest squared L2 to its
    * subvector (ties to the lowest code, deterministic). Long-form
    * output (id, subspace, code): ~m bytes of information per corpus
    * vector, the representation [[pqTopK]] searches.
    *
    * Shape: codebooks broadcast; the per-(vector, subspace, code)
    * distance agg and the per-(vector, subspace) argmin are both
    * map-side combinable, so the shuffles carry m·codes then m rows
    * per vector — never raw vectors. (At extreme corpus scale the same
    * math can run as a single map-only pass over broadcast codebooks;
    * this relational form is the oracle-exact reference shape.) */
  def pqEncode(vecs: DataFrame, idCol: String, vecCol: String,
               books: DataFrame, m: Int, dim: Int): DataFrame = {
    val sub = dim / m
    vecs.select(col(idCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col(idCol), (col("pos") / lit(sub)).cast("int").as("subspace"),
        (col("pos") % lit(sub)).as("subpos"), col("v"))
      .join(broadcast(books), Seq("subspace", "subpos"))
      .groupBy(col(idCol), col("subspace"), col("code"))
      .agg(sum(l2Term(col("v"), col("centroid"))).as("_l2"))
      .groupBy(col(idCol), col("subspace"))
      .agg(min(struct(col("_l2"), col("code"))).as("_best"))
      .select(col(idCol), col("subspace"), col("_best.code").as("code"))
  }

  /** [[pqEncode]] as a single MAP-ONLY pass — the extreme-corpus form:
    * the codebooks (dimension-scale: m × codes × d/m doubles) collect
    * to the driver and embed as literals, and each vector's m codes
    * compute per row with zip_with/aggregate — no shuffle, no
    * broadcast join, nothing corpus-scale in flight but the scan
    * itself. Output and determinism are IDENTICAL to the relational
    * form (same 6-place-rounded decimal terms, same first-minimum =
    * lowest-code tie-break via array_position; decimal sums are
    * order-free so fold order cannot matter) — PqSpec asserts
    * row-for-row equality. The trade is honest and measured: the
    * zip_with/aggregate lambdas evaluate INTERPRETED (Spark does not
    * codegen higher-order functions), costing ~10× the relational
    * form's codegen'd aggregation CPU at sf0.1 — so reach for this
    * only when the m·codes-per-vector shuffle is the binding
    * constraint (network-bound clusters), and treat it as the
    * reference shape a custom codegen Expression would optimize. The
    * relational [[pqEncode]] is the default. */
  def pqEncodeMapOnly(vecs: DataFrame, idCol: String, vecCol: String,
                      books: DataFrame, m: Int, dim: Int): DataFrame = {
    val sub = dim / m
    val zero = lit(BigDecimal(0).setScale(6)).cast("decimal(27,6)")
    // (subspace, code) -> centroid vector, collected: dimension-scale
    val local = books.select(col("subspace"), col("code"), col("subpos"), col("centroid"))
      .collect()
      .groupBy(r => (r.getInt(0), r.getInt(1)))
      .map { case (k, rows) =>
        k -> rows.sortBy(_.getInt(2)).map(_.getDouble(3))
      }
    def l2(subv: Column, cent: Array[Double]): Column =
      aggregate(
        zip_with(subv, array(cent.map(lit): _*), (x, y) => {
          val d = x.cast("double") - y
          round(d * d, 6).cast("decimal(27,6)")
        }),
        zero, (acc, t) => (acc + t).cast("decimal(27,6)"))
    val codeCols = (0 until m).map { s =>
      val cs = local.keys.filter(_._1 == s).map(_._2).toSeq.sorted
      require(cs.nonEmpty, s"no codebook entries for subspace $s")
      val subv = slice(col(vecCol), s * sub + 1, sub)
      val l2s = array(cs.map(c => l2(subv, local((s, c)))): _*)
      element_at(array(cs.map(lit): _*), array_position(l2s, array_min(l2s)).cast("int"))
    }
    vecs.select(col(idCol), posexplode(array(codeCols: _*)).as(Seq("subspace", "code")))
      .select(col(idCol), col("subspace").cast("int").as("subspace"), col("code"))
  }

  /** PQ asymmetric-distance top-k (C34): each query builds its m×codes
    * lookup table of exact subspace distances to the CODEBOOK entries
    * (dimension-scale, broadcast), then every encoded corpus vector's
    * approximate distance is just m table lookups summed — the
    * compressed codes table is the ONLY corpus-scale input, raw
    * vectors are never read at search time. Ranking uses the
    * [[graft.expressions.BoundedTopK]] native aggregate on the negated
    * distance (sim desc ≡ dist asc, ties to the lowest id), so ≤k
    * candidates per partition survive map-side. */
  def pqTopK(queries: DataFrame, codes: DataFrame, books: DataFrame,
             k: Int, m: Int, dim: Int,
             queryId: String = "query_id", queryVec: String = "qv",
             candId: String = "cand_id"): DataFrame = {
    val sub = dim / m
    val dtable = queries
      .select(col(queryId), posexplode(col(queryVec)).as(Seq("pos", "v")))
      .select(col(queryId), (col("pos") / lit(sub)).cast("int").as("subspace"),
        (col("pos") % lit(sub)).as("subpos"), col("v"))
      .join(broadcast(books), Seq("subspace", "subpos"))
      .groupBy(col(queryId), col("subspace"), col("code"))
      .agg(sum(l2Term(col("v"), col("centroid"))).as("_dpart"))
    val scored = codes.join(broadcast(dtable), Seq("subspace", "code"))
      .groupBy(col(queryId), col(candId))
      .agg(sum(col("_dpart")).as("_dist"))
      .select(col(queryId), col(candId),
        negate(col("_dist").cast("double")).as("sim"))
    topK(scored, k, queryId, candId)
      .select(col(queryId), col(candId),
        round(negate(col("sim")), 6).as("dist"), col("rank"))
  }

  /** IVF-PQ residual table (C64, the index-build half): every corpus
    * vector minus its coarse-cluster centroid, long form
    * (id, label, subspace, subpos, rv) — the representation both the
    * residual codebooks and the encoder consume. Residuals round to 9
    * places at creation so every downstream decimal fold is
    * cross-engine exact (the l2Term discipline applied one level
    * earlier). Centroids broadcast (dimension-scale); the corpus
    * explodes once and never reshuffles here. */
  def ivfPqResiduals(corpus: DataFrame, idCol: String, vecCol: String,
                     labelCol: String, centroidsLong: DataFrame,
                     m: Int, dim: Int): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val sub = dim / m
    corpus.select(col(idCol), col(labelCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .join(broadcast(centroidsLong.select(col(labelCol), col("pos"), col("centroid"))),
        Seq(labelCol, "pos"))
      .select(col(idCol), col(labelCol),
        (col("pos") / lit(sub)).cast("int").as("subspace"),
        (col("pos") % lit(sub)).as("subpos"),
        round(col("v").cast("double") - col("centroid"), 9).as("rv"))
  }

  /** Sign-orthant bootstrap code per (vector, subspace): the first
    * `bits` residual components' signs, packed — a DATA-DEPENDENT
    * deterministic quantizer (each code's training set is one orthant
    * of the residual subspace, so the learned centroids genuinely
    * differ). An id-mod bootstrap here would average a random slice of
    * residuals per code — 2^bits near-copies of the global mean, an
    * ADC table with no signal; the recall spec caught exactly that.
    * Oracle-expressible: a CASE sum over the first `bits` subpos
    * rows. */
  private def signOrthantCodes(resid: DataFrame, idCol: String, bits: Int): DataFrame =
    resid.filter(col("subpos") < bits)
      .groupBy(col(idCol), col("subspace"))
      .agg(sum(when(col("rv") > 0,
          when(col("subpos") === 0, 1)
            .when(col("subpos") === 1, 2)
            .when(col("subpos") === 2, 4)
            .otherwise(8)).otherwise(0)).cast("int").as("code"))

  /** IVF-PQ residual codebooks, bootstrap-trained on sign orthants
    * ([[signOrthantCodes]], `bits` sign bits → 2^bits codes);
    * decimal-exact means per (subspace, code, subpos). kmeansFit over
    * the residual subvectors is the self-trained upgrade, same as
    * everywhere else. */
  def ivfPqBooks(resid: DataFrame, idCol: String, bits: Int = 3): DataFrame = {
    require(bits >= 1 && bits <= 4, s"bits must be in [1, 4], got $bits")
    resid
      .join(signOrthantCodes(resid, idCol, bits), Seq(idCol, "subspace"))
      .groupBy(col("subspace"), col("code"), col("subpos"))
      .agg((sum(col("rv").cast("decimal(27,20)")).cast("double") / count(col("rv"))).as("centroid"))
  }

  /** IVF-PQ residual codebooks, SELF-TRAINED: Lloyd's iterations in
    * exact L2 — the metric the ADC search actually serves — SEEDED
    * FROM the sign-orthant bootstrap books. Each round reassigns every
    * residual subvector to its nearest current centroid (the same
    * argmin [[ivfPqEncode]] runs) and recomputes decimal-exact means;
    * both steps can only lower the mean quantization distortion
    * (standard Lloyd monotonicity), so the trained books weakly
    * dominate the bootstrap on the training objective BY CONSTRUCTION
    * — a cosine-objective k-means here trains the wrong geometry and
    * measured WORSE than the bootstrap (IvfPqSpec r10 note). Lower
    * distortion does not guarantee better top-k recall on isotropic
    * data (the spec measures and documents both). Every
    * round is one broadcast join + two map-side-combinable aggs over
    * the (id, subspace, subpos) rows; the books stay dimension-scale
    * throughout. */
  def ivfPqBooksFit(resid: DataFrame, idCol: String,
                    bits: Int = 4, rounds: Int = 3): DataFrame = {
    var books = ivfPqBooks(resid, idCol, bits).localCheckpoint(true)
    var i = 0
    while (i < rounds) {
      val assigned = resid.join(broadcast(books), Seq("subspace", "subpos"))
        .groupBy(col(idCol), col("subspace"), col("code"))
        .agg(sum(l2Term(col("rv"), col("centroid"))).as("_l2"))
        .groupBy(col(idCol), col("subspace"))
        .agg(min(struct(col("_l2"), col("code"))).as("_best"))
        .select(col(idCol), col("subspace"), col("_best.code").as("code"))
      books = resid.join(assigned, Seq(idCol, "subspace"))
        .groupBy(col("subspace"), col("code"), col("subpos"))
        .agg((sum(col("rv").cast("decimal(27,20)")).cast("double") / count(col("rv"))).as("centroid"))
        .localCheckpoint(true) // cut the per-round lineage growth
      i += 1
    }
    books
  }

  /** IVF-PQ encoding: each residual compresses to m codes (argmin
    * squared-L2 per subspace, ties to the lowest code), carrying its
    * coarse label — the (label, subspace, code) rows ARE the inverted
    * lists [[ivfPqTopK]] scans. Same map-side-combinable shape as
    * [[pqEncode]]. */
  def ivfPqEncode(resid: DataFrame, idCol: String, labelCol: String,
                  books: DataFrame): DataFrame =
    resid.join(broadcast(books), Seq("subspace", "subpos"))
      .groupBy(col(idCol), col(labelCol), col("subspace"), col("code"))
      .agg(sum(l2Term(col("rv"), col("centroid"))).as("_l2"))
      .groupBy(col(idCol), col(labelCol), col("subspace"))
      .agg(min(struct(col("_l2"), col("code"))).as("_best"))
      .select(col(idCol), col(labelCol), col("subspace"), col("_best.code").as("code"))

  /** IVF-PQ search (C64): the billion-scale ANN layout — coarse
    * quantizer prunes the corpus to `nprobe` inverted lists, PQ codes
    * compress what remains, asymmetric distance reads only the codes.
    * Per query: (1) nearest `nprobe` centroids by cosine
    * ([[ivfAssignN]] — broadcast centroids); (2) the query's RESIDUAL
    * against each probed centroid builds a per-(query, cluster) m×codes
    * distance table (dimension-scale, broadcast); (3) the codes table —
    * the ONLY corpus-scale input, 32× smaller than the vectors — joins
    * the table on (label, subspace, code), which restricts the scan to
    * probed clusters structurally (unprobed labels have no table
    * entries to join); (4) per-candidate distances sum map-side and
    * [[graft.expressions.BoundedTopK]] ranks with ≤k survivors per
    * partition. At 100 TB: codes bucketed by label make the probe a
    * partition-pruned read, exactly the ivf_topk posting-list
    * discipline with 32× less I/O. */
  def ivfPqTopK(queries: DataFrame, codes: DataFrame, books: DataFrame,
                centroidsLong: DataFrame, k: Int, m: Int, dim: Int,
                nprobe: Int = 2,
                queryId: String = "query_id", queryVec: String = "qv",
                candId: String = "cand_id", labelCol: String = "label",
                pruneScan: Boolean = false): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val sub = dim / m
    val probedPlan = ivfAssignN(queries, centroidsLong, nprobe, queryId, queryVec, labelCol)
      .select(col(queryId), col(labelCol))
    // pruneScan (the ivfTopK discipline verbatim): probed labels are
    // dimension-scale, so collecting them and filtering the codes
    // table by LITERALS turns a label-partitioned codes layout into a
    // statically partition-pruned read — Spark's dynamic partition
    // pruning declines this broadcast-join shape. Results identical
    // either way; IvfPqSpec proves the plan.
    val probed = if (pruneScan) probedPlan.localCheckpoint(true) else probedPlan
    val codesSide = if (pruneScan) {
      val labels = probed.select(col(labelCol)).distinct().collect().map(_.get(0))
      codes.filter(col(labelCol).isInCollection(labels))
    } else codes
    val qr = queries.join(probed, Seq(queryId))
      .select(col(queryId), col(labelCol), posexplode(col(queryVec)).as(Seq("pos", "v")))
      .join(broadcast(centroidsLong.select(col(labelCol), col("pos"), col("centroid"))),
        Seq(labelCol, "pos"))
      .select(col(queryId), col(labelCol),
        (col("pos") / lit(sub)).cast("int").as("subspace"),
        (col("pos") % lit(sub)).as("subpos"),
        round(col("v").cast("double") - col("centroid"), 9).as("rv"))
    val dtable = qr.join(broadcast(books), Seq("subspace", "subpos"))
      .groupBy(col(queryId), col(labelCol), col("subspace"), col("code"))
      .agg(sum(l2Term(col("rv"), col("centroid"))).as("_dpart"))
    val scored = codesSide.join(broadcast(dtable), Seq(labelCol, "subspace", "code"))
      .groupBy(col(queryId), col(candId))
      .agg(sum(col("_dpart")).as("_dist"))
      .select(col(queryId), col(candId),
        negate(col("_dist").cast("double")).as("sim"))
    topK(scored, k, queryId, candId)
      .select(col(queryId), col(candId),
        round(negate(col("sim")), 6).as("dist"), col("rank"))
  }

  /** IVF centroids, relationally: explode vector components, decimal-
    * deterministic mean per (cluster label, dimension). One shuffle,
    * map-side combinable — giant clusters parallelize (a per-group
    * array-fold could not). Output long form (label, pos, centroid). */
  def ivfCentroids(vecs: DataFrame, vecCol: String, labelCol: String): DataFrame =
    vecs.select(col(labelCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col(labelCol), col("pos"))
      .agg((sum(col("v").cast("decimal(27,20)")).cast("double") / count(col("v"))).as("centroid"))

  /** C73 — exact rerank over IVF-PQ candidates: the standard
    * compressed-candidate recall repair (take the ADC top-kCand —
    * cheap, 32×-compressed, slightly lossy — then rescore ONLY those
    * kCand rows against their raw vectors and re-rank to top-k). The
    * expensive exact cosine touches queries×kCand rows, never the
    * corpus: the candidate set is dimension-scale, so the vector join
    * is a pinpoint lookup into the (id-keyed, at 100 TB bucketed)
    * embedding table and the final ranking is BoundedTopK. Ranks on
    * the UNROUNDED cosine (the knnGraph discipline) so tie-breaks
    * agree with the oracle bit-for-bit. */
  def ivfPqRerank(queries: DataFrame, corpus: DataFrame, codes: DataFrame,
                  books: DataFrame, centroidsLong: DataFrame,
                  k: Int, kCand: Int, m: Int, dim: Int, nprobe: Int = 2,
                  queryId: String = "query_id", queryVec: String = "qv",
                  candId: String = "cand_id", candVec: String = "cv",
                  labelCol: String = "label"): DataFrame = {
    require(kCand >= k, s"kCand=$kCand must be >= k=$k")
    val cand = ivfPqTopK(queries, codes, books, centroidsLong, kCand, m, dim,
        nprobe, queryId, queryVec, candId, labelCol)
      .select(col(queryId), col(candId))
    // FORCED broadcast of the (queries × kCand) candidate side: the
    // corpus-scale vector table must stream map-side through this
    // join, never shuffle (auto-broadcast is off exactly when it
    // matters — stats unavailable, or the operator runs under a
    // disabled threshold; review finding, plan-shape-pinned)
    val scored = broadcast(cand.join(queries, Seq(queryId)))
      .join(corpus.select(col(candId), col(candVec)), Seq(candId))
      .withColumn("sim", Vec.cosineFast(col(queryVec), col(candVec)))
    topK(scored, k, queryId, candId)
  }

  /** IVF assignment: each query vector goes to its nearest centroid by
    * cosine (the coarse-quantization step of IVF search: probe only
    * that cluster's posting list instead of the whole corpus). */
  def ivfAssign(queries: DataFrame, centroidsLong: DataFrame,
                queryId: String = "query_id", queryVec: String = "qv",
                labelCol: String = "label"): DataFrame =
    ivfAssignN(queries, centroidsLong, nprobe = 1, queryId, queryVec, labelCol)
      .drop("probe_rank")

  /** multi-probe IVF assignment: each query's `nprobe` NEAREST
    * centroids (probe_rank 1..nprobe) — the standard IVF recall knob.
    * The per-query window is over the centroid count (dimension-sized),
    * never the corpus. */
  def ivfAssignN(queries: DataFrame, centroidsLong: DataFrame, nprobe: Int,
                 queryId: String = "query_id", queryVec: String = "qv",
                 labelCol: String = "label"): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val centroids = centroidsLong
      .groupBy(col(labelCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("centroid")))).as("cs"))
      .select(col(labelCol), transform(col("cs"), x => x.getField("centroid")).as("cv"))
    val qd = queries.select(col(queryId), transform(col(queryVec), x => x.cast("double")).as("qvd"))
    val w = Window.partitionBy(col(queryId)).orderBy(col("sim").desc, col(labelCol))
    qd.crossJoin(broadcast(centroids))
      .withColumn("sim", Vec.cosine(col("qvd"), col("cv")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nprobe)
      .select(col(queryId), col(labelCol), round(col("sim"), 6).as("sim"),
        col("rn").cast("long").as("probe_rank"))
  }

  /** Greedy k-center selection (Gonzalez farthest-point traversal) —
    * the classic coreset / diverse-data-selection primitive: pick the
    * point farthest (squared L2) from everything selected so far, k
    * times, seeded at the smallest id for determinism. Each round is
    * ONE map-only corpus scan — the chosen centers ride the plan as
    * broadcast literals, no join, no shuffle — topped by a TakeOrdered
    * argmax on (dist desc, id asc); nothing corpus-scale concentrates
    * on the driver, and the k-row result IS dimension-scale.
    * Recomputing every center distance per round keeps the plan
    * stateless (the [[kppSeeds]] discipline); total work is k²/2
    * distance evals per point — right for selection-sized k. For k in
    * the thousands, carry a persisted running min-distance column
    * instead (`least(prev, new)` — identical values, min is
    * order-free), trading k localCheckpoints for the quadratic term.
    *
    * PRACTICAL k CEILING (r14 verdict task 8): each selection is one
    * corpus scan ending in a 1-row driver collect, so wall time is
    * k × (scan latency) — k ≤ ~64 on an interactive budget, k ≤ ~256
    * batch; past that the driver round-trips dominate regardless of
    * cluster size. Beyond the ceiling use [[kcenterSelectParallel]]:
    * a fixed number of scans TOTAL (independent of k), the k-means‖
    * shape (Bahmani et al., VLDB 2012) applied to k-center.
    *
    * DISPATCH: a call with k > `spark.graft.kcenter.greedyMaxK`
    * (session conf, default 256) returns [[kcenterSelectParallel]]'s
    * answer instead of running the greedy loop; same output contract.
    * A conf value that is not an integer throws
    * IllegalArgumentException naming the key and the value.
    *
    * Returns (rank, vec_id, dist): dist = the point's squared-L2
    * distance to the already-selected set at selection time (round 6)
    * — the coverage-radius curve that shows when selection saturates
    * (rank 0 is the seed, dist 0). */
  def kcenterSelect(vecs: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = vecs.sparkSession
    // above the documented greedy ceiling the driver round-trips
    // dominate regardless of cluster size — route to the k-means‖
    // oversampling form (r16, VERDICT item 8): fixed scan count
    // independent of k, same output contract, coverage-radius quality
    // bounds measured by KcenterParallelSpec. The ceiling is the
    // batch-budget default from the doc above; production tunes it via
    // spark.graft.kcenter.greedyMaxK.
    val key = "spark.graft.kcenter.greedyMaxK"
    val greedyMaxK = spark.conf.getOption(key).map { v =>
      v.trim.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"$key must be an integer, got '$v'"))
    }.getOrElse(256)
    if (k > greedyMaxK)
      return kcenterSelectParallel(vecs, idCol, vecCol, k)
    import spark.implicits._
    val qd = vecs.select(col(idCol).cast("long").as("_id"),
      transform(col(vecCol), x => x.cast("double")).as("_v"))
    def sq(v: Column, c: Seq[Double]): Column =
      aggregate(zip_with(v, array(c.map(lit): _*),
        (x, y) => (x - y) * (x - y)), lit(0.0), (acc, t) => acc + t)
    val sel = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
    val centers = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
    qd.orderBy(col("_id")).limit(1).collect().foreach { r =>
      sel += ((0, r.getLong(0), 0.0))
      centers += r.getSeq[Double](1)
    }
    var exhausted = sel.isEmpty
    while (!exhausted && sel.size < k) {
      val dmin = array_min(array(centers.map(c => sq(col("_v"), c)).toSeq: _*))
      val next = qd.filter(!col("_id").isin(sel.map(_._2).toSeq: _*))
        .select(col("_id"), col("_v"), dmin.as("_d"))
        .orderBy(col("_d").desc, col("_id")).limit(1).collect()
      next.headOption match {
        case Some(r) =>
          sel += ((sel.size, r.getLong(0), r.getDouble(2)))
          centers += r.getSeq[Double](1)
        case None => exhausted = true // k > n: all points selected
      }
    }
    sel.toSeq.toDF("rank", "vec_id", "dist")
      .select(col("rank"), col("vec_id"), round(col("dist"), 6).as("dist"))
  }

  /** [[kcenterSelect]] past the driver-loop k ceiling — the k-means‖
    * oversampling shape (Bahmani, Moseley, Vattani, Kumar, Vassilvitskii,
    * "Scalable k-means++", VLDB 2012) applied to k-center:
    *
    *  1. `rounds` distributed passes each sample ~`oversample`·k
    *     candidates IN PARALLEL, each point admitted independently
    *     with probability min(1, oversample·k·d²/φ) where d² is its
    *     squared-L2 distance to the candidates chosen so far and
    *     φ = Σd² (one aggregate per round). The draw is a seeded hash
    *     of the id (per-round salt) — deterministic under any
    *     partitioning, the kppSeeds discipline.
    *  2. the ≤ rounds·oversample·k + 1 candidates (a coreset:
    *     D²-sampling hits every well-separated region w.h.p. — the
    *     VLDB'12 potential-halving argument) reduce to exactly k by
    *     the SAME greedy Gonzalez traversal run driver-side.
    *
    * Total distributed work: 2 corpus scans per round (φ aggregate +
    * admission filter) — INDEPENDENT of k, vs the exact form's k
    * scans. The greedy tail on the candidate set keeps the 2-approx
    * flavor on the coreset; KcenterParallelSpec measures the coverage
    * radius against exact greedy on planted-cluster fixtures.
    *
    * Same output contract as [[kcenterSelect]]: (rank, vec_id, dist),
    * dist = squared-L2 to the previously selected set at selection
    * time, round 6. */
  def kcenterSelectParallel(vecs: DataFrame, idCol: String, vecCol: String,
                            k: Int, rounds: Int = 4,
                            oversample: Double = 4.0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1 && oversample > 0,
      s"need rounds >= 1 and oversample > 0, got $rounds / $oversample")
    val spark = vecs.sparkSession
    import spark.implicits._
    // norms precompute once so each round's distance to a candidate is
    // ONE native codegen dot product via the expansion
    // ‖v−c‖² = ‖v‖² + ‖c‖² − 2·v·c (clamped at 0 against FP residue) —
    // the literal-lambda Σ(x−y)² form runs interpreted and made the
    // scan cost grow with the candidate count × dim
    val qd = graft.util.CacheRegistry.register(
      vecs.select(col(idCol).cast("long").as("_id"), col(vecCol).as("_vf"))
        .withColumn("_n2", Vec.dotFast(col("_vf"), col("_vf")))
        .persist())
    // candidate set, driver-held (coreset-scale: ~rounds·oversample·k)
    val cand = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Double])]
    qd.orderBy(col("_id")).limit(1).collect()
      .foreach(r => cand += ((r.getLong(0), r.getSeq[Float](1).map(_.toDouble))))
    if (cand.nonEmpty) {
      for (round <- 1 to rounds) {
        // per-point min distance via a BROADCAST candidate join (one
        // native dot per (point, candidate) pair) — candidates as
        // in-plan literals would either nest a least() fold hundreds
        // deep (codegen blow-up) or run interpreted lambdas; the tiny
        // broadcast table keeps the scan one flat codegen'd pass
        val candDf = broadcast(cand.toSeq.map { case (_, v) =>
          val cf = v.map(_.toFloat).toArray
          (cf, cf.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
        }.toDF("_cvf", "_c2"))
        val scored = qd.crossJoin(candDf)
          .select(col("_id"), greatest(lit(0.0),
            col("_n2") + col("_c2") -
              lit(2.0) * Vec.dotFast(col("_vf"), col("_cvf"))).as("_dc"))
          .groupBy(col("_id")).agg(min(col("_dc")).as("_d"))
        val withD = qd.join(scored, Seq("_id"))
        val phi = withD.agg(sum(col("_d"))).collect().head.getDouble(0)
        if (phi > 0) {
          // unit uniform from a salted id hash — bit-reproducible
          val u = (pmod(xxhash64(col("_id"), lit(round.toLong)),
            lit(1000003L)).cast("double") + 1.0) / 1000005.0
          withD.filter(u * lit(phi) < lit(oversample * k) * col("_d"))
            .select(col("_id"), col("_vf"))
            .orderBy(col("_id")).collect()
            .foreach(r => cand += ((r.getLong(0), r.getSeq[Float](1).map(_.toDouble))))
        }
      }
    }
    // driver-side greedy Gonzalez on the candidate coreset, seeded and
    // tie-broken exactly like the exact form (min id seed; farthest,
    // ties to smallest id)
    def sqLocal(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val pool = cand.distinctBy(_._1).sortBy(_._1)
    val sel = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
    val centers = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
    pool.headOption.foreach { case (id, v) =>
      sel += ((0, id, 0.0)); centers += v
    }
    while (sel.size < k && sel.size < pool.size) {
      val chosen = sel.map(_._2).toSet
      val (id, v, d) = pool.iterator.filterNot(p => chosen(p._1))
        .map { case (id, v) => (id, v, centers.iterator.map(sqLocal(v, _)).min) }
        .maxBy { case (id, _, d) => (d, -id) } // farthest, ties to min id
      sel += ((sel.size, id, d)); centers += v
    }
    sel.toSeq.toDF("rank", "vec_id", "dist")
      .select(col("rank"), col("vec_id"), round(col("dist"), 6).as("dist"))
  }

  /** k-means++ seeding, deterministic and distributed. Seed 1 is a
    * uniform hash draw (max u over the corpus); each next seed is the
    * Efraimidis–Spirakis weighted draw: the vector maximizing
    * ln(u)/w with u = a (0,1) hash of the id and w = squared cosine
    * distance to the NEAREST already-chosen seed. That is hash-based
    * residual sampling — ∝ D² in distribution (the k-means++ shape,
    * Arthur & Vassilvitskii SODA'07) yet bit-reproducible under any
    * partitioning, retry, or cluster size, where rand()-based sampling
    * is none of those. Already-chosen points (w = 0) can never redraw.
    * Each round is one corpus scan ending in a 1-row argmax collect (k
    * rows total cross the driver); at extreme scale swap in k-means‖
    * oversampling — the per-round scan shape is identical. */
  private[graft] def kppSeeds(vecs: DataFrame, idCol: String, vecCol: String,
                              k: Int, salt: Long = 0L): Seq[Seq[Double]] = {
    val u = (pmod(xxhash64(col(idCol), lit(salt)), lit(1000003L)).cast("double") + 1.0) / 1000005.0
    val qd = vecs.select(col(idCol).as("_id"),
      transform(col(vecCol), x => x.cast("double")).as("_v"), u.as("_u"))
    val first = qd.orderBy(col("_u").desc, col("_id")).limit(1).collect().head
    val seeds = scala.collection.mutable.ArrayBuffer(first.getSeq[Double](1).toIndexedSeq)
    while (seeds.size < k) {
      val chosen = array(seeds.map(s => array(s.map(lit): _*)).toSeq: _*)
      val d = lit(1.0) - array_max(transform(chosen, s => Vec.cosine(col("_v"), s)))
      val w = d * d
      val key = when(w > lit(1e-12), log(col("_u")) / w)
        .otherwise(lit(Double.NegativeInfinity))
      val next = qd.withColumn("_key", key)
        .orderBy(col("_key").desc, col("_id")).limit(1).collect().head
      seeds += next.getSeq[Double](1).toIndexedSeq
    }
    seeds.toSeq
  }

  /** Lloyd's k-means over an embedding column, relationally — makes the
    * IVF pipeline self-contained (C14 otherwise takes cluster labels
    * as given). Init is k-means++ by default ([[kppSeeds]] —
    * deterministic distance-weighted residual sampling); `init =
    * "lowid"` keeps the former k-lowest-id seeding (degenerate when
    * the sort order correlates with cluster structure — every seed
    * lands in one region; kept for comparison and for callers pinned
    * to the old labels). Each round assigns every vector to its
    * nearest centroid ([[ivfAssignN]]: broadcast centroids, the corpus
    * never reshuffles) and recomputes decimal-exact means
    * ([[ivfCentroids]]). The iterative-loop discipline is
    * [[Dedup.connectedComponents]]'s: `localCheckpoint` per round cuts
    * lineage, and convergence (no assignment changed) rides the
    * checkpoint job via `observe` — no extra action per round.
    *
    * A cluster that loses every member no longer silently dies: the
    * empty cell reseeds to the current FARTHEST point (lowest
    * similarity to its assigned centroid — the standard farthest-point
    * repair), and the loop runs on until assignments are stable with
    * no empty cells (or maxIter). Labels are 0..k-1.
    *
    * `restarts` runs the whole fit that many times under different
    * deterministic seed salts and keeps the fit with the best
    * objective (highest mean assigned-centroid cosine — lowest
    * quantization error), the standard n-init discipline: any single
    * k-means++ draw can land a mediocre local optimum; the best of R
    * draws rarely does. Strictly-greater comparison keeps the earliest
    * salt on ties, so the winner is deterministic. Returns
    * (id, label). */
  def kmeansFit(vecs: DataFrame, idCol: String, vecCol: String, k: Int,
                maxIter: Int = 10, init: String = "kpp",
                restarts: Int = 1): DataFrame = {
    require(restarts >= 1, s"restarts must be >= 1, got $restarts")
    require(init == "kpp" || restarts == 1,
      s"restarts > 1 only varies the kpp seed salt; init='$init' is " +
        "deterministic and would silently run once — pass restarts = 1")
    val runs = if (init == "kpp") (0L until restarts.toLong) else Seq(0L)
    val fits = runs.map(salt => kmeansFitOnce(vecs, idCol, vecCol, k, maxIter, init, salt))
    fits.maxBy(_._2)._1 // maxBy keeps the first of equal objectives
  }

  /** one [[kmeansFit]] run; returns (labels, objective = mean cosine of
    * each vector to its assigned centroid in the final round). */
  private def kmeansFitOnce(vecs: DataFrame, idCol: String, vecCol: String,
                            k: Int, maxIter: Int, init: String,
                            seedSalt: Long): (DataFrame, Double) = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(init == "kpp" || init == "lowid", s"unknown init '$init'")
    val seeds = init match {
      case "kpp" =>
        import vecs.sparkSession.implicits._
        kppSeeds(vecs, idCol, vecCol, k, seedSalt).zipWithIndex
          .flatMap { case (v, label) =>
            v.zipWithIndex.map { case (x, pos) => (label, pos, x) }
          }.toDF("label", "pos", "centroid")
      case "lowid" =>
        vecs.orderBy(col(idCol)).limit(k)
          .withColumn("label",
            (row_number().over(Window.orderBy(col(idCol))) - 1).cast("int"))
          .select(col("label"), posexplode(col(vecCol)).as(Seq("pos", "v")))
          .select(col("label"), col("pos"), col("v").cast("double").as("centroid"))
    }
    val queries = vecs.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    var centroids = seeds.localCheckpoint(true)
    var assigned: DataFrame = null
    var changed = 1L
    var i = 0
    var stable = false
    var objective = Double.NegativeInfinity
    while (!stable && i < maxIter) {
      val next = ivfAssignN(queries, centroids, nprobe = 1)
        .select(col("query_id"), col("label"), col("sim"))
      val withPrev =
        if (assigned == null) next.withColumn("_chg", lit(true))
        else next.join(
            assigned.select(col("query_id"), col("label").as("_prev")),
            Seq("query_id"), "left")
          .select(col("query_id"), col("label"), col("sim"),
            (coalesce(col("_prev"), lit(-1)) =!= col("label")).as("_chg"))
      val obs = org.apache.spark.sql.Observation(s"kmeans_${seedSalt}_round_$i")
      val checked = withPrev
        .observe(obs, sum(col("_chg").cast("long")).as("n_changed"),
          avg(col("sim")).as("avg_sim"),
          // empty-cell detection rides the SAME pass: the set of live
          // labels is a ≤k-int aggregate, so no separate
          // distinct+collect job per Lloyd's round (cosmetic at k=10,
          // one corpus-scale job per iteration at k=65536)
          collect_set(col("label")).as("present"))
        .localCheckpoint(true) // eager: the observed metrics are final here
      changed = Option(obs.get("n_changed")).map(_.asInstanceOf[Long]).getOrElse(0L)
      objective = Option(obs.get("avg_sim")).map(_.asInstanceOf[Double])
        .getOrElse(Double.NegativeInfinity)
      assigned = checked.select(col("query_id"), col("label"))
      val present = Option(obs.get("present")).map(_.asInstanceOf[Seq[Any]])
        .getOrElse(Seq.empty).map(_.asInstanceOf[Number].intValue).toSet
      val empty = (0 until k).filterNot(present)
      stable = changed == 0 && empty.isEmpty
      // eager centroid recompute is a corpus-scale job — skip it when
      // the loop is about to exit (stable OR maxIter reached)
      if (!stable && i + 1 < maxIter) {
        if (empty.nonEmpty) {
          // farthest-point reseed: the |empty| worst-served vectors
          // (lowest sim to their centroid) move to the empty labels;
          // their cells' centroids become those vectors on recompute
          val far = checked.orderBy(col("sim").asc, col("query_id"))
            .limit(empty.size).select(col("query_id")).collect().map(_.get(0))
          val relabeled = empty.zip(far).foldLeft(col("label")) {
            case (acc, (lbl, id)) =>
              when(col("query_id") === lit(id), lit(lbl)).otherwise(acc)
          }
          assigned = assigned.select(col("query_id"), relabeled.as("label"))
        }
        centroids = ivfCentroids(
            queries.join(assigned, "query_id"), "qv", "label")
          .localCheckpoint(true)
      }
      i += 1
    }
    (assigned.select(col("query_id").as(idCol), col("label")), objective)
  }

  /** IVF end-to-end search — the point of C14/C15: coarse-quantize each
    * query to its nearest centroid ([[ivfAssign]]), probe ONLY that
    * cluster's posting list, and rank with the bounded top-k aggregate.
    * `corpus` carries its cluster label (`labelCol`); at 100 TB the
    * corpus is written partitioned/bucketed by label, so the probe is a
    * partition-pruned scan of one posting list, not a corpus pass, and
    * the assigned-query side (queries × 1 label each) broadcasts. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroidsLong: DataFrame,
              k: Int, nprobe: Int = 1,
              queryId: String = "query_id", queryVec: String = "qv",
              candId: String = "cand_id", candVec: String = "cv",
              labelCol: String = "label", pruneScan: Boolean = false): DataFrame = {
    val assignedPlan = ivfAssignN(queries, centroidsLong, nprobe, queryId, queryVec, labelCol)
      .select(col(queryId), col(labelCol))
    // pruneScan needs the assignment twice (literal label list + the
    // probing join); materialize it once so the queries × centroids
    // assignment job doesn't run twice
    val assigned = if (pruneScan) assignedPlan.localCheckpoint(true) else assignedPlan
    val probing = queries.join(assigned, queryId)
    // `pruneScan`: the probed posting lists are a dimension-scale set
    // (≤ queries × nprobe labels), so collecting them and filtering the
    // corpus by LITERALS turns a label-partitioned corpus scan into a
    // statically partition-pruned read (FileScan PartitionFilters:
    // label IN (...) — only the probed directories are touched;
    // IvfPruneSpec proves the plan). Spark's dynamic partition pruning
    // declines this join shape (its broadcast-reuse heuristic emits
    // dynamicpruningexpression(true) = scan everything), which is why
    // the explicit literal path exists. Results are identical either
    // way — the join on label already restricts semantically.
    val corpusSide = if (pruneScan) {
      val labels = assigned.select(col(labelCol)).distinct().collect().map(_.get(0))
      corpus.filter(col(labelCol).isInCollection(labels))
    } else corpus
    // labels are distinct per query, so no candidate scores twice
    val scored = broadcast(probing).join(corpusSide, labelCol)
      .withColumn("sim", Vec.cosineFast(col(queryVec), col(candVec)))
    topK(scored, k, queryId, candId)
  }

  /** Incremental IVF index maintenance — the daily-growth path of the
    * IVF pipeline: assign each NEW vector to its nearest centroid and
    * APPEND it into the label-partitioned index layout. The existing
    * corpus never rewrites; each batch lands as new files inside its
    * posting lists' partition directories, and [[ivfTopK]] with
    * `pruneScan` keeps reading only probed directories. Centroids stay
    * fixed between refits (production IVF serving); re-run
    * [[kmeansFit]] + a full rewrite when drift warrants. */
  def ivfAppend(newVecs: DataFrame, centroidsLong: DataFrame, indexDir: String,
                idCol: String = "cand_id", vecCol: String = "cv",
                labelCol: String = "label"): Unit = {
    val assigned = ivfAssign(
        newVecs.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
        centroidsLong, labelCol = labelCol)
      .select(col("query_id").as(idCol), col(labelCol))
    newVecs.join(assigned, idCol)
      .select(col(idCol), col(vecCol), col(labelCol))
      .write.mode("append").partitionBy(labelCol).parquet(indexDir)
  }

  /** Symmetric int8 vector quantization (C48) — the serving-side
    * compression every large ANN deployment runs before PQ is worth
    * its training: per vector, scale = round(max|v_i| / 127, 9) and
    * q_i = clamp(round(v_i / scale), −127, 127), shrinking a float
    * corpus 4× (and, composed with [[lshTopKWithIndex]]-style
    * serving, the scan/shuffle volume with it) at a bounded
    * reconstruction error |v_i − q_i·scale| ≤ scale/2 + rounding.
    * Zero vectors quantize to all-zero codes with scale 0. Map-only:
    * one pass, no shuffle, no state. round() is half-away-from-zero
    * in both engines, so codes are bit-identical cross-engine; codes
    * emit as a comma-joined string (the bpe_encode convention — the
    * driver compare treats arrays unreliably across engines).
    * Output: (id, scale, codes, max_abs_err). */
  def quantizeInt8(vecs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val vd = transform(col(vecCol), x => x.cast("double"))
    val amax = array_max(transform(vd, x => abs(x)))
    val scale = round(amax / lit(127.0), 9)
    val codes = transform(vd, x =>
      when(scale === 0.0, lit(0L))
        .otherwise(greatest(lit(-127L), least(lit(127L),
          round(x / scale, 0).cast("long")))))
    // guard on amax, not scale (r8 ADVICE): a nonzero vector with
    // max|v| < ~6.4e-8 rounds scale to 0.0 — its codes collapse to 0
    // (nothing else is representable at 9-place scale), but the
    // reported error bound must stay truthful: the worst
    // reconstruction error of an all-zero code is amax itself
    val err = when(amax === 0.0, lit(0.0))
      .when(scale === 0.0, round(amax, 9))
      .otherwise(round(array_max(zip_with(vd, codes,
        (v, q) => abs(v - q * scale))), 9))
    vecs.select(col(idCol), scale.as("scale"),
      concat_ws(",", transform(codes, _.cast("string"))).as("codes"),
      err.as("max_abs_err"))
  }

  /** Deterministic ±1 sign matrix for [[randProjectInt]]: entry (i, j)
    * from a splitmix64 finalizer over the flat index — the standard
    * statistically-mixed bit scrambler (Steele et al. 2014), written
    * out here so the matrix is stable across JVM/Scala versions (no
    * library hash whose iteration order could drift). Generated ONCE
    * driver-side and inlined as literals into both the Spark
    * expression tree and the generated DuckDB oracle — a projection
    * matrix is metadata to broadcast, not something to rehash per row.
    * Measured column cross-correlation for (64 → 16): max |corr|
    * 0.375 ≈ 3σ of the ±1/√64 null — the matrix behaves as the JL
    * lemma assumes. */
  private[graft] def jlSign(i: Int, j: Int, outDim: Int): Long = {
    var z = i.toLong * outDim + j + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^= (z >>> 31)
    if ((z & 1L) == 0L) 1L else -1L
  }

  /** Integer-exact Johnson–Lindenstrauss sign projection (SURVEY §2
    * C59): reduce a `dim`-wide float embedding to `outDim` integer
    * coordinates, p_j = Σ_i round(1000·x_i)·s_ij with s ∈ {±1} from
    * [[jlSign]] (Achlioptas 2003: ±1 entries satisfy the JL lemma with
    * the same distortion bound as Gaussians, and cost one add each).
    * Distances shrink by the expected √(outDim/dim) factor; rank
    * ordering survives, which is all the downstream LSH/dedup
    * consumers use.
    *
    * Quantizing to integers FIRST (the vec_quantize discipline,
    * round-half-away at 3 decimals) makes the whole computation
    * associative — integer sums are order-free, so any engine, any
    * partitioning, any fold order produces the same bits. The float
    * formulation would tie the result to a summation order no shuffle
    * guarantees.
    *
    * Scale shape: map-only — one projection of the scan, no shuffle,
    * no state; the sign matrix rides the expression tree (≤ 1 KB of
    * literals). Output is `outDim` longs per row: 8× narrower than
    * the 64-float input, the point of the exercise. */
  def randProjectInt(vecs: DataFrame, idCol: String, vecCol: String,
                     dim: Int, outDim: Int): DataFrame = {
    require(dim >= 1 && outDim >= 1 && outDim <= dim,
      s"need 1 <= outDim <= dim, got dim=$dim outDim=$outDim")
    val q = transform(col(vecCol), x =>
      round(x.cast("double") * lit(1000.0), 0).cast("long"))
    val projs = (0 until outDim).map { j =>
      val signs = array((0 until dim).map(i => lit(jlSign(i, j, outDim))): _*)
      aggregate(zip_with(q, signs, (v, s) => v * s), lit(0L),
        (acc, x) => acc + x).as(s"p$j")
    }
    vecs.select(col(idCol) +: projs: _*)
  }

  /** Fitted PCA basis: `mean` (d), `components` (k rows of d, unit
    * norm, eigenvalue-descending), `eigvals` (k, the captured
    * per-component variances), `totalVar` (trace of the covariance —
    * what the k components' eigvals are a fraction of). */
  case class PcaModel(n: Long, mean: Array[Double],
                      components: Array[Array[Double]],
                      eigvals: Array[Double], totalVar: Double)

  /** PCA fit (SURVEY §2 C63) in ONE distributed pass + dimension-scale
    * driver math: the [[graft.expressions.VecGram]] aggregate folds
    * the corpus into a single `[n, Σx, Σxxᵀ]` moment buffer (d = 64 →
    * 17 KB crosses the wire per partition, never the vectors), then
    * the driver forms the d×d covariance and eigendecomposes it with
    * cyclic Jacobi — an O(d³) computation on a 64×64 matrix, i.e.
    * microseconds, deliberately NOT distributed. Determinism: ties in
    * eigenvalue order break by original column index, and each
    * component's sign is fixed so its largest-|coordinate| entry is
    * positive (eigenvectors are defined up to sign; pinning it makes
    * refits reproducible). */
  def pcaFit(vecs: DataFrame, vecCol: String, dim: Int, k: Int): PcaModel = {
    require(k >= 1 && k <= dim, s"need 1 <= k <= dim, got k=$k dim=$dim")
    val buf = vecs
      .select(call_function("graft_gram", col(vecCol), lit(dim)).as("g"))
      .head().getSeq[Double](0).toArray
    val n = buf(0)
    require(n >= 2, s"pcaFit needs at least 2 vectors, saw ${n.toLong}")
    val mean = Array.tabulate(dim)(i => buf(1 + i) / n)
    // cov(i,j) = E[x_i x_j] - mean_i mean_j (population covariance)
    val cov = Array.ofDim[Double](dim, dim)
    var t = 1 + dim
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val c = buf(t) / n - mean(i) * mean(j)
        cov(i)(j) = c; cov(j)(i) = c
        t += 1; j += 1
      }
      i += 1
    }
    val totalVar = (0 until dim).map(d => cov(d)(d)).sum
    val (vals, vecsM) = jacobiEigen(cov)
    val order = (0 until dim).sortBy(c => (-vals(c), c)).take(k)
    val comps = order.map { c =>
      val v = Array.tabulate(dim)(r => vecsM(r)(c))
      // sign pin: largest-|coord| entry positive (first such on ties)
      val m = v.indices.maxBy(ix => (math.abs(v(ix)), -ix))
      if (v(m) < 0) v.map(-_) else v
    }.toArray
    PcaModel(n.toLong, mean, comps, order.map(vals).toArray, totalVar)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvector matrix V with eigenvectors as COLUMNS).
    * Textbook two-sided rotations (Golub & Van Loan §8.5) sweeping
    * until the off-diagonal Frobenius mass is < 1e-12 of the total;
    * for the ≤ 4096-dim matrices VecGram admits this is driver-trivial. */
  private[graft] def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((r, c) => if (r == c) 1.0 else 0.0)
    def offNorm(): Double = {
      var s = 0.0
      var i = 0
      while (i < d) { var j = i + 1; while (j < d) { s += 2 * a(i)(j) * a(i)(j); j += 1 }; i += 1 }
      s
    }
    val tol = 1e-12 * math.max(1.0, a.indices.map(i => a(i)(i) * a(i)(i)).sum)
    var sweep = 0
    while (offNorm() > tol && sweep < 64) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2 * apq)
            val tsign = if (theta >= 0) 1.0 else -1.0
            val tt = tsign / (math.abs(theta) + math.sqrt(theta * theta + 1))
            val c = 1 / math.sqrt(tt * tt + 1)
            val s = tt * c
            var r = 0
            while (r < d) {
              val arp = a(r)(p); val arq = a(r)(q)
              a(r)(p) = c * arp - s * arq
              a(r)(q) = s * arp + c * arq
              r += 1
            }
            r = 0
            while (r < d) {
              val apr = a(p)(r); val aqr = a(q)(r)
              a(p)(r) = c * apr - s * aqr
              a(q)(r) = s * apr + c * aqr
              val vrp = v(r)(p); val vrq = v(r)(q)
              v(r)(p) = c * vrp - s * vrq
              v(r)(q) = s * vrp + c * vrq
              r += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** PCA projection: center-and-rotate each vector onto the model's k
    * components — p_j = ⟨x, c_j⟩ − ⟨mean, c_j⟩, with the second term a
    * driver-precomputed scalar so the per-row work is k codegen'd
    * [[graft.expressions.DotProduct]] calls against literal component
    * arrays (float-cast: the corpus vectors are float32 anyway, and a
    * float basis keeps the whole row inside the codegen'd float dot).
    * Map-only at any scale: no shuffle, the model rides the plan as
    * ≤ k·d literals. */
  def pcaProject(vecs: DataFrame, idCol: String, vecCol: String,
                 model: PcaModel): DataFrame = {
    val projs = model.components.zipWithIndex.map { case (comp, j) =>
      val cf = comp.map(_.toFloat)
      val offset = cf.zip(model.mean).map { case (c, m) => c.toDouble * m }.sum
      (call_function("graft_dot", col(vecCol),
        array(cf.map(lit(_)): _*).cast("array<float>")) - lit(offset)).as(s"p$j")
    }
    vecs.select(col(idCol) +: projs.toIndexedSeq: _*)
  }

  /** k-NN graph (C46): every corpus vector's approximate k nearest
    * neighbors, LSH-bucket-restricted — the corpus plays both sides
    * (no broadcast: the bucket equi-join shuffles each side once on
    * its bucket id, and candidate work is bucket-local, exactly the
    * [[embeddingNearDup]] scale shape with multi-probe recall on
    * top). Self-pairs are excluded before ranking so they never
    * occupy a top-k slot. Returns (query_id, cand_id, sim, rank). */
  def knnGraph(vecs: DataFrame, idCol: String, vecCol: String, k: Int,
               nPlanes: Int, dim: Int, probeBits: Int = 1): DataFrame = {
    require(nPlanes >= 1 && nPlanes <= 63, s"nPlanes must be in [1, 63], got $nPlanes")
    require(probeBits >= 0 && probeBits <= nPlanes,
      s"probeBits must be in [0, $nPlanes], got $probeBits")
    // same probe-budget guard as lshTopKWithIndex: the check must run
    // on arithmetic BEFORE hammingBallMasks enumerates anything
    require(binomialSumCapped(nPlanes, probeBits, 65536) <= 65536,
      s"probe set exceeds 65536 buckets per query (nPlanes=$nPlanes, " +
        s"probeBits=$probeBits); keep sum of C(nPlanes, s<=probeBits) <= 65536")
    val planes = Vec.hyperplanes(nPlanes, dim)
    val flips = hammingBallMasks(nPlanes, probeBits)
    // decide with small rows, move payloads once (guide §8 — the r15
    // bitext_mine_ann reshape applied to the corpus self-kNN): the
    // probe fan-out and the bucket equi-join carry 16-byte
    // (id, bucket) keys ONLY — the old shape replicated every query
    // row's VECTOR across all C(nPlanes, ≤probeBits) probes and
    // shuffled it through the join. Vectors re-attach by id after the
    // pair set is fixed. No pair dedup is needed, before or after: a
    // candidate carries exactly one bucket and a query's probe masks
    // are distinct, so a (query, cand) pair matches at most once.
    val probes = array(flips.map(lit): _*)
    val index = vecs.select(col(idCol).as("cand_id"),
      Vec.lshBucket(col(vecCol), planes).as("bucket"))
    val qB = vecs.select(col(idCol).as("query_id"),
        Vec.lshBucket(col(vecCol), planes).as("bucket0"))
      .withColumn("bucket",
        explode(transform(probes, f => col("bucket0").bitwiseXOR(f))))
      .select(col("query_id"), col("bucket"))
    val pairs = qB.join(index, "bucket")
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"))
    val scored = pairs
      .join(vecs.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
        Seq("query_id"))
      .join(vecs.select(col(idCol).as("cand_id"), col(vecCol).as("cv")),
        Seq("cand_id"))
      .withColumn("sim", Vec.cosineFast(col("qv"), col("cv")))
    topK(scored, k, "query_id", "cand_id")
  }

  /** The MUTUAL-kNN edge set over a [[knnGraph]] result: undirected
    * edges (id_a < id_b) kept only when each endpoint ranks in the
    * other's top k — the standard symmetrization that makes kNN graphs
    * robust for clustering / diversity sampling (a hub node's one-way
    * arrows drop out).
    *
    * Both join sides read the SAME ranking, so the operator persists
    * its input itself (CacheRegistry-registered) — an r8 ADVICE fix:
    * the old contract left the persist to the caller, and a caller
    * who skipped it silently recomputed the full LSH ranking twice.
    * `persist()` on an already-cached plan is idempotent, so a
    * disciplined caller pays nothing extra. PlanShapeSpec asserts
    * both sides scan the cache. */
  def mutualKnnEdges(knn0: DataFrame): DataFrame = {
    val knn = graft.util.CacheRegistry.register(knn0.persist())
    knn.select(col("query_id").as("id_a"), col("cand_id").as("id_b"), col("sim"))
      .join(knn.select(col("cand_id").as("id_a"), col("query_id").as("id_b")),
        Seq("id_a", "id_b"))
      .filter(col("id_a") < col("id_b"))
  }

  /** Semantic deduplication (C40) — SemDeDup (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space, then within each
    * cluster drop members that sit within cosine `threshold` of a
    * better-kept member. The keep rule is the paper's: of a near-dup
    * pair, the member with the LOWER similarity to its cluster
    * centroid survives (it contributes more diversity); ties break to
    * the lower id. The rule is per-pair and order-free — member i
    * drops iff SOME same-cluster j within threshold beats it
    * (cent_sim_j < cent_sim_i, or equal and j < i) — so the output is
    * deterministic under any partitioning, unlike the paper's
    * sequential greedy sweep.
    *
    * Scale shape: centroids are dimension-scale (k × d, broadcast);
    * the only corpus-scale shuffle is hash(label) for the
    * within-cluster pair join, so pair work is bounded by the largest
    * cluster — k is the knob that keeps clusters small (the paper runs
    * k = 50k on LAION; a label-bucketed layout makes each cluster's
    * pairs partition-local). The corpus never self-joins globally.
    *
    * `labelCol` supplies the clustering (the oracle-exact bootstrap,
    * as C14/C34); [[kmeansFit]] is the self-trained path. Cosines
    * round to 6 places before every comparison so the drop decisions
    * are bit-identical cross-engine. Returns one row per vector:
    * (id, label, cent_sim, is_kept). */
  def semanticDedup(vecs: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, threshold: Double): DataFrame = {
    val c2 = ivfCentroids(vecs, vecCol, labelCol)
      .groupBy(col(labelCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("centroid")))).as("cs"))
      .select(col(labelCol), transform(col("cs"), x => x.getField("centroid")).as("_cv"))
    val withCent = vecs
      .select(col(idCol).as("_id"), col(labelCol).as("_lbl"),
        transform(col(vecCol), x => x.cast("double")).as("_v"))
      .join(broadcast(c2).withColumnRenamed(labelCol, "_lbl"), "_lbl")
      .withColumn("_csim", round(Vec.cosine(col("_v"), col("_cv")), 6))
    // both pair sides + the report read this; persist so the centroid
    // aggregation subtree runs once. This cache is CORPUS-scale (id,
    // label, vector, cent_sim) — the one corpus-sized persist in the
    // C-series, justified because the vectors are genuinely needed on
    // both pair sides; [[semanticDedupBucketed]] is the no-persist
    // 100 TB form (land the side table label-partitioned, read twice).
    val side = graft.util.CacheRegistry.register(
      withCent.select(col("_lbl"), col("_id"), col("_v"), col("_csim")).persist())
    semanticDropReport(side, idCol, labelCol, threshold)
  }

  /** the SemDeDup pair join + drop rule + report over a prepared
    * (_lbl, _id, _v, _csim) side table — shared by the cached
    * ([[semanticDedup]]) and landed ([[semanticDedupBucketed]])
    * forms so the decision algebra cannot diverge. */
  private def semanticDropReport(side: DataFrame, idCol: String,
                                 labelCol: String, threshold: Double): DataFrame = {
    val a = side.select(col("_lbl"), col("_id").as("id_a"),
      col("_v").as("_va"), col("_csim").as("_ca"))
    val b = side.select(col("_lbl"), col("_id").as("id_b"),
      col("_v").as("_vb"), col("_csim").as("_cb"))
    val dropped = a.join(b, Seq("_lbl"))
      .filter(col("id_a") =!= col("id_b"))
      .filter(round(Vec.cosine(col("_va"), col("_vb")), 6) >= lit(threshold))
      .filter(col("_cb") < col("_ca") ||
        (col("_cb") === col("_ca") && col("id_b") < col("id_a")))
      .select(col("id_a").as("_did")).distinct()
    side
      .join(dropped, side("_id") === dropped("_did"), "left")
      .select(col("_id").as(idCol), col("_lbl").as(labelCol),
        col("_csim").as("cent_sim"), col("_did").isNull.as("is_kept"))
  }

  /** [[semanticDedup]] without the corpus-scale persist — the 100 TB
    * form: the slim (id, vector, cent_sim) side table LANDS ONCE to a
    * LABEL-PARTITIONED parquet layout under `layoutDir`, and every
    * consumer (both pair sides + the report) re-reads that layout
    * instead of pinning the corpus in executor memory. The trade is
    * one write + three column-pruned scans of the slim layout against
    * a corpus-sized cache — at 100 TB the cache does not fit and the
    * landed layout is the only honest option; it also leaves the
    * corpus laid out by cluster, which makes each cluster's pair work
    * partition-local for any LATER dedup pass over the same space
    * (the documented SemDeDup serving layout). Results are identical
    * to [[semanticDedup]] (same [[semanticDropReport]] algebra;
    * SimilaritySpec asserts row equality, PlanShapeSpec asserts the
    * plan reads the layout with no InMemoryRelation). */
  def semanticDedupBucketed(vecs: DataFrame, idCol: String, vecCol: String,
                            labelCol: String, threshold: Double,
                            layoutDir: String): DataFrame = {
    val spark = vecs.sparkSession
    val c2 = ivfCentroids(vecs, vecCol, labelCol)
      .groupBy(col(labelCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("centroid")))).as("cs"))
      .select(col(labelCol), transform(col("cs"), x => x.getField("centroid")).as("_cv"))
    vecs
      .select(col(idCol).as("_id"), col(labelCol).as("_lbl"),
        transform(col(vecCol), x => x.cast("double")).as("_v"))
      .join(broadcast(c2).withColumnRenamed(labelCol, "_lbl"), "_lbl")
      .withColumn("_csim", round(Vec.cosine(col("_v"), col("_cv")), 6))
      .select(col("_lbl"), col("_id"), col("_v"), col("_csim"))
      .write.mode("overwrite").partitionBy("_lbl").parquet(layoutDir)
    // read back with an EXPLICIT schema: default partition-column type
    // inference re-parses the _lbl dir values ("007" and "07" both
    // become int 7, silently merging distinct string clusters and
    // changing the output label type — review finding). Declaring the
    // original label type makes the roundtrip value-preserving.
    // Remaining partition-layout caveat (inherent to dir encoding, not
    // inference): a NULL or empty-string label lands in the hive
    // default partition and reads back null — labels must be non-null,
    // non-empty for the bucketed form.
    val readSchema = new org.apache.spark.sql.types.StructType()
      .add("_id", vecs.schema(idCol).dataType)
      .add("_v", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))
      .add("_csim", org.apache.spark.sql.types.DoubleType)
      .add("_lbl", vecs.schema(labelCol).dataType)
    val side = spark.read.schema(readSchema).parquet(layoutDir)
      .select(col("_lbl"), col("_id"), col("_v"), col("_csim"))
    semanticDropReport(side, idCol, labelCol, threshold)
  }

  /** near-duplicate pairs by embedding cosine above `threshold`,
    * candidate-limited to the shared LSH bucket (id_a < id_b).
    *
    * [[Vec.lshBucket]] assigns each vector exactly ONE sign-bit bucket,
    * so the bucket equi-join emits every unordered pair at most once —
    * no pair-level dedup exists in the plan. (A multi-probe variant
    * that put a vector in m buckets would need the min-shared-bucket
    * emission trick to keep that property; single-bucket gets it free.) */
  def embeddingNearDup(vecs: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, nPlanes: Int, dim: Int): DataFrame = {
    val planes = Vec.hyperplanes(nPlanes, dim)
    val b = graft.util.CacheRegistry.register(
      vecs.select(col(idCol), col(vecCol))
        .withColumn("bucket", Vec.lshBucket(col(vecCol), planes))
        .persist()) // self-joined below: avoid recomputing buckets per side
    val a = b.select(col("bucket"), col(idCol).as("id_a"), col(vecCol).as("va"))
    val c = b.select(col("bucket"), col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.join(c, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", Vec.cosineFast(col("va"), col("vb")))
      .filter(col("sim") > threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** C88 — Matryoshka truncation evaluation (after Kusupati et al.,
    * "Matryoshka Representation Learning", NeurIPS 2022): how much
    * retrieval quality survives serving only the first `d` dimensions
    * of each embedding? For every d in `dims`, run the SAME brute
    * cosine top-k over prefix-truncated vectors and score recall@k
    * against the full-dimension truth — the measurement that decides
    * a serving-dim/cost tradeoff (half the dims = half the ANN index
    * RAM and I/O) BEFORE committing an index build to it.
    *
    * Cost shape: queries broadcast (query slices are small by the same
    * bound every brute row relies on); the corpus scan reruns per
    * probed dim over the persisted projected pair, all dims' hit
    * counting rides one union + one join against the persisted truth
    * pairs. Truth-set and query-count scalars are query-scale, never
    * corpus-scale. Output: (dim, n_hits, recall) per probed dim;
    * dims includes fullDim as the recall=1 sanity row. */
  def matryoshkaEval(vecs: DataFrame, idCol: String, vecCol: String,
                     dims: Seq[Int], fullDim: Int, k: Int,
                     queryPred: Column): DataFrame = {
    require(dims.nonEmpty && dims.forall(d => d >= 1 && d <= fullDim),
      s"matryoshkaEval: dims must be within [1, $fullDim], got $dims")
    val q = graft.util.CacheRegistry.register(
      vecs.filter(queryPred)
        .select(col(idCol).as("query_id"), col(vecCol).as("qv")).persist())
    val c = graft.util.CacheRegistry.register(
      vecs.filter(!queryPred)
        .select(col(idCol).as("cand_id"), col(vecCol).as("cv")).persist())
    def pairsAt(d: Int): DataFrame = bruteTopK(
      q.select(col("query_id"), slice(col("qv"), 1, d).as("qv")),
      c.select(col("cand_id"), slice(col("cv"), 1, d).as("cv")), k)
      .select("query_id", "cand_id")
    val truth = graft.util.CacheRegistry.register(pairsAt(fullDim).persist())
    val denom = k * q.count()
    // fullDim's variant IS the truth (don't rerun the widest, most
    // expensive scan); every other dim runs truncated
    val variants = dims.map { d =>
      val pairs = if (d == fullDim) truth else pairsAt(d)
      pairs.withColumn("dim", lit(d))
    }.reduce(_ unionByName _)
    val hits = variants.join(truth, Seq("query_id", "cand_id"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n_hits"))
    // a dim whose truncated top-k shares NOTHING with the truth must
    // still report (dim, 0, 0.0) — the inner join drops its group
    val spark = vecs.sparkSession
    import spark.implicits._
    dims.toDF("dim").join(hits, Seq("dim"), "left")
      .select(col("dim"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall", round(col("n_hits").cast("double") / denom, 6))
  }
}
