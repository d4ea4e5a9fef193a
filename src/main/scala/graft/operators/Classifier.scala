package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Text, Vec}

/** In-engine quality classification (C45): logistic regression over
  * hashed bag-of-words features, TRAINED relationally by full-batch
  * gradient descent — the fasttext-style quality filter of the
  * GPT-3 / CCNet lineage (score documents by "does this look like the
  * curated reference class"), without leaving the engine.
  *
  * Determinism is the bpe_train discipline: every corpus-scale sum
  * rounds its terms to a fixed scale and accumulates in DECIMAL (so
  * partial-agg order cannot shift a value), weights round to 6 places
  * per round, and the DuckDB oracle unrolls the identical algebra
  * round by round — scores hash-match bit-for-bit.
  *
  * Scale shape (the r9 redesign that took the sf0.1 demo from 7.4 s
  * to ~2 s): the corpus tokenizes ONCE into a PACKED per-doc feature
  * table — (id, y, array of this doc's present buckets) — cached and
  * partition-count-right-sized (see [[preparePacked]]). Each GD round
  * is then ONE action on ONE join-free plan: a map-side fold computes
  * every doc's margin against the broadcast-by-reference weight array
  * (O(1) positional lookup, no join — weights are dimension-scale),
  * the per-doc gradient term round(y−σ,9) is computed BEFORE the
  * bucket explode (so the decimal rounding runs docs times, not
  * docs×features times), and the only exchange in the plan is the
  * bucket-scale gradient aggregation (≤ `buckets`+1 keys).
  * PlanShapeSpec pins the one-exchange / zero-join shape. AQE is off
  * for the loop so each round schedules as exactly one job. The only
  * driver traffic is the `buckets`+1 weight values per round (the
  * kppSeeds / BPE-rule-row discipline).
  *
  * Packed-row width is bounded: a doc carries at most
  * min(distinct tokens, `buckets`+1) bucket entries, so at 100 TB the
  * cache is ≤ ~8 KB/doc — the LSH-signature-cache class, never the
  * raw text. The margin fold evaluates interpreted (Spark does not
  * codegen higher-order functions — the measured pqEncodeMapOnly
  * trade); at ~25 entries/doc it is far cheaper than the codegen'd
  * join + re-shuffle it replaces.
  */
object Classifier {

  /** target packed rows per cached-iteration-table partition: below
    * this a task's ~2–5 ms launch cost outweighs its compute, and a
    * 12-round loop pays that floor 12 × stages × partitions times.
    * The AQE-coalesce principle applied to a persisted iteration
    * table, which AQE itself cannot touch. Tunable via the
    * `spark.graft.classifier.rowsPerPartition` conf: the margin fold
    * is interpreted (HOF) decimal work, so a deployment whose
    * per-doc feature count is high can buy fold parallelism with
    * more (smaller) partitions — the task floor × rounds is the
    * price (r10, recorded in SURVEY.md: fixed 2.57 s + 0.174 s per
    * round at local[32]). */
  private val RowsPerPartition = 64 * 1024L

  private def rowsPerPartition(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.classifier.rowsPerPartition")
      .map(_.toLong).getOrElse(RowsPerPartition)

  /** Hashed BINARY-presence unigram features (x = 1 for every bucket
    * the doc touches — the bag-of-hashed-words simplification; an
    * L1-normalized tf variant scales each feature by ~1/doc_len,
    * which starves per-feature gradients against the bias), packed to
    * one row per doc, bias pseudo-feature (bucket −1, x = 1) appended
    * to the array. `collect_set` does the per-doc dedup INSIDE the one
    * aggregation — a separate `distinct()` would add a second
    * corpus-scale exchange (hash(id,y,b) then hash(id,y)), and the r8
    * union-with-bias shape ran the whole tokenize subtree twice.
    * Tokenless docs have no rows and drop — the dsirScore
    * convention. */
  private def packedTable(docs: DataFrame, idCol: String, textCol: String,
                          label: Column, buckets: Int): DataFrame =
    // MAP-ONLY packing (r10): per-doc bucket dedup is row-local work,
    // so hash + dedup run inside the row via transform/array_distinct —
    // the r9 explode → groupBy(id,y) → collect_set shape paid a
    // corpus-scale (docs × tokens) exchange to compute the same set
    // (same multiset of buckets per doc: margin and gradient sums are
    // order-free decimals, so result bits cannot move). Prep now has
    // ZERO exchanges at any scale. Tokenless docs keep dropping: the
    // empty-array filter mirrors explode's no-rows behavior.
    docs.select(col(idCol), label.cast("double").as("_y"),
        array_distinct(transform(Text.wsTokens(col(textCol)),
          t => pmod(Vec.md5Hash60(t), lit(buckets.toLong)))).as("_bs0"))
      .filter(size(col("_bs0")) > 0)
      .select(col(idCol), col("_y"),
        concat(col("_bs0"), array(lit(-1L))).as("_bs"))

  /** the shared feature-table preparation: ONE tokenize pass into the
    * packed per-doc table, persisted with the partition count
    * right-sized to the doc count (ceil(docs / 64k), capped at the
    * session's shuffle partitions; the cap comes from the cheap
    * parquet-metadata doc count, so sizing adds no corpus pass). An
    * iterative GD loop reads this cache 12×: at r8's fixed 32
    * partitions a sf0.1-sized table cost 12 rounds × stages × 32 task
    * launches of pure scheduling floor; right-sized it is one task
    * per stage. At real scale docs/64k exceeds the cap and the layout
    * is the configured one. The shrink is a shuffle-free `coalesce`.
    * Returns (cached packed table, nDocs). */
  private[graft] def preparePacked(docs: DataFrame, idCol: String, textCol: String,
                                   label: Column, buckets: Int): (DataFrame, Long) = {
    val spark = docs.sparkSession
    val maxPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // ONE corpus action total: materialize the packed cache at the
    // input's partitioning and take the exact doc count from that same
    // job, then coalesce the CACHED plan to the right-sized partition
    // count (shuffle-free; each round reads cached blocks into npart
    // tasks). The previous form paid a separate docs.count() corpus
    // scan first just to size the coalesce — free only for raw parquet
    // scans, a whole extra job for any derived training frame
    // (review finding).
    val packed0 = graft.util.CacheRegistry.register(
      packedTable(docs, idCol, textCol, label, buckets).persist())
    val nDocs = packed0.count() // materialize; exact doc count
    val rpp = rowsPerPartition(spark)
    val npart = math.min(maxPart.toLong,
      math.max(1L, (nDocs + rpp - 1) / rpp)).toInt
    (packed0.coalesce(npart), nDocs)
  }

  /** the weight vector as ONE referenced array literal (index = bucket
    * + 2, 1-based; bucket −1 = bias at index 1; absent buckets hold
    * 0.0 and are never indexed — packed arrays only carry present
    * buckets). An Array literal codegens as a reference object, so the
    * per-round plan SOURCE is identical and the codegen cache hits
    * every round — 1026 scalar lits would inline as constants and
    * force a recompile per round. */
  private def weightArrayLit(w: Map[Long, Double], buckets: Int): Column =
    lit((-1 to buckets).map(b => w.getOrElse(b.toLong, 0.0)).toArray)

  /** every doc's margin: fold this row's bucket array over the weight
    * array — term round(w_b, 9) accumulated in decimal, the exact
    * multiset the long-form oracle sums with round(w·x, 9), x = 1
    * (IEEE ·1.0 is exact; decimal addition is order-free so the
    * array's collect_list order cannot matter). */
  private def marginCol(arr: Column): Column = {
    val zero = lit(BigDecimal(0).setScale(9)).cast("decimal(27,9)")
    aggregate(col("_bs"), zero, (acc, b) =>
      (acc + round(element_at(arr, (b + lit(2L)).cast("int")), 9)
        .cast("decimal(27,9)")).cast("decimal(27,9)"))
      .cast("double")
  }

  /** One GD round's gradient, as a SINGLE join-free plan over the
    * packed cache: margin fold → σ → per-doc term round(y−σ, 9)
    * (computed BEFORE the explode, so decimal rounding is docs-scale)
    * → explode buckets → per-bucket mean gradient. The ONLY exchange
    * is the bucket-scale aggregation; PlanShapeSpec asserts exactly
    * one, and zero joins. Exposed for that spec. */
  private[graft] def gradientRound(packed: DataFrame, weights: Map[Long, Double],
                                   buckets: Int, nDocs: Long): DataFrame =
    packed
      .select(col("_y"), marginCol(weightArrayLit(weights, buckets)).as("_m"),
        col("_bs"))
      // MEAN gradient (sum / corpus size): an unnormalized full-batch
      // sum scales the step with N and saturates every sigmoid within
      // a round or two — the mean keeps the step size N-invariant,
      // which is also what makes one lr work at any corpus scale
      .select(round(col("_y") -
          round(lit(1.0) / (lit(1.0) + exp(-col("_m"))), 6), 9)
          .cast("decimal(27,9)").as("_t"),
        explode(col("_bs")).as("_b"))
      .groupBy(col("_b"))
      .agg((sum(col("_t")).cast("double") / lit(nDocs)).as("_g"))

  /** The GD loop over the packed cache. Weights start at 0 (so round
    * 1 sees σ = 0.5 exactly), update w ← round(w + lr·grad, 6) with
    * grad_b = (1/N)·Σ_d x_db·(y_d − σ_d) and σ = round(logistic
    * (margin), 6). All Σ are rounded-term decimal sums. Each round is
    * exactly ONE action on the ONE fused [[gradientRound]] plan; AQE
    * is off for the loop so Spark schedules it as one job (AQE would
    * run one job per materialized shuffle stage — at 12 rounds those
    * scheduling floors alone were most of r8's 7.4 s). Returns the
    * final weights (bucket −1 = bias). */
  /** Corpora at or under this many packed docs train IN THE DRIVER
    * (override via `spark.graft.classifier.localTrainThreshold`; 0
    * forces the distributed loop). The BPE two-tier rationale
    * (Bpe.LocalVocabThresholdKey): the GD rounds are sequentially
    * dependent sub-second arithmetic — the worst shape for a
    * distributed round loop, which pays `rounds` job barriers — and
    * 1M packed docs × ~25 bucket longs ≈ 200 MB, comfortable driver
    * heap. Past the threshold the per-round distributed loop is the
    * only shape whose state never has to fit one machine. */
  val LocalTrainThresholdKey = "spark.graft.classifier.localTrainThreshold"
  private val DefaultLocalTrainThreshold = 1000000L

  /** The in-driver GD loop over the collected packed table —
    * bit-identical to the distributed rounds by replicating each
    * arithmetic step at the representation level (ClassifierSpec pins
    * local ≡ distributed): margins are exact e9-scaled long sums of
    * round(w,9) (the decimal(27,9) sum), casts to double are the
    * correctly-rounded quotient the Decimal cast produces, σ and the
    * gradient term use the same BigDecimal.valueOf half-up rounding
    * as Spark's `round`, and the weight update is the identical
    * driver code the distributed loop runs. */
  private def trainLocal(packed: DataFrame, nDocs: Long,
                         rounds: Int, lr: Double): Map[Long, Double] = {
    val rows = packed.select(col("_y"), col("_bs")).collect()
    val ys = rows.map(_.getDouble(0))
    val bss = rows.map(_.getSeq[Long](1).toArray)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def e9(x: Double, scale: Int): Long =
      BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP)
        .underlying.movePointRight(9).longValueExact
    var weights: Map[Long, Double] = Map.empty
    for (_ <- 1 to rounds) {
      // round(w, 9) as exact e9 longs — the margin fold's term
      val w9 = weights.map { case (b, w) => b -> e9(w, 9) }
      val gsum = scala.collection.mutable.HashMap.empty[Long, Long]
      var d = 0
      while (d < bss.length) {
        val bs = bss(d)
        var m9 = 0L
        var i = 0
        while (i < bs.length) { m9 += w9.getOrElse(bs(i), 0L); i += 1 }
        // decimal(27,9) → double cast = correctly-rounded a·10⁻⁹,
        // which IEEE division by the exact 1e9 also produces
        val m = m9.toDouble / 1e9
        val sigma = r6(1.0 / (1.0 + math.exp(-m)))
        val t9 = e9(ys(d) - sigma, 9) // round(y − σ, 9), e9-scaled
        i = 0
        while (i < bs.length) {
          val b = bs(i)
          gsum.update(b, gsum.getOrElse(b, 0L) + t9)
          i += 1
        }
        d += 1
      }
      // (Σt).cast(double) / nDocs — exact long sum, two rounded ops
      weights = gsum.map { case (b, s) =>
        b -> BigDecimal(weights.getOrElse(b, 0.0) +
            lr * (s.toDouble / 1e9 / nDocs.toDouble))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
    }
    weights
  }

  private def trainOn(packed: DataFrame, buckets: Int, nDocs: Long,
                      rounds: Int, lr: Double): Map[Long, Double] = {
    require(rounds >= 1, s"logreg: rounds must be >= 1, got $rounds")
    val spark = packed.sparkSession
    val threshold = spark.conf.getOption(LocalTrainThresholdKey)
      .map(_.toLong).getOrElse(DefaultLocalTrainThreshold)
    if (threshold > 0 && nDocs <= threshold)
      return trainLocal(packed, nDocs, rounds, lr)
    // Weight support = the buckets that occur (matches the oracle's
    // DISTINCT-from-tf w0) — but it needs NO job of its own: every
    // present bucket appears in every round's gradient key set (the
    // explode emits it; a zero-sum gradient still yields its row), so
    // round 1's keys ARE the support. Weights start empty — the
    // weight-array literal fills absent buckets with 0.0, which is
    // exactly the all-zeros round-1 margin the pre-populated map
    // produced — and rekey from the gradient each round (r10: this
    // replaces a distinct+collect job over the cache).
    var weights: Map[Long, Double] = Map.empty
    graft.util.Iterative.withLoopConf(spark, packed.rdd.getNumPartitions) {
      for (_ <- 1 to rounds) {
        val grads = gradientRound(packed, weights, buckets, nDocs)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        weights = grads.map { case (b, g) =>
          b -> BigDecimal(weights.getOrElse(b, 0.0) + lr * g)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }
      }
    }
    weights
  }

  // the AQE-off / pinned-partition loop conf moved to
  // graft.util.Iterative.withLoopConf (r16): PageRank, LPA and the CC
  // fixpoint now share the same discipline this loop proved in r10.

  def logregTrain(docs: DataFrame, idCol: String, textCol: String,
                  label: Column, buckets: Int = 1024, rounds: Int = 12,
                  lr: Double = 20.0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (packed, nDocs) = preparePacked(docs, idCol, textCol, label, buckets)
    trainOn(packed, buckets, nDocs, rounds, lr).toSeq.toDF("bucket", "weight")
  }

  /** Train + score in one call: every doc's final-round probability
    * and ≥ 0.5 prediction, with its training label echoed. The scoring
    * pass reuses the packed cache and is MAP-ONLY — the same margin
    * fold against the final weights, no join, no shuffle, no
    * re-tokenize. */
  def logregScore(docs: DataFrame, idCol: String, textCol: String,
                  label: Column, buckets: Int = 1024, rounds: Int = 12,
                  lr: Double = 20.0): DataFrame = {
    val (packed, nDocs) = preparePacked(docs, idCol, textCol, label, buckets)
    val w = trainOn(packed, buckets, nDocs, rounds, lr)
    sigmoidSelect(packed, idCol, w, buckets)
      .withColumn("predicted", col("score") >= 0.5)
  }

  /** Score documents with ALREADY-TRAINED weights — the deployment
    * half of [[logregScore]], split out because it is MAP-ONLY (the
    * packing and the margin fold are per-row work against a broadcast
    * weight literal), so it runs unchanged on a STREAM: D12 scores
    * pages as they arrive with the shipped model. Tokenless docs drop,
    * exactly as in training. Deployed data has no ground truth, so
    * this emits (id, score) only; the labeled overload below echoes a
    * known label as `is_target` for evaluation/parity use. */
  def scoreWith(docs: DataFrame, idCol: String, textCol: String,
                weights: Map[Long, Double]): DataFrame =
    scoreWith(docs, idCol, textCol, lit(false), weights)
      .drop("is_target")

  /** [[scoreWith]] with a known label echoed as `is_target` — the
    * evaluation form (calibration curves, the D12 parity row need the
    * truth next to the score). */
  def scoreWith(docs: DataFrame, idCol: String, textCol: String,
                label: Column, weights: Map[Long, Double],
                buckets: Int = 1024): DataFrame =
    sigmoidSelect(packedTable(docs, idCol, textCol, label, buckets),
      idCol, weights, buckets)

  /** the shared sigmoid projection over a packed feature table. */
  private def sigmoidSelect(packed: DataFrame, idCol: String,
                            w: Map[Long, Double], buckets: Int): DataFrame =
    packed.select(col(idCol), (col("_y") === 1.0).as("is_target"),
      round(lit(1.0) / (lit(1.0) +
        exp(-marginCol(weightArrayLit(w, buckets)))), 6).as("score"))

  /** C81 — reliability diagram (calibration curve) of a probabilistic
    * classifier: fixed-width score bins over [0,1], per occupied bin
    * the doc count, the mean predicted probability, and the empirical
    * positive rate. A curation classifier whose 0.9-bin is only 60%
    * positive is systematically overconfident and its keep threshold
    * means something other than it claims — this is the artifact
    * (FineWeb-Edu-style pipelines publish it) that catches that before
    * the threshold ships. |mean_score − frac_pos| per bin is the
    * bin's calibration gap; the n-weighted sum is ECE.
    *
    * Scale shape: ONE map-side-combinable aggregation over the scored
    * table — bin assignment is per-row arithmetic, the exchange
    * carries ≤ nBins rows. Mean scores go through rounded-decimal
    * sums (partial-agg-order-proof); empty bins are omitted (a
    * reliability diagram has no empirical rate where nothing landed).
    * Bin edges are fixed-width on principle — quantile edges would
    * make every diagram its own coordinate system. */
  def calibration(scored: DataFrame, scoreCol: String, isPosCol: String,
                  nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"calibration: nBins=$nBins must be >= 2")
    // the diagram is only meaningful over probabilities: a caller
    // feeding raw margins/logits must fail loudly, not get a
    // plausible-looking curve with out-of-range mass silently folded
    // into the edge bins. (score exactly 1.0 folds into the top bin.)
    val bin = when(col(scoreCol) >= 0.0 && col(scoreCol) <= 1.0,
        least(floor(col(scoreCol) * nBins), lit(nBins - 1)))
      .otherwise(raise_error(concat(
        lit(s"calibration: $scoreCol outside [0,1] — probabilities required, got "),
        col(scoreCol).cast("string"))))
      .cast("long").as("bin")
    scored.select(bin, col(scoreCol).as("_s"), col(isPosCol).cast("int").as("_y"))
      .groupBy("bin").agg(
        count(lit(1)).as("n"),
        round(sum(round(col("_s"), 6).cast("decimal(27,6)")).cast("double")
          / count(lit(1)), 6).as("mean_score"),
        round(sum(col("_y")).cast("double") / count(lit(1)), 6).as("frac_pos"))
  }
}
