package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

import graft.functions.Norm

/** Geocode candidate-query expansion (SURVEY §2 A15) — the reference's
  * buildQueryCandidates ladder (geocode.js:197-295): composite-address
  * segment split, neighborhood-里 removal, region prefixing, then per
  * segment the variant ladder (段 Arabic form, hyphen sub-numbers,
  * alley degrade, road-only with county/district/org combinations),
  * each candidate clamped (clampQuery) and gated by looksLikeAddress.
  *
  * Spark-first shape: the input is hash-repartitioned on the id once, up
  * front; all variants are then staged Column projections (one regex
  * chain evaluated once per row, whole-stage codegen), emission is one
  * explode of (candidate, rank) structs, and the reference's
  * insertion-ordered Set dedup is `groupBy(id, candidate).min(rank)`,
  * which that id partitioning already satisfies — instead of a per-row
  * O(n²) first-occurrence scan, so the plan holds at any scale.
  */
object Geocode {

  /** Ladder slots per hyphen variant, mirroring the reference's
    * candidate insertion order (geocode.js:258-274): the variant
    * itself, its org-prefixed twin, the road-only form with
    * county/district/org combinations, then the three alley-degraded
    * forms (each with org twin). 15 slots whether or not an org name
    * is present — absent combinations emit null and are filtered, so
    * ranks are stable across modes. */
  private val SlotsPerH = 15

  /** explode candidates to (id, candidate, rank) rows.
    *
    * `rank` is the global emission index (segment-major, then ladder
    * order); after dedup each surviving candidate carries the rank of
    * its first occurrence — the distributed form of the reference's
    * sequential Set building.
    *
    * Documented deviations from geocode.js (each a bug avoided, not a
    * semantic change — see the cited helpers): postal codes are
    * stripped once up front so later segments starting with a 3+-digit
    * lane number are not eaten (normalizeTWAddress would); county is
    * parsed from the normalized address (the reference anchors on the
    * raw string, so any postal prefix yields no county); the
    * conjunction split (geocode.js:201) requires a preceding 號 — the
    * reference replaces every bare 及/和/與, which dismembers road
    * names like 和平東路/和緯路; the alley-degrade rungs
    * (Norm.dropNong/dropXiang) match the number-BEFORE-unit component
    * real TW addresses use (`12巷3弄45號` → drop `3弄`), where the
    * reference's alleyDegradeVariants regexes (geocode.js:172-183)
    * match unit-before-digits (`弄3號` → `號`) and then restore the
    * house number via a separate fallback — on well-formed addresses
    * the reference rungs are no-ops, so its emitted alley candidates
    * can differ from ours (intent preserved: degrade alley detail,
    * keep the house number).
    *
    * Plan: one exchange, a hash repartition on `idCol` into
    * `spark.sql.shuffle.partitions` partitions, below the explode. AQE
    * never coalesces a repartition with an explicit count, so the regex
    * ladder runs on every core even when the input is one small file,
    * and the (id, candidate) dedup reuses the id partitioning: input rows
    * cross the exchange, not the ~10× larger candidate stream.
    */
  /** `refAlley = true` swaps the corrected alley-degrade rungs for the
    * reference-EXACT ladder: alleyDegradeVariants' verbatim regexes
    * (Norm.refAlley*, geocode.js:172-183) and — like the reference's
    * emission loop (geocode.js:258-274) — a road-only variant computed
    * per DEGRADED form, each form expanding its own 9-slot combo block.
    * Byte-parity with buildQueryCandidates on its own fixtures is
    * spec-proven (GeocodeSpec); default stays the corrected rungs. */
  def expand(df: DataFrame, idCol: String, addrCol: String,
             orgCol: Option[String] = None,
             refAlley: Boolean = false): DataFrame = {
    // the reference applies normalizeTWAddress + taiVariants to the
    // FULL org-prefixed candidate (geocode.js:278-283), so the org name
    // itself is space-stripped, country-stripped and 臺-folded — an org
    // containing 台 must emit an all-臺 canonical and an all-台 twin,
    // never a mixed spelling. Folding org at intake gives the same
    // result per part (cross-boundary artifacts like an org ending 台
    // meeting an address starting 灣 aside — not a real shape).
    val org = orgCol
      .map(c => Norm.stripCountry(Norm.foldTai(Norm.stripSpaces(
        Norm.stripPostal(col(c))))))
      .getOrElse(lit("")).as("_org")

    // -- stage 1: normalize + composite split (geocode.js:197-204) --
    val pre = Norm.stripCountry(Norm.foldTai(Norm.stripSpaces(
      Norm.stripPostal(Norm.stripParens(col(addrCol))))))
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val s1 = df.repartition(parts, col(idCol)).select(col(idCol), org, pre.as("_pre"))
    val head = regexp_extract(col("_pre"), "^[^;；]*", 0)
    val s2 = s1.select(col(idCol), col("_org"), col("_pre"),
      Norm.removeLi(Norm.removeLi(head)).as("_head"))
    val canon = regexp_replace(
      regexp_replace(col("_head"), lit("[，,。.]"), lit("、")),
      lit("號[及和與]"), lit("號、"))
    val s3 = s2.select(col(idCol), col("_org"),
      Norm.parseCounty(col("_pre")).as("_cty"),
      Norm.parseDistrict(col("_pre")).as("_dst"),
      posexplode(filter(split(canon, "、"), s => s =!= ""))
        .as(Seq("_segi", "_seg")))

    // -- stage 2: region prefix + bases (geocode.js:240-249) --
    // base insertion order mirrors the reference's nested loop
    // (`for b1 of [base0, sectionArabic(base0)]: for b2 of
    //  streetOrdinalArabicVariants(b1)`): [b0, ord(b0), sec(b0),
    // ord(sec(b0))]. The ordinal transform (ZhStreetArabic) converts
    // EACH 中文數字+街巷弄 token with its own value in one scan, exactly
    // like the reference's per-match replace callback.
    val segr = when(Norm.hasRegionInfo(col("_seg")), col("_seg"))
      .otherwise(concat(col("_cty"), col("_dst"), col("_seg")))
    val s4 = s3.select(col(idCol), col("_org"), col("_cty"), col("_dst"),
      col("_segi"), Norm.trimToHouseNo(segr).as("_b0"))
    // transformed bases are NULL when the transform is a no-op: the
    // null short-circuits every downstream regex derivation of that
    // block (codegen's isNull check), so ordinary addresses pay one
    // ordinal-token scan + one 段 comparison per row, not 2× the
    // full derivation chain. Null candidates never emit (gate below).
    val secB = Norm.sectionArabic(col("_b0"))
    val s5 = s4
      .withColumn("_b1", Norm.zhStreetNumeralToArabicOrNull(col("_b0")))
      .withColumn("_b2", when(secB =!= col("_b0"), secB))
      .withColumn("_b3", Norm.zhStreetNumeralToArabicOrNull(col("_b2")))

    // -- stage 3: hyphen variants per base (geocode.js:162-169) --
    // A variant (hyphen or alley rung) equal to its source is NULL, like
    // the no-op bases above: every candidate it would emit repeats one of
    // its source's at a worse rank, so the min-rank dedup drops it anyway.
    def unlessSame(v: Column, src: Column): Column = when(v =!= src, v)
    val hCols = for (bi <- 0 to 3; hi <- 0 to 2) yield {
      val b = col(s"_b$bi")
      val h = hi match {
        case 0 => b
        case 1 => unlessSame(Norm.hyphenToZhi(b), b)
        case 2 => unlessSame(Norm.hyphenDropSub(b), b)
      }
      h.as(s"_h${bi}$hi")
    }
    val s6 = s5.select(Seq(col(idCol), col("_org"), col("_cty"), col("_dst"),
      col("_segi")) ++ hCols: _*)

    // -- stage 4: alley degrade + road-only per hyphen variant --
    val hNames = for (bi <- 0 to 3; hi <- 0 to 2) yield s"_h${bi}$hi"
    val hasOrg = col("_org") =!= ""
    val cty = col("_cty"); val dst = col("_dst")
    /** the reference's road-only combo block (geocode.js:258-274) */
    def roBlock(ro: Column): Seq[(Column, Column)] = {
      val hasRo = ro =!= ""
      Seq(
        ro                            -> hasRo,
        concat(col("_org"), ro)       -> (hasOrg && hasRo),
        concat(cty, ro)               -> (hasRo && cty =!= ""),
        concat(col("_org"), cty, ro)  -> (hasOrg && hasRo && cty =!= ""),
        concat(dst, ro)               -> (hasRo && dst =!= ""),
        concat(col("_org"), dst, ro)  -> (hasOrg && hasRo && dst =!= ""),
        concat(cty, dst, ro)          -> (hasRo && (cty =!= "" || dst =!= "")))
    }

    val (s7, hStructs, slots, slotsPerH) = if (!refAlley) {
      // corrected rungs: one road-only per hyphen variant, degraded
      // forms as plain candidates. sectionArabic staged once per h
      // (roadOnly needs it 4×).
      val secCols = hNames.map(h => Norm.sectionArabic(col(h)).as(s"${h}s"))
      val s6b = s6.select(s6.columns.map(col) ++ secCols: _*)
      val derived = hNames.flatMap { h =>
        Seq(unlessSame(Norm.dropNong(col(h)), col(h)).as(s"${h}n"),
            unlessSame(Norm.dropXiang(col(h)), col(h)).as(s"${h}x"),
            unlessSame(Norm.dropXiangNong(col(h)), col(h)).as(s"${h}z"),
            Norm.roadOnlyOfSection(col(s"${h}s")).as(s"${h}r"))
      }
      val s7c = s6b.select(s6b.columns.map(col) ++ derived: _*)
      val structs = hNames.map { h =>
        struct(col(h).as("h"), col(s"${h}n").as("n"), col(s"${h}x").as("x"),
               col(s"${h}z").as("z"), col(s"${h}r").as("r"))
      }
      val sl: Seq[(Column, Column)] =
        Seq[(Column, Column)](
          col("_hs.h")                      -> lit(true),
          concat(col("_org"), col("_hs.h")) -> hasOrg) ++
        roBlock(col("_hs.r")) ++
        Seq[(Column, Column)](
          col("_hs.n")                      -> lit(true),
          concat(col("_org"), col("_hs.n")) -> hasOrg,
          col("_hs.x")                      -> lit(true),
          concat(col("_org"), col("_hs.x")) -> hasOrg,
          col("_hs.z")                      -> lit(true),
          concat(col("_org"), col("_hs.z")) -> hasOrg)
      (s7c, structs, sl, SlotsPerH)
    } else {
      // reference-exact ladder: the 4 alleyDegradeVariants forms (self +
      // verbatim rungs), each with ITS OWN roadOnlyVariant and 9-slot
      // combo block, mirroring the `for a of alleyDegradeVariants(h)`
      // emission loop exactly (geocode.js:258-274).
      val derived = hNames.flatMap { h =>
        val forms = col(h) +: Seq(Norm.refAlleyNong(col(h)),
          Norm.refAlleyXiang(col(h)), Norm.refAlleyBoth(col(h))).map(unlessSame(_, col(h)))
        forms.zipWithIndex.flatMap { case (f, ai) =>
          Seq(f.as(s"${h}f$ai"), Norm.roadOnly(f).as(s"${h}r$ai"))
        }
      }
      val s7r = s6.select(s6.columns.map(col) ++ derived: _*)
      val structs = hNames.map { h =>
        struct((0 to 3).flatMap(ai =>
          Seq(col(s"${h}f$ai").as(s"f$ai"), col(s"${h}r$ai").as(s"r$ai"))): _*)
      }
      val sl: Seq[(Column, Column)] = (0 to 3).flatMap { ai =>
        val a = col(s"_hs.f$ai")
        Seq[(Column, Column)](
          a                      -> lit(true),
          concat(col("_org"), a) -> hasOrg) ++
        roBlock(col(s"_hs.r$ai"))
      }
      (s7r, structs, sl, 4 * 9)
    }

    // -- stage 5: emission in reference insertion order --
    // Two-level explode keeps each generated method under Janino's
    // size limit (a flat 90-struct array breaks whole-stage codegen):
    // first explode one struct per hyphen variant (pure column refs),
    // then emit the ladder slots from those fields.
    val s8 = s7.select(col(idCol), col("_org"), col("_cty"), col("_dst"),
        col("_segi"),
        posexplode(array(hStructs: _*)).as(Seq("_hi", "_hs")))
      // a block whose base or hyphen transform was a no-op carries a
      // NULL variant (see s5 and stage 3) — its candidates are null and
      // the emission gate drops them (output-invariant: the non-null twin
      // block emits the same bytes at a better rank). This explicit
      // filter just spares the 15-slot gate work for those rows.
      .filter(col("_hs").getField(if (refAlley) "f0" else "h").isNotNull)

    // clamp + looksLike evaluate INSIDE the emission lambda — one site
    // per candidate. Aliasing the clamped string and filtering later
    // lets CollapseProject inline the clamp tree into every consumer
    // (both gate contains-chains + the output), ballooning the
    // generated method past JIT limits and into interpreted execution:
    // measured 5× slower on the million-candidate stream.
    val entries = slots.zipWithIndex.map { case ((q, cond), slot) =>
      when(cond, struct(Norm.clampQuery(q).as("q"), lit(slot).as("slot")))
    }
    val perSeg = lit(hNames.length * slotsPerH)
    s8.select(col(idCol), col("_segi"), col("_hi"),
        explode(filter(array(entries: _*),
          e => e.isNotNull && Norm.looksLikeAddress(e.getField("q")))).as("_c"))
      .select(col(idCol), col("_c.q").as("q0"),
        ((col("_segi") * perSeg + col("_hi") * lit(slotsPerH) + col("_c.slot"))
          * 2).as("_r0"))
      // 臺/台 pair emission (taiVariants, geocode.js:136-140, applied per
      // candidate at geocode.js:278-283): the canonical all-臺 form at the
      // even rank, its all-台 twin immediately after at the odd rank — the
      // reference's Set-insertion interleaving. looksLikeAddress and
      // clampQuery are 臺/台-invariant (gate chars untouched, both chars
      // 3 UTF-8 bytes), so the twin derives from the already-gated,
      // already-clamped canonical row instead of re-running the ladder.
      .select(col(idCol), explode(filter(array(
          struct(col("q0").as("q"), col("_r0").as("r")),
          when(col("q0").contains("臺"),
            struct(Norm.unfoldTai(col("q0")).as("q"),
              (col("_r0") + 1).as("r")))),
        e => e.isNotNull)).as("_t"))
      .groupBy(col(idCol), col("_t.q").as("candidate"))
      .agg(min(col("_t.r")).cast("int").as("rank"))
  }

  /** resolve each row against a (query -> lat/lng) cache table taking
    * the best-ranked hit — the distributed "first variant that hits".
    * `payloadCols` names cache columns (lat/lng/source…) carried along
    * with the winning hit. */
  def resolveAgainstCache(df: DataFrame, idCol: String, addrCol: String,
                          cache: DataFrame, cacheKey: String,
                          payloadCols: Seq[String] = Nil): DataFrame = {
    val hits = bestHit(expand(df, idCol, addrCol)
      .join(cache, col("candidate") === col(cacheKey)), idCol, payloadCols)
    df.join(hits, Seq(idCol), "left")
  }

  /** per id, the best-ranked of its candidate `hits` (id, rank,
    * candidate, payload…): `(id, matched_query, payload…)`. */
  private def bestHit(hits: DataFrame, idCol: String,
                      payloadCols: Seq[String]): DataFrame =
    hits.groupBy(col(idCol))
      .agg(min(struct(col("rank") +: col("candidate") +:
        payloadCols.map(col): _*)).as("best"))
      .select(col(idCol) +: col("best.candidate").as("matched_query") +:
        payloadCols.map(c => col(s"best.$c").as(c)): _*)

  /** The reference's incremental daily-geocode loop: every resolve is
    * appended back into the cache as it lands (geocode.js:542-549), so
    * the next day's run geocodes only the delta. Composition of
    * [[expand]], a cache lookup and the keyed snapshot sink
    * ([[graft.streaming.EventStream.upsertBatch]]):
    *
    *  1. every one of today's rows expands ONCE; that persisted
    *     candidate frame feeds both the cache lookup and the delta;
    *  2. candidates resolve against the latest COMMITTED cache
    *     snapshot (best-ranked candidate hit, lat/lng carried); on the
    *     first run there is no snapshot and the lookup is skipped;
    *  3. only the candidates of the unresolved delta go to `resolver`
    *     — the external geocoder stage (candidates in:
    *     `(id, candidate, rank)`, exactly [[expand]] of the delta rows;
    *     hits out: `(candidate, lat, lng)`, coordinates cast to
    *     DOUBLE; wrap the real HTTP call in RateLimited per A14 —
    *     specs inject a deterministic fake);
    *  4. fresh hits UPSERT into the cache snapshot under `batchId`
    *     (one id per day), so run N+1's cache holds every hit from
    *     runs 1..N, and a replayed day re-merges idempotently from the
    *     previous snapshot.
    *
    * Returns today's roster with `matched_query`/`lat`/`lng` and
    * `source` = cache | fresh | null (still unresolved). At 100 TB the
    * cache snapshot is the bucketable dimension and the delta is
    * orders of magnitude smaller than the roster — exactly the
    * reference's incremental intent. */
  def dailyGeocode(rows: DataFrame, idCol: String, addrCol: String,
                   cacheDir: String, batchId: Long)(
                   resolver: DataFrame => DataFrame): DataFrame = {
    import graft.streaming.EventStream
    val payload = Seq("lat", "lng")
    val cands = expand(rows, idCol, addrCol)
    graft.util.CacheRegistry.register(cands.persist()) // every consumer below
    // the cache is this function's own snapshot sink, written below as
    // (query, lat, lng): its schema is known, so no footer job reads it
    val cacheSchema = StructType(Seq(StructField("query", StringType),
      StructField("lat", DoubleType), StructField("lng", DoubleType)))
    val cache =
      try Some(EventStream.readLatestState(rows.sparkSession, cacheDir, Some(cacheSchema)))
      catch { case _: IllegalArgumentException => None } // first run: no snapshot
    val cacheHits = cache.map(c =>
      bestHit(cands.join(c, col("candidate") === col("query")), idCol, payload)
        .withColumn("source", lit("cache")))
    // the delta: ONLY these rows' candidates reach the resolver
    val delta = cacheHits.fold(cands)(h =>
      cands.join(h.select(col(idCol)), Seq(idCol), "left_anti"))
    // The resolver stage is EXTERNAL work (rate-limited calls, possibly
    // nondeterministic answers): it must execute exactly once, so its
    // output is eagerly localCheckpoint'ed — the cache write-back below
    // and the returned roster both read the SAME materialized answers
    // (an unpersisted plan would re-call the geocoder per action and
    // could write different coordinates than it returns).
    val fresh = resolver(delta)
      // defensive: one deterministic row per candidate even if the
      // resolver returns several
      .groupBy(col("candidate"))
      .agg(min(struct(col("lat"), col("lng"))).as("_p"))
      .select(col("candidate"), col("_p.lat").cast("double").as("lat"),
        col("_p.lng").cast("double").as("lng"))
      .localCheckpoint(true)
    val freshBest = bestHit(delta.join(fresh, Seq("candidate")), idCol, payload)
      .withColumn("source", lit("fresh"))
    // write-back (geocode.js:542-549): every fresh hit joins the cache
    EventStream.upsertBatch(cacheDir, Seq("query"))(
      fresh.select(col("candidate").as("query"), col("lat"), col("lng")), batchId)
    rows.join(cacheHits.fold(freshBest)(_.unionByName(freshBest)), Seq(idCol), "left")
  }

  /** [[dailyGeocode]] with the reference's FINER durability granularity
    * (geocode.js:540-549 rewrites the cache JSON after EVERY resolved
    * row, so a mid-run crash loses zero provider calls; the plain
    * daily loop above commits once per day — a crash re-buys the whole
    * day's calls). The delta splits into `chunks` deterministic slices
    * (hash of the id), each slice runs the FULL daily loop under its
    * own monotone snapshot id (batchId·chunks + i), and every slice's
    * fresh hits are durably committed before the next slice calls the
    * resolver. Crash-replay math: a committed slice re-resolves
    * entirely from cache (its hits are already in the latest snapshot)
    * so its resolver sees ZERO candidates and its upsert re-merges
    * idempotently — the loss window is exactly the in-flight slice.
    * `chunks = 1` is the old stage granularity; `chunks → delta size`
    * is the reference's per-row flush (at one fsynced snapshot per
    * row — the same cost the reference pays). Slices also see earlier
    * slices' hits, so duplicate candidates across slices are resolved
    * once. Returns the same roster contract as [[dailyGeocode]].
    * Delta-scale work × chunks driver loops — the external-call stage
    * is the bottleneck by orders of magnitude at any chunking. */
  def dailyGeocodeChunked(rows: DataFrame, idCol: String, addrCol: String,
                          cacheDir: String, batchId: Long, chunks: Int = 8)(
                          resolver: DataFrame => DataFrame): DataFrame = {
    require(chunks >= 1, s"chunks must be >= 1, got $chunks")
    val slices = (0 until chunks).map { i =>
      val slice = rows.filter(
        pmod(xxhash64(col(idCol)), lit(chunks.toLong)) === i.toLong)
      dailyGeocode(slice, idCol, addrCol, cacheDir,
        batchId * chunks + i)(resolver)
        // materialize THIS slice's roster (and therefore its cache
        // write-back) before the next slice's resolver runs — the
        // durability ordering is the whole point
        .localCheckpoint(true)
    }
    slices.reduce(_ unionByName _)
  }

  /** One external geocode provider in an ordered fallback chain — the
    * reference's two-provider arm (geocode.js:431,492: OpenCage
    * primary, `--nominatim` backup consulted only when the primary
    * misses, each with its own User-Agent and Bottleneck throttle).
    * Implementations carry their OWN rate budget and retry discipline;
    * [[providerChain]] gives every provider its own `mapPartitions`
    * stage, so budgets never share a limiter. Must be Serializable —
    * the lookup runs on executors. */
  trait GeoProvider extends Serializable {
    def name: String
    /** per-partition minimum interval between lookups (A14 budget);
      * cluster-wide rate = partitions × 1000/minIntervalMs. */
    def minIntervalMs: Long
    def maxRetries: Int = 3
    def baseDelayMs: Long = 100
    /** one candidate query → coordinates, None on miss. Throwing
      * counts against `maxRetries` via [[graft.util.RateLimited]]. */
    def lookup(candidate: String): Option[(Double, Double)]
  }

  /** JVM twin of [[graft.functions.Vec.md5Hash60]]'s Column form (and
    * of the oracle's `('0x'||substr(md5(q),1,15))::BIGINT`): the first
    * 60 bits of md5 over UTF-8 bytes as a non-negative long. Providers
    * run inside mapPartitions on plain strings, where no Column exists.
    * Delegates to the SAME kernel the Column form runs
    * ([[graft.expressions.Md5Prefix]]) — one implementation, so the
    * md560 ≡ md5Hash60 ≡ oracle equivalence the provider-chain gate
    * depends on can't drift. */
  private[graft] def md560(s: String): Long =
    graft.expressions.Md5Prefix.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(s), 15)

  /** Deterministic hash-formula provider for demos and the DuckDB
    * oracle: answers iff md5-60(q) % `mod` < `keep`, with coordinates
    * pure integer algebra on the same hash. A REAL provider is
    * external I/O (the OpenCage/Nominatim arm); the chain's
    * first-hit-wins remainder algebra is the operator under test, and
    * a formula provider is one a SQL oracle can mirror term for term
    * — same role as the injected decoders behind the C12 seam. */
  final case class HashProvider(name: String, mod: Long, keep: Long,
      latBase: Double, lngBase: Double) extends GeoProvider {
    def minIntervalMs: Long = 0L
    def lookup(q: String): Option[(Double, Double)] = {
      val h = md560(q)
      if (h % mod < keep)
        Some((latBase + (h % 4000L).toDouble / 1000.0,
              lngBase + (h % 6000L).toDouble / 1000.0))
      else None
    }
  }

  /** Ordered-provider resolver for [[dailyGeocode]]: provider k+1 is
    * consulted ONLY for candidates provider k missed (first-hit-wins,
    * the reference's primary-then-backup ladder). Each provider runs
    * as its own rate-limited `mapPartitions` stage over the REMAINING
    * misses — independent budgets by construction — and each stage's
    * answers are eagerly `localCheckpoint`ed so external calls execute
    * exactly once even though hits and misses both read them.
    * Candidates are de-duplicated first (many roster rows can expand
    * to one query; the reference's per-query cache implies one call
    * per query). Output: (candidate, lat, lng, provider) — the extra
    * provider tag is dropped harmlessly by [[dailyGeocode]]'s
    * defensive re-aggregation, and kept for direct callers.
    *
    * Scale shape: the chain runs at DELTA scale (dailyGeocode already
    * reduced the roster to cache misses), and each stage shrinks the
    * remainder — the backup provider sees only the primary's misses,
    * exactly the quota-preserving behavior the reference's
    * USE_NOMINATIM arm encodes. */
  def providerChain(providers: Seq[GeoProvider])(cands: DataFrame): DataFrame = {
    require(providers.nonEmpty, "providerChain needs at least one provider")
    val spark = cands.sparkSession
    import spark.implicits._
    var remaining = cands.select(col("candidate")).distinct().as[String]
    val hitsPerProvider = providers.map { p =>
      val answered = remaining.mapPartitions { it =>
        graft.util.RateLimited.mapRateLimited(it, p.minIntervalMs,
          p.maxRetries, p.baseDelayMs)(q => (q, p.lookup(q)))
      }.localCheckpoint(true) // external work: execute once
      remaining = answered.filter(_._2.isEmpty).map(_._1)
      answered.flatMap { case (q, r) => r.map(c => (q, c._1, c._2, p.name)) }
    }
    hitsPerProvider.reduce(_ union _)
      .toDF("candidate", "lat", "lng", "provider")
  }

  /** County centroid table (geocode.js:43-68) — proximity-bias
    * anchors, both 臺/台 spellings where the reference lists both. */
  val countyCentroids: Seq[(String, Double, Double)] = Seq(
    ("臺北市", 25.0375, 121.5637), ("台北市", 25.0375, 121.5637),
    ("新北市", 25.012, 121.463), ("桃園市", 24.993, 121.301),
    ("新竹市", 24.8047, 120.9714), ("新竹縣", 24.838, 121.007),
    ("苗栗縣", 24.56, 120.82),
    ("臺中市", 24.1477, 120.6736), ("台中市", 24.1477, 120.6736),
    ("彰化縣", 24.08, 120.54), ("南投縣", 23.96, 120.97),
    ("雲林縣", 23.708, 120.543), ("嘉義市", 23.48, 120.44),
    ("嘉義縣", 23.46, 120.32),
    ("臺南市", 22.9997, 120.227), ("台南市", 22.9997, 120.227),
    ("高雄市", 22.627, 120.301), ("屏東縣", 22.676, 120.494),
    ("宜蘭縣", 24.757, 121.754), ("花蓮縣", 23.976, 121.604),
    ("臺東縣", 22.758, 121.144), ("台東縣", 22.758, 121.144),
    ("澎湖縣", 23.565, 119.586), ("金門縣", 24.449, 118.37),
    ("連江縣", 26.157, 119.95), ("基隆市", 25.128, 121.741))

  /** the centroid table as a broadcastable dimension */
  def centroidTable(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    countyCentroids.toDF("cc_county", "cc_lat", "cc_lng")
  }

  /** Post-resolve validation + proximity ranking — the relational form
    * of countyMatches / getExpectedCounty / getProximity + the
    * best-hit selection in resolveOneRow (geocode.js:297-314, 471-515).
    *
    * Expected county = the explicit `countyCol` field when non-blank,
    * else the county parsed from the normalized address (the field
    * takes priority, geocode.js:298-301). A hit is valid when any
    * component column or the formatted string contains the expected
    * county in either 臺/台 spelling — or trivially when no county is
    * known. Hits are then ranked (valid first, then squared
    * lat/lng-degree distance to the county centroid, then `seqCol`)
    * and the best hit per row wins.
    *
    * Deviation (documented): the reference sends `proximity` to the
    * geocode API, whose server-side bias is opaque; the relational
    * form ranks by squared degree-space distance to the centroid —
    * monotonic at county scale and exactly reproducible (no
    * transcendental libm calls, so any two engines agree bitwise).
    * Rows with no centroid rank all hits at distance 999999.
    *
    * Plan shape: centroid table broadcast, hits shuffled once on the
    * row id for the arg-min aggregation — no window over a skewed
    * key, map-side combinable. */
  def validateAndRank(rows: DataFrame, idCol: String, addrCol: String,
                      countyCol: Option[String],
                      hits: DataFrame, hitIdCol: String, seqCol: String,
                      componentCols: Seq[String], formattedCol: String,
                      latCol: String, lngCol: String): DataFrame = {
    val fieldCounty = countyCol.map(c => trim(col(c))).getOrElse(lit(""))
    val parsed = Norm.parseCounty(Norm.foldTai(Norm.stripSpaces(
      Norm.stripPostal(Norm.stripParens(col(addrCol))))))
    val expected = rows.select(col(idCol),
      when(fieldCounty =!= "", fieldCounty).otherwise(parsed).as("expected_county"))
    val withCentroid = expected
      .join(broadcast(centroidTable(rows.sparkSession)),
        col("expected_county") === col("cc_county"), "left")
      .select(col(idCol), col("expected_county"), col("cc_lat"), col("cc_lng"))

    val text = concat_ws("|",
      (componentCols :+ formattedCol).map(hits(_)): _*)
    val exp = col("expected_county")
    val ok = exp === "" || text.contains(exp) ||
      text.contains(Norm.unfoldTai(exp)) || text.contains(Norm.foldTai(exp))
    val d2 = when(col("cc_lat").isNotNull,
        (hits(latCol) - col("cc_lat")) * (hits(latCol) - col("cc_lat")) +
        (hits(lngCol) - col("cc_lng")) * (hits(lngCol) - col("cc_lng")))
      .otherwise(lit(999999.0))

    hits.join(withCentroid, hits(hitIdCol) === withCentroid(idCol))
      .select(withCentroid(idCol), col("expected_county"),
        (!ok).as("_bad"), d2.as("_d2"), hits(seqCol).as("_seq"),
        hits(latCol).as("_lat"), hits(lngCol).as("_lng"))
      .groupBy(col(idCol), col("expected_county"))
      .agg(min(struct(col("_bad"), col("_d2"), col("_seq"),
        col("_lat"), col("_lng"))).as("best"))
      .select(col(idCol), col("expected_county"),
        (!col("best._bad")).as("county_ok"), col("best._d2").as("dist2"),
        col("best._seq").as("best_seq"),
        col("best._lat").as("lat"), col("best._lng").as("lng"))
  }

  /** Street-centroid fallback candidates
    * (buildStreetCentroidCandidates, geocode.js:398-425): last road
    * token of the house-number-free address in BOTH 臺/台 spellings
    * (extractLastRoadToken returns the pair, geocode.js:230-238),
    * each combined with county/district/org prefixes; plus the 臺/台
    * pair of the whole road-only base (geocode.js:418-422); clamped,
    * ordered longest-first (the length-desc sort at geocode.js:424). */
  def streetCentroidCandidates(df: DataFrame, idCol: String, addrCol: String,
                               orgCol: Option[String] = None): DataFrame = {
    // Each stage ends in an explode(array(...)) BARRIER: the expensive
    // derivation becomes a Generate output that CollapseProject cannot
    // inline into its many downstream consumers (the 18 emission arms
    // reference _road/_base; a plain projection chain re-evaluates the
    // whole normalize+extract pipeline per arm — the repo's documented
    // CollapseProject trap, measured ~2.7s → sub-second at sf0.1).
    val pre = Norm.stripCountry(Norm.foldTai(Norm.stripSpaces(
      Norm.stripPostal(Norm.stripParens(col(addrCol))))))
    val s1 = df.select(col(idCol),
      orgCol.map(col).getOrElse(lit("")).as("_org"),
      explode(array(pre)).as("_pre"))
    val noHouse = regexp_replace(Norm.trimToHouseNo(col("_pre")),
      lit("\\d+(?:-\\d+)?號.*$"), lit(""))
    val s2 = s1.select(col(idCol), col("_org"),
        explode(array(struct(
          Norm.parseCounty(col("_pre")).as("c"),
          Norm.parseDistrict(col("_pre")).as("d"),
          when(noHouse =!= "", noHouse).otherwise(col("_pre")).as("b")))).as("_n2"))
      .select(col(idCol), col("_org"), col("_n2.c").as("_cty"),
        col("_n2.d").as("_dst"), col("_n2.b").as("_base"))
    // last ...大道|道|路|街 token (extractLastRoadToken, geocode.js:230-238)
    val tokenPat = "[^\\d、，；;（）()\\s]+?(?:大道|道|路|街)"
    // guard the last-element take: under ANSI (Spark 4 default)
    // element_at(-1) THROWS on an empty array, so a road-less address
    // must short-circuit to null instead of failing the job
    val toks = regexp_extract_all(col("_base"), lit(s"($tokenPat)"), lit(1))
    val road = when(size(toks) > 0, element_at(toks, -1))
    val s3 = s2.select(col(idCol), col("_org"), col("_cty"), col("_dst"),
        col("_base"), explode(array(road)).as("_road"))
      .filter(col("_road").isNotNull && col("_road") =!= "")
    val cty = col("_cty"); val dst = col("_dst"); val orgc = col("_org")
    // extractLastRoadToken's pair: canonical 臺 token, then its 台 twin
    // (input is pre-folded, so the twin is the only other spelling)
    val roadPair: Seq[(Column, Column)] = Seq(
      col("_road") -> lit(true),
      Norm.unfoldTai(col("_road")) -> col("_road").contains("臺"))
    val comboEntries: Seq[(Column, Column)] = roadPair.flatMap {
      case (r, has) => Seq[(Column, Column)](
        concat(cty, dst, r) -> (has && (cty =!= "" || dst =!= "")),
        concat(cty, r)      -> (has && cty =!= ""),
        concat(dst, r)      -> (has && dst =!= ""),
        r                   -> has,
        concat(orgc, cty, dst, r) -> (has && orgc =!= "" && (cty =!= "" || dst =!= "")),
        concat(orgc, cty, r) -> (has && orgc =!= "" && cty =!= ""),
        concat(orgc, dst, r) -> (has && orgc =!= "" && dst =!= ""),
        concat(orgc, r)      -> (has && orgc =!= ""))
    }
    // plus the 臺/台 pair of the whole road-only base (geocode.js:418-422)
    val baseGate = col("_base").rlike("大道|道|路|街")
    val entries = comboEntries ++ Seq[(Column, Column)](
      col("_base") -> baseGate,
      Norm.unfoldTai(col("_base")) -> (baseGate && col("_base").contains("臺")))
    val structs = entries.zipWithIndex.map { case ((q, cond), i) =>
      when(cond, struct(Norm.clampQuery(q).as("q"), lit(i).as("i")))
    }
    s3.select(col(idCol),
        explode(filter(array(structs: _*), e => e.isNotNull)).as("_c"))
      .groupBy(col(idCol), col("_c.q").as("candidate"))
      .agg(min(col("_c.i")).cast("int").as("tie"))
      // reference orders candidates longest-first (geocode.js:424);
      // insertion index breaks length ties deterministically
      .select(col(idCol), col("candidate"),
        row_number().over(Window.partitionBy(col(idCol))
          .orderBy(length(col("candidate")).desc, col("tie"))).as("try_order"))
  }
}
