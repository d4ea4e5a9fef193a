package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Html, Norm}
import graft.functions.Agg._
import graft.sources.Tables

/** SURVEY §2A demos: each reference ETL operator exercised on the
  * driver's testdata. Synthetic strings (HTML fragments, phones, URLs,
  * addresses) are built *inside* the query from table columns so the
  * DuckDB oracle sees identical inputs.
  */
object RefDemos {

  /** A1 — cleanRows (index.js:38-62): typed projection, null-coalesce,
    * safe int coercion, bool mapping, sentinel->null, derived flag. */
  def cleanNormalize(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("event_id"), col("user_id"),
      date_format(col("ts"), "yyyy-MM-dd").as("event_date"),
      // reference parseInt-or-0: garbage must coerce to 0, and under
      // ANSI mode a bare cast of a non-numeric or overflowing string
      // would throw; Norm.safeLong stages through decimal with an
      // explicit range check, so all in-range longs (19-digit
      // included) parse and everything else nulls -> 0
      coalesce(Norm.safeLong(get_json_object(col("props"), "$.k")), lit(0L)).as("k"),
      (col("event_type") === "purchase").as("is_purchase"),
      Html.sentinelToNull(col("event_type"), "error").as("event_type_clean"),
      (col("value") > 100.0).as("high_value"))
      .orderBy("event_id")

  /** A2 — parseAnchor/unesc (index.js:20-30) over synthesized anchors. */
  def parseAnchor(spark: SparkSession, dir: String): DataFrame = {
    val html = concat(
      lit("<a href='https://example.org/o/"), col("o_orderkey").cast("string"),
      lit("'>Order &amp; "), col("o_orderpriority"), lit("</a>"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), html.as("html"))
      .select(col("o_orderkey"),
        Html.anchorHref(col("html")).as("href"),
        Html.anchorText(col("html")).as("text"))
      .orderBy("o_orderkey")
  }

  /** A3 — uniqByKey (index.js:89-98): first-wins dedup per key. */
  def dedupFirstPerKey(spark: SparkSession, dir: String): DataFrame =
    // the synthetic lineitem has duplicate (orderkey, linenumber) rows, so
    // the "first" ordering tie-breaks on every projected column
    Dedup.firstPerKey(Tables.lineitem(spark, dir),
        Seq("l_orderkey"),
        Seq(col("l_linenumber"), col("l_partkey"), col("l_suppkey"), col("l_quantity")))
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"), col("l_quantity"))
      .orderBy("l_orderkey")

  /** A3's 100 TB form, measured (r14 verdict task 5): when the
    * pipeline needs only the first-wins DECISION (which row survives
    * per key — dedup gating, not record retrieval), the window above
    * is overkill: one `min(struct(ordering…))` aggregation computes
    * the same winner map-side-combinably, and the plan scans and
    * shuffles ONLY the key + ordering tuple (~40 bytes/row) — Parquet
    * column pruning drops every payload column at the scan, so the
    * cost is independent of payload width, exactly the property the
    * SURVEY A3 note claims for the fixed-width-decision swap (the
    * content-hash analogue is [[Dedup.exactByHash]]'s 16-byte md5).
    * Payload retrieval, when needed, is a later join ON the decision
    * tuple — delta-scale, not corpus-scale. */
  def dedupFirstKeyHash(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(min(struct(col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))).as("_w"))
      .select(col("l_orderkey"),
        col("_w.l_linenumber").as("l_linenumber"),
        col("_w.l_partkey").as("l_partkey"),
        col("_w.l_suppkey").as("l_suppkey"),
        col("_w.l_quantity").as("l_quantity"))
      .orderBy("l_orderkey")

  /** A4 — mergeYesNo (index.js:65-86): union + group + max/or + flag. */
  def mergeMaxGroups(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
      .withColumn("is_open", col("o_orderstatus") === "O")
    val yes = orders.filter(col("is_open"))
    val no  = orders.filter(!col("is_open"))
    MergeOps.mergeMax(yes, no, Seq("o_custkey"),
        maxCols = Seq("o_totalprice"), orCols = Seq("is_open"))
      .withColumn("has_quota", col("max_o_totalprice") > 250000.0)
      .orderBy(col("has_quota").desc, col("o_custkey"))
  }

  /** A5 — geocode-diff-merge (geocode-diff-merge.js:65-160): carry
    * coordinates forward by prioritized keys; flag the delta. */
  def diffMergeCarry(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.customer(spark, dir)
    val prev = customer.filter(col("c_custkey") % 3 =!= 0)
      .select(col("c_custkey").as("p_cust"), col("c_nationkey").as("p_nation"),
        (col("c_custkey") * 1.5).as("lat"))
    val today = customer.select(col("c_custkey"), col("c_nationkey"))
    MergeOps.diffMergeCarry(today, prev,
        keyPriority = Seq(("c_custkey", "p_cust"), ("c_nationkey", "p_nation")),
        carryCols = Seq("lat"))
      .orderBy("c_custkey")
  }

  /** A6 — resolveOneRow ladder (geocode.js:472-514): exact -> group
    * centroid -> global centroid; report by resolution level. */
  def fallbackResolve(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir)
    val facts = Tables.lineitem(spark, dir)
      .join(part.select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
    val known = part.filter(col("p_partkey") % 5 === 0)
      .select(col("p_partkey").as("k_partkey"), col("p_brand"), col("p_retailprice"))
    MergeOps.fallbackResolve(facts, known,
        factKey = "l_partkey", knownKey = "k_partkey",
        groupCol = "p_brand", valueCol = "p_retailprice")
      .groupBy(col("resolution"))
      .agg(count(lit(1)).as("n"), dsum(col("resolved")).as("sum_resolved"))
      .orderBy("resolution")
  }

  /** A7 — normalizePhone/domainOf (geocode-diff-merge.js:16-21). */
  def phoneDomainNorm(spark: SparkSession, dir: String): DataFrame = {
    val phone = concat(lit("(0"), (col("c_custkey") % 10).cast("string"),
      lit(") 555-"), col("c_custkey").cast("string"))
    val url = when(col("c_nationkey") % 3 === 0,
        concat(lit("https://www.example"), col("c_nationkey").cast("string"), lit(".org/page")))
      .when(col("c_nationkey") % 3 === 1,
        concat(lit("http://sub.test"), col("c_nationkey").cast("string"), lit(".net/a/b")))
      .otherwise(lit("not a url"))
    Tables.customer(spark, dir)
      .select(col("c_custkey"), phone.as("phone"), url.as("url"))
      .select(col("c_custkey"),
        Norm.phoneDigits(col("phone")).as("norm_phone"),
        Norm.urlDomain(col("url")).as("domain"))
      .orderBy("c_custkey")
  }

  /** A8 — normalizeTWAddress/trimToHouseNo (geocode.js:128-168). */
  def addrNormalize(spark: SparkSession, dir: String): DataFrame = {
    val raw = concat(
      (col("c_custkey") % 900 + 100).cast("string"), lit(" 台北市中山區中山北路"),
      (col("c_custkey") % 50 + 1).cast("string"), lit("巷"),
      (col("c_nationkey") % 9 + 1).cast("string"), lit("弄"),
      (col("c_custkey") % 200 + 1).cast("string"), lit("號"),
      (col("c_custkey") % 10 + 1).cast("string"), lit("樓 (備註)"))
    Tables.customer(spark, dir)
      .select(col("c_custkey"), raw.as("address_raw"))
      .withColumn("address_norm", Norm.normalizeAddress(col("address_raw")))
      .orderBy("c_custkey")
  }

  /** A9 — zh numerals -> Arabic in street tokens (geocode.js:102-125):
    * build 一..九十九 from the key, convert back, round-trip check. */
  def zhNumeralArabic(spark: SparkSession, dir: String): DataFrame = {
    val n = (col("c_custkey") % 99 + 1).cast("int")
    val digits = Seq("", "一", "二", "三", "四", "五", "六", "七", "八", "九")
    def digitZh(d: org.apache.spark.sql.Column) =
      (1 to 9).foldLeft(lit("")) { (acc, i) => when(d === i, digits(i)).otherwise(acc) }
    val tens = (n / 10).cast("int")
    val ones = n % 10
    val zh = concat(
      when(tens === 0, "").when(tens === 1, "十").otherwise(concat(digitZh(tens), lit("十"))),
      when(ones === 0, "").otherwise(digitZh(ones)))
    val street = concat(zh, lit("巷12號"))
    Tables.customer(spark, dir)
      .select(col("c_custkey"), street.as("street_zh"))
      .withColumn("street_arabic", Norm.zhStreetNumeralToArabic(col("street_zh")))
      .orderBy("c_custkey")
  }

  /** A10 — schema.clinic.json constraint gate as a violation report. */
  def validateConstraints(spark: SparkSession, dir: String): DataFrame =
    Validate.constraintReport(Tables.lineitem(spark, dir), Seq(
      "quantity_negative" -> (col("l_quantity") < 0),
      "discount_range"    -> (col("l_discount") < 0 || col("l_discount") > 1),
      "returnflag_enum"   -> !col("l_returnflag").isin("A", "N", "R"),
      "shipdate_null"     -> col("l_shipdate").isNull,
      "quantity_over_40"  -> (col("l_quantity") > 40)))

  /** Clinic-schema subset driving the schema-compiled validation demo —
    * the flat fields of schema.clinic.json's Clinic definition plus an
    * enum, as one literal document. */
  val clinicSchemaJson: String =
    """{
      |  "type": "object",
      |  "required": ["county", "org_name", "address", "in_4_weeks", "has_quota"],
      |  "properties": {
      |    "county":     { "type": "string" },
      |    "org_name":   { "type": ["string", "null"] },
      |    "address":    { "type": ["string", "null"] },
      |    "this_week":  { "type": "integer", "minimum": 0 },
      |    "in_4_weeks": { "type": "integer", "minimum": 0 },
      |    "has_quota":  { "type": "boolean" },
      |    "lat":        { "type": ["number", "null"] },
      |    "source":     { "type": ["string", "null"],
      |                    "enum": ["opencage", "nominatim", "centroid", null] }
      |  },
      |  "additionalProperties": false
      |}""".stripMargin

  /** A10b — the ajv gate driven by the schema document itself:
    * SchemaRules compiles schema.clinic.json-shaped JSON into
    * constraintReport rules, so a schema change needs no code change. */
  def schemaValidate(spark: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val clinics = Tables.customer(spark, dir).select(
      when(k % 11 =!= 0, lit("臺北市")).as("county"),
      when(k % 23 =!= 0, concat(lit("org"), (k % 50).cast("string"))).as("org_name"),
      concat(lit("addr"), k.cast("string")).as("address"),
      (when(k % 17 === 0, -2).otherwise((k % 9).cast("int"))).cast("int").as("this_week"),
      when(k % 29 =!= 0,
        when(k % 13 === 0, -1).otherwise((k % 5).cast("int")).cast("int")).as("in_4_weeks"),
      (k % 2 === 0).as("has_quota"),
      when(k % 3 =!= 0, lit(23.5) + (k % 100).cast("double") * lit(0.01)).as("lat"),
      when(k % 19 === 0, lit("manual"))
        .when(k % 7 === 0, lit(null).cast("string"))
        .when(k % 3 === 0, lit("opencage")).when(k % 3 === 1, lit("nominatim"))
        .otherwise(lit("centroid")).as("source"))
    val mismatches = SchemaRules.validateTypes(clinicSchemaJson, clinics.schema)
    require(mismatches.isEmpty, s"schema/type mismatches: ${mismatches.mkString("; ")}")
    Validate.constraintReport(clinics, SchemaRules.compile(clinicSchemaJson))
  }

  /** A11 — check-total.js: declared vs actual counts per group. */
  def checkTotal(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("o_custkey"))
    val df = Tables.orders(spark, dir)
      .withColumn("declared_total",
        count(lit(1)).over(w) + when(col("o_custkey") % 7 === 0, 1L).otherwise(0L))
    Validate.checkTotals(df, "o_custkey", "declared_total")
  }

  /** A11b — check-total.js --fix: declared totals rewritten to the
    * recount, summarized by whether a fix was applied. */
  def checkTotalFix(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("o_custkey"))
    val df = Tables.orders(spark, dir)
      .withColumn("declared_total",
        count(lit(1)).over(w) + when(col("o_custkey") % 7 === 0, 1L).otherwise(0L))
    Validate.fixTotals(df, "o_custkey", "declared_total")
      .groupBy(col("was_fixed"))
      .agg(count(lit(1)).as("n_rows"), sum(col("declared_total")).as("sum_total"))
      .orderBy(col("was_fixed"))
  }

  /** C1 — exact text dedup via hash groupBy on documents. */
  def dedupExactDocs(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactByHash(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("text_hash")

  /** A16 — the reference's daily flow end-to-end as ONE composed plan:
    * anchor-parse + clean (cleanRows) -> first-wins dedup (uniqByKey) ->
    * yes/no merge (mergeYesNo) -> carry coordinates from the previous
    * snapshot by key priority (geocode-diff-merge) -> publish summary
    * by quota cohort (wrapped totals). Each stage is the operator
    * verified individually above; this proves the composition. */
  def refPipelineE2e(spark: SparkSession, dir: String): DataFrame = {
    val html = concat(lit("<a href='https://org.example/c/"),
      col("o_custkey").cast("string"), lit("'>Org &amp; "),
      col("o_orderstatus"), lit("</a>"))
    val cleaned = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice"),
      Html.anchorText(html).as("org_name"),
      Html.anchorHref(html).as("org_url"),
      (col("o_orderstatus") === "O").as("is_open"))
    val deduped = Dedup.firstPerKey(cleaned,
      Seq("o_custkey", "o_orderdate"), Seq(col("o_orderkey")))
    val merged = MergeOps.mergeMax(
        deduped.filter(col("is_open")), deduped.filter(!col("is_open")),
        Seq("o_custkey"), Seq("o_totalprice"), Seq("is_open"))
      .withColumn("has_quota", col("max_o_totalprice") > 250000.0)
    val prev = Tables.customer(spark, dir).filter(col("c_custkey") % 3 =!= 0)
      .select(col("c_custkey").as("p_cust"), col("c_nationkey").as("p_nation"),
        (col("c_custkey") * 1.5).as("lat"))
    val today = merged.join(
      Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey")),
      col("o_custkey") === col("c_custkey"))
    val carried = MergeOps.diffMergeCarry(
      today.select(col("o_custkey"), col("c_nationkey"), col("max_o_totalprice"),
        col("any_is_open"), col("has_quota")),
      prev, Seq(("o_custkey", "p_cust"), ("c_nationkey", "p_nation")), Seq("lat"))
    carried
      .groupBy(col("has_quota"), col("matched_by"))
      .agg(count(lit(1)).as("n_orgs"), dsum(col("max_o_totalprice")).as("sum_max_price"))
      .orderBy(col("has_quota").desc, col("matched_by"))
  }

  /** A15 — buildQueryCandidates (geocode.js:197-295): the full
    * candidate expansion ladder over synthesized TW addresses that
    * exercise every branch: postal prefixes, 台/臺 county forms,
    * missing county/district, neighborhood 里 tokens, 中文/Arabic 段,
    * lane/alley components, hyphen sub-numbers, >512-encoded-byte
    * roads (clampQuery drop), composite segments (；-truncated, 及/，
    * continuations), and org-name prefixing. */
  /** synthesized TW-address corpus shared by the geocode demos —
    * mirrored verbatim in OracleGen (raw/orgSql). */
  private def synthAddrCorpus(spark: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey"); val n = col("c_nationkey")
    val raw = concat(
      when(k % 3 === 0, lit("106 ")).otherwise(lit("")),
      when(k % 4 === 0, lit("台北市")).when(k % 4 === 1, lit("臺中市"))
        .when(k % 4 === 2, lit("高雄市")).otherwise(lit("")),
      when(n % 3 === 0, lit("大安區")).when(n % 3 === 1, lit("信義區"))
        .otherwise(lit("")),
      when(k % 5 === 0, lit("關東里")).otherwise(lit("")),
      when(k % 7 === 0, concat(repeat(lit("龍"), 125), lit("路")))
        .when(n % 2 === 0, lit("和平東路")).otherwise(lit("中山北路")),
      when(k % 6 === 1, lit("二段")).when(k % 6 === 2, lit("3段"))
        .otherwise(lit("")),
      when(k % 2 === 0, concat((k % 30 + 1).cast("string"), lit("巷")))
        .otherwise(lit("")),
      when(k % 4 === 0, concat((n % 9 + 1).cast("string"), lit("弄")))
        .otherwise(lit("")),
      (k % 150 + 1).cast("string"),
      when(k % 5 === 1, concat(lit("-"), (n % 4 + 1).cast("string")))
        .otherwise(lit("")),
      lit("號"),
      when(k % 9 === 0, lit(" (3樓備註)")).otherwise(lit("")),
      when(k % 8 === 1, concat(lit("及信義路"), (k % 99 + 1).cast("string"), lit("號")))
        .when(k % 8 === 2, lit("；轉介單位另記"))
        .when(k % 8 === 5, concat(lit("，中山北路"), (k % 88 + 1).cast("string"), lit("號")))
        .otherwise(lit("")))
    val orgName = when(k % 3 === 1, lit("仁心診所")).otherwise(lit(""))
    Tables.customer(spark, dir)
      .select(col("c_custkey"), raw.as("addr"), orgName.as("org"))
  }

  def geocodeCandidates(spark: SparkSession, dir: String): DataFrame =
    Geocode.expand(synthAddrCorpus(spark, dir),
        "c_custkey", "addr", orgCol = Some("org"))
      .orderBy("c_custkey", "rank")

  /** A15c — street-centroid fallback ladder over the same corpus
    * (buildStreetCentroidCandidates, geocode.js:398-425). */
  def geocodeStreetCentroid(spark: SparkSession, dir: String): DataFrame =
    // the street ladder is pure per-row compute; parallelism = input
    // splits. The demo table is one tiny parquet file (a single split),
    // which would serialize the regex work onto one core — spread it. A
    // real deployment's scan has thousands of splits; this repartition is
    // the small-file stand-in, not part of the operator. (Geocode.expand
    // repartitions its input itself.)
    Geocode.streetCentroidCandidates(
        synthAddrCorpus(spark, dir).repartition(spark.sparkContext.defaultParallelism),
        "c_custkey", "addr", orgCol = Some("org"))
      .orderBy("c_custkey", "try_order")

  /** A15d — the ordered provider chain under the DuckDB gate
    * (geocode.js:431,492: OpenCage primary, `--nominatim` backup
    * consulted only on primary miss). Two deterministic hash-formula
    * providers stand in for the external services — the chain treats
    * providers as black boxes, and a formula provider is one the SQL
    * oracle can mirror term for term — over the A15 candidate corpus.
    * The REAL [[Geocode.providerChain]] runs (mapPartitions stages,
    * per-provider budgets, localCheckpointed remainders): what the
    * oracle gates is its first-hit-wins remainder algebra — the
    * backup's rows are exactly the primary's misses. The external-I/O
    * half (retries, rate budgets) stays spec-gated in
    * GeoProviderChainSpec. */
  def geocodeProviderChain(spark: SparkSession, dir: String): DataFrame = {
    val cands = Geocode.expand(synthAddrCorpus(spark, dir),
        "c_custkey", "addr", orgCol = Some("org"))
      .select(col("candidate"))
    Geocode.providerChain(Seq(
        Geocode.HashProvider("opencage-sim", 10L, 6L, 21.0, 119.0),
        Geocode.HashProvider("nominatim-sim", 7L, 4L, 20.0, 118.0)))(cands)
      .orderBy("candidate")
  }

  /** A15b — post-resolve county validation + proximity ranking
    * (countyMatches / getExpectedCounty / resolveOneRow best-hit,
    * geocode.js:297-314, 471-515): three synthetic hits per row — the
    * address's own county, a wrong county, and the expected county in
    * the opposite 臺/台 spelling — ranked by validity then squared
    * centroid distance. */
  def geocodeValidate(spark: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val ctyAddr = when(k % 5 === 0, lit("台北市")).when(k % 5 === 1, lit("臺中市"))
      .when(k % 5 === 2, lit("高雄市")).when(k % 5 === 3, lit("新竹市"))
      .otherwise(lit(""))
    val rows = Tables.customer(spark, dir).select(k,
      concat(ctyAddr, lit("大安區中山北路"), (k % 150 + 1).cast("string"), lit("號")).as("addr"),
      when(k % 6 === 0, lit("臺南市")).otherwise(lit("")).as("county_field"))
    val alt = when(k % 6 === 0, lit("台南市安平區"))
      .when(k % 5 === 0, lit("台北市信義區")).when(k % 5 === 1, lit("台中市北區"))
      .when(k % 5 === 2, lit("高雄市左營區")).when(k % 5 === 3, lit("新竹市東區"))
      .otherwise(lit(""))
    val base = Tables.customer(spark, dir).select(k.as("hit_id"),
      (lit(22.0) + (k % 70).cast("double") * lit(0.1)).as("lat0"),
      (lit(118.0) + ((k * 7) % 50).cast("double") * lit(0.1)).as("lng0"),
      ctyAddr.as("cty0"), alt.as("alt"))
    val h0 = base.select(col("hit_id"), lit(0).as("seq"),
      concat(col("cty0"), lit("大安區中山北路")).as("formatted"),
      col("cty0").as("comp_city"), col("lat0").as("lat"), col("lng0").as("lng"))
    val h1 = base.select(col("hit_id"), lit(1).as("seq"),
      lit("基隆市中正區").as("formatted"), lit("基隆市").as("comp_city"),
      (col("lat0") + lit(0.3)).as("lat"), (col("lng0") - lit(0.2)).as("lng"))
    val h2 = base.select(col("hit_id"), lit(2).as("seq"),
      col("alt").as("formatted"), lit("").as("comp_city"),
      (col("lat0") - lit(0.4)).as("lat"), (col("lng0") + lit(0.25)).as("lng"))
    Geocode.validateAndRank(rows, "c_custkey", "addr", Some("county_field"),
        h0.unionByName(h1).unionByName(h2), "hit_id", "seq",
        Seq("comp_city"), "formatted", "lat", "lng")
      .orderBy("c_custkey")
  }

  /** A12 oracle demo — the wrapped publish object `{group, total,
    * rows}` (index.js:319-356) as a driver-checked query. rows sort
    * before serialization (collect_list order is partition-dependent)
    * and the array-of-structs serializes to JSON because the driver's
    * compare hashes scalar columns — both engines render the same
    * compact `[{"k":v},...]` form, so the whole nested object is
    * value-checked through a string. The file-writing half of A12
    * (partitioned CSV/JSON, snapshots, retention) stays spec-gated in
    * IoSpec. */
  def wrappedExport(spark: SparkSession, dir: String): DataFrame = {
    val wrapped = graft.io.WrappedExport.wrappedFrame(
      Tables.orders(spark, dir).select(col("o_orderpriority"), col("o_orderkey")),
      "o_orderpriority")
    wrapped.select(col("o_orderpriority"), col("total"),
        to_json(array_sort(col("rows"))).as("rows_json"))
      .orderBy("o_orderpriority")
  }

  /** A13 oracle demo — the paged-ingest loop end-to-end
    * (http_crawl.js:46-79): a paged API dump is synthesized from the
    * customer table (one JSON-array file per 200-row page, named
    * `page_N.json` like a fetcher fleet's output), then read back
    * through [[graft.sources.PagedIngest.readPages]] with an explicit
    * schema and filename page recovery. Pagination is deterministic
    * (page = (row_number − 1) / 200 over c_custkey order), so the
    * DuckDB oracle recomputes the expected result directly from the
    * table and the driver checks the whole write → glob scan →
    * `_page`-recovery loop. Fixture generation streams the page rows
    * through the driver one partition at a time (`toLocalIterator`,
    * never a whole-table collect) — that builds TEST INPUT (the
    * fetcher's role, out of band at scale), not part of the operator
    * under test, which is the distributed schema'd scan below. The
    * fixture dir is run-scoped ([[graft.util.Fixtures]]): unique per
    * run (no concurrent-run races, no stale-page leakage), written
    * once per (run, SF), swept by the janitor. */
  def pagedIngest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val pageSize = 200
    val pageDir = graft.util.Fixtures.dir(s"paged_${new java.io.File(dir).getName}")
    graft.util.Fixtures.buildOnce(pageDir) {
      // sorted range partitions stream back in global c_custkey order,
      // bounding driver memory to one partition of JSON strings
      Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy("c_custkey")
        .toJSON.toLocalIterator().asScala
        .grouped(pageSize).zipWithIndex.foreach { case (page, i) =>
          java.nio.file.Files.write(pageDir.resolve(s"page_$i.json"),
            page.mkString("[", ",", "]").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
    }
    val schema = StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_mktsegment", StringType)))
    graft.sources.PagedIngest.readPages(spark, pageDir.toString, schema)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"), col("_page"))
      .orderBy("c_custkey")
  }

  /** A12c — wrapped publish ROUND TRIP: orders written through the
    * `graft-wrapped` DataSource V2 sink (declared clustering, driver
    * commit, snapshot + pointer), read back via
    * [[graft.io.WrappedPublish.read]] (pointer → manifest → Spark's
    * multiLine JSON source → unwrap). The oracle recomputes every
    * column straight from the table, so the row gates the WHOLE
    * publish→resolve→parse chain — including double round-tripping
    * through JSON text (shortest-roundtrip serialization on the way
    * out, exact parse on the way back). */
  def wrappedRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.util.Fixtures.dir(s"wrapped_rt_${new java.io.File(dir).getName}")
    graft.util.Fixtures.buildOnce(out) {
      Tables.orders(spark, dir)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .write.format("graft-wrapped").option("groupCol", "o_orderpriority")
        .mode("overwrite").save(out.toString)
    }
    graft.io.WrappedPublish.read(spark, out.toString).orderBy("o_orderkey")
  }

  /** C69 — WARC ingest (the Common Crawl container) through the
    * `graft-warc` DataSource V2 format: the documents table lands as
    * 4 real .warc shards (distributed [[graft.sources.WarcIO]] write,
    * run-scoped fixture), then the registered format reads them back
    * with the `warc_type = 'resource'` predicate PUSHED INTO the
    * source — each shard's warcinfo head record is skipped at the
    * header, its payload bytes never materialize. The oracle
    * recomputes every surfaced column straight from the table, so the
    * row gates the whole envelope chain: header parse →
    * Content-Length framing (byte-exact, non-ASCII included) →
    * payload → UTF-8 round-trip. */
  /** the run-scoped WARC fixture shared by the C69 ingest row and the
    * C74 crawl e2e: the documents table landed as 4 real shards. */
  private[operators] def warcFixtureDir(spark: SparkSession, dir: String): String = {
    val docs = Tables.documents(spark, dir)
    val warcDir = graft.util.Fixtures.dir(s"warc_${new java.io.File(dir).getName}")
    graft.util.Fixtures.buildOnce(warcDir) {
      graft.sources.WarcIO.writeShards(
        docs.select(
          concat(lit("urn:graft:doc-"), col("doc_id").cast("string")).as("record_id"),
          concat(lit("https://graft.example/doc/"), col("doc_id").cast("string")).as("target_uri"),
          encode(col("text"), "UTF-8").as("payload")),
        warcDir.toString, nShards = 4)
    }
    warcDir.toString
  }

  def warcIngest(spark: SparkSession, dir: String): DataFrame = {
    val warcDir = warcFixtureDir(spark, dir)
    spark.read.format("graft-warc").load(warcDir)
      .filter(col("warc_type") === "resource") // pushed: warcinfo skipped at the header
      .select(col("record_id"), col("target_uri"), col("content_length"),
        col("payload").cast("string").as("text"))
      .withColumn("doc_id", regexp_extract(col("target_uri"), "(\\d+)$", 1).cast("long"))
      .orderBy("doc_id")
  }
}
