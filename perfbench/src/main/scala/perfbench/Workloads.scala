package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator

import graft.functions.{Html, Norm, Text}
import graft.operators._
import graft.streaming.{EventStream, StreamTelemetry}

/** What one run shares with its workload: the session, the tracer, the
  * generated inputs, a scratch directory, and the layer-specific metrics
  * the last traced iteration collected. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val inputs: Path,
                val work: Path) {
  val stats = mutable.LinkedHashMap.empty[String, Double]
  /** time spent collecting layer-specific counts, subtracted from the
    * traced iteration's wall time */
  var statsNs = 0L
  /** per-trigger streaming progress, in ms: (iteration, triggerExecution,
    * addBatch, walCommit, commitOffsets, stateCommit) */
  val triggers = mutable.ArrayBuffer.empty[(Int, Double, Double, Double, Double, Double)]

  /** Layer-specific counts: run on traced iterations only, and outside
    * every layer span, so they add to no layer's numbers. */
  def measure(body: => Unit): Unit = if (tracer.traced) {
    val t0 = System.nanoTime()
    body
    statsNs += System.nanoTime() - t0
  }
  def stat(name: String, v: Double): Unit = stats(name) = v
  def inputDir(rel: String): String = inputs.resolve(rel).toString
}

/** One benchmark workload: an untimed `prepare`, an untimed `reset`
  * before every iteration, and the timed `iterate`, which goes from the
  * input files to output committed under `out`. `read` opens what an
  * iteration published, for the digest. */
trait Workload {
  def prepare(ctx: Ctx): Unit = ()
  def reset(ctx: Ctx, it: Int): Unit = ()
  def iterate(ctx: Ctx, it: Int, out: Path): Unit
  def read(spark: SparkSession, out: Path): DataFrame
}

object Workload {
  def apply(name: String): Workload = name match {
    case "roster_full"   => new Roster(daily = false)
    case "roster_daily"  => new Roster(daily = true)
    case "corpus_curate" => Corpus
    case "event_stream"  => Events
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally all.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val all = Files.walk(from)
    try all.iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst) else Files.copy(src, dst)
    } finally all.close()
  }

  /** (files, bytes) of the data files under `p`, ignoring checksums */
  def footprint(p: Path): (Long, Long) = {
    val all = Files.walk(p)
    try {
      val files = all.iterator().asScala.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
      }.toSeq
      (files.size.toLong, files.map(Files.size).sum)
    } finally all.close()
  }

  def countFiles(dir: String): Long = footprint(Paths.get(dir))._1
}

/** A geocode provider that counts its lookups and hits, delegating the
  * answer to graft's deterministic [[Geocode.HashProvider]]. */
final case class CountingProvider(inner: Geocode.HashProvider, calls: LongAccumulator,
                                  hits: LongAccumulator) extends Geocode.GeoProvider {
  def name: String = inner.name
  def minIntervalMs: Long = inner.minIntervalMs
  def lookup(q: String): Option[(Double, Double)] = {
    calls.add(1)
    val r = inner.lookup(q)
    if (r.isDefined) hits.add(1)
    r
  }
}

/** The daily clinic-roster job: paged ingest → anchor parse and clean →
  * first-wins dedup → yes/no merge → phone/domain diff-merge against
  * yesterday's publish → cached geocode ladder → schema validate →
  * per-county wrapped publish.
  *
  * `daily = false` is a cold-day refresh (no previous publish, empty
  * geocode cache: every row reaches the ladder and the providers).
  * `daily = true` runs day 1 against the publish and the warm cache an
  * untimed day 0 left behind; only the delta reaches the ladder. */
final class Roster(daily: Boolean) extends Workload {
  private val PageSchema = StructType(Seq(
    StructField("id", LongType), StructField("org", StringType),
    StructField("county", StringType), StructField("address", StringType),
    StructField("phone", StringType), StructField("website", StringType),
    StructField("this_week", StringType), StructField("in_4_weeks", StringType),
    StructField("open", StringType), StructField("note", StringType)))

  private val Fields = Seq("org_name", "org_url", "county", "address", "phone",
    "domain", "this_week", "in_4_weeks", "note")

  private val PublishSchema: String =
    """{
      |  "type": "object",
      |  "required": ["id", "county", "org_name", "address", "has_quota", "is_open"],
      |  "properties": {
      |    "id":         { "type": "integer", "minimum": 0 },
      |    "org_name":   { "type": "string", "minLength": 1 },
      |    "org_url":    { "type": ["string", "null"], "pattern": "^https://" },
      |    "county":     { "type": "string", "enum": ["臺北市", "臺中市", "臺南市", "高雄市", "新北市", "桃園市"] },
      |    "address":    { "type": "string", "pattern": "號$" },
      |    "phone":      { "type": "string", "minLength": 9 },
      |    "domain":     { "type": ["string", "null"] },
      |    "this_week":  { "type": ["integer", "null"], "minimum": 0 },
      |    "in_4_weeks": { "type": "integer", "minimum": 0 },
      |    "note":       { "type": ["string", "null"] },
      |    "has_quota":  { "type": "boolean" },
      |    "is_open":    { "type": "boolean" },
      |    "lat":        { "type": ["number", "null"], "minimum": 20, "maximum": 26 },
      |    "lng":        { "type": ["number", "null"], "minimum": 118, "maximum": 126 },
      |    "source":     { "type": ["string", "null"], "enum": ["cache", "fresh", "carried", null] }
      |  },
      |  "additionalProperties": false
      |}""".stripMargin

  private val PublishPayload = StructType(Seq(
    StructField("id", LongType), StructField("org_name", StringType),
    StructField("org_url", StringType), StructField("address", StringType),
    StructField("phone", StringType), StructField("domain", StringType),
    StructField("this_week", LongType), StructField("in_4_weeks", LongType),
    StructField("note", StringType), StructField("has_quota", BooleanType),
    StructField("is_open", BooleanType), StructField("lat", DoubleType),
    StructField("lng", DoubleType), StructField("source", StringType)))

  private def day0(ctx: Ctx) = ctx.work.resolve("day0")

  override def prepare(ctx: Ctx): Unit =
    if (daily && !Files.exists(day0(ctx).resolve("_READY"))) {
      // day 0: yesterday's publish and the warm cache, never timed
      run(ctx, "day0", day0(ctx).resolve("cache"), day0(ctx).resolve("publish"),
        prev = None, batchId = 0L)
      Files.createFile(day0(ctx).resolve("_READY"))
      graft.util.CacheRegistry.releaseAll()
    }

  private def cacheDir(ctx: Ctx, it: Int) = ctx.work.resolve(s"cache_it$it")

  override def reset(ctx: Ctx, it: Int): Unit = {
    Workload.deleteTree(cacheDir(ctx, it))
    // day 1 always starts from the day-0 cache snapshot, so the upsert of
    // batch 1 really writes (an existing snapshot 1 would only re-point)
    if (daily) Workload.copyTree(day0(ctx).resolve("cache"), cacheDir(ctx, it))
  }

  def iterate(ctx: Ctx, it: Int, out: Path): Unit = {
    val prev = if (daily) Some(day0(ctx).resolve("publish")) else None
    run(ctx, if (daily) "day1" else "day0", cacheDir(ctx, it), out, prev,
      batchId = if (daily) 1L else 0L)
    Workload.deleteTree(cacheDir(ctx, it))
  }

  def read(spark: SparkSession, out: Path): DataFrame =
    graft.io.WrappedPublish.read(spark, out.toString, payloadSchema = Some(PublishPayload))

  private def clean(df: DataFrame): DataFrame = df.select(
    col("id"),
    Html.anchorText(col("org")).as("org_name"),
    Norm.canonicalizeUrl(Html.anchorHref(col("org"))).as("org_url"),
    Norm.foldTai(col("county")).as("county"),
    Norm.normalizeAddress(col("address")).as("address"),
    Norm.phoneDigits(col("phone")).as("phone"),
    Norm.urlDomain(col("website")).as("domain"),
    Norm.safeLong(Html.sentinelToNull(col("this_week"), "無")).as("this_week"),
    Norm.safeLong(col("in_4_weeks")).as("in_4_weeks"),
    (col("open") === "是").as("is_open"),
    Html.sentinelToNull(col("note"), "無").as("note"),
    col("_page"))

  private def run(ctx: Ctx, day: String, cache: Path, out: Path, prev: Option[Path],
                  batchId: Long): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val sc = spark.sparkContext
    val pages = Seq("yes", "no").map(s => ctx.inputDir(s"roster/$day/$s"))
    val Seq(yesRaw, noRaw) = pages.map(p => t.frame("sources") {
      graft.sources.PagedIngest.readPages(spark, p, PageSchema)
    })
    ctx.measure {
      ctx.stat("sources.rows_in", (yesRaw.count() + noRaw.count()).toDouble)
      ctx.stat("sources.files_in", pages.map(Workload.countFiles).sum.toDouble)
    }
    val (yesC, noC) = (t.frame("functions")(clean(yesRaw)), t.frame("functions")(clean(noRaw)))
    // first-wins: page order, then every column, so ties are identical rows
    val order = col("_page") +: (Fields :+ "is_open").map(col)
    val (yes, no) = (
      t.frame("operators.Dedup")(Dedup.firstPerKey(yesC, Seq("id"), order)),
      t.frame("operators.Dedup")(Dedup.firstPerKey(noC, Seq("id"), order)))
    ctx.measure(ctx.stat("operators.Dedup.keep_frac",
        (yes.count() + no.count()).toDouble / (yesC.count() + noC.count())))

    val prevFrame = prev match {
      case Some(p) => read(spark, p).select(col("phone").as("p_phone"),
        col("domain").as("p_domain"), col("lat"), col("lng"), col("address").as("p_address"))
      case None => spark.createDataFrame(sc.emptyRDD[org.apache.spark.sql.Row], StructType(Seq(
        StructField("p_phone", StringType), StructField("p_domain", StringType),
        StructField("lat", DoubleType), StructField("lng", DoubleType),
        StructField("p_address", StringType))))
    }
    // The reference pipeline is a chain of scripts that hand files to each
    // other: the diff-merge writes the merged roster the geocoder reads,
    // and the geocoder writes the roster that validation and publishing
    // read. Those two hand-offs are the roster's staged boundaries.
    val carried = t.stage(t.frame("operators.MergeOps") {
      val merged = MergeOps.mergeMax(
          yes.drop("_page").withColumn("has_quota", lit(true)),
          no.drop("_page").withColumn("has_quota", lit(false)),
          Seq("id"), Fields, Seq("has_quota", "is_open"))
        .select(col("id") +: Fields.map(f => col(s"max_$f").as(f)) :+
          col("any_has_quota").as("has_quota") :+ col("any_is_open").as("is_open"): _*)
      MergeOps.diffMergeCarry(merged, prevFrame,
          Seq("phone" -> "p_phone", "domain" -> "p_domain"), Seq("lat", "lng", "p_address"))
        .withColumn("_reach", col("matched_by").isNull || !(col("p_address") <=> col("address")))
    })
    ctx.measure {
      val n = carried.count().toDouble
      ctx.stat("operators.MergeOps.match_phone_frac",
        carried.filter(col("matched_by") === "phone").count() / n)
      ctx.stat("operators.MergeOps.match_domain_frac",
        carried.filter(col("matched_by") === "domain").count() / n)
    }

    val base = (col("id") +: Fields.map(col)) :+ col("has_quota") :+ col("is_open")
    val calls = sc.longAccumulator("provider_calls")
    val hits = sc.longAccumulator("provider_hits")
    val providers = Seq(
      CountingProvider(Geocode.HashProvider("opencage-sim", 10L, 6L, 21.0, 119.0), calls, hits),
      CountingProvider(Geocode.HashProvider("nominatim-sim", 7L, 4L, 22.0, 120.0), calls, hits))
    val roster = t.stage(t.frame("operators.Geocode") {
      val delta = carried.filter(col("_reach"))
      val geo = Geocode.dailyGeocode(delta.select(col("id"), col("address")), "id", "address",
        cache.toString, batchId)(Geocode.providerChain(providers))
      carried.filter(!col("_reach"))
        .select(base ++ Seq(col("lat"), col("lng"),
          when(col("lat").isNotNull, lit("carried")).as("source")): _*)
        .unionByName(delta.select(base: _*)
          .join(geo.select(col("id"), col("lat"), col("lng"), col("source")), Seq("id"), "left"))
    })
    ctx.measure {
      val reach = carried.filter(col("_reach"))
      val nReach = reach.count().toDouble
      val expanded = Geocode.expand(reach.select(col("id"), col("address")), "id", "address").count()
      ctx.stat("operators.Geocode.candidates_per_row", if (nReach > 0) expanded / nReach else 0.0)
      ctx.stat("operators.Geocode.cache_hit_frac",
        if (nReach > 0) roster.filter(col("source") === "cache").count() / nReach else 0.0)
      ctx.stat("operators.Geocode.provider_calls", calls.value.toDouble)
      ctx.stat("operators.Geocode.provider_hit_frac",
        if (calls.value > 0) hits.value.toDouble / calls.value else 0.0)
      ctx.stat("operators.Geocode.reach_frac", nReach / carried.count())
    }
    val violations = t.layer("operators.Validate") {
      val bad = SchemaRules.validateTypes(PublishSchema, roster.schema)
      require(bad.isEmpty, s"publish schema mismatch: ${bad.mkString("; ")}")
      Validate.constraintReport(roster, SchemaRules.compile(PublishSchema))
        .agg(sum(col("violations"))).head().getLong(0)
    }
    ctx.stat("operators.Validate.violations", violations.toDouble)
    t.layer("io") {
      roster.write.format("graft-wrapped").option("groupCol", "county")
        .mode("overwrite").save(out.toString)
    }
  }
}

/** Training-data curation over a web corpus landed as WARC shards:
  * ingest → language/length/quality gates → boilerplate-chunk, exact and
  * MinHash-LSH near-duplicate removal → eval-set contamination check →
  * kNN-graph PageRank centrality gate → hash train/val split → sequence
  * packing → sorted parquet layout. */
object Corpus extends Workload {
  private val EmbSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("source", StringType), StructField("embedding", ArrayType(DoubleType))))
  private val BenchSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))

  def read(spark: SparkSession, out: Path): DataFrame = spark.read.parquet(out.toString)

  def iterate(ctx: Ctx, it: Int, out: Path): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val warc = ctx.inputDir("corpus/warc")
    val docs = t.frame("sources") {
      spark.read.format("graft-warc").load(warc)
        .filter(col("warc_type") === "resource")
        .select(regexp_extract(col("target_uri"), "(\\d+)$", 1).cast("long").as("doc_id"),
          col("payload").cast("string").as("text"))
    }
    val emb = t.frame("sources")(spark.read.schema(EmbSchema).json(ctx.inputDir("corpus/emb")))
    val bench = t.frame("sources")(spark.read.schema(BenchSchema).json(ctx.inputDir("corpus/bench")))
    ctx.measure {
      ctx.stat("sources.rows_in", (docs.count() + emb.count() + bench.count()).toDouble)
      ctx.stat("sources.files_in", Seq("warc", "emb", "bench")
        .map(d => Workload.countFiles(ctx.inputDir(s"corpus/$d"))).sum.toDouble)
    }
    // Staged as a curation job stages its filtered shards: otherwise each
    // of dedup's actions parses the WARC shards and runs the language and
    // quality kernels again.
    val gated = t.stage(t.frame("functions") {
      val (lang, _) = Text.langId(col("text"))
      docs.withColumn("n_tokens", Text.tokenCount(col("text")))
        .filter(lang === "en" && col("n_tokens").between(20, 400) &&
          Text.qualityScore(col("text")) >= 0.3)
    })
    var lsh: (DataFrame, DataFrame) = null
    // The curation job stages its deduplicated corpus. Without this one
    // cut, Spark's analyzer takes minutes on the joins downstream, whose
    // plans repeat the whole dedup lineage (NOTES.md: a defect of graft's
    // lazy composition, not of this benchmark).
    val kept = t.stage(t.frame("operators.Dedup") {
      val chunked = Dedup.chunkDedup(gated, "doc_id", "text", chunkTokens = 10, maxDocs = 8)
        .filter(col("n_chunks_kept") > 0)
        .select(col("doc_id"), col("clean_text").as("text"))
      val exact = Dedup.exactByHash(chunked, "doc_id", "text").select(col("keep_id").as("doc_id"))
      val uniq = graft.util.CacheRegistry.register(chunked.join(exact, Seq("doc_id"))
        .withColumn("n_tokens", Text.tokenCount(col("text"))).persist())
      val pairs = Dedup.minhashLsh(uniq, "doc_id", "text", shingleN = 3, k = 32, bands = 8,
        minEstSim = 0.5)
      val clusters = Dedup.connectedComponents(uniq.select(col("doc_id")), pairs, "doc_id")
      val canon = Dedup.canonicalPerCluster(clusters, uniq.select(col("doc_id"), col("n_tokens")),
          "doc_id", "n_tokens").filter(col("is_canonical")).select(col("doc_id"))
      val clean = Dedup.contaminationCheck(uniq, bench, "doc_id", "text", shingleN = 8,
          flagThreshold = 0.2).filter(!col("flagged")).select(col("doc_id"))
      lsh = (uniq, pairs)
      uniq.join(canon, Seq("doc_id")).join(clean, Seq("doc_id"))
        .select(col("doc_id"), col("n_tokens"))
    })
    ctx.measure {
      val cand = Dedup.minhashBandedSignatures(lsh._1, "doc_id", "text", 3, 32, 8)
      val a = cand.select(col("band"), col("key"), col("doc_id").as("a"))
      val b = cand.select(col("band"), col("key"), col("doc_id").as("b"))
      val nCand = a.join(b, Seq("band", "key")).filter(col("a") < col("b"))
        .select(col("a"), col("b")).distinct().count().toDouble
      ctx.stat("operators.Dedup.lsh_candidate_pairs", nCand)
      ctx.stat("operators.Dedup.lsh_pair_yield", if (nCand > 0) lsh._2.count() / nCand else 0.0)
    }
    ctx.measure(ctx.stat("operators.Dedup.keep_frac", kept.count().toDouble / gated.count()))
    var knn: DataFrame = null
    val central = t.frame("operators.Similarity") {
      // read by the kNN graph, the PageRank node set and the source gate
      val vecs = graft.util.CacheRegistry.register(emb.join(kept.select(col("doc_id")), Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("embedding").cast("array<float>").as("embedding"))
        .persist())
      knn = Similarity.knnGraph(vecs, "doc_id", "embedding", k = 5, nPlanes = 8, dim = 64)
      val mut = graft.util.CacheRegistry.register(
        Similarity.mutualKnnEdges(knn).select(col("id_a"), col("id_b")).persist())
      val directed = mut.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionAll(mut.select(col("id_b").as("src"), col("id_a").as("dst")))
      val pr = Graph.pageRank(vecs.select(col("doc_id")), directed, "doc_id", iters = 6)
        .select(col("id").as("doc_id"), col("rank_e15").cast("double").as("centrality"))
      Sampling.sourceQuantileFilter(vecs.select(col("doc_id"), col("source")).join(pr, Seq("doc_id")),
        "doc_id", "centrality", "source", q = 0.2).select(col("doc_id"))
    }
    ctx.measure(ctx.stat("operators.Similarity.knn_edges", knn.count().toDouble))
    val packed = t.frame("operators.Packing") {
      val split = Sampling.hashSplit(kept.join(central, Seq("doc_id")), "doc_id",
        Seq("train" -> 90, "val" -> 10))
      val byShard = org.apache.spark.sql.expressions.Window
        .partitionBy(col("split"), col("shard")).orderBy(col("k"), col("doc_id"))
      val epoch = split.withColumn("k", xxhash64(col("doc_id"), lit(7L)))
        .withColumn("shard", pmod(col("k"), lit(4L)))
        .withColumn("pos", row_number().over(byShard).cast("long"))
      Packing.sequencePack(epoch.withColumn("pack_key", concat_ws("/", col("split"), col("shard").cast("string"))),
        "pack_key", "pos", "n_tokens", capacity = 2048, carryCols = Seq("doc_id", "split", "shard"))
    }
    t.layer("io") {
      graft.io.Layout.writeSorted(packed, Seq("split", "shard", "pos"), nFiles = 4, out.toString)
    }
  }
}

/** The event-stream drain: staged event files read one per trigger with
  * `Trigger.AvailableNow`, deduplicated within the watermark (stateful),
  * then each micro-batch aggregated into hourly windows and upserted into
  * a snapshot sink keyed by (window, type, batch). Each iteration starts
  * a fresh query with fresh checkpoint and sink directories over the same
  * backlog.
  *
  * `windowAgg` runs per micro-batch rather than as a second streaming
  * operator: it and `dedupWithinWatermark` each define a watermark on
  * `ts`, and Spark refuses a query that redefines one ("Redefining
  * watermark is disallowed"). The published totals per (window, type)
  * are the sum over batches. */
object Events extends Workload {
  private val Schema = StructType(Seq(StructField("event_id", LongType),
    StructField("ts_ms", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType)))
  private val Keys = Seq("window_start", "event_type", "batch_id")

  def read(spark: SparkSession, out: Path): DataFrame =
    EventStream.readLatestState(spark, out.toString)
      .groupBy(col("window_start"), col("event_type"))
      .agg(sum(col("n_events")).as("n_events"), sum(col("sum_value")).as("sum_value"))

  def iterate(ctx: Ctx, it: Int, out: Path): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val dir = ctx.inputDir("events")
    val src = t.layer("sources") {
      spark.readStream.schema(Schema).option("maxFilesPerTrigger", 1L).json(dir)
        .withColumn("ts", timestamp_millis(col("ts_ms")))
    }
    ctx.measure {
      ctx.stat("sources.rows_in", spark.read.schema(Schema).json(dir).count().toDouble)
      ctx.stat("sources.files_in", Workload.countFiles(dir).toDouble)
    }
    val ckpt = ctx.work.resolve(s"ckpt_it$it")
    val sink = (batch: DataFrame, batchId: Long) =>
      EventStream.upsertBatch(out.toString, Keys, retainSnapshots = 2)(
        EventStream.windowAgg(batch).withColumn("batch_id", lit(batchId)), batchId)
    val q = t.layer("streaming") {
      val q = EventStream.dedupWithinWatermark(src, "event_id")
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      t.adoptStreamGroup(q.runId.toString)
      q.awaitTermination()
      q
    }
    Workload.deleteTree(ckpt)
    StreamTelemetry.record(q)
    q.recentProgress.foreach { p =>
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      ctx.triggers += ((it, d("triggerExecution"), d("addBatch"), d("walCommit"),
        d("commitOffsets"), p.stateOperators.map(_.commitTimeMs).sum.toDouble))
    }
  }
}
