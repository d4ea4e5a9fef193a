package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.GraftSession

/** One benchmark process: one SparkSession at `local[N]`, one workload.
  *
  * Set-up is process start until the session is ready plus one cold
  * iteration. Warm iterations then run back to back (a closed loop: the
  * next starts once the previous one has published) for `--seconds`;
  * with `--trace 1`, untraced ones for the first half and traced ones for
  * the second. After the timed region every iteration's published output
  * is read back and digested. The results land as one JSON object in
  * `--result`. */
object Main {
  val Layers: Seq[String] = Seq("GraftSession", "sources", "functions", "operators.Dedup",
    "operators.MergeOps", "operators.Geocode", "operators.Validate", "operators.Similarity",
    "operators.Packing", "io", "streaming")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a("cores").toInt
    val result = Paths.get(a("result"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val s0 = System.nanoTime()
    val spark = GraftSession.local("perfbench", cores.toString, cores)
    val sessionNs = System.nanoTime() - s0
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val out = mutable.LinkedHashMap.empty[String, Any]
    try {
      out ++= run(spark, a, cores, sessionS, sessionNs)
    } finally {
      writeJson(result, out)
      spark.stop()
    }
  }

  /** Writes `v` (maps, sequences, numbers, strings) as JSON, through a
    * temporary file, so a reader never sees half an object. */
  def writeJson(path: Path, v: Any): Unit = {
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.write(tmp, Serialization.write(v.asInstanceOf[AnyRef])(DefaultFormats).getBytes("UTF-8"))
    Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** linear-interpolated quantile, the `statistics` "inclusive" method */
  private def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Order-independent digest of a published output: the row count and
    * the sum of xxhash64 over all columns (name order). Doubles are
    * rounded to 6 places first: a floating sum may differ in its last
    * bits with the order partial sums combine in. */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name).cast("double"), 6)
        case _ => col(f.name)
      }
    }
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), s"${r.getLong(0)}:${r.getDecimal(1).toPlainString}")
  }

  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def run(spark: SparkSession, a: Map[String, String], cores: Int,
                  sessionS: Double, sessionNs: Long): Map[String, Any] = {
    val sc = spark.sparkContext
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    val counters = new Counters
    sc.addSparkListener(counters)
    val trace = a("trace") == "1"
    val work = Paths.get(a("work"))
    val tracer0 = new Tracer(sc, traced = false, counters)
    val tracer1 = new Tracer(sc, traced = true, counters)
    val w = Workload(a("workload"))
    val plain = new Ctx(spark, tracer0, Paths.get(a("inputs")), work)
    val traced = new Ctx(spark, tracer1, Paths.get(a("inputs")), work)
    w.prepare(plain)
    val outDir = (i: Int) => work.resolve(s"out_it$i")
    val failedIts = mutable.ArrayBuffer.empty[Int]
    // what a run that is stopped at its deadline can still report
    val progressFile = Paths.get(a("progress"))
    val samples = mutable.ArrayBuffer.empty[(Int, Double)]
    def progress(attempted: Int, running: Boolean): Unit = writeJson(progressFile, Map(
      "session_s" -> sessionS, "samples" -> samples.map(s => Map("it" -> s._1, "s" -> s._2)),
      "trigger_ms" -> plain.triggers.filter(_._1 > 0).map(_._2), "attempted" -> attempted,
      "running_since_ms" -> (if (running) System.currentTimeMillis() else 0L)))

    def once(ctx: Ctx, i: Int): Option[Double] = {
      progress(i + 1, running = true)
      w.reset(ctx, i)
      Workload.deleteTree(outDir(i))
      ctx.tracer.startIteration(i)
      val s0 = ctx.statsNs
      val t0 = System.nanoTime()
      try {
        w.iterate(ctx, i, outDir(i))
        val t = (System.nanoTime() - t0 - (ctx.statsNs - s0)) / 1e9
        samples += (i -> t)
        Some(t)
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] iteration $i failed: $e")
          e.printStackTrace()
          failedIts += i
          None
      } finally {
        // every iteration starts from the same state: no cached tables and
        // no checkpointed blocks left from the last one. graft releases
        // its tables without waiting; the benchmark then drops every
        // persisted RDD and waits until its blocks are gone.
        graft.util.CacheRegistry.releaseAll()
        spark.catalog.clearCache()
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        System.gc()
        progress(i + 1, running = false)
      }
    }

    val cold = once(plain, 0).getOrElse(Double.NaN)
    val base = mutable.LinkedHashMap[String, Any](
      "session_s" -> sessionS, "cold_s" -> cold, "setup_s" -> (sessionS + cold),
      "jvm" -> System.getProperty("java.version"), "spark" -> spark.version,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0, "cores" -> cores)

    val seconds = a("seconds").toDouble
    val minWarm = a.getOrElse("min-warm", "1").toInt
    var next = 1
    def phase(ctx: Ctx, secs: Double): Seq[(Int, Double)] = {
      val from = samples.size
      val start = System.nanoTime()
      var n = 0
      while ((System.nanoTime() - start) / 1e9 < secs || n < minWarm) {
        once(ctx, next)
        next += 1; n += 1
      }
      samples.drop(from).toSeq
    }
    // traced: the untraced iterations first, then the traced ones
    val warm = phase(plain, if (trace) seconds / 2 else seconds)
    val tracedIts = if (trace) phase(traced, seconds / 2) else Nil

    // correctness: every iteration's published output must carry the
    // cold iteration's digest and, where the generator knows it, its
    // row count (-1: unknown)
    org.apache.spark.BenchBus.settle(sc)
    sc.setJobGroup("digest", "digest")
    val truthRows = a("truth-rows").toLong
    val (coldRows, coldDigest) =
      if (failedIts.contains(0)) (-1L, "failed") else digest(w.read(spark, outDir(0)))
    val all = 0 until next
    var bad = 0
    all.foreach { i =>
      val ok = !failedIts.contains(i) && {
        val (rows, d) = if (i == 0) (coldRows, coldDigest) else digest(w.read(spark, outDir(i)))
        if ((truthRows >= 0 && rows != truthRows) || d != coldDigest)
          System.err.println(s"[perfbench] iteration $i digest $d rows $rows, " +
            s"expected $coldDigest rows $truthRows")
        (truthRows < 0 || rows == truthRows) && d == coldDigest
      }
      if (!ok) bad += 1
    }
    val (ioFiles, ioBytes) = Workload.footprint(outDir(all.last))
    all.foreach(i => Workload.deleteTree(outDir(i)))

    // a stream's trigger is one micro-batch; a batch job's is one iteration
    val warmIds = warm.map(_._1).toSet
    val triggerMs =
      if (plain.triggers.nonEmpty) plain.triggers.filter(t => warmIds(t._1)).map(_._2).toSeq
      else warm.map(_._2 * 1000.0)
    val runS = median(warm.map(_._2))
    val res = base ++ Map(
      "run_s" -> runS, "run_samples" -> warm.size, "run_s_all" -> warm.map(_._2),
      "trigger_ms_p50" -> quantile(triggerMs, 0.5), "trigger_ms_p90" -> quantile(triggerMs, 0.9),
      "trigger_samples" -> triggerMs.size,
      "peak_rss_mb" -> vmHwmMb(), "attempted" -> all.size, "failed" -> bad,
      "digest" -> coldDigest, "rows" -> coldRows)
    // structural counts of the cold and the warm untraced iterations: for
    // a fixed plan they should repeat exactly from one warm iteration to
    // the next (NOTES.md says how far they do)
    res("iteration_counts") = (0 +: warm.map(_._1)).map { i =>
      val t = counters.sum(g => g == s"it$i")
      Map("it" -> i, "jobs" -> t.jobs, "tasks" -> t.tasks,
        "shuffle_write_bytes" -> t.shuffleWriteBytes, "shuffle_read_bytes" -> t.shuffleReadBytes)
    }
    if (trace) {
      val ids = tracedIts.map(_._1)
      val layer = mutable.LinkedHashMap.empty[String, Double]
      def per(f: Int => Double): Double = median(ids.map(f))
      Layers.foreach { l =>
        def tally(i: Int) = counters.sum(g => g == tracer1.group(i, l))
        val (wall, self) = if (l == "GraftSession") (sessionNs / 1e9, sessionNs / 1e9)
          else (per(i => tracer1.wallSelf(i, l)._1), per(i => tracer1.wallSelf(i, l)._2))
        layer(s"$l.wall_s") = wall
        layer(s"$l.self_s") = self
        layer(s"$l.task_cpu_s") = per(i => tally(i).cpuNs / 1e9)
        layer(s"$l.core_idle_frac") = per { i =>
          val ws = tracer1.wallSelf(i, l)._1
          if (ws > 0) 1.0 - tally(i).cpuNs / 1e9 / (ws * cores) else 0.0
        }
        layer(s"$l.jobs") = per(i => tally(i).jobs.toDouble)
        layer(s"$l.tasks") = per(i => tally(i).tasks.toDouble)
        layer(s"$l.shuffle_write_bytes") = per(i => tally(i).shuffleWriteBytes.toDouble)
        layer(s"$l.spill_bytes") = per(i => tally(i).spillBytes.toDouble)
        layer(s"$l.gc_s") = per(i => tally(i).gcMs / 1e3)
        layer(s"$l.shuffle_read_bytes") = per(i => tally(i).shuffleReadBytes.toDouble)
        layer(s"$l.peak_exec_mem_bytes") = per(i => tally(i).peakExecMem.toDouble)
      }
      layer ++= traced.stats
      layer("io.bytes_written") = ioBytes.toDouble
      layer("io.files_written") = ioFiles.toDouble
      layer("io.bytes_per_row") = if (coldRows > 0) ioBytes.toDouble / coldRows else 0.0
      val trig = traced.triggers.filter(t => ids.contains(t._1))
      if (trig.nonEmpty) {
        layer("streaming.trigger_ms") = median(trig.map(_._2).toSeq)
        layer("streaming.add_batch_ms") = median(trig.map(_._3).toSeq)
        layer("streaming.wal_commit_ms") = median(trig.map(_._4).toSeq)
        layer("streaming.commit_offsets_ms") = median(trig.map(_._5).toSeq)
        layer("streaming.state_commit_ms") = median(trig.map(_._6).toSeq)
        layer("streaming.state_rows_max") = graft.streaming.StreamTelemetry.maxStateRows.toDouble
        layer("streaming.state_bytes_max") = graft.streaming.StreamTelemetry.maxStateBytes.toDouble
      }
      val tracedRun = median(tracedIts.map(_._2))
      layer("trace.run_s") = tracedRun
      layer("trace.overhead_s") = tracedRun - runS
      layer("trace.samples") = ids.size.toDouble
      res("layers") = layer
      tracer1.writeJsonl(Paths.get(a("spans")))
    }
    res.toMap
  }
}
