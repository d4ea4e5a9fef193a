package graft.tools

import graft.streaming.StreamTelemetry

/** Streaming-tier scale smoke (r13 verdict task 6): the D rows had
  * never been measured above sf0.1. Replays the heavy parity rows at
  * the synthetic 3× point ([[graft.ScaleSmoke.synthesize]]'s perturbed
  * replication) and records BOTH wall time and the state-store
  * footprint (max total state rows / bytes across triggers, via the
  * engine's own StreamingQueryProgress) at each scale — the
  * bounded-state claim made per D row in SURVEY §2 becomes a measured
  * ratio: state rows must scale ~linearly with input (state is
  * per-key, keys scale with the corpus) and wall time sub-linearly
  * per unit (fixed trigger machinery amortizes).
  *
  * Run: `sbt "runMain graft.tools.StreamScale [srcDir] [outDir]"` —
  * one JSON line, landed in BENCH_SF03_STREAM.json. */
object StreamScale {
  def main(args: Array[String]): Unit = {
    val srcDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse(s"${graft.Bench.repoRoot}/target/scale-sf03")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SF1_FACTOR", "3").toInt
    val passes = sys.env.getOrElse("SPARK_GRAFT_SF1_PASSES", "2").toInt.max(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local("stream-scale", cpus, cpus.toInt)

    graft.ScaleSmoke.synthesize(spark, srcDir, outDir, factor)

    // State telemetry comes synchronously from each terminated query
    // via StreamTelemetry (recorded at the parity harness's
    // awaitTermination sites) — the r14 listener-bus read could miss
    // the final trigger and leak a previous sample's straggler into
    // the next sample's max.
    val rows = Seq("stream_dedup_state_parity", "stream_interval_join_parity",
      "stream_dedup_parity", "stream_topk_ngrams_parity")
    val registry = graft.SparkEntry.queries ++ graft.SparkEntry.benchExtras

    def measure(dir: String, name: String): (Double, Long, Long) = {
      val fn = registry(name)
      fn(spark, dir).count() // warmup (stages the fixture)
      graft.util.CacheRegistry.releaseAll()
      val samples = Seq.fill(passes) {
        StreamTelemetry.reset()
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        graft.util.CacheRegistry.releaseAll()
        (sec, StreamTelemetry.maxStateRows, StreamTelemetry.maxStateBytes)
      }
      (graft.Bench.median(samples.map(_._1)),
        samples.map(_._2).max, samples.map(_._3).max)
    }

    val qjson = rows.map { name =>
      Console.err.println(s"[stream-scale] $name @ base ...")
      val (t1, r1, b1) = measure(srcDir, name)
      Console.err.println(s"[stream-scale] $name @ ${factor}x ...")
      val (t3, r3, b3) = measure(outDir, name)
      graft.util.Fixtures.sweep(spark)
      val stateRatio = if (r1 > 0) f"${r3.toDouble / r1}%.2f" else "null"
      f""""$name":{"base_sec":$t1%.3f,"scaled_sec":$t3%.3f,"time_ratio":${t3 / t1}%.2f,""" +
        f""""base_state_rows":$r1,"scaled_state_rows":$r3,"state_rows_ratio":$stateRatio,""" +
        f""""base_state_bytes":$b1,"scaled_state_bytes":$b3}"""
    }.mkString("{", ",", "}")

    val json = s"""{"metric":"stream_scale_smoke","unit":"sec","factor":$factor,""" +
      s""""passes":$passes,"base":"$srcDir","synth":"$outDir","queries":$qjson}"""
    println(json)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${graft.Bench.repoRoot}/BENCH_SF03_STREAM.json"),
      json + "\n")
    catch { case e: Exception =>
      Console.err.println(s"[stream-scale] could not write artifact: ${e.getMessage}") }
    spark.stop()
  }
}
