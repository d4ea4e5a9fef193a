package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Deterministic structural cost of a bench row: jobs / stages / tasks
  * and summed executor task time for ONE warm execution. Wall-clock on
  * a contended host is additive-noisy; the scheduler event counts are
  * exactly reproducible for a fixed plan, so a structural optimization
  * (an exchange removed, a per-round join dropped) shows up here even
  * when the wall numbers are drowned. `codegen_compiles` counts the
  * Janino compiles of the warm execution: 0 when every generated class
  * is still cached from the first one. `driver_cpu_sec` is the CPU
  * time of the calling thread during the warm execution: analysis,
  * optimization, planning and job submission — the cost a row pays per
  * query and per loop round, apart from its tasks. `stream_*` rows add
  * `state_store_passes`, [[graft.streaming.StreamTelemetry.maxStorePasses]]
  * of the warm execution: 1 when every stateful operator ran once per
  * trigger (4 for a stream-stream join's four stores).
  * `process_spawns` counts the child processes the JVM starts during
  * the warm execution (JFR `jdk.ProcessStart` events,
  * [[graft.util.ProcessSpawns]]), each command echoed to stderr: 0 when
  * no Hadoop shell call (`chmod`, `readlink`, `ls`) sits on the row's
  * file paths. Spark itself forks `rm -rf` for a session's artifact
  * directory when GC collects the session (every streaming query
  * clones one), so a `stream_*` row can read 1-2 on GC timing. Run:
  * `sbt "runMain graft.tools.JobCount <row> [row ...]"` with the usual
  * SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS env. One JSON line per row. */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local("job-count", cpus, cpus.toInt)
    val perJob = sys.env.get("SPARK_GRAFT_PER_STAGE").contains("1")
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
    val jobs = new java.util.concurrent.atomic.AtomicLong()
    val stages = new java.util.concurrent.atomic.AtomicLong()
    val tasks = new java.util.concurrent.atomic.AtomicLong()
    val taskMs = new java.util.concurrent.atomic.AtomicLong()
    val shufWrite = new java.util.concurrent.atomic.AtomicLong()
    val stageOf = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        if (perJob) {
          val (n, ms) = stageOf.getOrDefault(s.stageInfo.stageId, (0L, 0L))
          val rdds = s.stageInfo.rddInfos.map(r => r.name).distinct.mkString("|").take(140)
          Console.err.println(f"[stage] id=${s.stageInfo.stageId}%4d tasks=$n%4d cpu=${ms / 1e3}%7.2fs  rdds=$rdds")
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskMetrics != null) {
          taskMs.addAndGet(t.taskMetrics.executorRunTime)
          shufWrite.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
          stageOf.merge(t.stageId, (1L, t.taskMetrics.executorRunTime),
            (a, b) => (a._1 + b._1, a._2 + b._2))
        }
      }
    })
    args.foreach { name =>
      val fn = (graft.SparkEntry.queries ++ graft.SparkEntry.benchExtras)(name)
      fn(spark, sfDir).count() // warm pass: JIT + codegen + fixture staging
      graft.util.CacheRegistry.releaseAll()
      Thread.sleep(400) // listener bus drains asynchronously
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0); shufWrite.set(0)
      graft.streaming.StreamTelemetry.reset()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ((wall, driverCpu), spawns) = graft.util.ProcessSpawns.during {
        val cpu0 = threads.getCurrentThreadCpuTime
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        ((System.nanoTime() - t0) / 1e9, (threads.getCurrentThreadCpuTime - cpu0) / 1e9)
      }
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      spawns.foreach(c => Console.err.println(s"[job-count] $name started: $c"))
      graft.util.CacheRegistry.releaseAll()
      Thread.sleep(400) // listener bus drains asynchronously
      val passes =
        if (name.startsWith("stream_")) s""","state_store_passes":${graft.streaming.StreamTelemetry.maxStorePasses}"""
        else ""
      println(f"""{"row":"$name","jobs":${jobs.get},"stages":${stages.get},"tasks":${tasks.get},"task_sec":${taskMs.get / 1e3}%.2f,"shuffle_write_mb":${shufWrite.get / 1e6}%.2f,"wall_sec":$wall%.2f,"codegen_compiles":$compiles,"driver_cpu_sec":$driverCpu%.2f,"process_spawns":${spawns.size}$passes}""")
    }
    graft.util.Fixtures.sweep(spark)
    spark.stop()
  }
}
