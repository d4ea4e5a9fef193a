package graft.tools

/** Dump `.explain("formatted")` for named bench rows into files —
  * feeds the committed `plans/r<N>/<row>_{before,after}.txt` evidence
  * the optimization rounds require. Run:
  * `sbt "runMain graft.tools.PlanDump <outDir> <suffix> <row> [row ...]"`
  * with the usual SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS env; writes
  * `<outDir>/<row>_<suffix>.txt` per row. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val rows = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local("plan-dump", cpus, cpus.toInt)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val registry = graft.SparkEntry.queries ++ graft.SparkEntry.benchExtras ++
      graft.ScaleSmoke.SmokeExtras
    rows.foreach { name =>
      val df = registry(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        s"// $name @ $sfDir (pre-execution plan)\n" + txt)
      Console.err.println(s"[plan-dump] wrote $outDir/${name}_$suffix.txt")
      graft.util.CacheRegistry.releaseAll()
    }
    graft.util.Fixtures.sweep(spark)
    spark.stop()
  }
}
