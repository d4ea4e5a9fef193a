package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names, for fast local
    // iteration on one oracle (the driver always passes two args)
    val only = args.lift(2).map(_.split(",").toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local("verify", cpus, cpus.toInt)
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        // a failed query must surface as an explicit record, never a
        // silent omission: a missing result dir would read as "query not
        // claimed" in the driver compare and mask a regression (the r7
        // ts-encoding break produced an all-pass artifact this way)
        failures += name -> s"${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[verify] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
        // and a failed query must never leave a STALE result from a
        // previous run in place either — if the driver reuses outDir,
        // old parquet would compare as passing (r8 ADVICE)
        try graft.util.Fixtures.deleteRecursively(
          java.nio.file.Paths.get(s"$outDir/$name"))
        catch { case _: Exception => () }
      }
      // release operator-persisted intermediates (LSH banded tables etc.)
      // so a 50-query session doesn't accumulate cached partitions
      graft.util.CacheRegistry.releaseAll()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // machine-readable failure manifest next to the results: the driver
    // (or a human) can join this against oracle_sql.json to see exactly
    // which claimed queries produced no parquet and why
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    // fixture janitor: drop run-scoped demo tables + tmp dirs so
    // repeated verify runs leave tmpdir/spark-warehouse flat
    graft.util.Fixtures.sweep(spark)
    spark.stop()
    // exit 0 even on failures: the driver must still compare the queries
    // that DID produce results (a nonzero exit could zero the round).
    // The manifest + stderr banner are the explicit failure record.
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} quer" +
        (if (failures.size == 1) "y" else "ies") +
        s" FAILED: ${failures.keys.mkString(", ")}")
  }
}
