package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.{col, lit}

/** One session factory: every entry point builds its session through
  * [[GraftSession.local]], so mains, specs and the benchmark plan with
  * the same confs. */
class GraftSessionSpec extends SparkSpec {

  test("SparkSession.builder appears only in GraftSession.scala") {
    val root = java.nio.file.Paths.get("src", "main", "scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val stream = java.nio.file.Files.walk(root)
    val offenders =
      try stream.iterator().asScala.filter { p =>
        p.toString.endsWith(".scala") && p.getFileName.toString != "GraftSession.scala" &&
          java.nio.file.Files.readString(p).contains("SparkSession.builder")
      }.toList
      finally stream.close()
    assert(offenders.isEmpty, s"build sessions with GraftSession.local: $offenders")
  }

  test("the factory's confs: 64 MB broadcast threshold, AQE, nanos as long, UTC, extensions") {
    // a fresh child session reads the factory's confs, not whatever a
    // spec set at runtime on the shared one
    val s = spark.newSession()
    assert(s.conf.get("spark.sql.autoBroadcastJoinThreshold") == (64L * 1024 * 1024).toString)
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    assert(s.sessionState.functionRegistry.functionExists(FunctionIdentifier("graft_dot")),
      "GraftExtensions not installed")
  }

  test("the session resolves file:/// to graft's NIO local filesystem, for FileSystem and FileContext") {
    // Hadoop caches a FileSystem per scheme and user, whatever the conf:
    // assert the instances the session resolves, not its conf values
    val conf = spark.sessionState.newHadoopConf()
    val root = java.net.URI.create("file:///")
    val fs = org.apache.hadoop.fs.FileSystem.get(root, conf)
    assert(fs.isInstanceOf[graft.io.NioLocalFileSystem], fs.getClass)
    assert(org.apache.hadoop.fs.FileSystem.getLocal(conf).getRaw
      .isInstanceOf[graft.io.NioRawLocalFileSystem])
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(root, conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[graft.io.NioLocalFs], fc.getDefaultFileSystem.getClass)
  }

  test("a rerun of more generated classes than Spark's default cache holds compiles nothing") {
    // Spark's default cache keeps 100 classes; 150 distinct projections
    // evict each other there and every one recompiles on the second pass
    val n = 150
    assert(n > 100 && n < GraftSession.CodegenCacheEntries)
    def pass(): Unit = (0 until n).foreach { i =>
      spark.range(2).select((col("id") * lit(7919L) + lit(i.toLong)).as("v")).collect()
    }
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val c0 = compiles
    pass()
    val c1 = compiles
    assert(c1 - c0 >= n, s"the first pass must generate $n classes, compiled ${c1 - c0}")
    pass()
    assert(compiles - c1 == 0, s"the second pass recompiled ${compiles - c1} classes")
  }
}
