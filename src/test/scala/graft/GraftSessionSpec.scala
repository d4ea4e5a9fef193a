package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.FunctionIdentifier

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
    assert(s.sessionState.functionRegistry.functionExists(FunctionIdentifier("graft_dot")),
      "GraftExtensions not installed")
  }
}
