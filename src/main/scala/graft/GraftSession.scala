package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every main, test and the benchmark builds
  * its session here, so all of them plan with the same confs.
  *
  * Local runs use `local[N]` with `spark.sql.shuffle.partitions` sized to
  * the core count (not the 200 default); on a real cluster the same confs
  * apply with AQE coalescing post-shuffle partitions at runtime.
  *
  * Spark keeps compiled whole-stage and expression classes in one
  * JVM-wide cache whose size is the static conf
  * `spark.sql.codegen.cache.maxEntries` (default 100). One run of the
  * daily roster job generates ~140 distinct classes and one corpus
  * curation run ~285, so at 100 entries the cache evicts within a run
  * and every rerun in the same JVM compiles again: 147 Janino compiles
  * per warm roster run, ~293 per warm curation run
  * (`CodegenMetrics.METRIC_COMPILATION_TIME` counts). With
  * [[CodegenCacheEntries]] both working sets stay cached: 0 compiles per
  * warm roster run, at most 20 per warm curation run (classes whose
  * code differs per run). A cached class costs a few KB of metaspace.
  *
  * `file:` paths resolve to [[graft.io.NioLocalFileSystem]] (Hadoop
  * `FileSystem`) and [[graft.io.NioLocalFs]] (`FileContext`, the path
  * streaming checkpoints and state-store commits take), not to
  * Hadoop's own local filesystem (here Hive's `ProxyLocalFileSystem`
  * over it, which Spark's Hive jar registers). Without the native
  * Hadoop library that one forks `chmod` for every file and directory
  * it creates and `readlink` twice per FileContext rename. On a
  * 4-core host one small-file create-and-rename took ~6 ms through
  * `FileSystem` and ~27 ms through `FileContext` on one thread (~10
  * and ~40 ms with four threads at once), against 0.2-0.7 ms through
  * the graft classes, and a perfbench `event_stream` run started ~2300
  * processes (now 6, at JVM start and exit). The graft classes make
  * the same calls as syscalls; checksums, renames and the permission
  * bits written are Hadoop's. Hadoop caches a `FileSystem` per scheme
  * and user, not per conf, so a local `FileSystem` created in the JVM
  * before the first session, from a conf without these keys, stays
  * Hadoop's.
  */
object GraftSession {

  /** size of Spark's generated-class cache (see above) */
  val CodegenCacheEntries = 1024

  def local(appName: String = "graft",
            cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
            shufflePartitions: Int = 32): SparkSession = {
    val warehousePath = java.nio.file.Files.createTempDirectory("graft_warehouse")
    // session-unique warehouse (concurrent local sessions must not share
    // catalog state), removed at JVM exit so repeated runs leave tmpdir
    // flat. Routed through the single Fixtures janitor hook rather than
    // one hook per session: a long-lived process creating many short
    // sessions must not accumulate hook threads, and Fixtures already
    // survives first-touch during shutdown (d353d84).
    graft.util.Fixtures.registerPath(warehousePath)
    val warehouse = warehousePath.toString
    val spark = SparkSession.builder()
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.warehouse.dir", warehouse)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // the testdata events table carries parquet TIMESTAMP(NANOS); read
      // as long nanos and convert explicitly (Spark has no ns timestamps)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.io.NioLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
