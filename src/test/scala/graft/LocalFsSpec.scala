package graft

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, concat, encode, lit}

import graft.io.{NioLocalFs, NioRawLocalFileSystem}
import graft.sources.WarcIO
import graft.streaming.EventStream
import graft.util.ProcessSpawns

/** graft's NIO local filesystem: the write paths a session takes start
  * no child process, and every operation it changes leaves what
  * Hadoop's own `RawLocalFileSystem` leaves. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")

  /** `body` starts no process. Spark's own cleanup of a collected
    * session's artifact directory (`rm -rf …/artifacts-…`, on a cleaner
    * thread whenever GC finds an earlier suite's session) is not the
    * code under test and is left out. */
  private def spawnFree[T](what: String)(body: => T): T = {
    val (out, all) = ProcessSpawns.during(body)
    val spawns = all.filterNot(c => c.startsWith("rm -rf ") && c.contains("/artifacts-"))
    assert(spawns.isEmpty, s"$what started ${spawns.size} processes: ${spawns.distinct.take(5)}")
    out
  }

  test("a dedup → upsert stream, a graft-wrapped write and a graft-warc scan start no process") {
    implicit val ctx = spark.sqlContext
    val dir = tempDir("graft_nio_stream")
    val ms = MemoryStream[Ev]
    val keys = Seq("window_start", "event_type", "batch_id")
    spawnFree("a 2-trigger dedupWithinWatermark → upsertBatch stream") {
      val q = EventStream.dedupWithinWatermark(ms.toDF(), "event_id")
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$dir/checkpoint")
        .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
          EventStream.upsertBatch(s"$dir/target", keys, retainSnapshots = 2)(
            EventStream.windowAgg(b).withColumn("batch_id", lit(id)), id))
        .start()
      try {
        ms.addData(Ev(1, ts(5), "view", 1.0), Ev(2, ts(20), "view", 2.0))
        q.processAllAvailable()
        ms.addData(Ev(2, ts(21), "view", 2.0), Ev(3, ts(80), "click", 7.0))
        q.processAllAvailable()
        assert(q.recentProgress.count(_.numInputRows > 0) == 2)
      } finally q.stop()
    }
    assert(EventStream.readLatestState(spark, s"$dir/target").count() > 0)

    val wrapped = s"$dir/wrapped"
    spawnFree("a graft-wrapped write") {
      Seq(("north", 1L), ("south", 2L)).toDF("county", "id")
        .write.format("graft-wrapped").option("groupCol", "county").mode("overwrite").save(wrapped)
    }
    assert(new java.io.File(wrapped, "current").isFile)

    val warc = s"$dir/warc/segments/seg-0/warc"
    WarcIO.writeShards(
      Seq((1L, "a"), (2L, "b")).toDF("id", "text").select(
        concat(lit("urn:t:"), col("id").cast("string")).as("record_id"),
        concat(lit("https://t/"), col("id").cast("string")).as("target_uri"),
        encode(col("text"), "UTF-8").as("payload")),
      warc, nShards = 2, gzip = false)
    val n = spawnFree("a graft-warc scan") {
      spark.read.format("graft-warc").load(s"$dir/warc")
        .filter(col("warc_type") === "resource").count()
    }
    assert(n == 2)
  }

  private def oct(s: String): Int = Integer.parseInt(s, 8)
  private def perm(s: String) = new FsPermission(oct(s).toShort)

  private def conf(umask: String): Configuration = {
    val c = new Configuration(false)
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def raws(umask: String): Seq[RawLocalFileSystem] =
    Seq(new RawLocalFileSystem, new NioRawLocalFileSystem).map { fs =>
      fs.initialize(URI.create("file:///"), conf(umask)); fs
    }

  private def mode(p: String): Int = Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int]

  /** run `op` on Hadoop's filesystem and on graft's, each in its own
    * fresh directory; the modes of `rel` under both must be equal */
  private def sameMode(rel: String, umask: String = "022")(op: (RawLocalFileSystem, String) => Unit): Int = {
    val Seq(hadoop, nio) = raws(umask).map { fs =>
      val dir = tempDir("graft_nio_parity")
      op(fs, dir)
      mode(s"$dir/$rel")
    }
    assert(nio == hadoop, f"$rel: mode 0$nio%o, Hadoop's 0$hadoop%o")
    nio
  }

  test("create, mkdirs and setPermission write the modes Hadoop's RawLocalFileSystem writes") {
    for (umask <- Seq("022", "027", "077")) {
      sameMode("f", umask) { (fs, d) => fs.create(new Path(s"$d/f")).close() }
      sameMode("a/b", umask) { (fs, d) => assert(fs.mkdirs(new Path(s"$d/a/b"))) }
      sameMode("f", umask) { (fs, d) =>
        fs.create(new Path(s"$d/f"), perm("600"), true, 4096, 1.toShort, 1L << 20, null).close()
      }
      sameMode("a", umask) { (fs, d) => assert(fs.mkdirs(new Path(s"$d/a"), perm("750"))) }
    }
    assert((sameMode("f") { (fs, d) =>
      fs.create(new Path(s"$d/f")).close(); fs.setPermission(new Path(s"$d/f"), perm("600"))
    } & 0xfff) == oct("600"))
    assert((sameMode("a") { (fs, d) =>
      fs.mkdirs(new Path(s"$d/a")); fs.setPermission(new Path(s"$d/a"), perm("750"))
    } & 0xfff) == oct("750"))
  }

  test("a sticky bit and a setgid directory keep the bits chmod keeps") {
    val sticky = sameMode("t") { (fs, d) =>
      fs.mkdirs(new Path(s"$d/t")); fs.setPermission(new Path(s"$d/t"), perm("1777"))
    }
    assert((sticky & 0xfff) == oct("1777"))
    // `chmod 0755` leaves a directory's setgid bit set; a new directory
    // inherits it from its setgid parent
    val setgid = sameMode("g/child") { (fs, d) =>
      fs.mkdirs(new Path(s"$d/g"))
      Files.setAttribute(Paths.get(s"$d/g"), "unix:mode", Integer.valueOf(oct("2775")))
      fs.mkdirs(new Path(s"$d/g/child"))
      fs.setPermission(new Path(s"$d/g/child"), perm("750"))
    }
    assert((setgid & 0xfff) == oct("2750"))
    // a file's setgid bit clears, as under chmod
    sameMode("g/f") { (fs, d) =>
      fs.mkdirs(new Path(s"$d/g"))
      Files.setAttribute(Paths.get(s"$d/g"), "unix:mode", Integer.valueOf(oct("2775")))
      fs.create(new Path(s"$d/g/f")).close()
      Files.setAttribute(Paths.get(s"$d/g/f"), "unix:mode", Integer.valueOf(oct("2644")))
      fs.setPermission(new Path(s"$d/g/f"), perm("640"))
    }
  }

  test("getFileLinkStatus answers as Hadoop's for files, directories, symlinks and missing paths") {
    val d = tempDir("graft_nio_links")
    Files.writeString(Paths.get(s"$d/target"), "abc")
    Files.createDirectory(Paths.get(s"$d/dir"))
    Files.createSymbolicLink(Paths.get(s"$d/link"), Paths.get(s"$d/target"))
    Files.createSymbolicLink(Paths.get(s"$d/dangling"), Paths.get(s"$d/nothing"))
    def view(s: FileStatus) =
      (s.getPath, s.isFile, s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else null,
        s.getLen, s.getModificationTime)
    val Seq(hadoop, nio) = raws("022")
    def answer(fs: FileSystem, p: Path) =
      scala.util.Try(view(fs.getFileLinkStatus(p))).toEither.left.map(_.getClass)
    for (name <- Seq("target", "dir", "link", "dangling"); p <- Seq(new Path(s"$d/$name"), new Path(s"file:$d/$name")))
      assert(answer(nio, p) == answer(hadoop, p), p)
    val link = nio.getFileLinkStatus(new Path(s"$d/link"))
    assert(link.isSymlink && link.getSymlink == new Path(s"file:$d/target"))
    for (fs <- Seq(hadoop, nio))
      intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(s"$d/missing")))
  }

  test("a FileContext rename with OVERWRITE leaves what Hadoop's LocalFs leaves") {
    def run(afs: Option[String]): Seq[(String, Int, Seq[Byte])] = {
      val d = tempDir("graft_nio_rename")
      val c = new Configuration()
      afs.foreach(c.set("fs.AbstractFileSystem.file.impl", _))
      val fc = FileContext.getFileContext(URI.create("file:///"), c)
      for ((name, body) <- Seq("src" -> "new", "dst" -> "old")) {
        val out = fc.create(new Path(s"file:$d/$name"),
          java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
        try out.write(body.getBytes("UTF-8")) finally out.close()
      }
      fc.rename(new Path(s"file:$d/src"), new Path(s"file:$d/dst"), Options.Rename.OVERWRITE)
      new java.io.File(d).listFiles().toSeq.sortBy(_.getName)
        .map(f => (f.getName, mode(f.getPath), Files.readAllBytes(f.toPath).toSeq))
    }
    val hadoop = run(None)
    assert(hadoop.map(_._1) == Seq(".dst.crc", "dst"))
    assert(run(Some(classOf[NioLocalFs].getName)) == hadoop)
  }

  test("setPermission on a missing path throws FileNotFoundException") {
    val d = tempDir("graft_nio_missing")
    val Seq(hadoop, nio) = raws("022")
    val missing = new Path(s"$d/missing")
    val e = intercept[FileNotFoundException](nio.setPermission(missing, perm("600")))
    assert(e.getMessage.contains(missing.toString))
    // Hadoop's shell path throws chmod's exit-code IOException
    intercept[IOException](hadoop.setPermission(missing, perm("600")))
    val local = FileSystem.get(URI.create("file:///"), spark.sessionState.newHadoopConf())
    intercept[FileNotFoundException](local.setPermission(missing, perm("600")))
  }
}
