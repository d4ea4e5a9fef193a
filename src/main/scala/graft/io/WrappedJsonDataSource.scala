package graft.io

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** A12's wrapped publish as a DataSource V2 SINK:
  *
  * {{{
  * df.write.format("graft-wrapped")
  *   .option("groupCol", "county")
  *   .mode("overwrite")             // or "append" to extend the published set
  *   .save("/out/dir")
  * }}}
  *
  * Each output file holds ONE wrapped object `{<groupCol>, total,
  * rows:[...]}` — the reference's per-county publish layout
  * (index.js:319-356) as a first-class Spark sink instead of a helper.
  *
  * **Layout (batch AND streaming — one commit shape).** Every publish
  * lands as an immutable `snapshots/<id>/` directory (group files + a
  * `_SUCCESS` manifest naming them), then a `current` pointer FILE
  * atomically re-points at it. Readers resolve `current` (falling back
  * to the newest committed snapshot while the pointer is mid-swap on a
  * non-atomic FS — [[WrappedPublish.resolveCurrent]]); a reader
  * polling during a publish therefore always observes a complete
  * layout, and a commit killed at ANY point leaves the prior publish
  * intact — the classic v1-committer mutate-in-place window does not
  * exist here. Streaming epochs name snapshots `ep<base+batchId>`
  * where `base` is the max existing slot at the query's first commit
  * (persisted per query id, so replays and restarts keep their
  * names); batch runs take the NEXT free slot in the same zero-padded
  * numeric namespace (`ep<maxSlot+1>-<queryId>`). Lexicographic name
  * order therefore IS commit order on any path regardless of which
  * modes have published there, in either order — retention and the
  * newest-committed pointer fallback both sort names; a clock-based
  * batch name (the first design) sorted before every `ep` snapshot,
  * and a fresh streaming query's un-based `ep0` (the second design)
  * sorted before previously committed batch slots — both made
  * retention evict the newest publish on a mode-mixed path.
  *
  * Three pieces make this Spark-first rather than a foreachPartition:
  *
  *  1. **The sink DECLARES its distribution** via
  *     [[RequiresDistributionAndOrdering]]: clustered + sorted on the
  *     group column. Spark plans the shuffle/sort itself — callers
  *     never pre-repartition, and each [[WrappedJsonWriter]] sees
  *     every group whole and contiguous, so the wrapped object folds
  *     streaming with O(group) memory (same boundedness contract as
  *     `WrappedExport.wrappedJson`'s collect_list, stated in types).
  *
  *  2. **A real commit protocol.** Tasks write attempt-scoped temp
  *     files under `_temporary/<queryId>/` and return the (temp,
  *     final) pairs as commit messages; only the DRIVER's commit
  *     assembles the snapshot, stamps its `_SUCCESS`, and swaps the
  *     pointer. A failed or speculated attempt can never corrupt the
  *     published layout. `mode("append")` extends the current
  *     snapshot (prior group files are COPIED into the new snapshot —
  *     snapshots stay immutable; appending onto an already-published
  *     group refuses BEFORE anything is assembled, leaving the prior
  *     publish untouched and still marked).
  *
  *  3. **Change-gated publish** (`entrypoint.sh:33-62`'s
  *     CHANGE_COUNT=0 skip): with `option("publishIfChanged","true")`
  *     a commit whose content is byte-identical to the current
  *     snapshot publishes NOTHING — no new snapshot dir, pointer
  *     untouched; a streaming epoch still records itself as committed
  *     (replay-safe) via an `_epochs/` marker. A daily republish that
  *     usually changes nothing stops minting identical snapshots.
  *
  * `retain` bounds committed-snapshot history (newest N). Concurrent
  * writers to ONE output path are NOT supported (retention, pointer
  * swap, and append's read-modify-publish all assume a single writer
  * per path — same contract as the reference's daily job); concurrent
  * writers to different paths are fine.
  *
  * Scale: one file per group mirrors the reference's contract (groups
  * are counties/tenants — bounded); row data streams through the
  * writers without any driver collection. Values must be ATOMIC types
  * (string/number/boolean/date-less primitives) — `to_json` nested
  * columns upstream; the builder rejects others by name.
  */
class WrappedJsonDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-wrapped"
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new UnsupportedOperationException(
      "graft-wrapped is a write-only sink; it has no schema to infer")
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new WrappedJsonTable(schema, properties.asScala.toMap)
}

/** Reader-side helpers for the `graft-wrapped` snapshot/pointer
  * layout: how a consumer finds the published data. */
object WrappedPublish {
  /** The committed snapshot `current` points at; falls back to the
    * newest committed snapshot dir when the pointer is absent or
    * stale-mid-swap (the non-atomic-rename window on local FS). */
  def resolveCurrent(fs: FileSystem, root: Path): Option[Path] = {
    val snapRoot = new Path(root, "snapshots")
    def committed(name: String): Option[Path] = {
      val dir = new Path(snapRoot, name)
      if (fs.exists(new Path(dir, "_SUCCESS"))) Some(dir) else None
    }
    val viaPtr =
      try {
        val ptr = new Path(root, "current")
        if (!fs.exists(ptr)) None
        else {
          val in = fs.open(ptr)
          val name = try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8).trim
          finally in.close()
          committed(name)
        }
      } catch { case _: java.io.IOException => None }
    viaPtr.orElse(snapshots(fs, root).lastOption.map(n => new Path(snapRoot, n)))
  }

  /** group-file names listed in a committed snapshot's manifest. */
  def manifest(fs: FileSystem, snapDir: Path): Seq[String] = {
    val in = fs.open(new Path(snapDir, "_SUCCESS"))
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").toSeq.filter(_.nonEmpty)
    finally in.close()
  }

  /** committed snapshot names under `root`, oldest→newest (name order
    * IS commit order in the shared zero-padded namespace) — the
    * time-travel catalog for [[read]]'s `snapshot` parameter, and the
    * ONE committed-snapshot enumeration the pointer fallback and
    * retention also use (three hand-rolled copies would silently
    * diverge on a marker-convention change — review finding). */
  def snapshots(fs: FileSystem, root: Path): Seq[String] = {
    val snapRoot = new Path(root, "snapshots")
    Option(fs.globStatus(new Path(snapRoot, "*"))).getOrElse(Array.empty)
      .map(_.getPath.getName)
      .filter(n => fs.exists(new Path(snapRoot, s"$n/_SUCCESS")))
      .sorted.toSeq
  }

  /** READ a publish back as rows: resolve the pointer (or a named
    * committed snapshot — time travel), take the manifest's group
    * files, and parse them with Spark's own multiLine JSON source
    * (pruning, distribution for free — composing the built-in source
    * beats a hand-rolled DSv2 JSON reader), then unwrap
    * `{group, total, rows:[...]}` to one row per payload element with
    * the group value and wrapper total attached. Group files are
    * bounded by the sink's contract, so whole-file JSON parse is the
    * right unit of parallelism (one task per group file). Reads only
    * manifest-listed files of a COMMITTED snapshot — never in-flight
    * temps or crash debris.
    *
    * Without `payloadSchema`, column types come from JSON inference —
    * exact for strings/longs/finite doubles/booleans, but a quoted
    * non-finite double ("NaN"/"Infinity", the writer's JSON-strict
    * form) unifies its column to STRING, and DecimalType payloads
    * come back as lossy doubles. Pass `payloadSchema` (the payload
    * row's struct, sans group/total) to parse with declared types
    * instead: Spark's JSON parser reads the quoted non-finite tokens
    * into double/float fields, and decimals parse exactly. */
  def read(spark: org.apache.spark.sql.SparkSession, path: String,
           snapshot: Option[String] = None,
           payloadSchema: Option[StructType] = None): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, explode}
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val snap = snapshot match {
      case Some(name) => // time travel: any COMMITTED snapshot by name
        val dir = new Path(root, s"snapshots/$name")
        require(fs.exists(new Path(dir, "_SUCCESS")),
          s"graft-wrapped: no committed snapshot '$name' under $path " +
            s"(have: ${snapshots(fs, root).mkString(", ")})")
        dir
      case None => resolveCurrent(fs, root).getOrElse(throw new IllegalStateException(
        s"graft-wrapped: no committed snapshot under $path"))
    }
    val files = manifest(fs, snap).map(n => new Path(snap, n).toString)
    require(files.nonEmpty, s"graft-wrapped: snapshot $snap has an empty manifest")
    def load(reader: org.apache.spark.sql.DataFrameReader) =
      reader.option("multiLine", "true").json(files: _*)
    val inferred = load(spark.read)
    val groupCols = inferred.columns.filterNot(Set("total", "rows"))
    require(groupCols.length == 1,
      s"graft-wrapped: expected one group key beside total/rows, got ${inferred.columns.mkString(", ")}")
    val g = groupCols.head
    val raw = payloadSchema match {
      case None => inferred
      case Some(ps) => // re-read with declared payload types (the
        // group key's name comes from the cheap inference pass above;
        // its type from the inferred schema unless the caller also
        // declared it in ps — they shouldn't)
        val groupField = inferred.schema(g)
        load(spark.read.schema(new StructType()
          .add(groupField)
          .add("total", org.apache.spark.sql.types.LongType, nullable = false)
          .add("rows", org.apache.spark.sql.types.ArrayType(ps), nullable = false)))
    }
    raw.select(col(g), col("total"), explode(col("rows")).as("_r"))
      .select(col(g), col("total"), col("_r.*"))
  }
}

private[io] class WrappedJsonTable(schema0: StructType, props: Map[String, String])
  extends Table with SupportsWrite {
  override def name(): String = s"graft-wrapped(${props.getOrElse("path", "?")})"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var doTruncate = false
      override def truncate(): WriteBuilder = { doTruncate = true; this }
      override def build(): Write = {
        val opts = props.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
        val path = opts.getOrElse("path", throw new IllegalArgumentException(
          "graft-wrapped: missing path (pass it to .save(path))"))
        val groupCol = opts.getOrElse("groupcol", throw new IllegalArgumentException(
          "graft-wrapped: missing required option 'groupCol'"))
        val schema = info.schema()
        require(schema.fieldNames.contains(groupCol),
          s"graft-wrapped: groupCol '$groupCol' not in ${schema.fieldNames.mkString(", ")}")
        // the wrapper's own top-level keys: a group column named
        // "total"/"rows" would write duplicate JSON keys, and a
        // payload column by either name reads back ambiguous — reject
        // at WRITE time, where the fix (rename) is obvious
        require(groupCol != "total" && groupCol != "rows",
          s"graft-wrapped: groupCol '$groupCol' collides with the wrapper's own keys; rename it")
        val reserved = schema.fieldNames.filter(n =>
          n != groupCol && (n == "total" || n == "rows"))
        require(reserved.isEmpty,
          s"graft-wrapped: payload column(s) ${reserved.mkString(", ")} collide with " +
            "the wrapper's total/rows keys and would read back ambiguous; rename them")
        val bad = schema.fields.filterNot(f => WrappedJsonWrite.atomic(f.dataType))
        require(bad.isEmpty,
          s"graft-wrapped serializes atomic columns only; to_json these first: " +
            bad.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", "))
        val retain = opts.get("retain").map(_.trim.toInt).getOrElse(Int.MaxValue)
        require(retain >= 1, s"graft-wrapped: retain must be >= 1, got $retain")
        val ifChanged = opts.get("publishifchanged").exists(_.trim.toBoolean)
        new WrappedJsonWrite(path, schema, groupCol, info.queryId(), doTruncate,
          retain, ifChanged)
      }
    }
}

private[graft] class WrappedJsonWrite(path: String, schema: StructType,
                                   groupCol: String, queryId: String,
                                   truncate: Boolean,
                                   retain: Int = Int.MaxValue,
                                   publishIfChanged: Boolean = false)
  extends Write with RequiresDistributionAndOrdering {

  // the sink's contract, not the caller's job: cluster AND sort by the
  // group column so each writer sees whole, contiguous groups
  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(Expressions.identity(groupCol)))
  override def requiredOrdering(): Array[SortOrder] =
    Array(Expressions.sort(Expressions.identity(groupCol),
      SortDirection.ASCENDING, NullOrdering.NULLS_FIRST))

  private def root = new Path(path)

  private def requireNoDuplicates(finals: Seq[String]): Unit =
    require(finals.distinct.size == finals.size,
      s"duplicate group files across partitions — clustering contract broken, " +
        s"or two raw group values sanitized to one file name: " +
        finals.diff(finals.distinct).distinct.mkString(", "))

  /** byte-identical republish? names must equal the current manifest
    * and every staged temp must equal its published counterpart.
    * Streams both sides in 64 KiB chunks — group files are bounded by
    * the sink's contract, so this is a bounded read, not a corpus
    * scan. */
  private def unchangedVs(f: FileSystem, prior: Path,
                          files: Seq[(String, String)]): Boolean = {
    val names = files.map(_._2)
    if (WrappedPublish.manifest(f, prior).sorted != names.sorted) return false
    files.forall { case (temp, name) =>
      val a = new Path(temp); val b = new Path(prior, name)
      if (f.getFileStatus(a).getLen != f.getFileStatus(b).getLen) false
      else {
        val ia = f.open(a); val ib = f.open(b)
        try {
          val ba = new Array[Byte](65536); val bb = new Array[Byte](65536)
          var same = true
          var done = false
          while (same && !done) {
            val na = ia.readNBytes(ba, 0, ba.length)
            val nb = ib.readNBytes(bb, 0, bb.length)
            if (na != nb || !java.util.Arrays.equals(
                java.util.Arrays.copyOf(ba, math.max(na, 0)),
                java.util.Arrays.copyOf(bb, math.max(nb, 0)))) same = false
            if (na <= 0) done = true
          }
          same
        } finally { ia.close(); ib.close() }
      }
    }
  }

  /** assemble `snapDir` from staged temps (+ carried copies), stamp
    * its manifest, swap the pointer. The snapshot is invisible until
    * `_SUCCESS` lands and unreferenced until the pointer swaps, so a
    * crash anywhere in here leaves only inert debris. */
  private def publishSnapshot(f: FileSystem,
                              hconf: org.apache.hadoop.conf.Configuration,
                              snapDir: Path,
                              files: Seq[(String, String)],
                              carried: Seq[(Path, String)]): Unit = {
    f.delete(snapDir, true) // crash debris from a commit that never marked
    f.mkdirs(snapDir)
    files.foreach { case (temp, finalName) =>
      if (!f.rename(new Path(temp), new Path(snapDir, finalName)))
        throw new IllegalStateException(
          s"graft-wrapped: rename $temp -> $snapDir/$finalName failed")
    }
    // carried files COPY from the prior snapshot — it stays immutable
    // for readers and retention
    carried.foreach { case (src, name) =>
      if (!FileUtil.copy(f, src, f, new Path(snapDir, name), false, hconf))
        throw new IllegalStateException(
          s"graft-wrapped: carry-copy $src -> $snapDir/$name failed")
    }
    val names = (files.map(_._2) ++ carried.map(_._2)).sorted
    val out = f.create(new Path(snapDir, "_SUCCESS"), true)
    try out.write(names.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    swapPointer(f, snapDir)
  }

  /** atomic pointer swap: write `current.tmp-<queryId>`, rename over
    * `current`. Only THIS query's tmp pointer is ever touched — a
    * concurrent writer's in-flight tmp is not ours to sweep (single
    * writer per path is the supported contract, but we stay polite).
    * The FileContext OVERWRITE rename is atomic where the FS supports
    * it (HDFS, posix local); the delete+rename fallback has a brief
    * no-pointer window — [[WrappedPublish.resolveCurrent]]'s
    * newest-committed fallback covers readers through it — and logs
    * the rename's exception to stderr, so a broken FileContext (say, a
    * misregistered `AbstractFileSystem`) does not lose atomicity
    * silently. */
  private def swapPointer(f: FileSystem, snapDir: Path): Unit = {
    val tmpPtr = new Path(path, s"current.tmp-$queryId")
    f.delete(tmpPtr, false) // this query's own stale tmp from a crash
    val ptrOut = f.create(tmpPtr, true)
    try ptrOut.write(snapDir.getName.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally ptrOut.close()
    val ptr = new Path(path, "current")
    try {
      org.apache.hadoop.fs.FileContext.getFileContext(ptr.toUri,
          f.getConf)
        .rename(tmpPtr, ptr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch { case e: Exception =>
      Console.err.println(s"[graft-wrapped] atomic pointer swap failed " +
        s"(${e.getClass.getName}: ${e.getMessage}); falling back to delete-then-rename")
      f.delete(ptr, false)
      if (!f.rename(tmpPtr, ptr))
        throw new IllegalStateException(s"graft-wrapped: pointer swap to $snapDir failed")
    }
  }

  /** drop committed snapshots beyond the newest `retain`. Only
    * COMMITTED snapshots occupy retention slots or are eligible to
    * drop (crash debris is the operator's to inspect, not ours to
    * delete); the pointed snapshot is always within the newest
    * `retain` because the pointer only moves forward. */
  /** next free numeric slot across ALL existing snapshot dirs (both
    * modes share the `ep<19 digits>` prefix): max parsed slot + 1, 0
    * on a fresh path. Committed or not — a crashed attempt's dir
    * still reserves its number, so a retry never collides with
    * debris. */
  private def nextSlot(f: FileSystem): Long = {
    val snapRoot = new Path(path, "snapshots")
    val slots =
      (try Option(f.listStatus(snapRoot)).getOrElse(Array.empty)
       catch { case _: java.io.FileNotFoundException =>
         Array.empty[org.apache.hadoop.fs.FileStatus] })
        .map(_.getPath.getName)
        .flatMap(n => "^ep(\\d{19})".r.findFirstMatchIn(n).map(_.group(1).toLong))
    if (slots.isEmpty) 0L else slots.max + 1L
  }

  private def applyRetention(f: FileSystem): Unit = if (retain != Int.MaxValue) {
    val snapRoot = new Path(path, "snapshots")
    WrappedPublish.snapshots(f, root).dropRight(retain)
      .foreach(n => f.delete(new Path(snapRoot, n), true))
  }

  override def toBatch: BatchWrite = new BatchWrite {
    // driver-captured session conf, shipped to tasks: object-store
    // creds and fs.defaultFS ride along (the stagePages discipline)
    private val hconf = new SerializableConfiguration(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    private def fs = root.getFileSystem(hconf.value)
    private def tempDir = new Path(path, s"_temporary/$queryId")

    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      WrappedJsonWriterFactory(path, s"_temporary/$queryId", schema, groupCol, hconf)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val files = messages.collect { case m: WrappedCommit => m.files }.flatten.toSeq
      val f = fs
      val finals = files.map(_._2)
      requireNoDuplicates(finals)
      val prior = WrappedPublish.resolveCurrent(f, root)
      // ALL validation runs before anything is assembled: a refused
      // append mutates nothing — the prior publish stays marked and
      // readable (it is never touched at all in this layout)
      val carried: Seq[(Path, String)] =
        if (truncate) Seq.empty
        else prior match {
          case None => Seq.empty
          case Some(p) =>
            val existing = WrappedPublish.manifest(f, p)
            val clash = existing.toSet.intersect(finals.toSet)
            if (clash.nonEmpty) throw new IllegalStateException(
              s"graft-wrapped: group files already published: " +
                s"${clash.toSeq.sorted.mkString(", ")}; use mode(\"overwrite\") to re-publish")
            existing.map(n => new Path(p, n) -> n)
        }
      // change gate: an identical republish (overwrite with the same
      // bytes, or an append contributing zero new groups) publishes
      // nothing — no snapshot dir, pointer untouched
      val unchanged = publishIfChanged && prior.exists { p =>
        if (truncate) unchangedVs(f, p, files) else files.isEmpty
      }
      if (!unchanged) {
        // next free slot in the shared zero-padded namespace: sorts
        // after every existing snapshot of EITHER mode (a wall-clock
        // name sorted before 'ep…' and broke retention order); the
        // query-id suffix keeps the dir distinct from a streaming
        // epoch that later lands on the same slot number
        val snapDir = new Path(path,
          f"snapshots/ep${nextSlot(f)}%019d-${queryId.take(8)}")
        publishSnapshot(f, hconf.value, snapDir, files, carried)
      }
      cleanupTemp(f)
      applyRetention(f)
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      cleanupTemp(fs) // nothing was assembled; the published layout is untouched

    /** drop this query's temp dir, and the shared `_temporary` parent
      * when nothing else (a concurrent writer) still owns a subdir */
    private def cleanupTemp(f: FileSystem): Unit = {
      f.delete(tempDir, true)
      val parent = new Path(path, "_temporary")
      try {
        if (f.exists(parent) && f.listStatus(parent).isEmpty) f.delete(parent, false)
      } catch { case _: java.io.IOException => () }
    }
  }

  /** The STREAMING side: the same snapshot/pointer commit, one per
    * epoch (the reference's dated-snapshot layout — index.js:319-356,
    * gcs-io.js — made continuous). Meant for complete-mode aggregated
    * queries: each epoch is a whole republish.
    *
    * Exactly-once across recovery: the epoch id is the micro-batch id,
    * which the checkpoint replays after a crash. A re-committed epoch
    * is a NO-OP when its snapshot `_SUCCESS` already landed (the first
    * commit won) — but the replay DOES re-check the pointer: a crash
    * between marker and pointer swap would otherwise strand `current`
    * on the previous epoch until the next one commits, so the replay
    * re-points when the pointer is older than the marked snapshot. An
    * epoch skipped by the change gate records itself in `_epochs/`
    * so ITS replay is also a no-op. */
  override def toStreaming: StreamingWrite = new StreamingWrite {
    private val hconf = new SerializableConfiguration(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    private def fs = root.getFileSystem(hconf.value)

    /** this query's slot base: max existing slot at its FIRST commit,
      * persisted as `_epochs/base-<queryId>` so restarts and epoch
      * replays resolve the SAME snapshot names. Epochs land at slot
      * base+epochId — a fresh streaming query on a previously-batched
      * path therefore sorts AFTER the batch snapshots instead of its
      * ep0 sorting before them (which let retention's name-ordered
      * dropRight evict the newest streaming snapshots while keeping
      * older batch ones). The streaming queryId is the checkpoint's
      * stable query id, so the base survives restarts of the same
      * checkpoint; a NEW checkpoint gets a new id and re-bases past
      * everything already published. A batch publish interleaved
      * mid-lifetime of a live streaming checkpoint can tie a future
      * epoch's slot number — name-distinct via the batch dir's query
      * suffix, but order-ambiguous at that slot (retention and the
      * newest-committed fallback order by NAME); that interleaving
      * violates the single-writer-per-path contract, and the epoch
      * commit REFUSES it loudly at the tie instead of publishing an
      * ambiguously-ordered snapshot (see [[commit]]).
      *
      * The base file is written temp-then-rename (the swapPointer
      * discipline): a crash between create and close must not leave a
      * half-written file that every later commit re-reads as the base.
      * An empty/unparsable base file (older-version crash debris) is
      * treated as ABSENT and recomputed — safe because no epoch can
      * have published under a base that never finished writing. */
    private def baseSlot(f: FileSystem): Long = {
      val bp = new Path(path, s"_epochs/base-$queryId")
      val existing: Option[Long] =
        if (!f.exists(bp)) None
        else {
          val in = f.open(bp)
          val s = try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8).trim
          finally in.close()
          scala.util.Try(s.toLong).toOption
        }
      existing.getOrElse {
        val b = nextSlot(f)
        f.mkdirs(bp.getParent)
        val tmp = new Path(path, s"_epochs/base-$queryId.tmp")
        val out = f.create(tmp, true)
        try out.write(b.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        f.delete(bp, false) // crash debris (empty/unparsable) yields to the rename
        if (!f.rename(tmp, bp))
          throw new IllegalStateException(
            s"graft-wrapped: could not persist slot base $bp — a concurrent " +
              "writer owns it (single writer per path is the supported contract)")
        b
      }
    }

    /** drop the epoch's temp dir and any now-empty temp ancestors
      * (`_temporary/<queryId>`, `_temporary`) — a shared parent stays
      * while a concurrent writer still owns a subdir. */
    private def sweepEpochTemp(f: FileSystem, epochId: Long): Unit = {
      f.delete(new Path(path, s"_temporary/$queryId/ep$epochId"), true)
      Seq(s"_temporary/$queryId", "_temporary").foreach { d =>
        val dir = new Path(path, d)
        try {
          if (f.exists(dir) && f.listStatus(dir).isEmpty) f.delete(dir, false)
        } catch { case _: java.io.IOException => () }
      }
    }

    override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
      WrappedJsonWriterFactory(path, s"_temporary/$queryId", schema, groupCol, hconf)

    override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
      val f = fs
      // the base is read-or-created BEFORE anything publishes: a crash
      // after the base lands but before the snapshot does replays to
      // the same slot; a crash before the base lands recomputes the
      // same value (nothing was published to move nextSlot)
      val slot = baseSlot(f) + epochId
      val snapDir = new Path(path, f"snapshots/ep$slot%019d")
      val marker = new Path(snapDir, "_SUCCESS")
      val skipMarker = new Path(path, f"_epochs/ep$slot%019d.unchanged")
      if (f.exists(marker)) {
        // replayed epoch: the first commit won — but finish its
        // half-done pointer swap if the crash landed between marker
        // and swap (the pointer must never lag a committed epoch).
        // The RAW pointer file, not resolveCurrent: the resolver's
        // newest-committed fallback would mask exactly the staleness
        // this check exists to repair.
        val raw: Option[String] =
          try {
            val ptr = new Path(path, "current")
            if (!f.exists(ptr)) None
            else {
              val in = f.open(ptr)
              try Some(new String(in.readAllBytes(),
                java.nio.charset.StandardCharsets.UTF_8).trim)
              finally in.close()
            }
          } catch { case _: java.io.IOException => None }
        if (!raw.contains(snapDir.getName) && raw.forall(_ < snapDir.getName))
          swapPointer(f, snapDir)
        sweepEpochTemp(f, epochId)
        return
      }
      if (f.exists(skipMarker)) { // replay of a change-gated no-op epoch
        sweepEpochTemp(f, epochId)
        return
      }
      // slot-tie refusal (after the replay no-ops — a change-gated epoch
      // leaves no dir, so a batch can land on its number and that
      // epoch's replay must still no-op): a batch publish interleaved
      // mid-lifetime of this checkpoint has already taken this slot.
      // Its dir carries a query suffix, so the names differ — but
      // retention and the newest-committed fallback order by NAME, and
      // at a tied slot name order no longer reflects publish order.
      // That interleaving violates the single-writer-per-path contract;
      // fail loud at the tie rather than publish an ambiguously-ordered
      // snapshot.
      val tiedBatch =
        (try Option(f.listStatus(new Path(path, "snapshots")))
           .getOrElse(Array.empty)
         catch { case _: java.io.FileNotFoundException =>
           Array.empty[org.apache.hadoop.fs.FileStatus] })
          .map(_.getPath.getName)
          .filter(_.startsWith(f"ep$slot%019d-"))
      if (tiedBatch.nonEmpty)
        throw new IllegalStateException(
          s"graft-wrapped: epoch $epochId resolves to slot $slot, already " +
            s"taken by batch publish ${tiedBatch.sorted.mkString(", ")} — a " +
            "batch write interleaved with this live streaming checkpoint " +
            "(single writer per path is the supported contract). Restart " +
            "from a fresh checkpoint (which re-bases past all published " +
            "snapshots) or stop the batch writer.")
      val files = messages.collect { case m: WrappedCommit => m.files }.flatten.toSeq
      requireNoDuplicates(files.map(_._2))
      if (publishIfChanged &&
          WrappedPublish.resolveCurrent(f, root).exists(p => unchangedVs(f, p, files))) {
        // CHANGE_COUNT = 0: no new snapshot, pointer untouched — but
        // the epoch must still read as committed on replay
        f.mkdirs(skipMarker.getParent)
        f.create(skipMarker, true).close()
        // skip markers are tiny but unbounded over years: keep only
        // the newest few beyond any epoch the checkpoint could replay.
        // (`.unchanged` only — `_epochs/` also holds base-<queryId>
        // slot files, which must outlive every marker)
        Option(f.listStatus(skipMarker.getParent)).getOrElse(Array.empty)
          .map(_.getPath.getName).filter(_.endsWith(".unchanged"))
          .sorted.dropRight(math.max(retain, 16))
          .foreach(n => f.delete(new Path(skipMarker.getParent, n), false))
        sweepEpochTemp(f, epochId)
        return
      }
      publishSnapshot(f, hconf.value, snapDir, files, Seq.empty)
      sweepEpochTemp(f, epochId)
      applyRetention(f)
    }

    override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
      sweepEpochTemp(fs, epochId)
  }
}

private[graft] object WrappedJsonWrite {
  def atomic(t: DataType): Boolean = t match {
    case StringType | BooleanType | ByteType | ShortType | IntegerType |
         LongType | FloatType | DoubleType => true
    case _: DecimalType => true
    case _ => false
  }
}

private[graft] case class WrappedCommit(files: Seq[(String, String)])
  extends WriterCommitMessage

private[io] case class WrappedJsonWriterFactory(path: String, tempPrefix: String,
                                                schema: StructType, groupCol: String,
                                                hconf: SerializableConfiguration)
  extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new WrappedJsonWriter(path, tempPrefix, schema, groupCol, hconf,
      partitionId, taskId)
  // streaming: the epoch gets its own temp subdir, so a replayed epoch
  // can never collide with a committed sibling's temps
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new WrappedJsonWriter(path, s"$tempPrefix/ep$epochId", schema, groupCol,
      hconf, partitionId, taskId)
}

/** Streams one sorted partition: rows of a group accumulate, a group
  * change flushes one temp file. Temp names carry partition AND task
  * id, so a retried/speculated attempt writes beside, never over, its
  * sibling — only the committed attempt's names reach the driver. */
private[graft] class WrappedJsonWriter(path: String, tempPrefix: String,
                                    schema: StructType, groupCol: String,
                                    hconf: SerializableConfiguration,
                                    partitionId: Int, taskId: Long)
  extends DataWriter[InternalRow] {

  private val fs = new Path(path).getFileSystem(hconf.value)
  private val gi = schema.fieldIndex(groupCol)
  private val payload = schema.fields.zipWithIndex.filter(_._2 != gi)
  private val written = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
  private val writtenNames = scala.collection.mutable.HashSet.empty[String]
  // (isNull, canonical string) — nullness rides beside the string so a
  // genuine "__null__" STRING group can never collide with a null
  // group (review finding); file names disambiguate the same way
  private var currentKey: (Boolean, String) = _
  private var currentJson: String = _ // JSON form of the group value
  private var open = false
  private val rows = new StringBuilder
  private var total = 0L

  private def jsonScalar(row: InternalRow, i: Int, t: DataType): String =
    if (row.isNullAt(i)) "null" else t match {
      case StringType => quote(row.getUTF8String(i).toString)
      case BooleanType => row.getBoolean(i).toString
      case ByteType => row.getByte(i).toString
      case ShortType => row.getShort(i).toString
      case IntegerType => row.getInt(i).toString
      case LongType => row.getLong(i).toString
      // NaN/Infinity are not JSON numbers: emit them QUOTED so every
      // strict consumer can still parse the file (review finding)
      case FloatType => fpJson(row.getFloat(i).toDouble)
      case DoubleType => fpJson(row.getDouble(i))
      case d: DecimalType => row.getDecimal(i, d.precision, d.scale).toString
      case other => throw new IllegalStateException(s"unreachable: $other")
    }

  private def fpJson(d: Double): String =
    if (java.lang.Double.isFinite(d)) d.toString else "\"" + d.toString + "\""

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  private def canonicalFp(d: Double): String =
    if (d == 0.0) "0.0" else d.toString // folds -0.0; NaN -> "NaN"

  private def fileSafe(key: (Boolean, String)): String = key match {
    case (true, _) => "__null__"
    case (false, s) =>
      val safe = s.map(c =>
        if (c.isLetterOrDigit || c == '-' || c == '_' || c == '.') c else '_')
      // a sanitized name can collide ("a/b" vs "a_b"), and the literal
      // string "__null__" would collide with the null group's file:
      // disambiguate both with a hash of the RAW value
      if (safe == s && s != "__null__") s
      else safe + "-" + Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(s))
  }

  private def flush(): Unit = if (open) {
    val name = s"${fileSafe(currentKey)}.json"
    // residual collision edge: a RAW value already shaped like
    // "<safe>-<hex>" passes fileSafe unchanged and can land on another
    // value's sanitized+hashed name. Within one (sorted) partition the
    // two groups are adjacent here — fail with the real cause instead
    // of silently overwriting our own temp and dying later in the
    // driver's duplicate check with a misleading clustering message.
    if (!writtenNames.add(name)) throw new IllegalStateException(
      s"graft-wrapped: two distinct group values map to one file name '$name' " +
        s"after sanitization (one raw value ends in the other's hash suffix); " +
        s"rename the colliding group value or pre-hash the group column")
    val temp = new Path(path, s"$tempPrefix/p$partitionId-t$taskId-$name")
    val out = fs.create(temp, true)
    try {
      val json = s"""{${quote(groupCol)}: $currentJson, "total": $total, "rows": [${rows.toString}]}"""
      out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally out.close()
    written += temp.toString -> name
    rows.clear(); total = 0; open = false
  }

  override def write(row: InternalRow): Unit = {
    val keyJson = jsonScalar(row, gi, schema.fields(gi).dataType)
    val key: (Boolean, String) = if (row.isNullAt(gi)) (true, "")
      else (false, schema.fields(gi).dataType match {
        case StringType => row.getUTF8String(gi).toString
        // floats canonicalize so -0.0/0.0 (equal under the sink's sort,
        // so possibly ADJACENT in one group) share one key; NaN is one
        // group (all NaN bit patterns sort together)
        case FloatType => canonicalFp(row.getFloat(gi).toDouble)
        case DoubleType => canonicalFp(row.getDouble(gi))
        case _ => keyJson
      })
    if (!open || key != currentKey) {
      flush() // sorted input: a new key means the previous group is complete
      currentKey = key; currentJson = keyJson; open = true
    }
    if (total > 0) rows.append(", ")
    rows.append(payload.map { case (f, i) =>
      s"${quote(f.name)}: ${jsonScalar(row, i, f.dataType)}"
    }.mkString("{", ", ", "}"))
    total += 1
  }

  override def commit(): WriterCommitMessage = {
    flush()
    WrappedCommit(written.toSeq)
  }

  override def abort(): Unit = {
    // this attempt's files only — a sibling attempt's temps are its own
    written.foreach { case (temp, _) => fs.delete(new Path(temp), false) }
  }

  override def close(): Unit = ()
}
