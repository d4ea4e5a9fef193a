package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

/** Per-group task counters, filled by [[Counters]] from listener events. */
final class Tally {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L

  def +=(o: Tally): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }
}

/** A SparkListener that attributes every job, task and byte to the job
  * group it ran under. The benchmark sets one group per iteration (and,
  * when tracing, one per layer call), so the counters are per layer
  * without any hook inside graft.
  *
  * Streaming queries run their micro-batches under a job group named by
  * their run id; [[alias]] maps that id onto the group that started the
  * query. */
final class Counters extends SparkListener {
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val aliases = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val tallies = mutable.Map.empty[String, Tally]

  def alias(groupId: String, group: String): Unit = aliases.put(groupId, group)

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("-")

  /** aliases resolve at read time: a query's first jobs can start before
    * its run id is known to the caller */
  private def resolve(g: String): String = aliases.getOrDefault(g, g)

  private def tally(g: String): Tally = tallies.getOrElseUpdate(g, new Tally)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    e.stageIds.foreach(s => stageGroup.put(s, g))
    synchronized { tally(g).jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val g = Option(stageGroup.get(e.stageId)).getOrElse("-")
    synchronized {
      val t = tally(g)
      t.tasks += 1
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.peakExecMem = math.max(t.peakExecMem, m.peakExecutionMemory)
    }
  }

  /** the summed tally of every group accepted by `p` */
  def sum(p: String => Boolean): Tally = synchronized {
    val out = new Tally
    tallies.foreach { case (g, t) => if (p(resolve(g))) out += t }
    out
  }
}

/** One layer call: name, start and end (ns), parent span id, iteration. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      parent: Int, iteration: Int)

/** Layer spans for one run. With tracing off a layer call only runs its
  * body; with tracing on it opens a span, sets a job group for the layer
  * and materializes the layer's output with a full-column action
  * (`localCheckpoint(eager = true)`), so the work of a layer lands in its
  * own span instead of in whichever later layer first runs an action.
  * Spans stay in memory and are written out at the end of the run. */
final class Tracer(sc: SparkContext, val traced: Boolean, counters: Counters) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, String)]
  private var nextId = 0
  private var iteration = -1

  /** job-group name of layer `layer` in iteration `it` */
  def group(it: Int, layer: String): String = s"it$it|$layer"

  def currentGroup: String =
    stack.headOption.map(s => group(iteration, s._2)).getOrElse(s"it$iteration")

  def startIteration(it: Int): Unit = {
    iteration = it
    sc.setJobGroup(s"it$it", s"iteration $it")
  }

  def layer[T](name: String)(body: => T): T = {
    if (!traced) return body
    val id = nextId; nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack.push((id, name))
    sc.setJobGroup(group(iteration, name), name)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, name, t0, System.nanoTime(), parent, iteration)
      stack.pop()
      sc.setJobGroup(currentGroup, "")
    }
  }

  /** A layer whose output is a DataFrame. Untraced it is the body, as
    * graft's functions compose it. Traced, the output is materialized
    * with `localCheckpoint(eager = true)`, so the layer's work runs inside
    * its own span instead of in whichever later layer first runs an
    * action; that cut also changes the plan, and `trace.overhead_s` shows
    * by how much. */
  def frame(name: String)(body: => DataFrame): DataFrame =
    layer(name)(if (traced) body.localCheckpoint(eager = true) else body)

  /** A boundary where the pipeline itself stages its output: the lineage
    * is cut with a lazy `localCheckpoint`, filled by the first action
    * downstream. A traced frame is already cut, eagerly. */
  def stage(df: DataFrame): DataFrame = if (traced) df else df.localCheckpoint(eager = false)

  /** Streaming micro-batches run under their query's run-id job group;
    * count them against the current layer. */
  def adoptStreamGroup(runId: String): Unit = counters.alias(runId, currentGroup)

  /** (wall, self) seconds of layer `name` in iteration `it`; self time is
    * the span minus the part its child spans cover */
  def wallSelf(it: Int, name: String): (Double, Double) = {
    val mine = spans.filter(s => s.iteration == it && s.name == name)
    val wall = mine.map(s => s.endNs - s.startNs).sum
    val kids = spans.filter(s => mine.exists(_.id == s.parent)).map(s => s.endNs - s.startNs).sum
    (wall / 1e9, (wall - kids) / 1e9)
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      org.json4s.jackson.Serialization.write(Map("id" -> s.id, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "parent" -> s.parent,
        "iteration" -> s.iteration))(org.json4s.DefaultFormats)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
