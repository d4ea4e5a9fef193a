package graft.util

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** Child processes this JVM starts while a block runs, counted from
  * JFR's `jdk.ProcessStart` events: every `ProcessBuilder.start`, on
  * any thread (a Hadoop shell call included). */
object ProcessSpawns {

  /** the block's result and the command line of every process started
    * while it ran */
  def during[T](body: => T): (T, Seq[String]) = {
    val rec = new Recording()
    val file = java.nio.file.Files.createTempFile("graft-spawns", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val out = body
      rec.stop()
      rec.dump(file)
      (out, RecordingFile.readAllEvents(file).asScala.map(_.getString("command")).toSeq)
    } finally {
      rec.close()
      java.nio.file.Files.deleteIfExists(file)
    }
  }
}
