package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what a block makes Spark do, in order: the stage names of
  * every job it starts and the executed plan of every query it runs.
  * Listener events arrive asynchronously, so recording starts and ends
  * once no event has arrived for 300 ms. */
object LoopProbe {

  final case class Trace(jobs: Seq[Seq[String]], plans: Seq[SparkPlan])

  def record[A](spark: SparkSession)(body: => A): (A, Trace) = {
    val jobs = new ConcurrentLinkedQueue[Seq[String]]()
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val jobListener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.add(j.stageInfos.map(_.name))
    }
    val planListener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def settle(): Unit = {
      var last = -1
      while (jobs.size + plans.size != last) { last = jobs.size + plans.size; Thread.sleep(300) }
    }
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try {
      settle()
      jobs.clear()
      plans.clear()
      val out = body
      settle()
      (out, Trace(jobs.asScala.toSeq, plans.asScala.toSeq))
    } finally {
      spark.listenerManager.unregister(planListener)
      spark.sparkContext.removeSparkListener(jobListener)
    }
  }
}
