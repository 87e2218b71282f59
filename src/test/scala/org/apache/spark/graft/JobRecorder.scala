package org.apache.spark.graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Test helper: the Spark jobs a block of code ran, each with its job
  * group and submit/end times, seen by a listener registered around the
  * block. It lives under `org.apache.spark` to drain the listener bus, so
  * the record is complete when [[JobRecorder.record]] returns. */
object JobRecorder {
  /** `plan` is the physical plan text of the SQL execution the job ran
    * under (the query's columns and, for a write, its output path), empty
    * for a job outside any. */
  final case class Job(id: Int, group: Option[String], startMs: Long, endMs: Long,
      plan: String = "") {
    def overlaps(o: Job): Boolean = startMs < o.endMs && o.startMs < endMs
  }

  /** `body`'s result and the jobs it ran, in submission order. */
  def record[T](sc: SparkContext)(body: => T): (T, Seq[Job]) = {
    sc.listenerBus.waitUntilEmpty()
    val starts = new ConcurrentHashMap[Int, (Option[String], Long, Option[Long])]()
    val ends = new ConcurrentHashMap[Int, Long]()
    val plans = new ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
        starts.put(e.jobId, (prop("spark.jobGroup.id"), e.time,
          prop("spark.sql.execution.id").map(_.toLong)))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.put(e.jobId, e.time)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.put(s.executionId, s.physicalPlanDescription)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      val jobs = Seq.newBuilder[Job]
      starts.forEach { (id, s) =>
        jobs += Job(id, s._1, s._2, ends.getOrDefault(id, -1L),
          s._3.flatMap(x => Option(plans.get(x))).getOrElse(""))
      }
      (out, jobs.result().sortBy(j => (j.startMs, j.id)))
    } finally sc.removeSparkListener(listener)
  }
}
