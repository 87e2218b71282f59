package org.apache.spark.graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Test helper: the Spark jobs a block of code ran, each with its job
  * group and submit/end times, seen by a listener registered around the
  * block. It lives under `org.apache.spark` to drain the listener bus, so
  * the record is complete when [[JobRecorder.record]] returns. */
object JobRecorder {
  final case class Job(id: Int, group: Option[String], startMs: Long, endMs: Long) {
    def overlaps(o: Job): Boolean = startMs < o.endMs && o.startMs < endMs
  }

  /** `body`'s result and the jobs it ran, in submission order. */
  def record[T](sc: SparkContext)(body: => T): (T, Seq[Job]) = {
    sc.listenerBus.waitUntilEmpty()
    val starts = new ConcurrentHashMap[Int, (Option[String], Long)]()
    val ends = new ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(e.jobId, (Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))), e.time))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.put(e.jobId, e.time)
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      val jobs = Seq.newBuilder[Job]
      starts.forEach { (id, s) => jobs += Job(id, s._1, s._2, ends.getOrDefault(id, -1L)) }
      (out, jobs.result().sortBy(j => (j.startMs, j.id)))
    } finally sc.removeSparkListener(listener)
  }
}
