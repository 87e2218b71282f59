package perfbench

import java.util.concurrent.{Executors, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

/** Load drivers: an open loop (independent users at a fixed offered rate)
  * and a closed loop (clients that each wait for their reply). */
object Load {

  /** Time source of the open-loop generator; a test substitutes a fake. */
  trait Clock {
    def now(): Long
    def sleepUntil(t: Long): Unit
  }
  object SystemClock extends Clock {
    def now(): Long = System.nanoTime()
    def sleepUntil(t: Long): Unit = {
      var d = t - System.nanoTime()
      while (d > 0) { LockSupport.parkNanos(d); d = t - System.nanoTime() }
    }
  }

  /** Per-operation outcome. `latencyNs` is measured from the operation's
    * scheduled send time (open loop) or its start (closed loop). */
  case class Outcome(latencyNs: Long, ok: Boolean)

  case class OpenResult(outcomes: Array[Outcome], lateNs: Array[Long], wallNs: Long)

  /** Open loop: one generator thread schedules operation i at
    * t0 + i/rate for `durationNs` and hands it to a pool of `workers`
    * threads; each latency runs from the scheduled time, so a stall also
    * charges the wait it imposes on later operations. `lateNs(i)` is how
    * late the generator handed operation i over. `op(i, worker)` returns
    * whether the operation's output was correct; a throw counts as failed. */
  def openLoop(rate: Double, durationNs: Long, workers: Int,
      op: (Int, Int) => Boolean, clock: Clock = SystemClock): OpenResult = {
    require(rate > 0 && workers >= 1)
    val periodNs = 1e9 / rate
    val n = math.max(1, (durationNs / periodNs).toInt)
    val outcomes = new Array[Outcome](n)
    val late = new Array[Long](n)
    val workerIds = new AtomicInteger(0)
    val slot = new ThreadLocal[Int] { override def initialValue(): Int = workerIds.getAndIncrement() }
    val pool = new ThreadPoolExecutor(workers, workers, 0L, TimeUnit.MILLISECONDS,
      new LinkedBlockingQueue[Runnable]())
    val t0 = clock.now()
    var i = 0
    while (i < n) {
      val due = t0 + (i * periodNs).toLong
      clock.sleepUntil(due)
      late(i) = math.max(0L, clock.now() - due)
      val idx = i
      pool.execute(() => {
        val ok = try op(idx, slot.get()) catch { case _: Throwable => false }
        outcomes(idx) = Outcome(clock.now() - due, ok)
      })
      i += 1
    }
    pool.shutdown()
    while (!pool.awaitTermination(1, TimeUnit.SECONDS)) ()
    OpenResult(outcomes, late, clock.now() - t0)
  }

  case class ClosedResult(outcomes: Array[Outcome], endsNs: Array[Long], wallNs: Long) {
    /** Completions per second: the median over `slices` equal slices of
      * the wall time, so a stall in a minority of slices leaves it
      * unchanged. */
    def throughput(slices: Int): Double = {
      val per = new Array[Int](slices)
      endsNs.foreach(t => per(math.min(slices - 1, (t * slices / wallNs).toInt)) += 1)
      Stats.median(per.map(_.toDouble).toSeq) * slices / (wallNs / 1e9)
    }
  }

  /** Closed loop: `clients` threads each run `op(seq, client)` back to back
    * until `durationNs` has passed; `seq` counts operations across all
    * clients. The wall time runs until the last client stopped. */
  def closedLoop(clients: Int, durationNs: Long,
      op: (Int, Int) => Boolean): ClosedResult = {
    val seq = new AtomicInteger(0)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Outcome, Long)]()
    val pool = Executors.newFixedThreadPool(clients)
    val t0 = System.nanoTime()
    val end = t0 + durationNs
    (0 until clients).foreach { c =>
      pool.execute(() => {
        while (System.nanoTime() < end) {
          val i = seq.getAndIncrement()
          val s = System.nanoTime()
          val ok = try op(i, c) catch { case _: Throwable => false }
          val e = System.nanoTime()
          out.add(Outcome(e - s, ok) -> (e - t0))
        }
      })
    }
    pool.shutdown()
    while (!pool.awaitTermination(1, TimeUnit.SECONDS)) ()
    val wall = System.nanoTime() - t0
    val all = out.toArray(Array.empty[(Outcome, Long)])
    ClosedResult(all.map(_._1), all.map(_._2), wall)
  }
}
