package perfbench

import java.lang.management.ManagementFactory


object Stats {
  /** Linear-interpolated percentile, p in [0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def seconds(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, seconds(t0))
  }
}

/** Heap retained after full collections, in MB: the live set the
  * engine holds between operations (caches, state, listeners), which
  * does not depend on when the young generation last filled up. A first
  * collection lets Spark's context cleaner drop the state of unreachable
  * broadcasts, shuffles and cached data; the second one frees it. */
object Heap {
  def retainedMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** CPU time of the JVM's Java threads: Spark's task threads, the driver,
  * the scheduler and the stream thread. The JIT compiler and the
  * collector run in JVM-internal threads and are left out: on live_tail
  * the compiler keeps about two cores busy compiling the code each epoch
  * generates for as long as the epoch lasts, so its time follows the
  * epoch's wall time, and with it the load of other tenants. */
object Cpu {
  private val mx = ManagementFactory.getThreadMXBean

  type Snapshot = Map[Long, Long]

  def snapshot(): Snapshot =
    mx.getAllThreadIds.iterator.map(id => id -> mx.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap

  /** Seconds the threads alive at `to` ran since `from` (a thread that
    * ended in between is not counted). */
  def seconds(from: Snapshot, to: Snapshot): Double =
    to.iterator.map { case (id, ns) => ns - from.getOrElse(id, 0L) }.sum / 1e9
}
