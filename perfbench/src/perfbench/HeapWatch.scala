package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._

/** Live old-generation heap while work runs: a sampler thread forces a full
  * GC every `intervalMs` and reads the old generation's occupancy after it,
  * so memory an operation holds while it runs (join build sides,
  * driver-side collects) is seen, not only what is left between operations.
  * The reading is the upper quartile of the samples: their maximum depends
  * on whether a sample happens to land on a short spike, and read 150 to
  * 230 MB over ten dedup_joins runs.
  */
object HeapWatch {
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(p => p.getType == MemoryType.HEAP && (p.getName.contains("Old") || p.getName.contains("Tenured")))
  require(oldPools.nonEmpty, "no old-generation heap pool found")

  /** Old-gen occupancy (MB) after a full GC, and the GC's pause (s). */
  def sample(): (Double, Double) = {
    val t0 = System.nanoTime()
    System.gc()
    val pause = (System.nanoTime() - t0) / 1e9
    (oldPools.map(_.getCollectionUsage.getUsed).sum / 1e6, pause)
  }

  final case class Reading(p75Mb: Double, samples: Int, pauseS: Double)

  /** Runs `body` while sampling; returns its result and the reading. */
  def during[T](intervalMs: Long)(body: => T): (T, Reading) = {
    val readings = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()
    @volatile var running = true
    val sampler = new Thread(() => {
      while (running) {
        readings.add(sample())
        try Thread.sleep(intervalMs) catch { case _: InterruptedException => () }
      }
    }, "perfbench-heap")
    sampler.setDaemon(true)
    sampler.start()
    val out = try body finally { running = false; sampler.interrupt(); sampler.join() }
    val pauseS = readings.asScala.map(_._2).sum // only the GCs that ran during `body`
    readings.add(sample())
    val rs = readings.asScala.toSeq
    (out, Reading(Stats.pct(rs.map(_._1), 0.75).value, rs.size, pauseS))
  }
}
