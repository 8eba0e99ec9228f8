package org.apache.spark.graftbench

import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

/** Machine-speed probe: a fixed CPU and memory load, one sort of a fixed
  * pseudo-random array per probe thread, repeated `rounds` times. On a
  * shared host the speed of this machine drifts by tens of percent within
  * minutes, for the probe and the queries alike, so the caller can divide
  * it out. Each reading gives two figures, averaged over the threads:
  *   - wall seconds, which include time the hypervisor takes from the
  *     machine (steal);
  *   - CPU seconds, which do not, but follow how fast a core runs.
  * It uses half the cores, so that the JIT compiler threads, still busy
  * between passes, seldom keep its threads waiting for a core.
  */
final class SpeedProbe(threads: Int, size: Int = 1 << 20, rounds: Int = 2) {
  private val base = {
    val r = new java.util.Random(42)
    Array.fill(size)(r.nextLong())
  }
  private val buffers = Array.fill(threads)(new Array[Long](size))
  private val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val t = new Thread(r, "speed-probe")
    t.setDaemon(true) // never keeps the JVM alive
    t
  })
  private val mx = java.lang.management.ManagementFactory.getThreadMXBean
  @volatile private var sink = 0L

  /** (wall seconds, CPU seconds) of one probe thread, averaged. */
  def measure(): (Double, Double) = {
    val tasks = buffers.toSeq.map { buf =>
      new Callable[(Long, Long)] {
        def call(): (Long, Long) = {
          val t0 = System.nanoTime()
          val c0 = mx.getCurrentThreadCpuTime
          var sum = 0L
          var i = 0
          while (i < rounds) {
            System.arraycopy(base, 0, buf, 0, size)
            java.util.Arrays.sort(buf)
            sum += buf(size / 2)
            i += 1
          }
          sink += sum
          (System.nanoTime() - t0, mx.getCurrentThreadCpuTime - c0)
        }
      }
    }
    val done = pool.invokeAll(tasks.asJava).asScala.map(_.get())
    (done.map(_._1).sum / 1e9 / threads, done.map(_._2).sum / 1e9 / threads)
  }

  def close(): Unit = pool.shutdown()
}
