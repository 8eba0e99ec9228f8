package org.apache.spark.graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

/** CPU time of the JVM's JIT compiler threads, read from Linux's
  * per-thread `schedstat` (nanoseconds on a CPU). The compiler threads
  * are hidden from `ThreadMXBean`. Elsewhere than on Linux it reads
  * nothing and reports zero.
  */
object VmThreads {
  private val task = Paths.get("/proc/self/task")

  private def isCompiler(name: String): Boolean =
    name.startsWith("C1 CompilerThre") || name.startsWith("C2 CompilerThre")

  /** Thread id -> CPU nanoseconds so far, for every live compiler thread. */
  def jitSnapshot(): Map[String, Long] =
    Try(Files.list(task).iterator().asScala.toList).getOrElse(Nil).flatMap { dir =>
      Try {
        val name = new String(Files.readAllBytes(dir.resolve("comm"))).trim
        if (!isCompiler(name)) None
        else Some(dir.getFileName.toString ->
          new String(Files.readAllBytes(dir.resolve("schedstat"))).trim.split(" ")(0).toLong)
      }.toOption.flatten
    }.toMap

  /** Compiler CPU seconds spent between two snapshots. */
  def jitSeconds(from: Map[String, Long], to: Map[String, Long]): Double =
    to.map { case (tid, ns) => ns - from.getOrElse(tid, 0L) }.sum / 1e9
}
