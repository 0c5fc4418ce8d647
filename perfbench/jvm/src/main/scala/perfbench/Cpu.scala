package perfbench

import java.lang.management.ManagementFactory
import scala.util.control.NonFatal

/** CPU clocks of this JVM, read from the OS. */
object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val UserHz = 100.0

  private def read(path: String): String = {
    val f = scala.io.Source.fromFile(path)
    try f.mkString finally f.close()
  }

  /** CPU seconds of the JIT compiler threads, from /proc (0 where it is
    * unreadable). The run keeps their number fixed, so none exits and
    * takes its count along. */
  def jit(): Double = Option(new java.io.File("/proc/self/task").listFiles())
    .toSeq.flatten.map { t =>
      try {
        if (!read(s"$t/comm").contains("CompilerThre")) 0L
        else {
          val stat = read(s"$t/stat")
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          f(11).toLong + f(12).toLong  // utime, stime
        }
      } catch { case NonFatal(_) => 0L }
    }.sum / UserHz

  /** CPU seconds the process spent on everything but JIT compilation:
    * client, scheduler, task, GC and listener threads. Compilation is the
    * JVM's own warm-up, and on a shared host the noisiest part of the
    * process's CPU; time the hypervisor steals is in neither. */
  def work(): Double = os.getProcessCpuTime / 1e9 - jit()

  /** (steal, total) jiffies of all CPUs from /proc/stat; (0, 0) where it
    * is unreadable. */
  def jiffies(): (Long, Long) = try {
    val xs = read("/proc/stat").linesIterator.next().split("\\s+").slice(1, 9)
      .map(_.toLong)
    (xs(7), xs.sum)
  } catch { case NonFatal(_) => (0L, 0L) }
}
