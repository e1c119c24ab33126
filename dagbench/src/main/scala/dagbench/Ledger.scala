package dagbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Wall and process-cpu seconds of one successful measured call. */
final case class Sample(name: String, wallS: Double, cpuS: Double)

object Clock {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process cpu seconds: driver plus the local executors, all threads. */
  def cpuS(): Double = os.getProcessCpuTime / 1e9

  def wallS(): Double = System.nanoTime() / 1e9
}

/** Failure accounting for every measured operation. A call that throws, or
  * whose output check reports a problem, is counted as failed, named on
  * `err`, and yields no timing sample; only a call that returned and passed
  * its check becomes a [[Sample]]. */
final class Ledger(err: java.io.PrintStream = System.err) {
  private var attemptedN = 0
  private val failedNames = ArrayBuffer.empty[String]

  def attempted: Int = attemptedN
  def failed: Int = failedNames.size
  def failures: Seq[String] = failedNames.toSeq

  private def fail(name: String, why: String): Unit = {
    failedNames += name
    err.println(s"[dagbench] FAILED $name: $why")
  }

  /** Time `body`, then run `check` on its result outside the timed span.
    * `check` returns the problems it found; none means correct. */
  def call[T](name: String)(body: => T)(check: T => Seq[String]): Option[(T, Sample)] = {
    attemptedN += 1
    val c0 = Clock.cpuS()
    val t0 = Clock.wallS()
    val result = try Right(body) catch { case NonFatal(e) => Left(e) }
    val sample = Sample(name, Clock.wallS() - t0, Clock.cpuS() - c0)
    result match {
      case Left(e) =>
        fail(name, s"threw $e")
        None
      case Right(v) =>
        val k0 = Clock.wallS()
        val problems = try check(v) catch {
          case NonFatal(e) => Seq(s"output check threw $e")
        }
        if (problems.isEmpty) {
          err.println(f"[dagbench] ok $name ${sample.wallS}%.2f s, ${sample.cpuS}%.1f cpu-s" +
            f" (check ${Clock.wallS() - k0}%.2f s)")
          Some((v, sample))
        } else {
          fail(name, problems.mkString("; "))
          None
        }
    }
  }
}
