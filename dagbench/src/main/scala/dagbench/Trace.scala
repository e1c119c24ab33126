package dagbench

import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Whole-run Spark counters from one listener. */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val executorCpuNs = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val gcMs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      executorCpuNs.addAndGet(m.executorCpuTime)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }
}

/** Counts Catalyst codegen fallbacks from the log: CodeGenerator's
  * "Failed to compile" errors and the "falling back to interpreter mode"
  * warnings. */
final class CodegenFallbacks {
  val count = new LongAdder
  private val appender = {
    import org.apache.logging.log4j.core.{LogEvent, appender => a}
    import org.apache.logging.log4j.core.config.Property
    new a.AbstractAppender("dagbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
        if (m.contains("Failed to compile") || m.contains("falling back to interpreter mode"))
          count.increment()
      }
    }
  }

  private def context = org.apache.logging.log4j.LogManager.getContext(false)
    .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]

  def install(): Unit = {
    appender.start()
    context.getConfiguration.getRootLogger
      .addAppender(appender, org.apache.logging.log4j.Level.WARN, null)
    context.updateLoggers()
  }

  /** Stop counting: later log events are not seen. */
  def uninstall(): Unit = {
    context.getConfiguration.getRootLogger.removeAppender(appender.getName)
    context.updateLoggers()
    appender.stop()
  }
}

/** Cumulative counters at one instant; differences attribute a call. */
final case class Snap(wallS: Double, cpuS: Double, jobs: Long, stages: Long,
    tasks: Long, executorCpuNs: Long, shuffleRead: Long, shuffleWrite: Long,
    spill: Long, gcMs: Long, fsWritten: Long, fsRead: Long)

object Hadoop {
  private def stats = FileSystem.getAllStatistics.asScala
  def bytesWritten(): Long = stats.map(_.getBytesWritten).sum
  def bytesRead(): Long = stats.map(_.getBytesRead).sum
}

/** Per-layer tracing for one traced run: flow spans recorded from the
  * benchmark's own call sites, lake-operation spans from [[TracingLake]],
  * and whole-run Spark, Hadoop-FS and codegen counters. Nothing is traced
  * inside the engine. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val counters = new SparkCounters
  val codegen = new CodegenFallbacks
  sc.addSparkListener(counters)
  codegen.install()

  def snap(): Snap = {
    BusDrain(sc)
    val c = counters
    Snap(Clock.wallS(), Clock.cpuS(), c.jobs.get, c.stages.get, c.tasks.get,
      c.executorCpuNs.get, c.shuffleReadBytes.get, c.shuffleWriteBytes.get,
      c.spillBytes.get, c.gcMs.get, Hadoop.bytesWritten(), Hadoop.bytesRead())
  }

  /** (wall s, process cpu s, jobs) per flow span, in first-call order. */
  val flows = mutable.LinkedHashMap.empty[String, (Double, Double, Long)]

  /** Time one call into a layer as the named flow; repeated names add up. */
  def flow[T](name: String)(body: => T): T = {
    val a = snap()
    try body
    finally {
      val b = snap()
      val (w, c, j) = flows.getOrElse(name, (0.0, 0.0, 0L))
      flows(name) = (w + b.wallS - a.wallS, c + b.cpuS - a.cpuS, j + b.jobs - a.jobs)
    }
  }

  /** (seconds, calls) per lake operation, and FS bytes written in appends. */
  val lakeOps = mutable.LinkedHashMap.empty[String, (Double, Long)]
  var appendBytes = 0L

  def lakeOp[T](op: String)(body: => T): T = {
    val t0 = Clock.wallS()
    val w0 = if (op == "append") Hadoop.bytesWritten() else 0L
    try body
    finally {
      val (s, n) = lakeOps.getOrElse(op, (0.0, 0L))
      lakeOps(op) = (s + Clock.wallS() - t0, n + 1)
      if (op == "append") appendBytes += Hadoop.bytesWritten() - w0
    }
  }

  /** Detach the listener and the log counter; the counts stay readable. */
  def close(): Unit = {
    sc.removeSparkListener(counters)
    codegen.uninstall()
  }
}

/** The contention witness: a fixed single-thread spin timed before and
  * after the measured part, plus the box's cpu steal and cpu pressure
  * accrued in between. A run slowed by another tenant shows longer spins,
  * steal or pressure; a slower program does not move them. */
object Box {
  /** Seconds for a fixed amount of single-thread integer work. */
  def spin(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 60000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= x >>> 33
      i += 1
    }
    if (x == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e9
  }

  private def read(path: String): Option[String] =
    try Some(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))))
    catch { case _: java.io.IOException => None }

  /** Steal jiffies summed over all cpus (`/proc/stat`, 8th field). */
  def stealJiffies(): Long = read("/proc/stat").flatMap(_.linesIterator
    .find(_.startsWith("cpu ")).map(_.trim.split("\\s+")(8).toLong)).getOrElse(0L)

  /** Cumulative microseconds some task waited for a cpu (`/proc/pressure/cpu`). */
  def psiCpuUs(): Long = read("/proc/pressure/cpu").flatMap(_.linesIterator
    .find(_.startsWith("some")).flatMap(_.split(" ").find(_.startsWith("total="))
      .map(_.stripPrefix("total=").toLong))).getOrElse(0L)

  /** Peak resident set of this process in MB (`VmHWM`). */
  def peakRssMb(): Double = read("/proc/self/status").flatMap(_.linesIterator
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)).getOrElse(0.0)
}
