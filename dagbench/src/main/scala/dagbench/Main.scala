package dagbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** Command line of one benchmark process (see README.md). */
final case class Args(
    workload: String = "",
    seed: Long = 1L,
    seconds: Int = 10,
    trace: Boolean = false,
    work: String = "",
    corpus: String = "")

object Args {
  def parse(argv: Seq[String]): Args = argv.grouped(2).foldLeft(Args()) {
    case (a, Seq("--workload", v)) => a.copy(workload = v)
    case (a, Seq("--seed", v)) => a.copy(seed = v.toLong)
    case (a, Seq("--seconds", v)) => a.copy(seconds = v.toInt)
    case (a, Seq("--trace", v)) => a.copy(trace = v == "1")
    case (a, Seq("--work", v)) => a.copy(work = v)
    case (a, Seq("--corpus", v)) => a.copy(corpus = v)
    case (_, other) => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
  }
}

/** Metrics of one run, printed as the last stdout line. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** The median of `xs` as `name`; left out when there is no sample (every
    * measured call failed), so that the record still prints. */
  def putMedian(name: String, xs: Seq[Double], unit: String): Unit =
    if (xs.nonEmpty) put(name, Main.median(xs), unit)

  def json(ledger: Ledger): String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val ms = metrics.map { case (n, (v, u)) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": ${ledger.failed == 0}, "attempted": ${ledger.attempted}, """ +
      s""""failed": ${ledger.failed}, "metrics": {$ms}}"""
  }
}

object Main {
  /** Local parallelism and shuffle partitions: one per cpu of the process. */
  val cores: Int = Runtime.getRuntime.availableProcessors()

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def session(a: Args): SparkSession = {
    val s = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv.toSeq)
    require(a.work.nonEmpty, "--work is required")
    val spark = session(a)
    val ledger = new Ledger()
    val report = new Report
    val spinPre = Box.spin()
    val steal0 = Box.stealJiffies()
    val psi0 = Box.psiCpuUs()
    try {
      a.workload match {
        case "daily" => DailyRun.run(spark, a, ledger, report)
        case "curation" => CurationRun.run(spark, a, ledger, report)
        case w => throw new IllegalArgumentException(s"unknown workload: $w")
      }
    } finally {
      val box = Seq(
        ("box.spin_pre_s", spinPre, "s"),
        ("box.spin_post_s", Box.spin(), "s"),
        ("box.steal_jiffies", (Box.stealJiffies() - steal0).toDouble, "count"),
        ("box.psi_cpu_ms", (Box.psiCpuUs() - psi0) / 1000.0, "ms"))
      val rss = ("jvm.peak_rss_mb", Box.peakRssMb(), "MB")
      System.err.println("[dagbench] " +
        (box :+ rss).map { case (n, v, u) => s"$n=$v$u" }.mkString(" "))
      if (a.trace) (box :+ rss).foreach { case (n, v, u) => report.put(n, v, u) }
      spark.stop()
    }
    if (ledger.failed > 0)
      System.err.println(s"[dagbench] failed calls: ${ledger.failures.mkString(", ")}")
    println(report.json(ledger))
  }
}
