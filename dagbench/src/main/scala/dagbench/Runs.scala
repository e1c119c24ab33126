package dagbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.lake.{Catalog, Lake}
import graft.ops.RollingOls

/** What a traced run measured, for [[Layers.emit]]. */
final case class Traced(
    tracer: Tracer,
    before: Snap,
    after: Snap,
    unitWallS: Double,
    baselineWallS: Double,
    backfillWallS: Double = 0.0,
    qpDates: Long = 0,
    unconverged: Long = 0,
    olsNsPerRow: Double = 0.0)

/** Emits the per-layer metrics of a traced run. Every name is emitted on
  * every workload; a layer the workload does not exercise reads 0. */
object Layers {
  val BackfillFlows: Seq[String] = Seq("calendar", "universe", "prices", "returns",
    "factor_model", "factor_covariances", "reversal", "benchmark", "betas",
    "portfolio_weights")
  val DailyFlows: Seq[String] = Seq("calendar", "universe", "market_open", "prices",
    "returns", "factor_model", "factor_covariances", "reversal", "benchmark",
    "betas", "portfolio_weights", "trading")
  val LakeOps: Seq[String] = Seq("create", "append", "optimize", "table")

  /** Spans `prefix.<name>` for each name; returns their summed wall. */
  private def flows(r: Report, t: Tracer, prefix: String, names: Seq[String]): Double =
    names.map { n =>
      val (w, c, j) = t.flows.getOrElse(s"$prefix.$n", (0.0, 0.0, 0L))
      r.put(s"$prefix.$n.s", w, "s")
      r.put(s"$prefix.$n.cpu_s", c, "s")
      r.put(s"$prefix.$n.jobs", j.toDouble, "count")
      w
    }.sum

  private def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  def emit(r: Report, x: Traced): Unit = {
    val t = x.tracer
    val bf = flows(r, t, "pipelines.backfill", BackfillFlows)
    r.put("pipelines.backfill.span_coverage", ratio(bf, x.backfillWallS), "ratio")
    val daily = flows(r, t, "pipelines.daily", DailyFlows)
    r.put("pipelines.daily.span_coverage", ratio(daily, x.unitWallS), "ratio")
    flows(r, t, "curation", Curation.Gates)

    LakeOps.foreach { op =>
      val (s, n) = t.lakeOps.getOrElse(op, (0.0, 0L))
      r.put(s"lake.$op.s", s, "s")
      r.put(s"lake.$op.calls", n.toDouble, "count")
    }
    val (b, a) = (x.before, x.after)
    val mb = 1048576.0
    r.put("lake.bytes_written_mb", (a.fsWritten - b.fsWritten) / mb, "MB")
    r.put("lake.bytes_read_mb", (a.fsRead - b.fsRead) / mb, "MB")
    r.put("lake.write_amp", ratio(a.fsWritten - b.fsWritten, t.appendBytes), "ratio")

    val execCpu = (a.executorCpuNs - b.executorCpuNs) / 1e9
    r.put("spark.jobs", (a.jobs - b.jobs).toDouble, "count")
    r.put("spark.stages", (a.stages - b.stages).toDouble, "count")
    r.put("spark.tasks", (a.tasks - b.tasks).toDouble, "count")
    r.put("spark.executor_cpu_s", execCpu, "s")
    r.put("spark.shuffle_read_mb", (a.shuffleRead - b.shuffleRead) / mb, "MB")
    r.put("spark.shuffle_write_mb", (a.shuffleWrite - b.shuffleWrite) / mb, "MB")
    r.put("spark.spill_mb", (a.spill - b.spill) / mb, "MB")
    r.put("spark.gc_s", (a.gcMs - b.gcMs) / 1000.0, "s")
    r.put("spark.executor_busy_frac", ratio(execCpu, (a.wallS - b.wallS) * Main.cores), "ratio")
    r.put("spark.codegen_fallbacks", t.codegen.count.sum().toDouble, "count")

    r.put("ops.rolling_ols.ns_per_row", x.olsNsPerRow, "ns")
    val qpS = t.flows.get("pipelines.backfill.portfolio_weights").fold(0.0)(_._1)
    r.put("opt.qp_dates", x.qpDates.toDouble, "count")
    r.put("opt.qp_s", qpS, "s")
    r.put("opt.ms_per_date", ratio(qpS * 1000, x.qpDates), "ms")
    r.put("opt.unconverged", x.unconverged.toDouble, "count")
    r.put("trade.diff_s", t.flows.get("pipelines.daily.trading").fold(0.0)(_._1), "s")
    r.put("trace.overhead_frac", x.unitWallS / x.baselineWallS - 1.0, "ratio")
  }
}

/** The daily workload: set-up generates the market and backfills the lake
  * (`runAll`); the measured part runs consecutive nightly sessions. */
object DailyRun {
  /** 50 stocks, the 5 factor ETFs and about 2.2 years of sessions. */
  val Shape = MarketShape(tickers = 50, sessions = 560, changes = 12)

  /** QP dates solved and not converged in the lake's portfolio metrics. */
  private def qpCounts(lake: Lake): (Long, Long) = {
    val r = lake.table(Catalog.portfolioMetrics)
      .agg(count(lit(1)), sum(when(col("qp_converged"), 0L).otherwise(1L))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** ns per panel row of one 252-row 5-factor rolling OLS over the lake's
    * return panel, called directly. */
  private def olsNsPerRow(spark: SparkSession, lake: Lake): Double = {
    import spark.implicits._
    val wide = lake.table(Catalog.etfReturns).groupBy($"date")
      .pivot("ticker", Market.Factors).agg(first($"return"))
    val panel = lake.table(Catalog.stockReturns).select($"ticker", $"date", $"return")
      .join(broadcast(wide), Seq("date"), "left").cache()
    val rows = panel.count()
    val t0 = System.nanoTime()
    RollingOls.rollingOls(panel, Seq("ticker"), Seq("date"), "return", Market.Factors, 252)
      .agg(count(lit(1)), sum(col(s"b_${Market.Factors.head}"))).head()
    val ns = (System.nanoTime() - t0).toDouble / rows
    panel.unpersist()
    ns
  }

  def run(spark: SparkSession, a: Args, ledger: Ledger, r: Report): Unit = {
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val env = new Env(spark, None)
    // traced runs trace the set-up backfill's flows too, on an untraced lake
    val flowEnv = new Env(spark, tracer)

    val t0 = Clock.wallS()
    val m = new Market(spark, a.seed, Shape, s"${a.work}/market")
    val marketS = Clock.wallS() - t0
    val root = s"${a.work}/lake"
    val lake = new Lake(spark, root)
    // a failed set-up ends the run; the record then carries no timings
    val backfill = ledger.call("backfill")(Backfill.run(flowEnv, m, lake))(
      _ => Backfill.problems(env, lake)) match {
      case Some((_, s)) => s
      case None => return
    }
    if (!a.trace) r.put("setup_s", marketS + backfill.wallS, "s")
    val qp = if (a.trace) qpCounts(lake) else (0L, 0L)

    val orch = env.orchestrator(lake)
    val tracedOrch = tracer.map(t => flowEnv.orchestrator(new TracingLake(spark, root, t)))
    var traced: Option[(Sample, Snap, Snap)] = None
    val untraced = ArrayBuffer.empty[Sample]
    val start = Clock.wallS()
    // untraced: sessions until --seconds is spent (at least one). Traced:
    // every session; the first absorbs the daily paths' JIT, the second is
    // traced and the third is its untraced baseline
    for (k <- 0 until Daily.Sessions
         if a.trace || k == 0 || Clock.wallS() - start < a.seconds) {
      val trace = tracer.isDefined && k == 1
      var out = (new java.sql.Date(0L), 0.0)
      var before: Option[Snap] = None
      var after: Option[Snap] = None
      ledger.call(s"session$k") {
        before = if (trace) tracer.map(_.snap()) else None
        out = Daily.session(if (trace) flowEnv else env, m,
          if (trace) tracedOrch.get else orch, k)
        after = if (trace) tracer.map(_.snap()) else None
      }(_ => Daily.problems(env, lake, out._1, out._2, m.tickers.size + 1)).foreach {
        case (_, s) =>
          if (trace) traced = for (b <- before; af <- after) yield (s, b, af)
          else untraced += s
      }
      // the baseline session runs without the listener
      if (trace) tracer.foreach(_.close())
    }
    if (!a.trace) {
      r.putMedian("wall_s", untraced.map(_.wallS).toSeq, "s")
      r.putMedian("cpu_s", untraced.map(_.cpuS).toSeq, "s")
      System.err.println(s"[dagbench] daily: ${untraced.size} sessions timed")
    } else for ((s, b, af) <- traced; t <- tracer if untraced.nonEmpty)
      Layers.emit(r, Traced(t, b, af, s.wallS, untraced.last.wallS,
        backfill.wallS, qp._1, qp._2, olsNsPerRow(spark, lake)))
  }
}

/** The curation workload: passes over the lifecycle gates. */
object CurationRun {
  /** One pass; a pass with a failed gate is not a sample. */
  private def pass(spark: SparkSession, a: Args, ledger: Ledger, tracer: Option[Tracer])
      : Option[Sample] = {
    val ss = Curation.Gates.flatMap { g =>
      ledger.call(g) {
        tracer.fold(Curation.run(spark, a.corpus, g))(
          _.flow(s"curation.$g")(Curation.run(spark, a.corpus, g)))
      }(_ => Nil).map(_._2)
    }
    if (ss.size == Curation.Gates.size)
      Some(Sample("curation", ss.map(_.wallS).sum, ss.map(_.cpuS).sum))
    else None
  }

  def run(spark: SparkSession, a: Args, ledger: Ledger, r: Report): Unit = {
    val t0 = Clock.wallS()
    Curation.loadCorpus(spark, a.corpus)
    // a failed set-up ends the run; the record then carries no timings
    if (ledger.call(Curation.WarmUp)(Curation.run(spark, a.corpus, Curation.WarmUp))(_ => Nil)
        .isEmpty) return
    if (!a.trace) {
      r.put("setup_s", Clock.wallS() - t0, "s")
      val start = Clock.wallS()
      val samples = ArrayBuffer.empty[Sample]
      var passes = 0
      while (passes == 0 || Clock.wallS() - start < a.seconds) {
        samples ++= pass(spark, a, ledger, None)
        passes += 1
      }
      r.putMedian("wall_s", samples.map(_.wallS).toSeq, "s")
      r.putMedian("cpu_s", samples.map(_.cpuS).toSeq, "s")
      System.err.println(s"[dagbench] curation: ${samples.size} passes timed")
    } else {
      // the first pass compiles the gates' own paths; then a traced pass
      // against an untraced baseline
      pass(spark, a, ledger, None)
      val t = new Tracer(spark)
      val b = t.snap()
      val traced = pass(spark, a, ledger, Some(t))
      val af = t.snap()
      t.close()
      val baseline = pass(spark, a, ledger, None)
      for (s <- traced; u <- baseline)
        Layers.emit(r, Traced(t, b, af, s.wallS, u.wallS))
    }
  }
}
