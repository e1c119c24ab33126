package dagbench

import java.sql.Date
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.lake.{Catalog, Lake}
import graft.pipelines.Orchestrator

/** The orchestrator's session, and the tracer when the run traces. */
final class Env(val spark: SparkSession, val tracer: Option[Tracer]) {
  /** The orchestrator at the reference's parameters. */
  def orchestrator(lake: Lake): Orchestrator = new Orchestrator(spark, lake,
    Market.Factors, window = 252, halfLife = 60.0, ic = 0.05,
    targetActiveRisk = 0.05)

  /** Run `body` as a traced flow span, or plainly when untraced. */
  def flow[T](name: String)(body: => T): T =
    tracer.fold(body)(_.flow(name)(body))
}

/** The backfill: `Orchestrator.runAll` over the market's history, which
  * is every session but the last `Daily.Sessions + 1` (the nightly
  * sessions' yesterdays, and the last one's today). */
object Backfill {
  def lastDate(m: Market): Date = m.sessions(m.sessions.length - Daily.Sessions - 2)

  /** Build the history into `lake`. Traced, each flow of `runAll` is
    * called in `runAll`'s order under its own span. */
  def run(env: Env, m: Market, lake: Lake): Unit = {
    import env.spark.implicits._
    val last = lastDate(m)
    val cal = m.calendar(last)
    val stock = m.stockBars.filter($"date" <= lit(last))
    val etf = m.etfBars.filter($"date" <= lit(last))
    val o = env.orchestrator(lake)
    if (env.tracer.isEmpty) o.runAll(cal, m.currentConstituents, m.changes, stock, etf)
    else {
      def f(n: String)(body: => Unit): Unit = env.flow(s"pipelines.backfill.$n")(body)
      f("calendar")(o.runCalendar(cal))
      f("universe")(o.runUniverse(m.currentConstituents, m.changes))
      f("prices")(o.runPrices(stock, etf))
      f("returns")(o.runReturns())
      f("factor_model")(o.runFactorModel())
      f("factor_covariances")(o.runFactorCovariances())
      f("reversal")(o.runReversal())
      f("benchmark")(o.runBenchmark())
      f("betas")(o.runBetas())
      f("portfolio_weights")(o.runPortfolioWeights())
    }
  }

  /** Output checks after a backfill. */
  def problems(env: Env, lake: Lake): Seq[String] = {
    import env.spark.implicits._
    val tables = Catalog.all.filterNot(_ == Catalog.portfolioHistory)
    val nonEmpty = tables.map(t => lake.table(t).select(lit(t.name).as("t")).limit(1))
      .reduce(_ unionByName _).as[String].collect().toSet
    val empty = tables.map(_.name).filterNot(nonEmpty)
    val bad = lake.table(Catalog.portfolioWeights).groupBy($"date")
      .agg(sum($"weight").as("s"), min($"weight").as("m"))
      .filter(abs($"s" - 1.0) > 1e-6 || $"m" < 0.0).count()
    val m = lake.table(Catalog.portfolioMetrics)
      .agg(count(lit(1)), sum(when($"qp_converged", 0).otherwise(1))).head()
    (if (empty.isEmpty) Nil else Seq(s"empty tables: ${empty.mkString(",")}")) ++
      (if (bad == 0) Nil else Seq(s"$bad dates whose weights do not sum to 1 or go negative")) ++
      (if (m.getLong(0) > 0) Nil else Seq("no portfolio_metrics rows")) ++
      (if (m.getLong(1) == 0) Nil else Seq(s"${m.getLong(1)} QP solves did not converge"))
  }
}

/** One nightly session: `runAllDaily(yesterday)` then
  * `runTradingDaily(today)` against staged notionals and fills. */
object Daily {
  val AccountValue = 1000000.0

  /** Nightly sessions the market holds after the backfill; untraced runs
    * time as many as --seconds allows, traced runs use all of them. */
  val Sessions = 3

  /** Tables the daily chain writes a `yesterday` row into. */
  val written: Seq[graft.lake.TableDef] = Seq(Catalog.calendar, Catalog.universe,
    Catalog.stockPrices, Catalog.etfPrices, Catalog.stockReturns,
    Catalog.etfReturns, Catalog.factorLoadings, Catalog.idioVol,
    Catalog.factorCovariances, Catalog.signals, Catalog.scores, Catalog.alphas,
    Catalog.benchmarkWeights, Catalog.benchmarkReturns, Catalog.betas,
    Catalog.portfolioWeights, Catalog.portfolioMetrics)

  /** Staged brokerage state for `today`: seeded current notionals for a
    * few held tickers (one not in the index) and seeded fills. */
  def staged(spark: SparkSession, m: Market, today: Date): (DataFrame, DataFrame) = {
    import spark.implicits._
    val r = new scala.util.Random(m.seed ^ today.getTime)
    val held = r.shuffle(m.tickers.toList).take(20).map(t => (t, 1000.0 + r.nextInt(50000))) :+
      ("ZZZZ" -> 2500.0)
    val at = new java.sql.Timestamp(today.getTime + 15L * 3600 * 1000)
    val fills = (0 until 30).map { i =>
      (s"o$i", m.tickers(r.nextInt(m.tickers.length)), if (i % 3 == 0) "sell" else "buy",
        (1 + r.nextInt(100)).toDouble, 20.0 + r.nextInt(200), at)
    }
    (held.toDF("ticker", "current_notional"),
      fills.toDF("order_id", "ticker", "side", "filled_qty", "filled_avg_price", "filled_at"))
  }

  /** Run session `k` (0-based) after the backfill. */
  def session(env: Env, m: Market, o: Orchestrator, k: Int): (Date, Double) = {
    val i = m.sessions.length - Sessions - 1 + k
    val (yesterday, today) = (m.sessions(i), m.sessions(i + 1))
    val cal = m.calendar(yesterday)
    val cons = m.currentConstituents
    val (held, fills) = staged(env.spark, m, today)
    if (env.tracer.isEmpty)
      require(o.runAllDaily(yesterday, cal, cons, m.changes, m.stockBars, m.etfBars),
        s"daily chain gated out on $yesterday")
    else {
      def f[T](n: String)(body: => T): T = env.flow(s"pipelines.daily.$n")(body)
      f("calendar")(o.runCalendar(cal))
      f("universe")(o.runUniverse(cons, m.changes))
      require(f("market_open")(o.marketOpen(yesterday)), s"market closed on $yesterday")
      f("prices")(o.runPricesDaily(yesterday, m.stockBars, m.etfBars))
      f("returns")(o.runReturns())
      f("factor_model")(o.runFactorModelDaily(yesterday))
      f("factor_covariances")(o.runFactorCovariancesDaily(yesterday))
      f("reversal")(o.runReversalDaily(yesterday))
      f("benchmark")(o.runBenchmarkDaily(yesterday))
      f("betas")(o.runBetasDaily(yesterday))
      f("portfolio_weights")(o.runPortfolioWeightsDaily(yesterday))
    }
    val targetSum = env.flow("pipelines.daily.trading") {
      val run = o.runTradingDaily(today, AccountValue, held, fills)
        .getOrElse(throw new IllegalStateException(s"trading gated out on $today"))
      // the frames are lazy: force every one the trading flow consumes
      run.toClose.count(); run.deltas.count(); run.topTrades.collect(); run.totals.collect()
      run.targets.agg(sum(col("target_notional"))).head().getDouble(0)
    }
    (yesterday, targetSum)
  }

  def problems(env: Env, lake: Lake, yesterday: Date, targetSum: Double,
      nTickers: Int): Seq[String] = {
    import env.spark.implicits._
    val present = written.map(t => lake.table(t).filter($"date" === lit(yesterday))
      .select(lit(t.name).as("t")).limit(1)).reduce(_ unionByName _).as[String].collect().toSet
    val missing = written.map(_.name).filterNot(present)
    val wsum = lake.table(Catalog.portfolioWeights).filter($"date" === lit(yesterday))
      .agg(sum($"weight")).head().getDouble(0)
    // targets are cent-rounded per ticker
    val tol = 0.005 * nTickers + 1e-6
    (if (missing.isEmpty) Nil else Seq(s"no $yesterday rows in ${missing.mkString(",")}")) ++
      (if (math.abs(wsum - 1.0) <= 1e-6) Nil else Seq(s"weights on $yesterday sum to $wsum")) ++
      (if (math.abs(targetSum - AccountValue) <= tol) Nil
       else Seq(s"target notionals sum to $targetSum, account value $AccountValue"))
  }
}

/** The curation gates over the checked-in corpus: each called through
  * `SparkEntry.queries` and counted; their own THROWING checks decide. */
object Curation {
  /** The measured gates: the dedup store's lifecycle (incremental append,
    * tombstone takedown, compaction) and an IVF-SQ index build and search. */
  val Gates: Seq[String] = Seq("x88_dedup_takedown", "x96_ann_ivfsq")

  /** Run once in set-up so the measured gates do not pay for the first
    * compilation of the Spark paths every gate shares. */
  val WarmUp = "x2_dedup_minhash"

  def run(spark: SparkSession, corpus: String, gate: String): Long =
    SparkEntry.queries(gate)(spark, corpus).count()

  /** Read the corpus tables the gates use and digest them on executors;
    * fails on a missing or empty table. */
  def loadCorpus(spark: SparkSession, corpus: String): Long =
    Seq("documents", "embeddings").map { name =>
      val df = graft.queries.Tables.t(spark, corpus, name)
      val r = df.agg(count(lit(1)), sum(pmod(xxhash64(df.columns.map(col): _*),
        lit(1000000007L)))).head()
      require(r.getLong(0) > 0, s"corpus table $name is empty")
      r.getLong(1)
    }.sum
}
