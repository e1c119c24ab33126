package dagbench

import java.sql.Date
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Ingest

/** Shape of a synthetic S&P-like market: `tickers` stocks plus the factor
  * ETFs over `sessions` consecutive NYSE sessions from `start`, and a
  * change log of `changes` index additions/removals. */
final case class MarketShape(
    tickers: Int,
    sessions: Int,
    changes: Int,
    start: Date = Date.valueOf("2022-01-03")) {
  // ticker names carry four digits (Market.tickerName and the generator)
  require(tickers > 0 && tickers < 10000, s"tickers must be in 1..9999, got $tickers")
}

/** A seeded synthetic market. Bars are generated on executors from
  * `spark.range` and `xxhash64` of (seed, ticker, session), so the driver
  * never holds the panel; only the session calendar (a few hundred dates)
  * is collected. Daily log-returns follow a 5-factor model — each stock's
  * return is its loadings times the factor ETFs' returns plus idiosyncratic
  * noise — and prices are their running sum per ticker.
  *
  * Sessions come from [[Ingest.nyseCalendar]], so every session passes the
  * engine's market-open gates.
  *
  * The bars are staged once to parquet under `stageDir`; the orchestrator
  * reads the staged copies, the way it reads staged brokerage pulls. */
final class Market(spark: SparkSession, val seed: Long, val shape: MarketShape,
    stageDir: String) {
  import spark.implicits._
  import Market._

  /** The first `shape.sessions` NYSE sessions from `shape.start`. */
  val sessions: IndexedSeq[Date] = {
    // ~252 sessions a year: 1.6 calendar days per session covers holidays
    val end = Date.valueOf(shape.start.toLocalDate.plusDays(
      (shape.sessions * 1.6).toLong + 30))
    val all = Ingest.nyseCalendar(spark, shape.start, end)
      .select($"date").as[Date].collect().sortBy(_.getTime)
    require(all.length >= shape.sessions,
      s"calendar has ${all.length} sessions, need ${shape.sessions}")
    all.take(shape.sessions).toIndexedSeq
  }

  val tickers: IndexedSeq[String] = (0 until shape.tickers).map(tickerName)

  private def u(parts: Column*): Column = uniform(seed, parts: _*)

  private lazy val sessionIndex: DataFrame =
    sessions.zipWithIndex.toDF("date", "d")

  /** Per-(factor, session) log-returns, the common driver of every stock. */
  private def factorReturns: DataFrame =
    Factors.zipWithIndex.map { case (f, i) =>
      sessionIndex.select(lit(f).as("factor"), lit(i).as("fi"), $"date", $"d",
        (u(lit("factor"), lit(i), $"d") * 0.012 + 0.0003).as("fr"))
    }.reduce(_ unionByName _)

  private def bars(logReturns: DataFrame): DataFrame = {
    val w = Window.partitionBy($"ticker").orderBy($"d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    logReturns
      .withColumn("close", round(lit(100.0) * exp(sum($"lr").over(w)), 4))
      .select($"ticker", $"date",
        round($"close" * (lit(1.0) + u(lit("open"), $"ticker", $"d") * 0.003), 4).as("open"),
        $"close", $"d")
      .select($"ticker", $"date",
        $"open",
        round(greatest($"open", $"close") * (lit(1.0) + abs(u(lit("hi"), $"ticker", $"d")) * 0.004), 4).as("high"),
        round(least($"open", $"close") * (lit(1.0) - abs(u(lit("lo"), $"ticker", $"d")) * 0.004), 4).as("low"),
        $"close",
        round(lit(1.0e6) * (lit(1.5) + u(lit("vol"), $"ticker", $"d")), 0).as("volume"),
        round(lit(1.0e4) * (lit(1.5) + u(lit("cnt"), $"ticker", $"d")), 0).as("trade_count"),
        $"close".as("vwap"))
  }

  private def generateStockBars(): DataFrame = {
    val ids = spark.range(shape.tickers).select(
      $"id", concat(lit("T"), lpad($"id".cast("string"), 4, "0")).as("ticker"))
    // loadings b(ticker, factor) ∈ [0.2, 1.2] for the market factor, ±0.5 else
    val loadings = ids.crossJoin(broadcast(Factors.zipWithIndex.toDF("factor", "fi")))
      .select($"ticker", $"fi",
        when($"fi" === 0, lit(0.7) + u(lit("beta"), $"ticker", $"fi") * 0.5)
          .otherwise(u(lit("beta"), $"ticker", $"fi") * 0.5).as("b"))
    val systematic = loadings
      .join(broadcast(factorReturns.select($"fi", $"d", $"fr")), Seq("fi"))
      .groupBy($"ticker", $"d").agg(sum($"b" * $"fr").as("sys"))
    val lr = systematic.join(broadcast(sessionIndex), Seq("d"))
      .select($"ticker", $"date", $"d",
        ($"sys" + u(lit("idio"), $"ticker", $"d") * 0.02).as("lr"))
    bars(lr)
  }

  private def generateEtfBars(): DataFrame =
    bars(factorReturns.select($"factor".as("ticker"), $"date", $"d",
      $"fr".as("lr")))

  /** Staged bars, as the orchestrator ingests them. */
  val stockBars: DataFrame = stage("stock_bars", generateStockBars())
  val etfBars: DataFrame = stage("etf_bars", generateEtfBars())

  private def stage(name: String, df: DataFrame): DataFrame = {
    val p = s"$stageDir/$name"
    df.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  /** Today's index members: every ticker. The change log below makes the
    * reconstructed history differ from today's set. */
  val currentConstituents: DataFrame = tickers.toDF("ticker")

  /** A seeded change log: `changes` events on distinct sessions inside
    * the history, alternating Added/Removed on seeded-random tickers. */
  val changes: DataFrame = {
    val r = new scala.util.Random(seed)
    val lo = sessions.length / 4
    val days = r.shuffle((lo until sessions.length - 5).toList).take(shape.changes).sorted
    days.zipWithIndex.map { case (d, i) =>
      (sessions(d), tickers(r.nextInt(tickers.length)),
        if (i % 2 == 0) "Added" else "Removed")
    }.toDF("effective_date", "ticker", "action")
  }

  /** The sessions' calendar through `last`, inclusive. */
  def calendar(last: Date): DataFrame =
    sessions.filter(!_.after(last)).toDF("date")

  /** Executor-side digest of every generated input row: the same seed must
    * give the same value, another seed another. */
  def digest(): Long = {
    def h(df: DataFrame): Long =
      df.agg(sum(pmod(xxhash64(df.columns.map(col): _*), lit(1000000007L))))
        .as[Long].head()
    h(stockBars) * 31 + h(etfBars) * 17 + h(changes)
  }
}

object Market {
  /** Five factor ETFs, in the orchestrator's factor order. */
  val Factors: Seq[String] = Seq("MTUM", "QUAL", "SIZE", "USMV", "VLUE")

  def tickerName(i: Int): String = f"T$i%04d"

  /** Uniform in [-1, 1] from a seeded 64-bit hash of `parts`. */
  def uniform(seed: Long, parts: Column*): Column =
    pmod(xxhash64((lit(seed) +: parts): _*), lit(2000001L)).cast("double") / 1.0e6 - 1.0
}
