package dagbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Ingest

class MarketSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  override def afterAll(): Unit = spark.stop()

  private val shape = MarketShape(tickers = 6, sessions = 40, changes = 4)
  private def market(seed: Long) =
    new Market(spark, seed, shape, Files.createTempDirectory("market").toString)

  test("the same seed gives the same input digest, another seed another") {
    val a = market(7L).digest()
    assert(market(7L).digest() == a)
    assert(market(8L).digest() != a)
  }

  test("the panel covers every ticker on every session with sane bars") {
    import spark.implicits._
    val m = market(7L)
    assert(m.stockBars.count() == shape.tickers.toLong * shape.sessions)
    assert(m.etfBars.select($"ticker").distinct().as[String].collect().toSet ==
      Market.Factors.toSet)
    assert(m.stockBars.filter($"low" > $"open" || $"low" > $"close" ||
      $"high" < $"open" || $"high" < $"close" || $"close" <= 0.0).count() == 0)
    assert(m.changes.count() == shape.changes)
  }

  test("every session is an NYSE session, so it passes the market-open gates") {
    val m = market(7L)
    assert(m.sessions.size == shape.sessions)
    assert(m.sessions == m.sessions.sortBy(_.getTime))
    m.sessions.foreach(d => assert(Ingest.nyseCalendar(spark, d, d).count() == 1, s"$d"))
    // 2022-01-17 (Martin Luther King Jr. Day) falls inside the span
    assert(!m.sessions.contains(java.sql.Date.valueOf("2022-01-17")))
  }
}
