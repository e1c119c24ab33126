package dagbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.lake.{Catalog, Lake}

class BackfillSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  override def afterAll(): Unit = spark.stop()

  /** Digest of the portfolio weights rounded to 8 places. */
  private def weightsDigest(lake: Lake): Long =
    lake.table(Catalog.portfolioWeights).agg(sum(pmod(
      xxhash64(col("date"), col("ticker"), round(col("weight"), 8)), lit(1000000007L))))
      .head().getLong(0)

  test("two backfills of one seed pass the output checks and agree on the weights digest") {
    // the smallest history the 252-session window leaves QP dates on
    val shape = MarketShape(tickers = 4, sessions = 515, changes = 2)
    val m = new Market(spark, 5L, shape, Files.createTempDirectory("market").toString)
    val env = new Env(spark, None)
    val digests = (1 to 2).map { _ =>
      val lake = new Lake(spark, Files.createTempDirectory("lake").toString)
      Backfill.run(env, m, lake)
      assert(Backfill.problems(env, lake) == Nil)
      weightsDigest(lake)
    }
    assert(digests.distinct.size == 1)
  }
}
