package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The operators layer's fixture and output check. */
class OlapSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private var dir: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]").appName("OlapSpec")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.GraftSparkExtensions()(_))
      .getOrCreate()
    dir = Olap.fixture(spark, new java.io.File("target/olap-spec").getAbsolutePath)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("every query has a recorded digest") {
    assert(Olap.Queries.toSet == Olap.expected.keySet)
    assert(Olap.Queries.map(Olap.id).distinct.length == Olap.Queries.length)
  }

  test("the fixture gives the recorded result") {
    Seq("q01_pricing_summary", "q16b_running_dist").foreach { q =>
      assert(Olap.digest(Olap.query(spark, dir, q)) == Olap.expected(q), q)
    }
  }

  test("the digest ignores row order and catches a changed or lost row") {
    val df = Olap.query(spark, dir, "q16b_running_dist")
    val want = Olap.digest(df)
    assert(Olap.digest(df.orderBy(col("running_cents").desc)) == want)
    val bumped = df.withColumn("moving_cents3",
      when(col("o_orderkey") === 7, col("moving_cents3") + 1).otherwise(col("moving_cents3")))
    assert(Olap.digest(bumped) != want)
    assert(Olap.digest(df.where(col("o_orderkey") =!= 7))._1 == want._1 - 1)
  }
}
