package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.net.FakeRedisServer

/** Every query kind against a small seeded keyspace: correct outputs pass,
  * and a wrong or missing value on the server is caught and counted.
  */
class LegsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val w = Workload("tiny", strings = 600, prefix = "t:", minLen = 16, maxLen = 64,
    hashes = 40, writeKeys = 100, mgetKeys = 200, udfKeys = 50,
    stream = Workload.Kinds, side = Nil, traceOnly = Nil)
  private val gen = new Gen(w, 5)
  private var server: FakeRedisServer = _
  private var spark: SparkSession = _
  private var legs: Legs = _

  override def beforeAll(): Unit = {
    server = new FakeRedisServer()
    gen.keys.foreach(k => server.put(k, gen.valueOf(k, 0)))
    gen.hashKeys.foreach(k => server.putHash(k, gen.hashFields(k)))
    val port = server.start()
    spark = SparkSession.builder().master("local[2]").appName("LegsSpec")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftSparkExtensions()(_))
      .getOrCreate()
    legs = new Legs(spark, gen, 2)
    legs.target(port)
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    if (server != null) server.stop()
  }

  test("the SQL value expression matches the generator") {
    val keys = gen.keys.take(50)
    Seq(0, 3).foreach { v =>
      val got = spark.createDataset(keys)(org.apache.spark.sql.Encoders.STRING).toDF("key").selectExpr("key", s"${Gen.valueSql("key", v, 16, 64)} AS value")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got == keys.map(k => k -> Gen.value(k, v, 16, 64)).toMap)
    }
  }

  test("every kind passes its check on a correct server") {
    Workload.Kinds.zipWithIndex.foreach { case (k, i) =>
      assert(legs.run(k, i, stream = true).isDefined, k)
    }
    // after a write, reads see the new version
    Seq("kv_scan", "mget_batch", "get_udf", "point_eq").foreach(k =>
      assert(legs.run(k, 1, stream = true).isDefined, k))
    assert(legs.failed == 0)
  }

  private def del(k: String): Unit = {
    val c = new graft.net.RedisConnection("127.0.0.1", legs.port)
    try c.command("DEL", k) finally c.close()
  }

  test("a wrong value and a lost key are caught") {
    val before = legs.failed
    val k = gen.keys.head
    val good = legs.expected(k).get
    server.put(k, "corrupted")
    assert(legs.run("kv_scan", 0, stream = false).isEmpty)
    del(k)
    assert(legs.run("kv_scan", 0, stream = false).isEmpty)
    server.put(k, good)
    assert(legs.run("kv_scan", 0, stream = false).isDefined)
    assert(legs.failed == before + 2)
  }

  test("an extra key fails the scan count") {
    server.put(w.prefix + "extra", "x")
    try assert(legs.run("scan", 0, stream = false).isEmpty)
    finally del(w.prefix + "extra")
    assert(legs.run("scan", 0, stream = false).isDefined)
  }
}
