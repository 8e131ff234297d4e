package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.RedduckFunctions

/** One timed query: `units` are keys or rows, `bytes` are value bytes. */
final case class Sample(kind: String, stream: Boolean, seconds: Double, units: Long, bytes: Long,
    steal: Double = 0.0)

/** Expected lookup result: rows, non-NULL values, their total length and
  * the sum of CRC-32s of `key=value` over the non-NULL rows.
  */
final case class Digest(rows: Long, hits: Long, len: Long, crc: Long)

/** The workload's queries, each driven through a public API of the program,
  * timed, and checked against the generator's expected state.
  *
  * Checks run after the clock stops. A mismatch or an exception is printed
  * by name to stderr and counted in `failed`; the sample is dropped.
  */
final class Legs(spark: SparkSession, val gen: Gen, nproc: Int) {
  private val w = gen.w
  private val pattern = w.prefix + "*"
  var host = "127.0.0.1"
  var port = 0
  var attempted = 0L
  var failed = 0L
  /** Set in the traced run: each leg and its query become spans. */
  var tracer: Option[Tracer] = None
  /** Set in the traced run: server counters, read around each leg. */
  var serverStats: Option[() => ServerStats] = None
  val legStats = ArrayBuffer.empty[(String, ServerStats)]

  // expected state of every string key: its write version, value length, crc
  private val index: Map[String, Int] = gen.keys.zipWithIndex.toMap
  private val version = new Array[Int](gen.keys.length)
  private val lens = new Array[Long](gen.keys.length)
  private val crcs = new Array[Long](gen.keys.length)
  gen.keys.indices.foreach(i => setVersion(i, 0))
  private var nextVersion = 1

  private def setVersion(i: Int, v: Int): Unit = {
    val k = gen.keys(i)
    val value = gen.valueOf(k, v)
    version(i) = v
    lens(i) = value.length
    crcs(i) = Gen.crc32(s"$k=$value")
  }

  def expected(k: String): Option[String] = index.get(k).map(i => gen.valueOf(k, version(i)))

  /** Expected [[Digest]] of looking up `keys` now. */
  def expectedDigest(keys: Seq[String]): Digest = {
    val hits = keys.flatMap(k => index.get(k))
    Digest(keys.length, hits.length, hits.map(lens(_)).sum, hits.map(crcs(_)).sum)
  }

  def kvDigest: Digest = Digest(lens.length, lens.length, lens.sum, crcs.sum)

  val hashDigest: (Long, Long, Long) = (gen.hashKeys.length.toLong, 4L * gen.hashKeys.length,
    gen.hashKeys.map { k =>
      val f = gen.hashFields(k)
      Gen.crc32((k +: (0 until 4).map(i => f(s"f$i"))).mkString("|"))
    }.sum)

  private def keysDf(keys: Seq[String]): DataFrame =
    spark.createDataset(keys)(Encoders.STRING).toDF("key")

  private val writeDf = keysDf(gen.writeSet)
  private val mgetLists = gen.lookupLists(w.mgetKeys, 2, "mget")
  private val mgetDfs = mgetLists.map(keysDf)
  private val udfLists = gen.lookupLists(w.udfKeys, 2, "udf")
  private val udfDfs = udfLists.map(keysDf)
  private val pointKeys = gen.pointKeys(64)

  private def reader(fmt: String) =
    spark.read.format(fmt).option("host", host).option("port", port.toString)

  private def crcOf(c: Column): Column = crc32(c.cast("binary"))
  private def lookupAgg(df: DataFrame): DataFrame = df.agg(count(lit(1)), count(col("value")),
    coalesce(sum(length(col("value"))), lit(0L)),
    coalesce(sum(crcOf(concat(col("key"), lit("="), col("value")))), lit(0L)))
  private def digestOf(r: Row): Digest = Digest(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))

  /** Point the session-level surfaces (SQL TVFs, `redis_get`) at `p`. */
  def target(p: Int): Unit = {
    port = p
    graft.GraftRedis.connect(spark, s"$host:$p")
    graft.GraftRedis.registerSql(spark)
  }

  /** Run query `i` of `kind`; None when it failed or its output was wrong. */
  def run(kind: String, i: Int, stream: Boolean): Option[Sample] = {
    attempted += 1
    val before = serverStats.map(_())
    val out = try {
      tracer match {
        case Some(t) => t.span(s"bench.$kind")(id => leg(kind, i, stream, Some((t, id))))
        case None => leg(kind, i, stream, None)
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] FAIL $kind#$i: $e")
        Left("exception")
    }
    for (b <- before; f <- serverStats) legStats += ((kind, f() - b))
    out match {
      case Right(s) => Some(s)
      case Left(why) =>
        if (why != "exception") System.err.println(s"[perfbench] FAIL $kind#$i: $why")
        failed += 1
        None
    }
  }

  private def leg(kind: String, i: Int, stream: Boolean,
      span: Option[(Tracer, Long)]): Either[String, Sample] = {
    var steal = 0.0
    def timed[T](body: => T): (Double, T) = {
      val c0 = Os.hostCpu()
      val t0 = System.nanoTime()
      val r = span match {
        case Some((t, parent)) => t.span(s"queries.$kind", parent)(_ => body)
        case None => body
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val c1 = Os.hostCpu()
      steal = (c1._1 - c0._1).toDouble / math.max(1L, c1._2 - c0._2)
      (secs, r)
    }
    def sample(secs: Double, units: Long, bytes: Long = 0L) =
      Right(Sample(kind, stream, secs, units, bytes, steal))
    def expect[T](got: T, want: T)(ok: => Either[String, Sample]): Either[String, Sample] =
      if (got == want) ok else Left(s"expected $want, got $got")

    kind match {
      case "scan" | "sharded_scan" =>
        val base = reader("redis-scan").option("pattern", pattern)
        val src = if (kind == "scan") base else base.option("partition.slots", math.max(2, nproc).toLong)
        val (s, r) = timed(src.load().agg(count(lit(1))).collect()(0).getLong(0))
        expect(r, w.strings.toLong)(sample(s, r))
      case "kv_scan" =>
        val df = lookupAgg(reader("redis-kv").option("pattern", pattern).load())
        val (s, r) = timed(digestOf(df.collect()(0)))
        expect(r, kvDigest)(sample(s, r.rows, r.len))
      case "write" =>
        val v = nextVersion
        nextVersion += 1
        val df = writeDf.selectExpr("key", s"${Gen.valueSql("key", v, w.minLen, w.maxLen)} AS value")
        val (s, _) = timed(df.write.format("redis-kv").option("host", host)
          .option("port", port.toString).mode("append").save())
        gen.writeSet.foreach(k => setVersion(index(k), v))
        sample(s, gen.writeSet.length, gen.writeSet.map(k => lens(index(k))).sum)
      case "mget_batch" =>
        val df = lookupAgg(RedduckFunctions.withRedisValues(mgetDfs(i % mgetDfs.length), "key",
          hostPort = Some((host, port))))
        val (s, r) = timed(digestOf(df.collect()(0)))
        expect(r, expectedDigest(mgetLists(i % mgetLists.length)))(sample(s, r.rows, r.len))
      case "get_udf" =>
        val df = lookupAgg(udfDfs(i % udfDfs.length).selectExpr("key", "redis_get(key) AS value"))
        val (s, r) = timed(digestOf(df.collect()(0)))
        expect(r, expectedDigest(udfLists(i % udfLists.length)))(sample(s, r.rows, r.len))
      case "limit10" =>
        val (s, rows) = timed(spark.sql(s"SELECT key_name FROM redis_scan('$pattern') LIMIT 10")
          .collect().map(_.getString(0)))
        val ok = rows.length == 10 && rows.distinct.length == 10 && rows.forall(index.contains)
        if (ok) sample(s, rows.length) else Left(s"not 10 distinct seeded keys: ${rows.mkString(",")}")
      case "point_eq" =>
        val k = pointKeys(i % pointKeys.length)
        val (s, rows) = timed(reader("redis-kv").load().where(col("key") === k).collect())
        expect(rows.map(r => (r.getString(0), r.getString(1))).toSeq,
          Seq((k, expected(k).get)))(sample(s, rows.length))
      case "hash_scan" =>
        val f = col("fields")
        val df = reader("redis-hash").option("pattern", "h:*").load().agg(count(lit(1)),
          coalesce(sum(size(f)), lit(0L)),
          coalesce(sum(crcOf(concat_ws("|", col("key") +: (0 until 4).map(j => f(s"f$j")): _*))), lit(0L)))
        val (s, r) = timed { val x = df.collect()(0); (x.getLong(0), x.getLong(1), x.getLong(2)) }
        expect(r, hashDigest)(sample(s, r._1))
    }
  }
}
