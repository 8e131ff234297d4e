package perfbench

import scala.io.Source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The operators layer: a subset of the program's `SparkEntry` queries over
  * a small fixture the benchmark generates itself.
  *
  * The queries are the ones that exercise the operator library
  * (`WindowRankOps`, `PercentileOps`) or plain joins and aggregates, read
  * only the TPC-H-like tables below and write nothing. The fixture does not
  * depend on the run's seed, so each query's expected row count and
  * order-insensitive hash can be recorded once, in `olap-expected.tsv`.
  */
object Olap {
  val Queries: Seq[String] = Seq("q01_pricing_summary", "q03_shipping_priority",
    "q15b_lag_lead_dist", "q16b_running_dist", "q17b_window_rank_dist",
    "q46b_distribution_dist", "q40b_percentiles_approx", "q67b_percentile_disc_hist")

  /** Metric-name id of a query: its name up to the first `_`. */
  def id(query: String): String = query.takeWhile(_ != '_')

  val Orders = 15000
  val LinesPerOrder = 4
  val Customers = 1500

  /** Write the fixture's tables as parquet under `dir`; returns `dir`. */
  def fixture(spark: SparkSession, dir: String): String = {
    // a fixed pseudo-random column per salt, from the row id
    def h(salt: String, m: Long): String = s"pmod(xxhash64(id, '$salt'), $m)"
    def pick(salt: String, xs: String*): String =
      s"element_at(array(${xs.map(x => s"'$x'").mkString(", ")}), cast(${h(salt, xs.length)} as int) + 1)"
    def day(salt: String): String =
      s"cast(date_add(date'1992-01-01', cast(${h(salt, 3650)} as int)) as timestamp)"
    def write(name: String, rows: Long, cols: Seq[String]): Unit =
      spark.range(rows).selectExpr(cols: _*).coalesce(2)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")

    write("orders", Orders, Seq("id AS o_orderkey", s"${h("c", Customers)} AS o_custkey",
      s"${pick("s", "F", "O", "P")} AS o_orderstatus",
      s"round(cast(${h("p", 40000000)} as double) / 100 + 900, 2) AS o_totalprice",
      s"${day("d")} AS o_orderdate",
      s"${pick("r", "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")} AS o_orderpriority"))
    write("lineitem", Orders.toLong * LinesPerOrder, Seq(s"id div $LinesPerOrder AS l_orderkey",
      s"${h("pk", 2000)} AS l_partkey", s"${h("sk", 100)} AS l_suppkey",
      s"cast(id % $LinesPerOrder + 1 as int) AS l_linenumber",
      s"cast(${h("q", 50)} + 1 as double) AS l_quantity",
      s"round((${h("q", 50)} + 1) * (cast(${h("x", 100000)} as double) / 100 + 900), 2) AS l_extendedprice",
      s"cast(${h("dc", 11)} as double) / 100 AS l_discount",
      s"cast(${h("t", 9)} as double) / 100 AS l_tax",
      s"${pick("f", "A", "N", "R")} AS l_returnflag", s"${pick("ls", "F", "O")} AS l_linestatus",
      s"${day("sd")} AS l_shipdate"))
    write("customer", Customers, Seq("id AS c_custkey", "concat('Customer#', id) AS c_name",
      s"cast(${h("n", 25)} as int) AS c_nationkey",
      s"round(cast(${h("a", 1100000)} as double) / 100 - 1000, 2) AS c_acctbal",
      s"${pick("m", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")} AS c_mktsegment"))
    dir
  }

  /** The query's DataFrame over the fixture, built through `SparkEntry`. */
  def query(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, dir)

  /** Row count and order-insensitive hash (wrapping sum of each row's
    * `xxhash64` over all columns) of `df`.
    */
  def digest(df: DataFrame): (Long, Long) = {
    val hs = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*)).collect().map(_.getLong(0))
    (hs.length.toLong, hs.sum)
  }

  /** Recorded (rows, hash) per query. */
  lazy val expected: Map[String, (Long, Long)] = {
    val src = Source.fromInputStream(getClass.getResourceAsStream("/olap-expected.tsv"), "UTF-8")
    try src.getLines().filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
      val f = l.split('\t')
      f(0) -> (f(1).toLong, f(2).toLong)
    }.toMap finally src.close()
  }
}

/** Checks each `Olap` query against its recorded digest, then times it
  * `passes` times into a `noop` sink, as a span `operators.<id>`. A
  * mismatch is printed by name to stderr and counted in `failed`.
  */
final class OlapRun(spark: SparkSession, dir: String, tracer: Tracer) {
  var attempted = 0L
  var failed = 0L

  /** (query, median ms of a pass, Spark jobs per pass) per query. */
  def run(passes: Int): Seq[(String, Double, Double)] = {
    val col = new SparkCollector
    spark.sparkContext.addSparkListener(col)
    val timed = try {
      val out = Olap.Queries.map { q =>
        attempted += 1
        val got = Olap.digest(Olap.query(spark, dir, q))
        val want = Olap.expected.get(q)
        if (!want.contains(got)) {
          System.err.println(s"[perfbench] FAIL operators.$q: expected (rows, hash) ${want.orNull}, got $got")
          failed += 1
        }
        // (seconds, first and last epoch ms) of each pass
        q -> (1 to passes).map { _ =>
          val s = System.currentTimeMillis()
          val t0 = System.nanoTime()
          tracer.span(s"operators.${Olap.id(q)}")(_ =>
            Olap.query(spark, dir, q).write.format("noop").mode("overwrite").save())
          ((System.nanoTime() - t0) / 1e9, s, System.currentTimeMillis())
        }
      }
      col.drain()
      out
    } finally spark.sparkContext.removeSparkListener(col)
    val jobs = col.jobs.toArray(Array.empty[JobEvent]).toSeq
    timed.map { case (q, ps) =>
      (q, Stats.percentile(ps.map(_._1 * 1e3), 0.5),
        ps.map { case (_, s, e) => jobs.count(j => j.start >= s && j.start <= e) }.sum.toDouble / passes)
    }
  }
}
