package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** User-facing facade — the one-import surface for a RedDuck user moving
  * to this engine (README.md:16-38 workflow parity):
  *
  * {{{
  * import graft.GraftRedis
  * GraftRedis.connect(spark, "127.0.0.1:6379")   // ≈ SELECT redis_connect(...)
  * val keys = GraftRedis.scan(spark, "user:*")   // ≈ FROM redis_scan('user:*')
  * val kv   = GraftRedis.kv(spark, "user:*")     // ≈ redis_kv (batched MGET)
  * GraftRedis.registerSql(spark)                 // redis_get / redis_hgetall /
  *                                               // redduck / set_name in SQL
  * }}}
  */
object GraftRedis {

  /** Validate + PING + persist the default target in session conf.
    * Returns the reference's exact status string.
    */
  def connect(spark: SparkSession, hostPort: String): String =
    functions.RedduckFunctions.redisConnect(spark, hostPort)

  /** [[connect]] with credentials ("password" or "user password"):
    * authenticates the validation PING and persists the credential in
    * session conf so every session-target read/write/TVF below uses it.
    */
  def connect(spark: SparkSession, hostPort: String, auth: String): String =
    functions.RedduckFunctions.redisConnect(spark, hostPort, Some(auth))

  /** The session target as connector options: host, port and, when
    * [[connect]] stored one, the credential.
    */
  private def sessionOptions(spark: SparkSession): Map[String, String] = {
    val endpoint = functions.RedduckFunctions.sessionEndpoint(spark)
    Map("host" -> endpoint.host, "port" -> endpoint.port.toString) ++
      endpoint.auth.map("password" -> _)
  }

  private def reader(spark: SparkSession, fmt: String, pattern: String,
      numPartitionsPatterns: Seq[String]) = {
    val base = spark.read.format(fmt).options(sessionOptions(spark))
      .option("pattern", pattern)
    (if (numPartitionsPatterns.nonEmpty)
      base.option("partition.patterns", numPartitionsPatterns.mkString(","))
    else base).load()
  }

  /** Keyspace scan → (key_name STRING). Pass `shards` to parallelize
    * across disjoint glob patterns (one partition + connection each).
    */
  def scan(spark: SparkSession, pattern: String = "*",
      shards: Seq[String] = Nil): DataFrame =
    reader(spark, "redis-scan", pattern, shards)

  /** Scan + pipelined MGET → (key STRING, value STRING). */
  def kv(spark: SparkSession, pattern: String = "*",
      shards: Seq[String] = Nil): DataFrame =
    reader(spark, "redis-kv", pattern, shards)

  /** Write (key STRING, value STRING) rows back to Redis: per-partition
    * pipelined SET batches (idempotent upsert — safe under task retry).
    */
  def writeKv(df: DataFrame): Unit =
    df.write.format("redis-kv").options(sessionOptions(df.sparkSession))
      .mode("append").save()

  /** Streaming keyspace → (key_name STRING): each micro-batch emits the
    * keys that appeared since the previous snapshot (see
    * `sources.RedisKeyStreamProvider` for the fault-tolerance contract).
    */
  def keyStream(spark: SparkSession, pattern: String = "*"): DataFrame =
    spark.readStream.format("redis-key-stream").options(sessionOptions(spark))
      .option("pattern", pattern).load()

  /** Register the SQL scalar surface AND the table-valued functions on
    * the session — after this, the reference's primary syntax parses
    * as-is (/root/reference/README.md:24, test/sql/scan.test:20):
    *
    * {{{
    * SELECT * FROM redis_scan('testkey:*');
    * SELECT key, value FROM redis_kv('user:*');
    * }}}
    */
  def registerSql(spark: SparkSession): Unit = {
    functions.RedduckFunctions.registerAll(spark)
    registerTableFunctions(spark)
    // session-scoped dual of the extension's injectOptimizerRule: the
    // naive levenshtein join rewrites to the PassJoin blocking plan
    if (!spark.experimental.extraOptimizations.contains(graft.plans.LevenshteinJoinRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.LevenshteinJoinRewrite
    // built-in percentile aggregates route onto the distributed
    // histogram-selection plan instead of per-group value-map buffering
    if (!spark.experimental.extraOptimizations.contains(graft.plans.PercentileAggregateRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.PercentileAggregateRewrite
  }

  /** Register `redis_scan('glob')` / `redis_kv('glob')` as SQL
    * table-valued functions. The builder captures this session and
    * resolves the host/port defaults at call time, so
    * `redis_connect(...)` → `SELECT * FROM redis_scan(...)` behaves
    * like the reference's global-target flow. The argument must be one
    * literal (foldable) string — same restriction the reference enforces
    * by evaluating the pattern at bind time.
    */
  def registerTableFunctions(spark: SparkSession): Unit = {
    import org.apache.spark.sql.GraftSqlShims
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.types.StringType

    def patternArg(exprs: Seq[Expression], fn: String): String = exprs match {
      case Seq(e) if e.foldable && e.dataType == StringType && e.eval() != null =>
        e.eval().toString
      case _ => throw new IllegalArgumentException(
        s"$fn expects exactly one literal string pattern, e.g. $fn('user:*')")
    }
    val reg = spark.sessionState.tableFunctionRegistry
    reg.createOrReplaceTempFunction("redis_scan",
      exprs => GraftSqlShims.logicalPlan(scan(spark, patternArg(exprs, "redis_scan"))), "scala_udf")
    reg.createOrReplaceTempFunction("redis_kv",
      exprs => GraftSqlShims.logicalPlan(kv(spark, patternArg(exprs, "redis_kv"))), "scala_udf")
    reg.createOrReplaceTempFunction("redis_hash",
      exprs => GraftSqlShims.logicalPlan(hash(spark, patternArg(exprs, "redis_hash"))), "scala_udf")
    // Redis Streams batch face: SELECT * FROM redis_stream('events') —
    // or several streams at once, redis_stream('a', 'b', ...), which
    // returns the multi-stream shape with the leading `stream` column
    def streamArgs(exprs: Seq[Expression]): Seq[String] = {
      val lits = exprs.flatMap { e =>
        if (e.foldable && e.dataType == StringType) Option(e.eval()).map(_.toString)
        else None
      }
      require(lits.nonEmpty && lits.length == exprs.length,
        "redis_stream expects one or more literal string stream keys, " +
          "e.g. redis_stream('events') or redis_stream('a', 'b')")
      lits
    }
    reg.createOrReplaceTempFunction("redis_stream",
      exprs => GraftSqlShims.logicalPlan(streamArgs(exprs) match {
        case Seq(one) => stream(spark, one)
        case many => streams(spark, many)
      }), "scala_udf")
  }

  /** Hash keys → (key STRING, fields MAP<STRING,STRING>). */
  def hash(spark: SparkSession, pattern: String = "*",
      shards: Seq[String] = Nil): DataFrame =
    reader(spark, "redis-hash", pattern, shards)

  /** Redis Stream contents, batch face → (entry_id, fields MAP). */
  def stream(spark: SparkSession, key: String): DataFrame =
    spark.read.format("redis-stream").options(sessionOptions(spark))
      .option("stream", key).load()

  /** Several streams at once, batch face → (stream, entry_id, fields)
    * — the multi-stream read's leading origin column.
    */
  def streams(spark: SparkSession, keys: Seq[String]): DataFrame =
    spark.read.format("redis-stream").options(sessionOptions(spark))
      .option("streams", keys.mkString(",")).load()

  /** Trim a stream to (approximately) its newest `maxLen` entries —
    * `XTRIM key MAXLEN ~ n`, the retention lever the source's replay
    * contract points at (size it to exceed checkpoint lag). Returns
    * entries removed. The sink-side dual is `.option("maxlen", n)`
    * (inline `XADD ... MAXLEN ~ n`).
    */
  def trimStream(spark: SparkSession, key: String, maxLen: Long,
      approx: Boolean = true): Long =
    net.RedisConnection.withPooled(functions.RedduckFunctions.sessionEndpoint(spark))(c =>
      net.RedisCommands.xtrim(c, key, maxLen, approx))

  /** Redis Stream as a fault-tolerant Structured Streaming source:
    * entry-id offsets, exactly-once replay (see
    * `sources.RedisStreamEntriesProvider`).
    */
  def entryStream(spark: SparkSession, key: String,
      maxEntriesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.format("redis-stream").options(sessionOptions(spark))
      .option("stream", key)
    maxEntriesPerTrigger.fold(r)(n => r.option("maxEntriesPerTrigger", n.toString)).load()
  }

  /** XADD rows into a Redis Stream (batch face; at-least-once — see
    * the sink's contract in `RedisStreamSource.scala`).
    */
  def writeStreamEntries(df: DataFrame, key: String): Unit =
    df.write.format("redis-stream").options(sessionOptions(df.sparkSession))
      .option("stream", key).mode("append").save()
}
