package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, StringContains, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.net.{RedisCommands, RedisConnection, RedisEndpoint}

/** DataSource V2 connectors for the Redis keyspace — the Spark-native
  * re-expression of the reference's `redis_scan` TableFunction
  * (/root/reference/src/redduck_extension.cpp:125-322) and its
  * documented-but-unimplemented `redis_kv`/`redis_hgetall`
  * (README.md:29-38).
  *
  *   spark.read.format("redis-scan").option("host", h).option("port", p)
  *     .option("pattern", "user:*").load()          // → (key_name STRING)
  *   spark.read.format("redis-kv")...load()          // → (key, value)
  *   spark.read.format("redis-hash")...load()        // → (key, fields MAP)
  *
  * The three formats are one table ([[RedisTable]]) in three modes
  * ([[RedisSources.Mode]]), so filter pushdown, LIMIT pushdown and
  * partition planning exist once. Connection options parse into one
  * [[graft.net.RedisEndpoint]] (address, credential, TLS, protocol)
  * that every partition, writer and redirect carries whole. Every SCAN
  * the connector sends goes through one cursor loop,
  * [[RedisScanWalker]].
  *
  * Scale design: Redis `SCAN` is one logical cursor, so parity mode is a
  * single input partition (≈ the reference's hard `MaxThreads()==1`,
  * redduck_extension.cpp:154-156). The `partition.patterns` option
  * shards the keyspace into N disjoint glob patterns — one partition,
  * connection, and cursor each — and `partition.mode=cluster` plans one
  * partition per cluster master. Each partition owns its connection;
  * nothing is shared (the reference serializes everything behind
  * process-global mutexes).
  *
  * Predicate pushdown translates key-column filters into server-side
  * `MATCH` globs (resurrecting the intent of the reference's dead
  * `SqlToResp`, resp_parser.cpp:136-144, with the `%`→`*` mapping it
  * got wrong — SURVEY §7.5b).
  */
object RedisSources {
  val ScanSchema: StructType = StructType(Seq(StructField("key_name", StringType, nullable = false)))
  val KvSchema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("value", StringType, nullable = true)))
  val HashSchema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("fields", MapType(StringType, StringType, valueContainsNull = false), nullable = false)))

  /** What a Redis table reads per matched key: its name, its string
    * value (one pipelined MGET per SCAN page) or its hash fields (one
    * pipelined HGETALL batch per page).
    */
  sealed abstract class Mode(val format: String, val schema: StructType) {
    def keyCol: String = schema.fieldNames.head
  }
  case object Keys extends Mode("redis-scan", ScanSchema)
  case object Kv extends Mode("redis-kv", KvSchema)
  case object Hash extends Mode("redis-hash", HashSchema)

  final case class Options(endpoint: RedisEndpoint, pattern: String, count: Int,
      partitionPatterns: Seq[String], slots: Int, clusterMode: Boolean,
      scanType: Option[String] = None) {
    /** Disjoint pattern lists, one per input partition. */
    def effectivePatterns(pushed: Option[String]): Seq[Seq[String]] = pushed match {
      case Some(p) => Seq(Seq(p))
      case None =>
        if (partitionPatterns.nonEmpty) partitionPatterns.map(Seq(_))
        else if (slots > 1) slotPatterns(pattern, slots)
        else Seq(Seq(pattern))
    }

    /** `host:port, pattern` — the table-name suffix every format shows. */
    def target: String = s"${endpoint.host}:${endpoint.port}, $pattern"
  }

  /** Parse the connector options. Every malformed value fails here,
    * naming the option — never a bare "For input string" from deep in a
    * task, and never a silently empty or endless scan (`scan.count` < 1
    * is rejected by real Redis too).
    */
  def parseOptions(m: util.Map[String, String]): Options = {
    val o = new CaseInsensitiveStringMap(m)
    def int(key: String, default: Int, min: Int, max: Int = Int.MaxValue): Int = {
      val raw = o.getOrDefault(key, default.toString)
      val v = raw.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"option '$key' must be an integer, got '$raw'"))
      if (v < min || v > max) throw new IllegalArgumentException(
        s"option '$key' must be in $min..$max, got $v")
      v
    }
    def bool(key: String): Boolean = {
      val raw = o.getOrDefault(key, "false")
      raw.toBooleanOption.getOrElse(throw new IllegalArgumentException(
        s"option '$key' must be true or false, got '$raw'"))
    }
    val endpoint = RedisEndpoint(
      host = o.getOrDefault("host", "127.0.0.1"),
      port = int("port", 6379, min = 1, max = 65535),
      // requirepass / ACL credentials: "password" or "user password".
      // Preferred option name is "password" — it matches Spark's default
      // SQL-options redaction regex, so EXPLAIN/UI plan dumps mask it;
      // "auth" stays accepted for back-compat but is NOT auto-redacted.
      auth = Option(o.get("password")).orElse(Option(o.get("auth"))).filter(_.nonEmpty),
      // rediss://-style transport: TLS-wrap every connection;
      // tls.trustAll accepts self-signed certs (test/dev ONLY)
      tls = bool("tls"),
      tlsTrustAll = bool("tls.trustAll"),
      // protocol negotiation: .option("resp", "3") sends HELLO 3 on every
      // connection (loud failure on pre-6.0 servers) — reply SHAPES differ
      // (map-typed HGETALL, set frames) but the parsed rows are identical,
      // pinned by spec
      resp3 = o.getOrDefault("resp", "2") match {
        case "2" => false
        case "3" => true
        case other => throw new IllegalArgumentException(
          s"resp must be '2' (default) or '3', got '$other'")
      })
    val opts = Options(
      endpoint = endpoint,
      pattern = o.getOrDefault("pattern", "*"),
      count = int("scan.count", 2048, min = 1), // reference batch size, resp_parser.cpp:159-161
      // `SCAN ... TYPE t` server-side type filter (Redis ≥6.0): opt-in
      // so existing plans stay byte-identical; on a mixed keyspace
      // `.option("scan.type", "hash")` keeps string/stream keys from
      // ever crossing the wire
      scanType = Option(o.get("scan.type")).filter(_.nonEmpty).map { t =>
        val valid = Set("string", "list", "set", "zset", "hash", "stream")
        require(valid(t.toLowerCase),
          s"scan.type must be one of ${valid.toSeq.sorted.mkString("/")}, got '$t'")
        t.toLowerCase
      },
      partitionPatterns = Option(o.get("partition.patterns")).toSeq
        .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty)),
      slots = int("partition.slots", 0, min = 0),
      clusterMode = o.getOrDefault("partition.mode", "") match {
        case "" => false
        case "cluster" => true
        case other => throw new IllegalArgumentException(
          s"partition.mode must be 'cluster' (or unset), got '$other'")
      })
    require(!opts.clusterMode || (opts.partitionPatterns.isEmpty && opts.slots <= 1),
      "partition.mode=cluster already shards by node ownership; " +
        "it cannot combine with partition.patterns/partition.slots")
    opts
  }

  /** Cluster-driven partition planning: ask the seed node for
    * `CLUSTER SLOTS` and emit ONE partition per distinct MASTER node,
    * each running the (same) pattern's SCAN cursor against its own node.
    * On Redis Cluster `SCAN` iterates only the keys the node owns, so
    * per-node cursors are disjoint by slot ownership and jointly
    * exhaustive by the validated 0..16383 coverage — no pattern algebra
    * needed (unlike `partition.slots`' first-character sharding, which
    * this supersedes on a real cluster). Runs on the DRIVER once per
    * scan; at 1000 executors the partition count equals the node count,
    * which is exactly the parallelism the server side can serve.
    */
  def clusterPartitions(opts: Options, pushed: Option[String],
      limit: Option[Int], topN: Option[TopN]): Array[InputPartition] = {
    val conn = new RedisConnection(opts.endpoint)
    val ranges = try RedisCommands.clusterSlots(conn) finally conn.close()
    val masters = ranges.map(r => (r.host, r.port)).distinct
    val pats = Seq(pushed.getOrElse(opts.pattern))
    masters.map { case (h, p) =>
      // Each partition remembers the slot ranges its node owned at PLAN
      // time: the reader re-checks ownership when its cursor completes,
      // so a reshard that migrated slots mid-scan fails loudly naming
      // them instead of returning a silently short result.
      val owned = ranges.filter(r => r.host == h && r.port == p)
        .map(r => (r.start, r.end))
      // cluster nodes share the deployment's credentials and transport
      RedisInputPartition(opts.endpoint.at(h, p), pats, opts.count, limit, topN,
        ownedSlots = owned, scanType = opts.scanType): InputPartition
    }.toArray
  }

  /** End-of-cursor reshard guard for cluster-mode partitions: re-fetch
    * `CLUSTER SLOTS` on the partition's own node and require every
    * plan-time range to still be owned here. Redis Cluster migrates
    * slots key-by-key, so a cursor that straddled a migration can have
    * MISSED keys (they left before the cursor reached them) with no
    * error anywhere — guaranteed-complete scans are impossible mid-
    * reshard (the same window Kafka calls an unclean leader election).
    * The honest contract is fail-loud-and-rerun: a rerun re-plans from
    * the NEW slot map. Single-key value fetches (MGET/HGETALL) already
    * follow one MOVED/ASK hop, so an in-flight migration only aborts
    * the scan when ownership actually changed.
    */
  def verifySlotOwnership(conn: RedisConnection, owned: Seq[(Int, Int)]): Unit = {
    if (owned.isEmpty) return
    val host = conn.endpoint.host
    val port = conn.endpoint.port
    val now = RedisCommands.clusterSlots(conn) // re-validates 0..16383 coverage
    // every overlap of a plan-time range with a range now owned ELSEWHERE
    // is a migrated sub-range — report each with its new owner
    val moved = for {
      (s, e) <- owned
      r <- now if r.start <= e && s <= r.end
      if !(r.host == host && r.port == port)
    } yield s"[${math.max(s, r.start)},${math.min(e, r.end)}]→${r.host}:${r.port}"
    if (moved.nonEmpty)
      throw new java.io.IOException(
        s"cluster reshard during scan: node $host:$port no longer owns slots ${moved.mkString(", ")}; " +
          "results would be silently incomplete — rerun the scan to re-plan from the new slot map")
  }

  /** First-character alphabet used by `partition.slots` sharding — no glob
    * metacharacters, so class patterns need no escaping.
    */
  val SlotAlphabet: IndexedSeq[Char] =
    ('0' to '9') ++ ('A' to 'Z') ++ ('a' to 'z')

  /** Shard a `literal*` keyspace pattern into `slots` DISJOINT,
    * jointly-exhaustive pattern lists — one per input partition, each its
    * own connection + cursor:
    *
    *  - slots−1 partitions take `prefix[<chars>]*` character classes
    *    (round-robin split of [[SlotAlphabet]] on the first suffix char);
    *  - the last partition takes the complement class `prefix[^A..z]*`
    *    PLUS the exact-prefix literal (a key equal to the prefix has no
    *    suffix char and would otherwise match no shard).
    *
    * This is the standalone-Redis analog of per-slot cursor sharding on
    * Redis Cluster (`SCAN ... SLOT` style): the same partition seam takes
    * per-slot cursors when a cluster client lands here.
    */
  def slotPatterns(base: String, slots: Int): Seq[Seq[String]] = {
    require(slots >= 2 && slots <= SlotAlphabet.length + 1,
      s"partition.slots must be in 2..${SlotAlphabet.length + 1}, got $slots")
    require(base.nonEmpty && base.last == '*'
      && !base.dropRight(1).exists(c => "*?[]\\".contains(c)),
      s"partition.slots needs a 'literal*' pattern to shard, got '$base'")
    val prefix = base.dropRight(1)
    val g = slots - 1
    val classes = (0 until g).map(i => SlotAlphabet.zipWithIndex.collect {
      case (c, idx) if idx % g == i => c
    })
    classes.map(cs => Seq(s"$prefix[${cs.mkString}]*")) :+
      Seq(s"$prefix[^${SlotAlphabet.mkString}]*", globEscape(prefix))
  }

  /** Pushed ORDER BY key LIMIT n (scan mode only). */
  final case class TopN(ascending: Boolean, n: Int)

  /** Escape Redis glob metacharacters so a literal matches itself. */
  def globEscape(s: String): String =
    s.flatMap { c => if ("*?[]\\".contains(c)) s"\\$c" else c.toString }

  /** Translate one supported key filter to a glob; None = not translatable. */
  def filterToGlob(keyCol: String, f: Filter): Option[String] = f match {
    case EqualTo(c, v: String) if c == keyCol => Some(globEscape(v))
    case StringStartsWith(c, v) if c == keyCol => Some(globEscape(v) + "*")
    case StringEndsWith(c, v) if c == keyCol => Some("*" + globEscape(v))
    case StringContains(c, v) if c == keyCol => Some("*" + globEscape(v) + "*")
    case _ => None
  }
}

/** The connector's one SCAN cursor loop (≈ `FetchNextBatch`,
  * redduck_extension.cpp:166-228): one page per round trip on one
  * connection, empty-but-not-done pages skipped, each of `patterns`
  * walked in order until its cursor returns "0".
  *
  *  - `limit` (a pushed LIMIT) stops the walk once that many DISTINCT
  *    keys were returned. SCAN may return a key twice during a rehash
  *    or migration (documented Redis behavior), so the budget counts
  *    keys through a seen-set (bounded by the scanned prefix, ≈ n + one
  *    page); without it a duplicate could occupy one of the n slots.
  *  - `ownedSlots` (cluster mode) arms the end-of-cursor reshard guard
  *    ([[RedisSources.verifySlotOwnership]]): a walk that reached the
  *    end of every cursor fails loudly if this node's plan-time slots
  *    moved meanwhile. It does NOT run when a LIMIT stopped the walk: a
  *    LIMIT-without-ORDER answer of any n distinct matching keys cannot
  *    be "incomplete", and the extra CLUSTER SLOTS round trip would tax
  *    exactly the fast path the pushdown exists for.
  */
final class RedisScanWalker(conn: RedisConnection, patterns: Seq[String], count: Int,
    scanType: Option[String], limit: Option[Int] = None,
    ownedSlots: Seq[(Int, Int)] = Nil) {
  private var patternIdx = 0
  private var cursor = "0"
  private var remaining = limit.getOrElse(Int.MaxValue)
  private val seen = if (limit.isDefined) new java.util.HashSet[String]() else null
  private var limitHit = false
  private var guarded = false

  /** The next non-empty page of keys; empty once the walk is over (and
    * the reshard guard, if armed, has passed).
    */
  def nextPage(): Seq[String] = {
    while (patternIdx < patterns.length && !limitHit) {
      val (next, keys) = RedisCommands.scanPage(conn, cursor, patterns(patternIdx), count, scanType)
      cursor = next
      if (cursor == "0") patternIdx += 1
      val page = if (seen == null) keys else withinLimit(keys)
      if (page.nonEmpty) return page
    }
    if (!guarded && !limitHit) {
      guarded = true
      RedisSources.verifySlotOwnership(conn, ownedSlots)
    }
    Nil
  }

  def foreachPage(f: Seq[String] => Unit): Unit = {
    var page = nextPage()
    while (page.nonEmpty) { f(page); page = nextPage() }
  }

  private def withinLimit(keys: Seq[String]): Seq[String] = {
    val page = keys.filter(seen.add).take(remaining)
    remaining -= page.length
    limitHit = remaining <= 0
    page
  }
}

object RedisScanWalker {
  /** A driver-side full walk of one pattern: its distinct keys in
    * first-seen order (SCAN may return a key twice across a rehash).
    */
  def distinctKeys(conn: RedisConnection, pattern: String, count: Int,
      scanType: Option[String]): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet[String]()
    new RedisScanWalker(conn, Seq(pattern), count, scanType).foreachPage(out ++= _)
    out.toSeq
  }
}

// ---------------------------------------------------------------------------
// providers

class RedisScanProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "redis-scan"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = RedisSources.ScanSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new RedisTable(RedisSources.Keys, RedisSources.parseOptions(properties))
}

class RedisKvProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "redis-kv"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = RedisSources.KvSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new RedisTable(RedisSources.Kv, RedisSources.parseOptions(properties))
}

/** Hash-typed keys as rows: SCAN pages resolved with one pipelined
  * HGETALL batch per page → (key, fields MAP<STRING,STRING>). The MapType
  * default is honest for dynamic hash fields (README.md:36-38 claims
  * STRUCT — project with `fields['name']` or
  * `RedduckFunctions.withHashFields` for a typed view). String-typed keys
  * return empty maps (HGETALL on a string errors in real Redis only for
  * WRONGTYPE — callers scope the pattern to hash keys, same contract as
  * the reference docs).
  */
class RedisHashProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "redis-hash"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = RedisSources.HashSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new RedisTable(RedisSources.Hash, RedisSources.parseOptions(properties))
}

// ---------------------------------------------------------------------------
// table / scan

class RedisTable(mode: RedisSources.Mode, opts: RedisSources.Options)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"${mode.format}(${opts.target})"
  override def schema(): StructType = mode.schema
  override def capabilities(): util.Set[TableCapability] =
    if (mode == RedisSources.Kv) util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)
    else util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RedisScanBuilder(mode, opts)

  /** Write path (kv mode): `df.write.format("redis-kv").mode("append")` —
    * each partition pipelines SET commands in `scan.count`-sized batches
    * over its own connection (the reverse of the read path's pipelined
    * MGET; a feature-store writeback at 100 TB is embarrassingly parallel
    * because SET is per-key idempotent upsert). Input must be
    * (key STRING, value STRING); NULL values are skipped.
    */
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(mode == RedisSources.Kv, s"${mode.format} is read-only; write with format(\"redis-kv\")")
    val schema = info.schema()
    require(schema.fieldNames.toSeq == Seq("key", "value"),
      s"redis-kv write expects columns (key, value), got ${schema.fieldNames.mkString(",")}")
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.Write {
          override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
            new RedisBatchWrite(opts)
        }
    }
  }
}

class RedisBatchWrite(opts: RedisSources.Options)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory =
    new RedisDataWriterFactory(opts.endpoint, opts.count)
  override def commit(messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = ()
  // no coordinator: SET is an idempotent upsert, so task retries are safe
  override def useCommitCoordinator(): Boolean = false
}

final case class RedisWriteCommit(written: Long)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

class RedisDataWriterFactory(endpoint: RedisEndpoint, batchSize: Int)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
      // the endpoint carries resp3 to the WRITE connections too: resp=3
      // documents "HELLO 3 on every connection", and silently leaving
      // writers on RESP2 would defeat protocol pinning against a
      // RESP3-required proxy
      private val conn = new RedisConnection(endpoint)
      private val buf = scala.collection.mutable.ArrayBuffer[(String, String)]()
      private var written = 0L

      private def flush(): Unit = if (buf.nonEmpty) {
        val replies = conn.pipeline(buf.toSeq.map { case (k, v) => Seq("SET", k, v) })
        replies.foreach {
          case graft.resp.RespValue.Err(m) => throw new java.io.IOException(s"SET failed: $m")
          case _ => ()
        }
        written += buf.length
        buf.clear()
      }

      override def write(row: InternalRow): Unit = {
        if (!row.isNullAt(0) && !row.isNullAt(1)) {
          buf += ((row.getUTF8String(0).toString, row.getUTF8String(1).toString))
          if (buf.length >= batchSize) flush()
        }
      }
      override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
        flush()
        RedisWriteCommit(written)
      }
      override def abort(): Unit = buf.clear()
      override def close(): Unit = conn.close()
    }
}

class RedisScanBuilder(mode: RedisSources.Mode, opts: RedisSources.Options)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownLimit with SupportsPushDownTopN {
  private val keyCol = mode.keyCol
  private var pushedGlob: Option[String] = None
  private var pushed: Array[Filter] = Array.empty
  private var pushedLimit: Option[Int] = None
  private var pushedTopN: Option[RedisSources.TopN] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // Push at most one translatable key filter into the server-side MATCH
    // glob — only when no explicit pattern/slot sharding would conflict.
    val canPush = opts.pattern == "*" && opts.partitionPatterns.isEmpty && opts.slots <= 1
    if (canPush) {
      val (tr, rest) = filters.partition(f => RedisSources.filterToGlob(keyCol, f).isDefined)
      tr.headOption.foreach { f => pushedGlob = RedisSources.filterToGlob(keyCol, f) }
      pushed = tr.take(1)
      rest ++ tr.drop(1) // untranslated + extra translatable stay residual
    } else { pushed = Array.empty; filters }
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** Plain LIMIT n: each partition stops its SCAN cursor after n matched
    * keys — on a 10⁸-key keyspace that is ~1 page of round trips instead
    * of the full cursor walk. Partial (returns false): with multiple
    * partitions each emits up to n rows, so Spark's own Limit finishes.
    */
  override def pushLimit(limit: Int): Boolean = {
    pushedLimit = Some(limit)
    false
  }

  /** ORDER BY <key> [ASC|DESC] LIMIT n (key scans only): SCAN order is
    * arbitrary, so the cursor must still drain — but each partition
    * keeps only a bounded n-element heap and emits n keys instead of the
    * whole keyspace (the transfer/memory win at scale). Partial: Spark
    * re-sorts the ≤ n×partitions survivors.
    */
  override def pushTopN(orders: Array[SortOrder], limit: Int): Boolean = {
    val sortable = mode == RedisSources.Keys && orders.length == 1 && (orders(0).expression() match {
      case f: NamedReference => f.fieldNames().sameElements(Array(keyCol))
      case _ => false
    })
    if (sortable) {
      pushedTopN = Some(RedisSources.TopN(
        ascending = orders(0).direction() == SortDirection.ASCENDING, n = limit))
      true
    } else false
  }
  override def isPartiallyPushed(): Boolean = true

  override def build(): Scan =
    new RedisScan(mode, opts, pushedGlob, pushedLimit, pushedTopN)
}

class RedisScan(mode: RedisSources.Mode, opts: RedisSources.Options, pushedGlob: Option[String],
    pushedLimit: Option[Int], pushedTopN: Option[RedisSources.TopN])
    extends Scan with Batch {
  override def readSchema(): StructType = mode.schema
  override def description(): String = {
    val extras = pushedTopN.map(t => s", topN=${t.n} ${if (t.ascending) "ASC" else "DESC"}")
      .orElse(pushedLimit.map(l => s", limit=$l")).getOrElse("")
    val name = if (mode == RedisSources.Hash) "RedisHashScan" else "RedisScan"
    s"$name(patterns=${opts.effectivePatterns(pushedGlob).map(_.mkString("|")).mkString(",")}, count=${opts.count}$extras)"
  }
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    if (opts.clusterMode)
      RedisSources.clusterPartitions(opts, pushedGlob, pushedLimit, pushedTopN)
    else opts.effectivePatterns(pushedGlob)
      .map(ps => RedisInputPartition(opts.endpoint, ps, opts.count,
        pushedLimit, pushedTopN, scanType = opts.scanType): InputPartition)
      .toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new RedisReaderFactory(mode)
}

/** One partition = one connection running one SCAN cursor per pattern in
  * `patterns`, sequentially (slot shards put the complement class + the
  * exact-prefix literal in the same partition).
  */
final case class RedisInputPartition(endpoint: RedisEndpoint, patterns: Seq[String], count: Int,
    limit: Option[Int] = None, topN: Option[RedisSources.TopN] = None,
    // cluster mode: slot ranges this node owned at plan time (empty =
    // standalone; readers re-verify ownership at cursor end)
    ownedSlots: Seq[(Int, Int)] = Nil,
    // `SCAN ... TYPE t` server-side filter (scan.type option)
    scanType: Option[String] = None)
    extends InputPartition {
  /** This partition's walk on `conn`. A pushed topN drains the whole
    * cursor: its heap, not the LIMIT, bounds what the partition emits.
    */
  def walker(conn: RedisConnection): RedisScanWalker =
    new RedisScanWalker(conn, patterns, count, scanType,
      limit.filter(_ => topN.isEmpty), ownedSlots)
}

/** Key and kv scans read columnar (SURVEY §1.1 optimization item,
  * completed r17): one ColumnarBatch per SCAN page, so Spark's codegen'd
  * ColumnarToRow consumes vectors instead of row-at-a-time InternalRows.
  * Rows are read only where a page does not map to a batch: pushed topN
  * (a bounded heap with cross-page state) and hash scans (map values).
  */
class RedisReaderFactory(mode: RedisSources.Mode) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[RedisInputPartition]
    (mode, p.topN) match {
      case (RedisSources.Hash, _) => new RedisHashPartitionReader(p)
      case (_, Some(t)) => new RedisTopNPartitionReader(p, t)
      case _ => throw new IllegalStateException(
        s"${mode.format} without a pushed topN reads columnar")
    }
  }

  override def supportColumnarReads(partition: InputPartition): Boolean =
    mode != RedisSources.Hash && partition.asInstanceOf[RedisInputPartition].topN.isEmpty

  override def createColumnarReader(partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new RedisColumnarPartitionReader(partition.asInstanceOf[RedisInputPartition],
      fetchValues = mode == RedisSources.Kv)
}

/** Columnar key / kv scan: each SCAN page becomes one ColumnarBatch —
  * one string vector for key-only scans, (key, value) vectors for kv
  * mode, the values resolved with one pipelined MGET per page (the
  * batched replacement for the reference's per-row GET, SURVEY §3.3)
  * and missing keys landing as vector nulls.
  */
class RedisColumnarPartitionReader(p: RedisInputPartition, fetchValues: Boolean)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.ColumnarBatch

  private val conn = new RedisConnection(p.endpoint)
  private val walker = p.walker(conn)
  private var current: ColumnarBatch = _

  override def next(): Boolean = {
    if (current != null) { current.close(); current = null }
    val page = walker.nextPage()
    if (page.isEmpty) return false
    val keyVec = new OnHeapColumnVector(page.length, StringType)
    var i = 0
    while (i < page.length) {
      val bytes = page(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      keyVec.putByteArray(i, bytes, 0, bytes.length)
      i += 1
    }
    current =
      if (!fetchValues) new ColumnarBatch(Array(keyVec), page.length)
      else {
        // a nil reply (missing/expired key) is a vector null.
        // toIndexedSeq: the while loop below indexes — a linked
        // Seq would make the page fill quadratic
        val values = RedisCommands.mget(conn, page).toIndexedSeq
        val valVec = new OnHeapColumnVector(page.length, StringType)
        var j = 0
        while (j < page.length) {
          values(j) match {
            case Some(v) =>
              val b = v.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              valVec.putByteArray(j, b, 0, b.length)
            case None => valVec.putNull(j)
          }
          j += 1
        }
        new ColumnarBatch(Array(keyVec, valVec), page.length)
      }
    true
  }

  override def get(): ColumnarBatch = current

  override def close(): Unit = {
    if (current != null) current.close()
    conn.close()
  }
}

/** Hash scan: each SCAN page resolved with one pipelined HGETALL batch
  * into (key, fields) rows.
  */
class RedisHashPartitionReader(p: RedisInputPartition)
    extends PartitionReader[InternalRow] {
  import org.apache.spark.sql.catalyst.util.ArrayBasedMapData

  private val conn = new RedisConnection(p.endpoint)
  private val walker = p.walker(conn)
  private var batch: Iterator[InternalRow] = Iterator.empty
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (!batch.hasNext) {
      val keys = walker.nextPage()
      batch = keys.iterator.zip(RedisCommands.hgetallPipelined(conn, keys).iterator).map {
        case (k, m) =>
          val sorted = m.toSeq.sortBy(_._1) // deterministic field order
          InternalRow(UTF8String.fromString(k),
            ArrayBasedMapData(
              sorted.map(e => UTF8String.fromString(e._1)).toArray,
              sorted.map(e => UTF8String.fromString(e._2)).toArray))
      }
    }
    if (batch.hasNext) { current = batch.next(); true } else false
  }

  override def get(): InternalRow = current
  override def close(): Unit = conn.close()
}

/** Pushed ORDER BY key LIMIT n: drain the cursor (SCAN order is
  * arbitrary — every key must be seen) but keep only an n-element
  * bounded heap, so the partition emits n keys, not the keyspace.
  */
class RedisTopNPartitionReader(p: RedisInputPartition, t: RedisSources.TopN)
    extends PartitionReader[InternalRow] {

  private val conn = new RedisConnection(p.endpoint)
  private lazy val rows: Iterator[InternalRow] = drain()
  private var current: InternalRow = _

  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false

  override def get(): InternalRow = current

  private def drain(): Iterator[InternalRow] = {
    // The heap MUST select with Spark's StringType ordering — UTF8String
    // binary (code-point) order — not java.lang.String's UTF-16 code-unit
    // order; they disagree on supplementary characters (emoji sort AFTER
    // U+FFFF in binary order but before it in UTF-16), and keys dropped
    // here are gone before Spark's re-sort can fix them.
    val utf8Asc = new Ordering[UTF8String] {
      def compare(a: UTF8String, b: UTF8String): Int = a.compareTo(b)
    }
    val ord = if (t.ascending) utf8Asc else utf8Asc.reverse
    // max-heap of the n best-so-far: root is the WORST kept key
    val heap = new java.util.PriorityQueue[UTF8String](math.max(1, t.n), ord.reverse)
    // SCAN may return a key TWICE during a rehash/migration (the same
    // documented behavior the LIMIT budget dedups with its seen-set):
    // without the dedup both copies would occupy heap slots, evicting a
    // distinct key that belongs in the true top-n — and evicted keys
    // are gone before Spark's re-sort can restore them. The set is
    // bounded by the keys ADMITTED to the heap's vicinity, not the
    // keyspace: only keys that beat the current worst are remembered.
    val seen = new java.util.HashSet[UTF8String]()
    p.walker(conn).foreachPage(_.foreach { s =>
      val k = UTF8String.fromString(s)
      if (heap.size < t.n) {
        if (seen.add(k)) heap.add(k)
      } else if (heap.size > 0 && ord.lt(k, heap.peek()) && seen.add(k)) {
        seen.remove(heap.poll())
        heap.add(k)
      }
    })
    val out = new Array[UTF8String](heap.size)
    var i = out.length - 1
    while (i >= 0) { out(i) = heap.poll(); i -= 1 } // heap pops worst-first
    out.iterator.map(k => InternalRow(k))
  }

  override def close(): Unit = conn.close()
}
