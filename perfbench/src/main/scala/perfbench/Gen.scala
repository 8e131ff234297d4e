package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

/** One benchmark workload: the keyspace it seeds and the traffic it sends.
  *
  * Every workload runs every kind of query, so every end-to-end metric
  * exists on every workload. What differs is the keyspace shape and which
  * kinds form the closed-loop `stream` (the workload's own traffic, which
  * the latency percentiles are taken over). The `side` kinds run in each
  * round after the stream, cheap ones several times so that every throughput
  * has enough samples; `traceOnly` kinds run once in the traced run so that
  * every per-layer metric exists there too.
  */
final case class Workload(
    name: String,
    strings: Int, prefix: String, minLen: Int, maxLen: Int,
    hashes: Int,
    writeKeys: Int, mgetKeys: Int, udfKeys: Int,
    stream: Seq[String], side: Seq[String], traceOnly: Seq[String])

object Workload {
  val Kinds: Seq[String] = Seq("scan", "sharded_scan", "kv_scan", "write",
    "mget_batch", "get_udf", "limit10", "point_eq", "hash_scan")
  private val small = Seq("limit10", "point_eq", "mget_batch", "get_udf", "hash_scan")

  val all: Map[String, Workload] = Seq(
    Workload("scan-30k", strings = 30000, prefix = "k:", minLen = 16, maxLen = 64,
      hashes = 0, writeKeys = 5000, mgetKeys = 10000, udfKeys = 2000,
      stream = Seq("scan", "sharded_scan", "kv_scan"),
      side = Seq.fill(2)(Seq("write", "mget_batch", "get_udf")).flatten,
      traceOnly = Seq("limit10", "point_eq", "hash_scan")),
    Workload("lookup-mix", strings = 20000, prefix = "u:", minLen = 32, maxLen = 32,
      hashes = 2000, writeKeys = 5000, mgetKeys = 20000, udfKeys = 1000,
      // two of each small kind per round, in seeded order
      stream = small ++ small,
      side = Seq("write", "scan", "sharded_scan", "kv_scan", "write", "scan", "kv_scan"),
      traceOnly = Nil),
    Workload("bigvalue-rw", strings = 20000, prefix = "w:", minLen = 4096, maxLen = 4096,
      hashes = 0, writeKeys = 20000, mgetKeys = 2000, udfKeys = 1000,
      stream = Seq("write", "kv_scan", "mget_batch"),
      side = Seq.fill(2)(Seq("scan", "sharded_scan", "get_udf", "mget_batch")).flatten,
      traceOnly = Seq("limit10", "point_eq", "hash_scan")),
  ).map(w => w.name -> w).toMap
}

/** Seeded generator. The same (workload, seed) gives the same keys, values,
  * lookup lists and query order, in the server JVM and in the client JVM.
  */
final class Gen(val w: Workload, val seed: Long) {
  import Gen._

  private def rng(stream: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (w.name + "/" + stream).hashCode.toLong)

  /** `<prefix><10 base62 chars>`, distinct, in generation order. */
  val keys: IndexedSeq[String] = distinctKeys(rng("keys"), w.prefix, w.strings, Set.empty)
  val hashKeys: IndexedSeq[String] = distinctKeys(rng("hashes"), "h:", w.hashes, Set.empty)

  /** Keys guaranteed absent from the keyspace (the lookup misses). */
  def missing(n: Int, stream: String): IndexedSeq[String] =
    distinctKeys(rng("missing/" + stream), w.prefix, n, keys.toSet)

  /** Field map of hash `k` (four fields, 8–24 B values). */
  def hashFields(k: String): Map[String, String] =
    (0 until 4).map(i => s"f$i" -> value(s"$k#f$i", 0, 8, 24)).toMap

  /** Value of string key `k` at write version `version` (0 = as seeded). */
  def valueOf(k: String, version: Int): String = value(k, version, w.minLen, w.maxLen)

  /** The keys each write leg rewrites: a seeded subset (all of them when
    * `writeKeys` equals the keyspace).
    */
  val writeSet: IndexedSeq[String] =
    if (w.writeKeys >= keys.length) keys else sample(rng("write"), keys, w.writeKeys)

  /** `lists` seeded lookup lists of `n` keys, 10% of each missing. */
  def lookupLists(n: Int, lists: Int, stream: String): IndexedSeq[IndexedSeq[String]] = {
    val misses = missing(n / 10 * lists, stream)
    (0 until lists).map { i =>
      val r = rng(s"$stream/$i")
      val hits = sample(r, keys, n - n / 10)
      shuffle(r, hits ++ misses.slice(i * (n / 10), (i + 1) * (n / 10)))
    }
  }

  /** Seeded order of the closed-loop stream for round `round`. */
  def streamOrder(round: Int): IndexedSeq[String] =
    shuffle(rng(s"order/$round"), w.stream.toIndexedSeq)

  /** Seeded existing keys for `point_eq` queries. */
  def pointKeys(n: Int): IndexedSeq[String] = {
    val r = rng("point")
    IndexedSeq.fill(n)(keys(r.nextInt(keys.length)))
  }
}

object Gen {
  private val Base62 = ('0' to '9') ++ ('A' to 'Z') ++ ('a' to 'z')

  private val Hex = "0123456789abcdef".toCharArray
  private val sha = ThreadLocal.withInitial(() => MessageDigest.getInstance("SHA-256"))

  def sha256Hex(s: String): String = {
    val d = sha.get.digest(s.getBytes(UTF_8))
    val out = new Array[Char](64)
    var i = 0
    while (i < 32) {
      out(2 * i) = Hex((d(i) >> 4) & 15)
      out(2 * i + 1) = Hex(d(i) & 15)
      i += 1
    }
    new String(out)
  }

  /** `value(k, v, lo, hi)`: the hex SHA-256 of `k#v`, repeated and cut to a
    * length in [lo, hi] taken from its first 8 hex digits.
    * [[valueSql]] computes the same string inside Spark.
    */
  def value(k: String, version: Int, lo: Int, hi: Int): String = {
    val h = sha256Hex(s"$k#$version")
    val len = lo + (java.lang.Long.parseLong(h.substring(0, 8), 16) % (hi - lo + 1)).toInt
    h * (hi / 64 + 1) take len
  }

  /** SQL twin of [[value]] over a string column `keyCol`. */
  def valueSql(keyCol: String, version: Int, lo: Int, hi: Int): String = {
    val h = s"sha2(concat($keyCol, '#$version'), 256)"
    s"substr(repeat($h, ${hi / 64 + 1}), 1, $lo + cast(pmod(cast(conv(substr($h, 1, 8), 16, 10) as bigint), ${hi - lo + 1}) as int))"
  }

  def crc32(s: String): Long = {
    val c = new java.util.zip.CRC32()
    c.update(s.getBytes(UTF_8))
    c.getValue
  }

  private def distinctKeys(r: SplittableRandom, prefix: String, n: Int,
      avoid: Set[String]): IndexedSeq[String] = {
    val seen = new java.util.HashSet[String](n * 2)
    val out = IndexedSeq.newBuilder[String]
    val sb = new StringBuilder
    while (seen.size < n) {
      sb.setLength(0)
      sb.append(prefix)
      var i = 0
      while (i < 10) { sb.append(Base62(r.nextInt(62))); i += 1 }
      val k = sb.toString
      if (!avoid(k) && seen.add(k)) out += k
    }
    out.result()
  }

  private def sample(r: SplittableRandom, from: IndexedSeq[String], n: Int): IndexedSeq[String] =
    shuffle(r, from).take(n)

  private def shuffle[T](r: SplittableRandom, xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }
}
