package perfbench

import scala.collection.mutable

import graft.net.{RedisCommands, RedisConnection}
import graft.resp.{RespCodec, RespValue}

/** Layer replays for the traced run: the workload's Redis traffic sent
  * through `RedisConnection`/`RedisCommands` on one connection (`net.*`
  * spans), and the same reply shapes decoded by `RespCodec` from memory
  * (`resp.*` child spans), whole and fed in 1,460 B and 64 KiB steps the way
  * `RedisConnection.readReply` re-decodes after each `fill()`.
  */
final class Replay(gen: Gen, host: String, port: Int, tracer: Tracer) {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)

  private def median(xs: Seq[Double]): Double = Stats.percentile(xs, 0.5)

  /** Repeat `body` until `minS` seconds have passed (at least `minN` times);
    * return each call's duration in seconds.
    */
  private def repeat(minN: Int, minS: Double)(body: => Unit): Seq[Double] = {
    val out = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (out.length < minN || System.nanoTime() - t0 < minS * 1e9) {
      val s = System.nanoTime()
      body
      out += (System.nanoTime() - s) / 1e9
    }
    out.toSeq
  }

  /** Seconds to decode `frame` when its bytes arrive `step` at a time,
    * re-decoding from the first byte after each arrival.
    */
  private def segmented(frame: Array[Byte], step: Int): Unit = {
    var end = math.min(step, frame.length)
    while (RespCodec.decode(frame, 0, end) == RespCodec.Incomplete) end = math.min(end + step, frame.length)
  }

  private def decodeLegs(frame: Array[Byte], parent: Long): Unit = {
    val mb = frame.length / 1e6
    def whole(): Unit = RespCodec.decode(frame, 0, frame.length) match {
      case RespCodec.Decoded(_, n) if n == frame.length => ()
      case other => throw new IllegalStateException(s"replayed frame did not decode whole: $other")
    }
    val w = tracer.span("resp.decode_whole", parent)(_ => repeat(5, 0.3)(whole()))
    val s1460 = tracer.span("resp.decode_seg1460", parent)(_ => repeat(1, 0.3)(segmented(frame, 1460)))
    val s64k = tracer.span("resp.decode_seg64k", parent)(_ => repeat(3, 0.3)(segmented(frame, 65536)))
    put("resp.decode_whole_mb_s", mb / median(w), "MB/s")
    put("resp.decode_seg1460_mb_s", mb / median(s1460), "MB/s")
    put("resp.decode_seg64k_mb_s", mb / median(s64k), "MB/s")
    put("resp.seg_over_whole", median(s1460) / median(w), "ratio")
  }

  def run(): Unit = {
    val keys = gen.keys
    // reply shape of one MGET page of 512 of the workload's values
    val mgetFrame = RespCodec.encode(RespValue.Arr(
      keys.take(512).map(k => RespValue.Bulk(gen.valueOf(k, 0)): RespValue).toVector))
    tracer.span("net.replay") { root =>
      val connect = tracer.span("net.connect", root)(_ => repeat(20, 0.2) {
        val c = new RedisConnection(host, port)
        try c.ping() finally c.close()
      })
      put("net.connect_ms", median(connect) * 1e3, "ms")

      val c = new RedisConnection(host, port)
      try {
        val rtt = tracer.span("net.ping", root)(_ => repeat(200, 0.2)(c.ping()))
        put("net.rtt_us_p50", median(rtt) * 1e6, "us")

        val pages = tracer.span("net.scan_walk", root) { _ =>
          val out = mutable.ArrayBuffer.empty[Double]
          var cursor = "0"
          var seen = 0L
          do {
            val t0 = System.nanoTime()
            val (next, ks) = RedisCommands.scanPage(c, cursor, gen.w.prefix + "*", 2048)
            out += (System.nanoTime() - t0) / 1e9
            seen += ks.length
            cursor = next
          } while (cursor != "0")
          if (seen < keys.length) throw new IllegalStateException(s"SCAN walk saw $seen of ${keys.length} keys")
          out.toSeq
        }
        put("net.scan_page_ms", median(pages) * 1e3, "ms")

        Seq(512, 2048).foreach { n =>
          val batches = keys.grouped(n).take(8).toSeq
          val times = tracer.span(s"net.mget$n", root) { id =>
            val t = batches.map { b =>
              val t0 = System.nanoTime()
              val got = RedisCommands.mget(c, b)
              val s = (System.nanoTime() - t0) / 1e9
              if (got.exists(_.isEmpty)) throw new IllegalStateException(s"MGET $n missed seeded keys")
              s
            }
            if (n == 512) decodeLegs(mgetFrame, id)
            t
          }
          put(s"net.mget${n}_keys_s", n / median(times), "keys/s")
        }
      } finally c.close()

      // encoder: an MGET of 2,048 keys and 2,048 SETs of the workload's values
      val cmds = ("MGET" +: keys.take(2048)) +: keys.take(2048).map(k => Seq("SET", k, gen.valueOf(k, 0)))
      val bytes = cmds.map(RespCodec.encodeCommand(_).length.toLong).sum
      val enc = tracer.span("resp.encode_cmd", root)(_ => repeat(5, 0.2)(cmds.foreach(RespCodec.encodeCommand)))
      put("resp.encode_cmd_mb_s", bytes / 1e6 / median(enc), "MB/s")
    }
  }
}
