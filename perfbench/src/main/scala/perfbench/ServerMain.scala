package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.net.{ServerSocket, Socket}
import java.util.concurrent.atomic.AtomicLong

/** Server launcher, run in its own JVM so that the fake server's CPU and GC
  * are not charged to the client:
  *
  *   java -cp <classpath> perfbench.ServerMain <workload> <seed>
  *
  * It seeds a `graft.net.FakeRedisServer` straight from the generator (no
  * client write path involved), starts a round-trip counting proxy in front
  * of it, prints `READY <port> <proxyPort>` and then answers commands read
  * from stdin:
  *  - `STATS` → `STATS <cpuTicks> <scanCalls> <roundTrips>`, where
  *    `cpuTicks` is utime+stime from /proc/self/stat;
  *  - `QUIT`, or end of input (the client is gone) → stop and exit.
  */
object ServerMain {
  def main(args: Array[String]): Unit = {
    val gen = new Gen(Workload.all(args(0)), args(1).toLong)
    val server = new graft.net.FakeRedisServer()
    gen.keys.foreach(k => server.put(k, gen.valueOf(k, 0)))
    gen.hashKeys.foreach(k => server.putHash(k, gen.hashFields(k)))
    val port = server.start()
    val proxy = new CountingProxy(port)
    println(s"READY $port ${proxy.port}")
    System.out.flush()
    val in = new BufferedReader(new InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line != "QUIT") {
      if (line == "STATS") {
        println(s"STATS ${cpuTicks()} ${server.scanCalls} ${proxy.roundTrips}")
        System.out.flush()
      }
      line = in.readLine()
    }
    proxy.stop()
    server.stop()
    System.exit(0)
  }

  /** utime + stime of this process, in clock ticks (fields 14 and 15 of
    * /proc/self/stat, counted after the parenthesised command name).
    */
  def cpuTicks(): Long = {
    val s = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/self/stat")))
    val f = s.substring(s.lastIndexOf(')') + 2).split(' ')
    f(11).toLong + f(12).toLong
  }
}

/** TCP proxy that counts client round trips: a client send that starts
  * while every request it sent before has been answered. Requests and
  * replies are counted as whole RESP frames by [[FrameCounter]], so a
  * pipelined batch counts once however the bytes are split.
  */
final class CountingProxy(target: Int) {
  private val listener = new ServerSocket(0)
  private val trips = new AtomicLong()
  def port: Int = listener.getLocalPort
  def roundTrips: Long = trips.get()

  private val acceptor = new Thread(() => {
    try while (true) {
      val client = listener.accept()
      val upstream = new Socket("127.0.0.1", target)
      client.setTcpNoDelay(true)
      upstream.setTcpNoDelay(true)
      val requests = new FrameCounter
      val replies = new FrameCounter
      pump(client, upstream, requests, () =>
        if (!requests.midFrame && requests.frames == replies.frames) trips.incrementAndGet())
      pump(upstream, client, replies, () => ())
    } catch { case _: java.io.IOException => () } // listener closed
  }, "perfbench-proxy-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  /** Copy `from` → `to`, counting frames before forwarding each chunk. */
  private def pump(from: Socket, to: Socket, counter: FrameCounter, onChunk: () => Unit): Unit = {
    val t = new Thread(() => {
      val buf = new Array[Byte](64 * 1024)
      try {
        var n = from.getInputStream.read(buf)
        while (n > 0) {
          onChunk()
          counter.feed(buf, 0, n)
          to.getOutputStream.write(buf, 0, n)
          n = from.getInputStream.read(buf)
        }
      } catch { case _: java.io.IOException => () }
      finally { from.close(); to.close() }
    }, "perfbench-proxy-pump")
    t.setDaemon(true)
    t.start()
  }

  def stop(): Unit = listener.close()
}

/** Counts complete top-level RESP frames in a byte stream fed in arbitrary
  * chunks. Only frame boundaries are tracked; values are skipped, never
  * decoded.
  */
final class FrameCounter {
  @volatile var frames = 0L
  private var open: List[Long] = Nil // items still due in each open aggregate
  private var bulkLeft = 0L          // payload + CRLF bytes still to skip
  private var inHeader = false
  private var kind = ' '
  private val header = new StringBuilder

  /** True while a frame has started but not ended. */
  def midFrame: Boolean = synchronized(open.nonEmpty || bulkLeft > 0 || inHeader)

  def feed(buf: Array[Byte], off: Int, len: Int): Unit = synchronized {
    var i = off
    val end = off + len
    while (i < end) {
      if (bulkLeft > 0) {
        val k = math.min(bulkLeft, (end - i).toLong).toInt
        bulkLeft -= k
        i += k
        if (bulkLeft == 0) valueDone()
      } else if (!inHeader) {
        kind = buf(i).toChar
        inHeader = true
        header.setLength(0)
        i += 1
      } else {
        val b = buf(i)
        i += 1
        if (b == '\n') {
          inHeader = false
          onHeader(header.toString.stripSuffix("\r"))
        } else header.append(b.toChar)
      }
    }
  }

  private def onHeader(line: String): Unit = kind match {
    case '$' | '=' | '!' =>
      val n = line.toLong
      if (n < 0) valueDone() else bulkLeft = n + 2
    case '*' | '~' | '>' | '%' | '|' =>
      val n = line.toLong
      // a map holds 2n values; an attribute's 2n values precede its reply
      val items = kind match { case '%' => 2 * n; case '|' => 2 * n + 1; case _ => n }
      if (items <= 0) valueDone() else open = items :: open
    case _ => valueDone()
  }

  private def valueDone(): Unit = open match {
    case Nil => frames += 1
    case 1L :: rest => open = rest; valueDone()
    case n :: rest => open = (n - 1) :: rest
  }
}
