package perfbench

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.util.concurrent.TimeUnit

/** Server counters at one instant: CPU seconds, SCAN calls, proxied round trips. */
final case class ServerStats(cpuS: Double, scanCalls: Long, roundTrips: Long) {
  def -(o: ServerStats): ServerStats =
    ServerStats(cpuS - o.cpuS, scanCalls - o.scanCalls, roundTrips - o.roundTrips)
}

/** Client-side handle on a [[ServerMain]] JVM. */
final class ServerHandle private (proc: Process, in: BufferedReader, val port: Int,
    val proxyPort: Int, clkTck: Double) {
  private val out = new PrintWriter(proc.getOutputStream, true)

  def stats(): ServerStats = synchronized {
    out.println("STATS")
    in.readLine() match {
      case null => throw new IllegalStateException("fake server exited")
      case line =>
        val f = line.split(' ')
        require(f(0) == "STATS", s"unexpected server reply: $line")
        ServerStats(f(1).toLong / clkTck, f(2).toLong, f(3).toLong)
    }
  }

  /** Ask the server to quit, and kill it if it has not ended within 10 s. */
  def stop(): Unit = {
    out.println("QUIT")
    if (!proc.waitFor(10, TimeUnit.SECONDS)) {
      proc.destroyForcibly()
      proc.waitFor()
    }
  }
}

object ServerHandle {
  /** Start a server JVM for `workload`/`seed` and wait until it is seeded. */
  def launch(workload: String, seed: Long, tmpDir: String, clkTck: Double): ServerHandle = {
    val java = s"${System.getProperty("java.home")}/bin/java"
    val pb = new ProcessBuilder(java, "-Xms1g", "-Xmx1g", "-XX:+UseParallelGC", "-XX:-UsePerfData", s"-Djava.io.tmpdir=$tmpDir",
      "-cp", System.getProperty("java.class.path"),
      "perfbench.ServerMain", workload, seed.toString)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val proc = pb.start()
    val in = new BufferedReader(new InputStreamReader(proc.getInputStream))
    val ready = in.readLine()
    if (ready == null || !ready.startsWith("READY ")) {
      proc.destroyForcibly()
      proc.waitFor()
      throw new IllegalStateException(s"fake server did not start: $ready")
    }
    val f = ready.split(' ')
    new ServerHandle(proc, in, f(1).toInt, f(2).toInt, clkTck)
  }
}
