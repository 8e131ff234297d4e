package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

object Stats {
  /** Linear-interpolated percentile `p` in [0, 1] of `xs` (non-empty). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Benchmark client: one workload, one seed, one JVM running `local[nproc]`.
  *
  *   java -cp <classpath> perfbench.Main --workload <name> --seed <n>
  *     --seconds <s> --trace <0|1> --nproc <n> --work <dir> --clk-tck <hz>
  *
  * Prints one JSON result line last. With `--trace 0` it holds the
  * end-to-end metrics. With `--trace 1` it holds the per-layer metrics of
  * an untraced window, the same window traced, one round through the
  * round-trip counting proxy, the layer replays and the operators layer,
  * and the spans are written to `--work`.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      nproc: Int, work: String, clkTck: Double)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("nproc").toInt, m("work"), m.getOrElse("clk-tck", "100").toDouble)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workload.all.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    val tmp = s"${a.work}/tmp"
    new java.io.File(tmp).mkdirs()
    var server: ServerHandle = null
    var spark: SparkSession = null
    val line = try {
      // set-up: session, then the server launched and seeded three times
      // (the last one is kept), then prepared inputs and an untimed warm-up
      val t0 = System.nanoTime()
      spark = SparkSession.builder().master(s"local[${a.nproc}]").appName("perfbench")
        .config("spark.sql.shuffle.partitions", a.nproc.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"${a.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
        .config("spark.sql.session.timeZone", "UTC")
        .withExtensions(new graft.GraftSparkExtensions()(_))
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val sessionS = (System.nanoTime() - t0) / 1e9
      val launches = (1 to 3).map { i =>
        val s0 = System.nanoTime()
        server = ServerHandle.launch(w.name, a.seed, tmp, a.clkTck)
        val c = new graft.net.RedisConnection("127.0.0.1", server.port)
        try c.ping() finally c.close()
        val s = (System.nanoTime() - s0) / 1e9
        if (i < 3) { server.stop(); server = null }
        s
      }
      val p0 = System.nanoTime()
      val gen = new Gen(w, a.seed)
      val legs = new Legs(spark, gen, a.nproc)
      legs.target(server.port)
      val w0 = System.nanoTime()
      warmUp(legs, if (a.trace) w.traceOnly else Nil)
      val setupS = sessionS + Stats.percentile(launches, 0.5) + (System.nanoTime() - p0) / 1e9
      System.err.println(f"[perfbench] ${w.name} seed ${a.seed}: session $sessionS%.2f s, " +
        f"server ${launches.map(x => f"$x%.2f").mkString("/")} s, inputs ${(w0 - p0) / 1e9}%.2f s, " +
        f"warm-up ${(System.nanoTime() - w0) / 1e9}%.2f s, set-up $setupS%.2f s")

      val s0 = server.stats()
      val (samples, rounds) = window(legs, a.seconds, 1)
      val serverDelta = server.stats() - s0
      // final state check: the last write must be visible
      legs.run("kv_scan", -1, stream = false)

      if (!a.trace) result(legs.attempted, legs.failed, endToEnd(samples, setupS))
      else {
        val (metrics, olap) = traced(spark, legs, server, a, samples, rounds, serverDelta)
        result(legs.attempted + olap.attempted, legs.failed + olap.failed, metrics)
      }
    } finally {
      if (server != null) server.stop()
      if (spark != null) spark.stop()
    }
    println(line)
    System.out.flush()
    System.exit(0)
  }

  /** Seconds of warm-up per kind. With two queries of each kind, cheap
    * lookups were still getting faster over their first eight timed runs,
    * so a run's median depended on how many rounds fitted in its window.
    */
  val WarmUpS = 1.5

  /** Untimed, checked warm-up, so that the JIT and Spark's code generation
    * have settled before the clock starts: each kind runs at least twice (so
    * on each of the two lookup lists) and until it has run for [[WarmUpS]].
    */
  private def warmUp(legs: Legs, extra: Seq[String]): Unit = {
    val w = legs.gen.w
    (w.stream ++ w.side ++ extra).distinct.foreach { k =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < 2 || System.nanoTime() - t0 < WarmUpS * 1e9) {
        legs.run(k, i, stream = false)
        i += 1
      }
    }
  }

  /** One round: the stream in seeded order, then the side kinds. */
  private def round(legs: Legs, r: Int): Seq[Sample] = {
    val w = legs.gen.w
    val stream = legs.gen.streamOrder(r).zipWithIndex.flatMap { case (k, i) =>
      legs.run(k, r * w.stream.length + i, stream = true) }
    stream ++ w.side.zipWithIndex.flatMap { case (k, i) =>
      legs.run(k, r * w.side.length + i, stream = false) }
  }

  /** Rounds until `seconds` have passed (at least one); samples and rounds run. */
  private def window(legs: Legs, seconds: Double, firstRound: Int): (Seq[Sample], Int) = {
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[Sample]
    var r = firstRound
    while (r == firstRound || System.nanoTime() - t0 < seconds * 1e9) {
      out ++= round(legs, r)
      r += 1
    }
    (out.toSeq, r - firstRound)
  }

  /** Samples during which the machine lost more than this share of its CPU
    * time to steal (another tenant of the host running) are left out of the
    * throughputs, when enough others remain.
    */
  val MaxSteal = 0.05

  /** The calm samples of `xs` if there are at least `min` of them, else all. */
  def calm(xs: Seq[Sample], min: Int): Seq[Sample] = {
    val c = xs.filter(_.steal <= MaxSteal)
    if (c.length >= min) c else xs
  }

  private def rate(samples: Seq[Sample], kind: String, perSample: Sample => Double): Double = {
    val xs = samples.filter(_.kind == kind)
    if (xs.isEmpty) throw new IllegalStateException(s"no successful $kind query")
    Stats.percentile(calm(xs, 2).map(s => perSample(s) / s.seconds), 0.5)
  }

  def endToEnd(samples: Seq[Sample], setupS: Double): Seq[(String, Double, String)] = {
    // latency keeps every sample: dropping some would shift the mix of kinds
    val lat = samples.filter(_.stream).map(_.seconds * 1e3)
    System.err.println(s"[perfbench] samples: ${lat.length} stream queries, " +
      s"${samples.count(_.steal > MaxSteal)} queries over ${MaxSteal * 100}% steal; " +
      samples.groupBy(_.kind).map { case (k, v) =>
        s"$k=${v.length} [${v.map(x => f"${x.seconds * 1e3}%.0f/${x.steal * 100}%.1f").mkString(",")} ms/steal%]"
      }.toSeq.sorted.mkString(" "))
    Seq(
      ("setup_s", setupS, "s"),
      ("scan_keys_per_s", rate(samples, "scan", _.units), "keys/s"),
      ("sharded_scan_keys_per_s", rate(samples, "sharded_scan", _.units), "keys/s"),
      ("kv_rows_per_s", rate(samples, "kv_scan", _.units), "rows/s"),
      ("kv_mb_per_s", rate(samples, "kv_scan", _.bytes / 1e6), "MB/s"),
      ("write_mb_per_s", rate(samples, "write", _.bytes / 1e6), "MB/s"),
      ("lookup_keys_per_s", rate(samples, "mget_batch", _.units), "keys/s"),
      ("get_udf_rows_per_s", rate(samples, "get_udf", _.units), "rows/s"),
      ("lat_p50_ms", Stats.percentile(lat, 0.5), "ms"),
      ("lat_p90_ms", Stats.percentile(lat, 0.9), "ms"),
      ("peak_rss_mb", Os.peakRssMb(), "MB"))
  }

  /** The traced window, a proxied round, the layer replays and the
    * operators layer; returns the per-layer metrics.
    */
  private def traced(spark: SparkSession, legs: Legs, server: ServerHandle, a: Args,
      untraced: Seq[Sample], rounds: Int, serverDelta: ServerStats): (Seq[(String, Double, String)], OlapRun) = {
    val w = legs.gen.w
    val tracer = new Tracer
    val col = new SparkCollector
    spark.sparkContext.addSparkListener(col)
    spark.listenerManager.register(col)
    // the traced window goes straight to the server, as the untraced one did
    legs.tracer = Some(tracer)
    val gc0 = Os.gcMs()
    val (samples, _) = window(legs, a.seconds, 1 + rounds)
    val extra = w.traceOnly.flatMap(k => legs.run(k, 0, stream = false))
    val gcMs = Os.gcMs() - gc0
    legs.tracer = None
    col.drain()
    spark.sparkContext.removeSparkListener(col)
    spark.listenerManager.unregister(col)

    // one more round through the round-trip counting proxy, with server
    // counters read around each leg; it is checked but not timed
    legs.target(server.proxyPort)
    legs.serverStats = Some(() => server.stats())
    val trips0 = server.stats().roundTrips
    round(legs, 0)
    val trips = server.stats().roundTrips - trips0
    w.traceOnly.foreach(k => legs.run(k, 0, stream = false))
    legs.serverStats = None
    legs.target(server.port)

    // Spark spans: planning phases and jobs under the query span that holds
    // them, stages under their job
    val querySpans = tracer.all.filter(_.layer == "queries")
    def holder(start: Long, end: Long): Long =
      querySpans.find(q => q.start <= start && end <= q.end + 1000000L).map(_.id).getOrElse(0L)
    val ms = 1000000L
    col.queries.toArray(Array.empty[QueryEvent]).foreach(q => q.plan.foreach { case (s, e) =>
      tracer.add("plan.phase", holder(s * ms, e * ms), s * ms, e * ms) })
    val jobs = col.jobs.toArray(Array.empty[JobEvent]).toSeq
    val stages = col.stages.toArray(Array.empty[StageEvent]).toSeq
    jobs.foreach { j =>
      val id = tracer.add("job.run", holder(j.start * ms, j.end * ms), j.start * ms, j.end * ms)
      stages.filter(s => j.stages.contains(s.id)).foreach(s =>
        tracer.add("stage.run", id, s.start * ms, s.end * ms))
    }

    val replay = new Replay(legs.gen, "127.0.0.1", server.port, tracer)
    replay.run()
    val olap = new OlapRun(spark, Olap.fixture(spark, s"${a.work}/olap"), tracer)
    val operators = olap.run(passes = 2)

    val spans = tracer.all
    val legLines = legs.legStats.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, xs) =>
      val d = xs.map(_._2)
      s"""{"leg":"$k","queries":${d.length},"server_cpu_s":${d.map(_.cpuS).sum},""" +
        s""""scan_calls":${d.map(_.scanCalls).sum},"round_trips":${d.map(_.roundTrips).sum}}"""
    }
    tracer.write(java.nio.file.Paths.get(a.work, s"trace-${w.name}-${a.seed}.jsonl"), legLines)
    val self = Tracer.selfTime(spans)
    val all = samples ++ extra
    val nQueries = all.length.toDouble
    val tasks = col.tasks.toArray(Array.empty[(Int, Long, Long)]).toSeq
    val sourceStages = stages.filter(_.readsSource).map(_.id).toSet
    val sourceTaskMs = tasks.filter(t => sourceStages(t._1)).map(_._2.toDouble)
    val qs = col.queries.toArray(Array.empty[QueryEvent]).toSeq
    val scans = qs.filter(_.hasScan)
    def med(kind: String, xs: Seq[Sample]): Double =
      Stats.percentile(xs.filter(_.kind == kind).map(_.seconds * 1e3), 0.5)
    val kinds = w.stream.distinct
    val overhead = kinds.map(med(_, samples)).sum / kinds.map(med(_, untraced)).sum - 1
    val udf = all.filter(_.kind == "get_udf")

    (Seq(
      ("fakeredis.cpu_s", serverDelta.cpuS / rounds, "s/round"),
      ("fakeredis.scan_calls", serverDelta.scanCalls.toDouble / rounds, "count/round"),
      ("net.round_trips", trips.toDouble, "count/round"),
      ("sources.partitions", scans.map(_.partitions.toDouble).sum / scans.length, "count/scan"),
      ("sources.rows_out", scans.map(_.rowsOut.toDouble).sum / scans.length, "rows/scan"),
      ("sources.task_ms", Stats.percentile(sourceTaskMs, 0.5), "ms"),
      ("sources.limit10_ms", med("limit10", all), "ms"),
      ("sources.point_eq_ms", med("point_eq", all), "ms"),
      ("sources.hash_scan_ms", med("hash_scan", all), "ms"),
      ("functions.mget_batch_ms", med("mget_batch", all), "ms"),
      ("functions.get_udf_ms", med("get_udf", all), "ms"),
      ("functions.get_udf_us_per_row",
        Stats.percentile(udf.map(s => s.seconds * 1e6 / s.units), 0.5), "us"),
      ("queries.plan_ms", Stats.percentile(qs.map(_.plan.map { case (s, e) => (e - s).toDouble }.sum), 0.5), "ms"),
      ("queries.jobs", jobs.length / nQueries, "count/query"),
      ("queries.stages", stages.length / nQueries, "count/query"),
      ("queries.tasks", stages.map(_.tasks).sum / nQueries, "count/query"),
      ("queries.shuffle_write_mb", tasks.map(_._3).sum / 1e6 / nQueries, "MB/query"),
      ("queries.gc_ms", gcMs / nQueries, "ms/query"),
      ("trace.overhead_pct", overhead * 100, "%"),
    ) ++ replay.metrics.map { case (k, (v, u)) => (k, v, u) } ++
      operators.flatMap { case (q, t, j) =>
        Seq((s"operators.ms.${Olap.id(q)}", t, "ms"), (s"operators.jobs.${Olap.id(q)}", j, "count")) } ++
      Seq("bench", "queries", "plan", "job", "stage").map(l =>
        (s"self.${l}_ms", self.getOrElse(l, 0L) / 1e6 / nQueries, "ms/query")) ++
      Seq("net", "resp").map(l => (s"self.${l}_ms", self.getOrElse(l, 0L) / 1e6, "ms")),
      olap)
  }

  private def num(v: Double): String = {
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"metric is $v")
    java.math.BigDecimal.valueOf(v).toPlainString
  }

  def result(attempted: Long, failed: Long, metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
