package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Command-line options; see the README for their meaning. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      runDir: File, traceDir: File, spec: File)

object Args {
  def parse(argv: Seq[String]): Args = {
    val m = argv.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k missing"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace $t")
      },
      new File(need("run-dir")), new File(need("trace-dir")), new File(need("spec")))
    require(Main.workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }
}

/** Everything one workload measured; becomes the result line. */
final case class Measured(attempted: Long, failed: Long, problems: Seq[String],
                          metrics: Seq[Metric], info: Seq[(String, Double)],
                          detail: String = "{}", spans: Seq[Span] = Nil)

object Main {
  val workloads: Set[String] = Set("serve-read", "serve-mixed", "analytics")

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv.toSeq)
    val declared = declaredMetrics(a.spec, if (a.trace) "per_layer" else "end_to_end")
    val t0 = System.nanoTime()
    val spark = Session.start(a.runDir)
    val m = try run(spark, a, secs(t0)) finally spark.stop()
    val metrics = if (a.trace) Report.unusedAsZero(declared, m.metrics) else m.metrics
    val result = Result(m.attempted, m.failed, Report.check(declared, metrics), m.problems)
    m.problems.take(20).foreach(p => log(s"FAILED $p"))
    if (a.trace) {
      val f = new File(a.traceDir, s"${a.workload}-seed${a.seed}.json")
      Files.write(f, Json.obj(Seq(
        "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
        "layers" -> Json.obj(result.metrics.map(x => x.name -> Json.num(x.value))),
        "detail" -> m.detail, "spans" -> Trace.toJson(m.spans))))
      log(s"trace written to $f")
    }
    m.info.foreach { case (k, v) => println(s"# $k = $v") }
    println(result.line)
    System.out.flush()
  }

  /** (name, unit) of the metrics BENCHMARK.json declares under `section`. */
  def declaredMetrics(spec: File, section: String): Seq[(String, String)] =
    new ObjectMapper().readTree(spec).get(section).elements().asScala
      .map(n => n.get("name").asText -> n.get("unit").asText).toSeq

  def run(spark: SparkSession, a: Args, sessionS: Double): Measured = a.workload match {
    case "serve-read" => serve(spark, a, sessionS, readers = 4, writer = false)
    case "serve-mixed" => serve(spark, a, sessionS, readers = 3, writer = true)
    case "analytics" => analytics(spark, a, sessionS)
  }

  def log(msg: String): Unit = System.err.println(
    f"perfbench: [${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%7.2f s] $msg")

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def epochNs(): Long = System.currentTimeMillis() * 1000000L

  /** Session start plus the median of three repetitions of `step`. */
  private def setupSeconds(spark: SparkSession, sessionS: Double,
                           step: Int => Unit): Double = {
    val t0 = System.nanoTime()
    spark.range(1000000).selectExpr("sum(id)").collect()
    sessionS + secs(t0) + Stats.median((1 to 3).map { k =>
      val t = System.nanoTime()
      step(k)
      val d = secs(t)
      log(f"set-up $k took $d%.3f s")
      d
    })
  }

  /** Peak resident set of this process (VmHWM), MB. */
  def rssPeakMb(): Double =
    scala.util.Try(scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }).toOption.flatten
      .getOrElse((Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) / 1048576.0)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** The fixed CPU-bound job whose time tracks host weather. */
  def controlSeconds(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 400000000L, 1, Session.cores)
      .selectExpr("sum(hash(id) % 1000)").collect()
    secs(t0)
  }

  /** Count samples; failed ones are kept out of the latency numbers. */
  def tally(samples: Seq[Sample]): (Long, Long, Seq[String]) =
    (samples.size.toLong, samples.count(!_.ok).toLong, samples.flatMap(_.error))

  /** The end-to-end metrics: mean latency and throughput of every
    * completed operation (gets, puts, registry queries). Medians and
    * tails go to the `# ` lines: across runs, a 5-query batch's median
    * and a 20-get window's p90 jump between samples, while the mean
    * holds. */
  private def endToEnd(opMs: Seq[Double], wallS: Double, setupS: Double): Seq[Metric] = {
    require(opMs.nonEmpty, "no operation completed")
    Seq(Metric("setup_s", setupS, "s"),
      Metric("op_mean_ms", Stats.mean(opMs), "ms"),
      Metric("ops_per_s", opMs.size / wallS, "1/s"),
      Metric("rss_peak_mb", rssPeakMb(), "MB"))
  }

  private def wallOf(s: Seq[Sample]): Double =
    (s.map(_.endNs).max - s.map(_.startNs).min) / 1e9

  // ---------------------------------------------------------------- serve

  private def serve(spark: SparkSession, a: Args, sessionS: Double, readers: Int,
                    writer: Boolean): Measured = {
    val sc = Data.serve
    val inputs = new File(a.runDir, "data")
    Data.write(spark, inputs.getAbsolutePath, sc)
    var server: graft.api.Server = null
    // each set-up builds the store from its own copy of the inputs, so
    // each one materializes its own tables
    val setupS = setupSeconds(spark, sessionS, { k =>
      val dir = new File(a.runDir, s"store$k")
      Files.copyTree(inputs, dir)
      if (server != null) server.stop()
      server = graft.api.Server.start(graft.api.Engine.forDir(spark, dir.getAbsolutePath))
    })
    try {
      val expect = Expect.load(spark, inputs.getAbsolutePath, sc)
      val http = new HttpCaller(server.port, Serve.Timeout)
      val streams: Seq[Iterator[Req]] =
        (0 until readers).map(Requests.reader(a.seed, _, sc)) ++
          (if (writer) Seq(Requests.writer(a.seed, sc)) else Nil)
      // Untimed but checked: the full load for a fixed time first, so the
      // measured window sees a JIT-compiled engine and, with a writer,
      // the steady state of reads beside writes (the first lineage cut
      // switches reads from the store to the checkpoint) rather than
      // the start-up transient.
      val warmSamples = Serve.drive(streams.map(http -> _), expect, Serve.WarmUpSeconds)
      log("warmed up; measuring")
      if (!a.trace) {
        val s = Serve.drive(streams.map(http -> _), expect, a.seconds)
        val (att, failed, problems) = tally(warmSamples ++ s)
        val (puts, gets) = s.filter(_.ok).partition(_.isPut)
        def pct(xs: Seq[Sample], p: Double) =
          if (xs.isEmpty) Double.NaN else Stats.percentile(xs.map(_.ms), p)
        Measured(att, failed, problems,
          endToEnd((gets ++ puts).map(_.ms), wallOf(s), setupS),
          Seq("gets" -> gets.size.toDouble, "puts" -> puts.size.toDouble,
            "get_p50_ms" -> pct(gets, 50), "get_p95_ms" -> pct(gets, 95),
            "put_p50_ms" -> pct(puts, 50), "put_p90_ms" -> pct(puts, 90)))
      } else {
        val control = controlSeconds(spark)
        // half the time over HTTP, untraced, for the HTTP share...
        val viaHttp = Serve.drive(streams.map(http -> _), expect, a.seconds / 2.0)
        // ...and half in-process with spans and tagged jobs
        val tracer = new Tracer(true)
        val meter = new SparkMeter(spark)
        val scans = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
        val inproc = new EngineCaller(server.engine, tracer,
          (k, f, r) => scans.add((k, f, r)): Unit)
        val gc0 = gcMs()
        val traced = Serve.drive(streams.map(inproc -> _), expect, a.seconds / 2.0)
        val gc = gcMs() - gc0
        org.apache.spark.sql.GraftInternals.flushListenerBus(spark.sparkContext)
        meter.close()
        val (att, failed, problems) = tally(warmSamples ++ viaHttp ++ traced)
        val ok = traced.filter(_.ok)
        require(ok.nonEmpty, "no traced operation completed")
        val spans = tracer.all
        val self = Trace.selfByName(spans)
        val reqNs = spans.filter(_.name == "request").map(_.durNs).sum.toDouble
        def share(n: String) = 100.0 * self.getOrElse(n, 0L) / reqNs
        val aggs = meter.byKey(Nil)
        val putAgg = SparkMeter.Agg.sum(aggs.filter(_._1.startsWith("put_")).values)
        val nPuts = ok.count(_.isPut)
        val rowsOut = ok.map(_.rows.toLong).sum
        def getP50(s: Seq[Sample]) = Stats.median(s.filter(x => x.ok && !x.isPut).map(_.ms))
        val httpP50 = getP50(viaHttp)
        val inP50 = getP50(traced)
        val wall = wallOf(traced)
        val n = ok.size.toDouble
        val layers = Seq(
          Metric("host.control_s", control, "s"),
          Metric("op.traced_p50_ms", inP50, "ms"),
          Metric("trace.overhead_ms_per_op",
            (tracer.overheadNs.get + meter.overheadNs.get) / 1e6 / n, "ms"),
          Metric("lang.parse_pct", share("lang.parse"), "%"),
          Metric("api.query_build_pct", share("api.query_build"), "%"),
          Metric("api.drain_pct", share("api.drain"), "%"),
          Metric("api.http_pct", 100.0 * (httpP50 - inP50) / httpP50, "%"),
          Metric("ingest.put_parse_pct", share("ingest.put_parse"), "%"),
          Metric("api.put_pct", share("api.put"), "%"),
          Metric("api.put_jobs", if (nPuts == 0) 0.0 else putAgg.jobs.toDouble / nPuts, "count"),
          Metric("sources.files_per_op",
            scans.asScala.map(_._2).sum.toDouble / n, "count")) ++
          sparkLayers(SparkMeter.Agg.sum(aggs.values), n, wall, gc, rowsOut)
        val byKind = ok.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, v) =>
          val ag = SparkMeter.Agg.sum(aggs.filter(_._1.startsWith(k + "#")).values)
          val sc = scans.asScala.filter(_._1 == k)
          k -> Json.obj(Seq("n" -> v.size.toString,
            "p50_ms" -> Json.num(Stats.median(v.map(_.ms))),
            "rows_per_op" -> Json.num(v.map(_.rows).sum.toDouble / v.size),
            "jobs_per_op" -> Json.num(ag.jobs.toDouble / v.size),
            "tasks_per_op" -> Json.num(ag.tasks.toDouble / v.size),
            "task_ms_per_op" -> Json.num(ag.runMs.toDouble / v.size),
            "files_per_op" -> Json.num(if (sc.isEmpty) 0.0 else sc.map(_._2).sum.toDouble / sc.size),
            "rows_scanned_per_op" -> Json.num(if (sc.isEmpty) 0.0 else sc.map(_._3).sum.toDouble / sc.size)))
        }
        val selfMs = self.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v / 1e6 / n) }
        Measured(att, failed, problems, layers,
          Seq("http_p50_ms" -> httpP50, "inprocess_p50_ms" -> inP50),
          Json.obj(Seq("by_kind" -> Json.obj(byKind),
            "self_ms_per_op" -> Json.obj(selfMs),
            "http_p50_ms" -> Json.num(httpP50))), spans)
      }
    } finally server.stop()
  }

  /** The Spark-listener layer numbers, per operation. */
  private def sparkLayers(t: SparkMeter.Agg, n: Double, wallS: Double, gcMs: Long,
                          rowsOut: Long): Seq[Metric] = Seq(
    Metric("spark.jobs_per_op", t.jobs / n, "count"),
    Metric("spark.tasks_per_op", t.tasks / n, "count"),
    Metric("spark.task_ms_per_op", t.runMs / n, "ms"),
    Metric("spark.busy_ratio", t.runMs / 1000.0 / (wallS * Session.cores), "ratio"),
    Metric("spark.max_task_skew", t.maxSkew, "ratio"),
    Metric("spark.shuffle_mb_per_op", t.shuffleBytes / 1048576.0 / n, "MB"),
    Metric("spark.result_mb_per_op", t.resultBytes / 1048576.0 / n, "MB"),
    Metric("spark.spill_mb_per_op", t.spillBytes / 1048576.0 / n, "MB"),
    Metric("jvm.gc_ms_per_op", gcMs / n, "ms"),
    Metric("sources.rows_read_per_op", t.recordsRead / n, "count"),
    Metric("sources.rows_read_per_row", t.recordsRead.toDouble / math.max(rowsOut, 1L), "ratio"))

  // ------------------------------------------------------------ analytics

  /** One registry query execution; times in ns (`e*` are epoch ns, for
    * attributing listener events). */
  final case class QueryRun(query: String, pass: Int, startNs: Long, endNs: Long,
                            e0: Long, e1: Long, rows: Long, error: Option[String]) {
    def seconds: Double = (endNs - startNs) / 1e9
    def key: String = s"$query#$pass"
  }

  private def analytics(spark: SparkSession, a: Args, sessionS: Double): Measured = {
    val dir = new File(a.runDir, "data").getAbsolutePath
    val setupS = setupSeconds(spark, sessionS, _ => Data.write(spark, dir, Data.analytics))
    val control = if (a.trace) controlSeconds(spark) else 0.0
    val tracer = new Tracer(a.trace)
    val meter = if (a.trace) Some(new SparkMeter(spark)) else None
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    val deadline = t0 + a.seconds * 1000000000L
    val runs = Seq.newBuilder[QueryRun]
    var passes = 0
    // whole passes until the time is up; at least one
    while (passes == 0 || System.nanoTime() < deadline) {
      Analytics.order(a.seed, passes).foreach { q =>
        val e0 = epochNs()
        val q0 = System.nanoTime()
        val (rows, err) =
          try tracer.span("query") {
            SparkMeter.tagged(spark, s"$q#$passes") {
              val df = tracer.span("registry.build")(graft.SparkEntry.queries(q)(spark, dir))
              val got = Analytics.execute(df, tracer)
              val want = Analytics.expected.get(q)
              (got._1, if (want.contains(got)) None
                else Some(s"$q: got (rows, checksum) $got, expected ${want.getOrElse("nothing")}"))
            }
          } catch { case e: Throwable => (0L, Some(s"$q: $e")) }
        val r = QueryRun(q, passes, q0, System.nanoTime(), e0, epochNs(), rows, err)
        runs += r
        log(f"$q%-28s ${r.seconds}%.3f s" +
          err.map(" FAILED " + _).getOrElse(""))
        Analytics.hygiene(spark, a.runDir)
      }
      passes += 1
    }
    val all = runs.result()
    val wall = secs(t0)
    val problems = all.flatMap(_.error)
    val attempted = all.size
    val ok = all.filter(_.error.isEmpty)
    def familyS(f: String) =
      ok.filter(r => Analytics.family(r.query) == f).map(_.seconds).sum / passes
    val famS = Seq("graph", "pipeline", "stream").map(f => f -> familyS(f)).toMap
    val info = Seq("queries" -> ok.size.toDouble, "passes" -> passes.toDouble,
      "graph_s" -> famS("graph"), "pipeline_s" -> famS("pipeline"),
      "stream_s" -> famS("stream"))
    if (!a.trace)
      Measured(attempted, problems.size, problems,
        endToEnd(ok.map(_.seconds * 1000), wall, setupS), info)
    else {
      val gc = gcMs() - gc0
      org.apache.spark.sql.GraftInternals.flushListenerBus(spark.sparkContext)
      val m = meter.get
      m.close()
      val aggs = m.byKey(all.map(r => (r.key, r.e0, r.e1)))
      val spans = tracer.all
      val self = Trace.selfByName(spans)
      val qNs = spans.filter(_.name == "query").map(_.durNs).sum.toDouble
      val n = ok.size.toDouble
      val batchS = famS.values.sum
      val streamRuns = ok.filter(r => Analytics.family(r.query) == "stream")
      val prog = streamRuns.flatMap(r => m.progressIn(r.e0, r.e1))
      def phase(p: Seq[SparkMeter.Progress], k: String) =
        p.map(_.durationMs.getOrElse(k, 0L)).sum
      val floorMs = phase(prog, "triggerExecution") - phase(prog, "addBatch")
      val layers = Seq(
        Metric("host.control_s", control, "s"),
        Metric("op.traced_p50_ms", Stats.median(ok.map(_.seconds * 1000)), "ms"),
        Metric("trace.overhead_ms_per_op",
          (tracer.overheadNs.get + m.overheadNs.get) / 1e6 / n, "ms"),
        Metric("registry.build_pct", 100.0 * self.getOrElse("registry.build", 0L) / qNs, "%"),
        Metric("registry.write_pct", 100.0 * self.getOrElse("registry.write", 0L) / qNs, "%"),
        Metric("analytics.graph_pct", 100.0 * famS("graph") / batchS, "%"),
        Metric("analytics.pipeline_pct", 100.0 * famS("pipeline") / batchS, "%"),
        Metric("analytics.stream_pct", 100.0 * famS("stream") / batchS, "%"),
        Metric("stream.batches", prog.size.toDouble / passes, "count"),
        Metric("stream.floor_pct",
          100.0 * floorMs / 1000.0 / math.max(streamRuns.map(_.seconds).sum, 1e-9), "%")) ++
        sparkLayers(SparkMeter.Agg.sum(aggs.values), n, wall, gc, ok.map(_.rows).sum)
      val perQuery = Analytics.queries.map(_._2).map { q =>
        val rs = ok.filter(_.query == q)
        val per = math.max(rs.size, 1).toDouble
        val ag = SparkMeter.Agg.sum(rs.flatMap(r => aggs.get(r.key)))
        val wallS = rs.map(_.seconds).sum / per
        val pr = rs.flatMap(r => m.progressIn(r.e0, r.e1))
        def ph(k: String) = Json.num(phase(pr, k) / per)
        q -> Json.obj(Seq(
          "family" -> Json.str(Analytics.family(q)),
          "wall_s" -> Json.num(wallS),
          "task_s" -> Json.num(ag.runMs / 1000.0 / per),
          "tasks" -> Json.num(ag.tasks / per),
          "busy_ratio" -> Json.num(
            if (wallS == 0) 0.0 else ag.runMs / 1000.0 / per / (wallS * Session.cores)),
          "shuffle_mb" -> Json.num(ag.shuffleBytes / 1048576.0 / per),
          "result_mb" -> Json.num(ag.resultBytes / 1048576.0 / per),
          "spill_mb" -> Json.num(ag.spillBytes / 1048576.0 / per),
          "max_task_skew" -> Json.num(ag.maxSkew),
          "batches" -> Json.num(pr.size / per),
          "planning_ms" -> ph("queryPlanning"),
          "add_batch_ms" -> ph("addBatch"),
          "wal_commit_ms" -> ph("walCommit"),
          "commit_offsets_ms" -> ph("commitOffsets")))
      }
      Measured(attempted, problems.size, problems, layers, info,
        Json.obj(Seq("queries" -> Json.obj(perQuery))), spans)
    }
  }
}
