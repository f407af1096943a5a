package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.api.Engine

/** How one client talks to the engine. `get` returns the answer's rows
  * rendered by [[Expect.render]]; both calls throw on failure. */
trait Client {
  def get(req: Req): Seq[String]
  def put(req: Req): Unit
}

/** A caller of the HTTP service, as the CLI and UI are. */
final class HttpCaller(port: Int, timeout: Duration) extends Client {
  private val http = HttpClient.newBuilder().connectTimeout(timeout).build()
  private val json = new ObjectMapper()

  private def post(path: String, body: String): HttpResponse[java.util.stream.Stream[String]] = {
    val rsp = http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .timeout(timeout).POST(HttpRequest.BodyPublishers.ofString(body, UTF_8)).build(),
      HttpResponse.BodyHandlers.ofLines())
    if (rsp.statusCode != 200) {
      val msg = rsp.body.iterator.asScala.mkString(" ")
      throw new IllegalStateException(s"HTTP ${rsp.statusCode}: $msg")
    }
    rsp
  }

  private def text(n: JsonNode): String = if (n == null || n.isNull) null else n.asText

  def get(req: Req): Seq[String] =
    post("/get", req.text).body.iterator.asScala.filter(_.nonEmpty).map { line =>
      val r = json.readTree(line)
      val v = r.get("value")
      Expect.render(r.get("id").asText, r.get("key").asText, text(v.get("iri")),
        text(v.get("str")),
        Option(v.get("num")).filterNot(_.isNull).map(n => Double.box(n.asDouble)).orNull,
        Option(v.get("i64")).filterNot(_.isNull).map(n => Long.box(n.asLong)).orNull)
    }.toSeq

  def put(req: Req): Unit = post("/put", req.text).body.close()
}

/** An in-process caller of [[Engine]], with a span around each module
  * call and the request's Spark jobs tagged with its job group. */
final class EngineCaller(engine: Engine, tracer: Tracer,
                         onScan: (String, Long, Long) => Unit) extends Client
    with AdaptiveSparkPlanHelper {
  private val seq = new java.util.concurrent.atomic.AtomicLong()
  private def key(req: Req) = s"${req.kind}#${seq.incrementAndGet()}"

  def get(req: Req): Seq[String] = tracer.span("request") {
    SparkMeter.tagged(engine.spark, key(req)) {
      tracer.span("lang.parse")(graft.lang.AhgheeParser.parse(req.text))
      val df = tracer.span("api.query_build")(engine.query(req.text))
      val rows = tracer.span("api.drain") {
        val it = df.toLocalIterator()
        val out = Seq.newBuilder[String]
        while (it.hasNext) out += EngineCaller.render(it.next())
        out.result()
      }
      val (files, scanned) = scanStats(df)
      onScan(req.kind, files, scanned)
      rows
    }
  }

  def put(req: Req): Unit = tracer.span("request") {
    SparkMeter.tagged(engine.spark, key(req)) {
      tracer.span("ingest.put_parse")(graft.ingest.AhgheePut.parse(req.text))
      tracer.span("api.put")(engine.put(req.text))
    }
  }

  /** Files read and rows produced by the executed plan's leaf scans. */
  private def scanStats(df: DataFrame): (Long, Long) = {
    val leaves = collectLeaves(df.queryExecution.executedPlan)
    def metric(p: org.apache.spark.sql.execution.SparkPlan, k: String) =
      p.metrics.get(k).map(_.value).getOrElse(0L)
    (leaves.collect { case s: FileSourceScanExec => metric(s, "numFiles") }.sum,
      leaves.map(metric(_, "numOutputRows")).sum)
  }
}

object EngineCaller {
  def render(r: Row): String = {
    val v = r.getAs[Row]("value")
    Expect.render(r.getAs[String]("id"), r.getAs[String]("key"),
      v.getAs[String]("iri"), v.getAs[String]("str"),
      v.getAs[java.lang.Double]("num"), v.getAs[java.lang.Long]("i64"))
  }
}

/** One finished operation. */
final case class Sample(kind: String, client: Int, startNs: Long, endNs: Long,
                        rows: Int, error: Option[String]) {
  def ms: Double = (endNs - startNs) / 1e6
  def ok: Boolean = error.isEmpty
  def isPut: Boolean = kind.startsWith("put_")
}

/** Closed-loop serving load: every client waits for each reply before
  * it sends its next request. */
object Serve {
  val Timeout: Duration = Duration.ofSeconds(60)

  /** Seconds of untimed load before the measured window. */
  val WarmUpSeconds = 6.0

  /** `Engine.put` cuts the lineage with a localCheckpoint every 8th put. */
  val PutsPerCut = 8

  /** Run `streams(i)` on client `i` until `seconds` have passed. Errors,
    * timeouts and wrong answers become failed samples. With a writer,
    * the window runs on until the writer finishes a whole number of
    * cut cycles (seven quick puts and one that checkpoints), so no
    * window holds a partial cycle. */
  def drive(clients: Seq[(Client, Iterator[Req])], expect: Expect,
            seconds: Double): Seq[Sample] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val stop = new java.util.concurrent.atomic.AtomicBoolean()
    val puts = new java.util.concurrent.atomic.AtomicLong()
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val threads = clients.zipWithIndex.map { case ((client, stream), i) =>
      val t = new Thread(() => {
        var writer = false
        while (!stop.get && (writer || System.nanoTime() < deadline || puts.get > 0)) {
          val s = once(client, stream.next(), expect, i)
          out.add(s)
          writer = s.isPut
          val n = if (writer) puts.incrementAndGet() else puts.get
          if (System.nanoTime() >= deadline && (n == 0 || writer && n % PutsPerCut == 0))
            stop.set(true)
        }
      }, s"perfbench-client-$i")
      t.start(); t
    }
    threads.foreach(_.join())
    out.asScala.toSeq
  }

  def once(client: Client, req: Req, expect: Expect, i: Int,
           timeout: Duration = Timeout): Sample = {
    val t0 = System.nanoTime()
    val version = expect.issue(req, t0)
    val (rows, err) =
      try {
        if (req.isPut) {
          client.put(req)
          version.foreach(_.ackNs = System.nanoTime())
          (1, None)
        } else {
          val got = client.get(req)
          (got.size, expect.check(req, got, t0, System.nanoTime()))
        }
      } catch { case e: Throwable => (0, Some(s"${req.text}: $e")) }
    val t1 = System.nanoTime()
    val timedOut = (t1 - t0) > timeout.toNanos
    Sample(req.kind, i, t0, t1, rows,
      err.orElse(if (timedOut) Some(s"${req.text}: timed out") else None))
  }
}
