package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark-side layer numbers, gathered by listeners the benchmark
  * registers itself. Jobs carry the job group of the request that
  * started them; jobs with no benchmark group (a stream's own jobs) are
  * attributed afterwards by submission time. */
final class SparkMeter(spark: SparkSession) {
  import SparkMeter._

  private val jobs = new ConcurrentHashMap[Int, JobInfo]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
  /** Nanoseconds spent inside the listener callbacks. */
  val overheadNs = new AtomicLong()

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally overheadNs.addAndGet(System.nanoTime() - t0)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(GroupPrefix))
      jobs.put(e.jobId, JobInfo(e.jobId, group, e.time * 1000000L))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      if (m != null) {
        val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
        a.synchronized {
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.durations += m.executorRunTime.toDouble
          a.recordsRead += m.inputMetrics.recordsRead
          a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          a.resultBytes += m.resultSize
        }
      }
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      timed {
        val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val at = java.time.Instant.parse(e.progress.timestamp)
        progress.add(Progress(
          at.getEpochSecond * 1000000000L + at.getNano, d.toMap))
      }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.streams.addListener(streams)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streams)
  }

  /** Aggregate per key. A job's key is its benchmark job group, or else
    * the key whose wall-clock window (epoch ns) holds its submission. */
  def byKey(windows: Seq[(String, Long, Long)]): Map[String, Agg] = {
    def keyOf(j: JobInfo): Option[String] = j.group.map(_.stripPrefix(GroupPrefix))
      .orElse(windows.collectFirst {
        case (k, a, b) if j.submitNs >= a && j.submitNs <= b => k
      })
    val jobKey = jobs.values.asScala.flatMap(j => keyOf(j).map(j.id -> _)).toMap
    val out = scala.collection.mutable.Map.empty[String, Agg]
    jobKey.values.foreach(k => out.getOrElseUpdate(k, new Agg))
    jobKey.foreach { case (_, k) => out(k).jobs += 1 }
    stages.asScala.foreach { case (sid, a) =>
      Option(stageJob.get(sid)).flatMap(jobKey.get).foreach { k =>
        val o = out(k)
        a.synchronized {
          o.tasks += a.tasks
          o.runMs += a.runMs
          o.recordsRead += a.recordsRead
          o.shuffleBytes += a.shuffleBytes
          o.spillBytes += a.spillBytes
          o.resultBytes += a.resultBytes
          if (a.durations.nonEmpty) {
            val med = Stats.median(a.durations.toSeq)
            o.maxSkew = math.max(o.maxSkew, a.durations.max / math.max(med, 1.0))
          }
        }
      }
    }
    out.toMap
  }

  /** Micro-batch progress reports whose time falls in [a, b] epoch ns. */
  def progressIn(a: Long, b: Long): Seq[Progress] =
    progress.asScala.filter(p => p.atNs >= a && p.atNs <= b).toSeq
}

object SparkMeter {
  /** Job-group prefix that marks a benchmark request. */
  val GroupPrefix = "perfbench:"

  final case class JobInfo(id: Int, group: Option[String], submitNs: Long)
  final case class Progress(atNs: Long, durationMs: Map[String, Long])

  final class StageAgg {
    var tasks = 0L; var runMs = 0L; var recordsRead = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var resultBytes = 0L
    val durations = scala.collection.mutable.ArrayBuffer.empty[Double]
  }

  /** Totals over the jobs of one key. */
  final class Agg {
    var jobs = 0L; var tasks = 0L; var runMs = 0L; var recordsRead = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var resultBytes = 0L
    var maxSkew = 0.0
    def +=(o: Agg): Unit = {
      jobs += o.jobs; tasks += o.tasks; runMs += o.runMs
      recordsRead += o.recordsRead
      shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
      resultBytes += o.resultBytes; maxSkew = math.max(maxSkew, o.maxSkew)
    }
  }

  object Agg {
    def sum(as: Iterable[Agg]): Agg = { val t = new Agg; as.foreach(t += _); t }
  }

  /** Run `body` with this thread's Spark jobs tagged as request `key`. */
  def tagged[A](spark: SparkSession, key: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(GroupPrefix + key, key, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }
}
