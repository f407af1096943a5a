package graft.api

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Query metrics snapshot — the Spark counterpart of the reference's
  * GetMetrics/GetStats surface (reference: src/core/FileStore.fs:415-485,
  * definitions src/core/Metrics.fs). A QueryExecutionListener records
  * (action, wall ns, rows-ish) per completed query; `snapshot()` drains
  * the same way GetMetrics serialized its registry. Only the most
  * recent [[Metrics.MaxEntries]] entries are kept, so a long-running
  * server's driver memory stays bounded.
  */
final class Metrics private (spark: SparkSession) {
  case class Entry(action: String, durationNs: Long, error: Option[String])

  private val entries = new java.util.ArrayDeque[Entry]()

  private[api] def record(e: Entry): Unit = entries.synchronized {
    if (entries.size == Metrics.MaxEntries) entries.removeFirst()
    entries.addLast(e)
  }

  private val listener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(Entry(funcName, durationNs, None))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(Entry(funcName, 0L, Some(exception.getMessage)))
  }
  spark.listenerManager.register(listener)

  def snapshot(): Seq[Entry] = entries.synchronized(entries.asScala.toVector)
  def clear(): Unit = entries.synchronized(entries.clear())
  def close(): Unit = spark.listenerManager.unregister(listener)
}

object Metrics {
  /** Entries kept for `snapshot()`; older ones are dropped first. */
  val MaxEntries = 10000

  def attach(spark: SparkSession): Metrics = new Metrics(spark)
}
