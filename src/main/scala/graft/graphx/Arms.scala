package graft.graphx

import org.apache.spark.sql.SparkSession

/** The one local-vs-distributed rule for the dual-arm graph fixpoints.
  * Each of them has a driver-side ("local") arm — collect once, loop on
  * arrays, no per-round scheduling — and a distributed DataFrame arm,
  * the scale path. Both arms run the same exact recurrence (the
  * arms-equality specs pin it), so the choice changes only how the
  * answer is computed, never what it is.
  *
  * [[local]] picks the driver arm while the input's size measure is at
  * or under `limit`, and records the choice as the `graft.<name>.impl`
  * local property (`local` | `distributed`) for tests and profiles.
  * `spark.graft.forceDistributed=true` sends every algorithm to its
  * distributed arm without evaluating the size (no count job) — the
  * switch that exercises the 100 TB path on graphs that fit the
  * driver. */
object Arms {
  val ForceDistributedConf = "spark.graft.forceDistributed"

  def forced(spark: SparkSession): Boolean =
    spark.conf.get(ForceDistributedConf, "false").toBoolean

  /** True when `name` should run its driver arm; `size` is only
    * evaluated when the switch is off. */
  def local(spark: SparkSession, name: String, size: => Long,
            limit: Long = 1000000L): Boolean = {
    val isLocal = !forced(spark) && size <= limit
    spark.sparkContext.setLocalProperty(s"graft.$name.impl",
      if (isLocal) "local" else "distributed")
    isLocal
  }
}
