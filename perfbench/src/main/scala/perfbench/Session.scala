package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** The benchmark's Spark session. Everything the session writes — the
  * warehouse, `spark.local.dir`, stream checkpoints — lives under the
  * per-run directory, which the launcher removes when the run ends. */
object Session {

  /** Cores the benchmark uses: at most 4 (local[4] and 4 clients). */
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def start(runDir: File): SparkSession = {
    val local = new File(runDir, "local")
    val warehouse = new File(runDir, "warehouse")
    Seq(local, warehouse).foreach(_.mkdirs())
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", warehouse.getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation",
        new File(runDir, "stream-ck").getAbsolutePath)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
