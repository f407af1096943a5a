package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The analytics batch: registry queries run one after another, each
  * into a `noop` sink, as `graft.Bench` runs them. */
object Analytics {

  /** (family, query) in the batch: x18 gets faster with wider exchanges
    * while x21 gets slower; p83 and p85 run the salted and unsalted IVF
    * cell joins; s29 is the slowest top-k stream. */
  val queries: Seq[(String, String)] = Seq(
    "graph" -> "x18_ktruss",
    "graph" -> "x21_rich_club",
    "pipeline" -> "p83_knn_graph",
    "pipeline" -> "p85_semdedup",
    "stream" -> "s29_stream_bm25_increment")

  val family: Map[String, String] = queries.map(_.swap).toMap

  /** The batch order for one pass: a seeded shuffle. */
  def order(seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 7919L + pass).shuffle(queries.map(_._2))

  /** Expected (rows, checksum) per query, recorded in the benchmark's
    * resources (`name<TAB>rows<TAB>checksum` lines). */
  lazy val expected: Map[String, (Long, Long)] = {
    val in = getClass.getResourceAsStream("/perfbench/analytics_expected.tsv")
    require(in != null, "analytics_expected.tsv missing from the classpath")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, rows, sum) = l.split("\t")
        n -> (rows.toLong, sum.toLong)
      }.toMap
    finally in.close()
  }

  /** An order-insensitive checksum of a row: xxhash64 over every column,
    * doubles rounded to 9 decimals so the last bit of a sum cannot flip
    * it, folded into [0, 2^31) so the sum over rows cannot overflow. */
  def rowHash(schema: StructType): Column = {
    def canon(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 9)
      case ArrayType(et, _) => transform(c, canon(_, et))
      case StructType(fs) => struct(fs.map(f => canon(c.getField(f.name), f.dataType)
        .as(f.name)).toIndexedSeq: _*)
      case _ => c
    }
    pmod(xxhash64(schema.fields.map(f => canon(col(f.name), f.dataType))
      .toIndexedSeq: _*), lit(2147483647L))
  }

  /** Execute one query into the noop sink; returns (rows, checksum)
    * measured on the same execution. */
  def execute(df: DataFrame, tracer: Tracer): (Long, Long) = {
    val obs = Observation()
    val observed = df.observe(obs, count(lit(1)).as("n"),
      coalesce(sum(rowHash(df.schema)), lit(0L)).as("h"))
    tracer.span("registry.write") {
      observed.write.format("noop").mode("overwrite").save()
    }
    val m = obs.get
    (m("n").asInstanceOf[Long], m("h").asInstanceOf[Long])
  }

  /** After each query, as `graft.Bench` does: drop blocks iterative
    * operators left, unload state stores, clear stream checkpoints. */
  def hygiene(spark: SparkSession, runDir: File): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    org.apache.spark.sql.GraftInternals.stopStateStores()
    Files.rmrf(new File(runDir, "stream-ck"))
    System.gc()
  }
}
