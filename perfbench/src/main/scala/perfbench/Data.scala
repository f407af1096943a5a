package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic input tables in the shape of the engine's relational
  * testdata (region, nation, customer, orders, lineitem, documents,
  * embeddings), written as parquet into the run directory.
  *
  * Every value is a hash of (table salt, row index), never `rand()`, so
  * the tables are byte-for-byte the same whatever the partitioning and
  * whatever the run's `--seed`: the seed drives request streams and
  * query order, while the tables stay fixed so the analytics answers
  * can be checked against hashes recorded in `analytics_expected.tsv`.
  */
object Data {

  /** Row counts of one generated data set, and the tables it needs. */
  final case class Scale(customers: Int, orders: Int, parts: Int,
                         documents: Int, embeddings: Int, tables: Seq[String])

  /** Serving store: ~16.5k nodes, ~34.5k attribute rows. */
  val serve: Scale = Scale(customers = 1500, orders = 15000, parts = 2000,
    documents = 500, embeddings = 500,
    tables = Seq("region", "nation", "customer", "orders"))

  /** Analytics tables: one cold batch of the chosen registry queries
    * takes about 20 s on 4 cores. */
  val analytics: Scale = Scale(customers = 1000, orders = 6000,
    parts = 1000, documents = 300, embeddings = 300,
    tables = Seq("lineitem", "documents", "embeddings"))

  /** Orders keys are sparse, as in TPC-H: the i-th order has key 4·i. */
  def orderKey(i: Long): Long = 4L * i

  val Nations = 25
  val Regions = 5

  /** A non-negative pseudo-random long for (salt, column). */
  private def h(salt: Int, c: Column): Column =
    pmod(xxhash64(lit(salt), c), lit(Long.MaxValue))

  private def pick(salt: Int, c: Column, n: Long): Column = pmod(h(salt, c), lit(n))

  private val words = Seq("a", "the", "key", "agg", "row", "scan", "slow",
    "fast", "table", "value", "part", "hash", "merge", "batch", "spark",
    "line", "sort", "window", "order", "data", "column", "join", "small",
    "big", "customer", "query", "stream", "filter", "group", "vector",
    "index", "graph", "edge", "node", "page", "rank", "walk", "truss",
    "club", "dedup")

  /** Write the scale's tables under `dir` as `<name>.parquet`, one file
    * per table like the engine's testdata. */
  def write(spark: SparkSession, dir: String, s: Scale): Unit =
    tables(spark, s).filter(t => s.tables.contains(t._1)).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }

  def tables(spark: SparkSession, s: Scale): Seq[(String, DataFrame)] = {
    val id = col("id")
    val region = spark.range(Regions).select(
      id.cast("int").as("r_regionkey"),
      concat(lit("REGION_"), id).as("r_name"))
    val nation = spark.range(Nations).select(
      id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"),
      (id % Regions).cast("int").as("n_regionkey"))
    val customer = spark.range(s.customers).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pick(1, id, Nations).cast("int").as("c_nationkey"),
      ((pick(2, id, 1100000L) - 100000) / 100.0).as("c_acctbal"),
      element_at(array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY").map(lit): _*),
        (pick(3, id, 5) + 1).cast("int")).as("c_mktsegment"))
    val orders = spark.range(s.orders).select(
      (id * 4).as("o_orderkey"),
      pick(4, id, s.customers.toLong).as("o_custkey"),
      element_at(array(lit("F"), lit("O"), lit("P")),
        (pick(5, id, 3) + 1).cast("int")).as("o_orderstatus"),
      ((pick(6, id, 50000000L) + 100000) / 100.0).as("o_totalprice"),
      timestamp_seconds(lit(694224000L) + pick(7, id, 2400L) * 86400)
        .as("o_orderdate"),
      concat(pick(8, id, 5) + 1, lit("-PRIO")).as("o_orderpriority"))
    val lineitem = spark.range(s.orders)
      .select(id.as("o"), explode(sequence(lit(1),
        (pick(9, id, 7) + 1).cast("int"))).as("ln"))
      .select(
        (col("o") * 4).as("l_orderkey"),
        pick(10, col("o") * 8 + col("ln"), s.parts.toLong).as("l_partkey"),
        pick(11, col("o") * 8 + col("ln"), 100).as("l_suppkey"),
        col("ln").as("l_linenumber"),
        (pick(12, col("o") * 8 + col("ln"), 50) + 1).cast("double")
          .as("l_quantity"),
        ((pick(13, col("o") * 8 + col("ln"), 10000000L) + 90000) / 100.0)
          .as("l_extendedprice"),
        (pick(14, col("o") * 8 + col("ln"), 11) / 100.0).as("l_discount"),
        (pick(15, col("o") * 8 + col("ln"), 9) / 100.0).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (pick(16, col("o") * 8 + col("ln"), 3) + 1).cast("int"))
          .as("l_returnflag"),
        element_at(array(lit("F"), lit("O")),
          (pick(17, col("o") * 8 + col("ln"), 2) + 1).cast("int"))
          .as("l_linestatus"),
        timestamp_seconds(lit(694224000L) +
          pick(18, col("o") * 8 + col("ln"), 2500L) * 86400).as("l_shipdate"))
    val vocab = array(words.map(lit): _*)
    val documents = spark.range(s.documents)
      .select(id, transform(sequence(lit(1),
        (pick(19, id, 60) + 20).cast("int")),
        w => element_at(vocab,
          (pmod(xxhash64(lit(20), id, w), lit(words.size.toLong)) + 1)
            .cast("int"))).as("ws"))
      .select(
        id.as("doc_id"),
        array_join(col("ws"), " ").as("text"),
        element_at(array(Seq("en", "de", "fr", "es", "it").map(lit): _*),
          (pick(21, id, 5) + 1).cast("int")).as("lang"),
        concat(lit("src"), id % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // 64-dim vectors around one of 10 label centroids
    val embeddings = spark.range(s.embeddings)
      .select(id, pick(22, id, 10).cast("int").as("label"))
      .select(
        id.as("vec_id"),
        transform(sequence(lit(0), lit(63)), d =>
          ((pmod(xxhash64(lit(23), col("label"), d), lit(2000L)) - 1000) /
            4000.0 +
           (pmod(xxhash64(lit(24), id, d), lit(2000L)) - 1000) / 10000.0)
            .cast("float")).as("embedding"),
        col("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "orders" -> orders, "lineitem" -> lineitem, "documents" -> documents,
      "embeddings" -> embeddings)
  }
}
