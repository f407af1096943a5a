package graft.graphx

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Borůvka minimum spanning forest (x31): hand-graph exactness against
  * the textbook MST, forest shape on a disconnected graph, the
  * volume-independent round bound, and the maxRounds guard. */
class MsfSpec extends SparkSpec {
  import spark.implicits._

  // two components: a 4-cycle with a chord (unique MST drops the
  // heaviest cycle edge) and a separate triangle
  private def handGraph = Seq(
    (1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 3L), (1L, 4L, 4L), // cycle
    (1L, 3L, 5L), // chord — never in the MST
    (10L, 11L, 7L), (11L, 12L, 8L), (10L, 12L, 9L) // triangle
  ).toDF("u", "v", "w")

  test("hand graph: exact unique MSF; forest covers both components") {
    val got = GraphAnalytics.boruvkaMsf(handGraph)
      .select("u", "v", "w").orderBy("u", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    // component 1 keeps (1,2,1),(2,3,2),(3,4,3); component 2 keeps
    // (10,11,7),(11,12,8) — V - #components = 6 - 2 + ... = 5 edges
    assert(got == Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 3L),
      (10L, 11L, 7L), (11L, 12L, 8L)), got.toString)
  }

  // the x31 co-purchase graph in miniature: weighted part pairs
  private def x31Pairs = graft.Tables(spark, sfDir, "lineitem")
      .where(col("l_partkey") <= 150)
      .groupBy("l_orderkey")
      .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(flatten(transform(col("ps"), (a, i) =>
        transform(slice(col("ps"), i + 2, size(col("ps"))), b =>
          struct(a.as("p1"), b.as("p2")))))).as("e"))
      .select(col("e.p1").cast("long").as("u"),
        col("e.p2").cast("long").as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("w"))
      .localCheckpoint()

  private def rounds: String = spark.sparkContext
    .getLocalProperty("graft.msf.rounds")

  test("forest invariant: |edges| = V - #components on the x31 graph") {
    val pairs = x31Pairs
    val nV = pairs.select(col("u").as("x"))
      .unionAll(pairs.select(col("v").as("x"))).distinct().count()
    val nC = GraphAnalytics.connectedComponents(pairs.select(
        col("u").cast("string").as("src_id"),
        col("v").cast("string").as("dst_id")))
      .select("component").distinct().count()
    val forest = GraphAnalytics.boruvkaMsf(pairs)
    assert(forest.count() == nV - nC,
      s"forest ${forest.count()} edges, expected ${nV - nC}")
    val nRounds = rounds.toInt
    // component count halves per round
    assert(nRounds <= 63 - java.lang.Long.numberOfLeadingZeros(nV) + 2,
      s"$nRounds rounds for $nV vertices")
  }

  test("arms equality: driver and distributed contraction agree") {
    // the per-round contraction runs a driver union-find under the
    // Arms bound and the distributed CC above it: same forest rows,
    // same rounds metric, and `graft.msf.impl` names the arm
    for (g <- Seq(handGraph, x31Pairs)) {
      def run() = (GraphAnalytics.boruvkaMsf(g)
        .select("u", "v", "w", "rnd").as[(Long, Long, Long, Int)]
        .collect().sorted.toSeq, rounds)
      val (lRows, lRounds) = run()
      assert(spark.sparkContext.getLocalProperty("graft.msf.impl") == "local")
      val (dRows, dRounds) = withDistributedArms(run())
      assert(spark.sparkContext
        .getLocalProperty("graft.msf.impl") == "distributed")
      assert(lRows == dRows, "forest diverged between arms")
      assert(lRounds == dRounds, s"rounds diverged: $lRounds vs $dRounds")
    }
  }

  test("maxRounds guard fires instead of looping") {
    val e = intercept[IllegalStateException] {
      GraphAnalytics.boruvkaMsf(handGraph, maxRounds = 0).collect()
    }
    assert(e.getMessage.contains("rounds"))
  }
}
