package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Runs `f` with every dual-arm graph algorithm forced onto its
    * distributed arm (graphx.Arms), and clears the switch after. */
  def withDistributedArms[T](f: => T): T = {
    spark.conf.set(graft.graphx.Arms.ForceDistributedConf, "true")
    try f finally spark.conf.unset(graft.graphx.Arms.ForceDistributedConf)
  }
}

object SparkSpec {
  // one session per JVM — Test/fork gives each sbt test run its own JVM
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
