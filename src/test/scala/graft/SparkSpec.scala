package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. One session per JVM (sbt forks one
  * test JVM), small shuffle partitioning to keep unit runs fast.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark

  /** The stores and engines a suite built are unreachable once it ends, but
    * their cached state chains would stay in the one shared test JVM until
    * it exits: GBs after a few crawl suites. Drop them before the next
    * suite runs.
    */
  override def afterAll(): Unit =
    try SparkSession.getDefaultSession.foreach(_.catalog.clearCache())
    finally super.afterAll()
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}
