package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. One session per JVM (sbt forks one
  * test JVM), small shuffle partitioning to keep unit runs fast.
  */
object SparkSpec {
  lazy val spark: SparkSession = SparkEntry.localSession("graft-test", cpus = 4)
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
