package graft.bench

import graft.SparkEntry
import graft.fixtures.{SyntheticWeb, WebSpec}

/** Microbench: pure CPU-parallel page generation + href extraction, no
  * frontier/driver loop — isolates how well embarrassingly-parallel work
  * scales on this box. Usage: runMain graft.bench.GenBench [pages] [cpus]
  * (cpus defaults to `SPARK_GRAFT_CPUS`, else 4)
  */
object GenBench {
  def main(args: Array[String]): Unit = {
    val pages = args.lift(0).map(_.toInt).getOrElse(400000)
    val cpus = args.lift(1).map(_.toInt).getOrElse(SparkEntry.defaultCpus)
    val spark = SparkEntry.localSession("graft-genbench", cpus)
    import org.apache.spark.sql.functions._
    val spec = WebSpec(hosts = 4, pagesPerHost = pages / 4, otherOrgPages = pages / 20, subHostPages = pages / 20)
    val t0 = System.nanoTime()
    val n = SyntheticWeb.site(spark, spec).pages
      .select(explode(regexp_extract_all(col("body"), lit(graft.engine.CrawlEngine.HrefPattern), lit(1))).as("l"))
      .select(pmod(xxhash64(col("l")), lit(1000000007L)).as("h"))
      .agg(sum(col("h")))
      .head()
    val secs = (System.nanoTime() - t0) / 1e9
    println(s"""{"pages":$pages,"cpus":"$cpus","secs":$secs,"pages_per_sec":${pages / secs},"check":${n.getLong(0)}}""")
    spark.stop()
  }
}
