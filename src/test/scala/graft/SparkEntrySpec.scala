package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import htmlspark.pipeline.PagesQueries

/** The flagship entry point end to end: SparkEntry.entry runs the full
  * extraction pipeline over the sf0.001 test tables. */
class SparkEntrySpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("spark-entry-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  test("entry returns one parsed row per sampled url, all parse_ok") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.entry(spark).select("url", "parse_ok").collect()
    val n = PagesQueries.sampleN(spark, dir)
    assert(rows.length == n)
    assert(rows.map(_.getString(0)).distinct.length == n)
    assert(rows.forall(_.getBoolean(1)), "every entry row must parse")
  }
}
