package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(ForkFreeLocalFs.sessionConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

class QueriesSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("queries and oracles cover each other exactly") {
    // Two-sided since r10: every graded query MUST carry an oracle — a
    // forgotten oracle silently downgrades the query to the driver's
    // weaker rows-only check, which is how grading gaps are born.
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert((os -- qs).isEmpty, s"orphan oracles: ${os -- qs}")
    assert((qs -- os).isEmpty,
      s"queries with NO oracle (rows-only grading): ${qs -- os}")
  }

  for (q <- SparkEntry.allQueries) {
    test(s"${q.name} runs on sf0.001") {
      val df = q.run(spark, sf)
      // force full execution; queries may legitimately return 0 rows
      // only when the filter excludes everything at tiny SF
      assert(df.count() >= 0)
      assert(df.columns.nonEmpty)
    }
  }
}
