package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-table accessors over the generated per-scale-factor parquet
  * dirs (see TESTDATA.md / FIXTURES.md): one cached DataFrame per table
  * and session.
  */
object T {
  /** Plan cache: each `spark.read.parquet` call pays a footer/schema
    * inference job; table accessors are called hundreds of times across
    * a bench run, so reuse the (immutable) DataFrame per path. Only ONE
    * session's plans are retained — a DataFrame must never leak across
    * sessions, and dead sessions must not be pinned. */
  private val planCache =
    new graft.operators.SessionCache[(String, String), DataFrame](64)

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    planCache.getOrBuild(spark, (sfDir, name))(build(spark, sfDir, name))

  private def build(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      // CURRENT testdata (regenerated 2026-08-13): every timestamp column
      // is parquet timestamp[us] tz=None, which Spark 4 reads as
      // TIMESTAMP_NTZ — no special handling needed; the branch below is
      // belt-and-suspenders for the PREVIOUS generator, which emitted
      // events.ts as TIMESTAMP(NANOS) (rejected by the vectorized reader
      // unless read as raw ns-since-epoch and truncated to µs). If the
      // generator ever flips back, this keeps reads working; on today's
      // data the LongType branch never fires.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$sfDir/$name.parquet")
      if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      else df
    } else spark.read.parquet(s"$sfDir/$name.parquet")
  }

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}

/** One graded query: Spark plan + (optional) DuckDB oracle SQL.
  *
  * Contract notes (driver compare, see builder prompt):
  *  - result column names must match the oracle's aliases exactly;
  *  - rows carry a total ORDER BY on both sides;
  *  - double aggregates are rounded on both sides to dodge
  *    accumulation-order drift.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(
      run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, Some(oracle))
}
