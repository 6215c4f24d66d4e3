package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

class FunctionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("poly_hash31 is registered via SparkSessionExtensions and matches the Scala impl") {
    val viaSql = spark.sql("SELECT poly_hash31('hello graft') AS h").head().getLong(0)
    assert(viaSql === Dedup.polyHash31("hello graft"))
    assert(spark.sql("SELECT poly_hash31(NULL) AS h").head().isNullAt(0))
  }

  test("array_dot: registered, codegen'd, IEEE-identical to the HOF formulation") {
    // SQL registration + nulls
    assert(spark.sql(
      "SELECT array_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
      .head().getDouble(0) === 32.0)
    assert(spark.sql("SELECT array_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS d")
      .head().isNullAt(0))
    // codegen: no ScalaUDF boundary in a similarity projection
    val emb = T.embeddings(spark, "/root/testdata/sf0.001").limit(50)
    val df = emb.selectExpr("vec_id",
      "array_dot(CAST(embedding AS ARRAY<DOUBLE>), CAST(embedding AS ARRAY<DOUBLE>)) AS sq")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("scalaudf"), s"no UDF boundary expected:\n$plan")
    // bit-identical to the sequential HOF accumulation (oracle parity)
    val hof = emb.select(col("vec_id"),
      graft.operators.Similarity.dot(
        col("embedding").cast("array<double>"),
        col("embedding").cast("array<double>")).as("sq"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val native = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(native === hof)
  }

  test("native expression stays inside whole-stage codegen") {
    val docs = T.documents(spark, "/root/testdata/sf0.001").limit(20)
    val df = docs.selectExpr("doc_id", "poly_hash31(text) AS h")
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark whole-stage-codegen'd operators
    assert(plan.contains("*(1) Project"), s"expected codegen'd project:\n$plan")
    assert(!plan.toLowerCase.contains("scalaudf"), s"no UDF boundary expected:\n$plan")
    val viaExpr = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaScala = docs.collect()
      .map(r => r.getAs[Long]("doc_id") -> Dedup.polyHash31(r.getAs[String]("text"))).toMap
    assert(viaExpr === viaScala)
  }

  test("misra_gries: candidate set contains every true heavy hitter across merges") {
    import spark.implicits._
    // harmonic skew: key k appears 1200/k times, plus 3000 unique noise
    // keys; spread over 8 partitions so serialize/merge paths run
    val skew = (1L to 60L).flatMap(k => Seq.fill((1200 / k).toInt)(k))
    val noise = (1000000L until 1003000L)
    val n = skew.size + noise.size
    val df = spark.createDataset(skew ++ noise).toDF("k").repartition(8)
    val cap = 16
    val rows = df.agg(graft.functions.MisraGries.sketch(col("k"), cap).as("sk"))
      .selectExpr("explode(sk) AS kv").select("kv.key", "kv.lb").collect()
    assert(rows.length <= cap, s"sketch must hold <= $cap counters")
    val cand = rows.map(_.getLong(0)).toSet
    val exact = (skew ++ noise).groupBy(identity).view.mapValues(_.size).toMap
    val trueHitters = exact.filter { case (_, f) => f.toLong * (cap + 1) > n }.keySet
    assert(trueHitters.nonEmpty, "premise: the skew must produce hitters")
    assert(trueHitters.subsetOf(cand),
      s"MG must never drop a true hitter: missing ${trueHitters -- cand}")
    // lower-bound property: lb <= true frequency for every candidate
    rows.foreach { r =>
      assert(r.getLong(1) <= exact.getOrElse(r.getLong(0), 0),
        s"lb must lower-bound the true count for key ${r.getLong(0)}")
    }
  }

  test("misra_gries: exact when distinct keys fit the capacity; SQL-registered over strings") {
    val words = Seq("a", "b", "a", "c", "a", "b", "b", "a")
    import spark.implicits._
    spark.createDataset(words).toDF("tok").repartition(3)
      .createOrReplaceTempView("mg_words")
    val rows = spark.sql(
      "SELECT kv.key AS tok, kv.lb FROM (SELECT explode(misra_gries(tok, 8)) kv FROM mg_words)")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // capacity 8 > 3 distinct keys: no decrements anywhere, counts exact
    assert(rows === Map("a" -> 4L, "b" -> 3L, "c" -> 1L))
    // deterministic key order in the array itself
    val arr = spark.sql("SELECT misra_gries(tok, 8) sk FROM mg_words")
      .selectExpr("transform(sk, x -> x.key) AS ks").head().getSeq[String](0)
    assert(arr == arr.sorted)
  }
}
