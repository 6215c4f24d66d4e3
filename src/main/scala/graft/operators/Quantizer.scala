package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The coarse k-means quantizer behind every operator that buckets a
  * corpus by vector: [[Similarity.kmeansAssign]],
  * [[Similarity.kmeansAssignN]], [[Similarity.ivfTopK]] and the
  * persisted [[IvfIndex]].
  *
  * Training is bounded AND deterministic: the `maxTrainRows` sample is
  * the top rows by portable key hash, then id (TakeOrdered, not
  * `limit` — `limit` takes whatever rows arrive first, so centroids
  * would change with partition layout; cf. the same rule in
  * [[Sampling]]), and one seeded KMeans runs on it. A coarse quantizer
  * needs a representative sample, not 100 TB of corpus. Spherical
  * quantizers (the IVF paths) cluster UNIT vectors, so euclidean cell
  * assignment agrees with the cosine metric (|u−v|² = 2−2cos on the
  * sphere). Assignment is ROW-LOCAL: the centroids broadcast and each
  * row takes one pass over them — a narrow map, no shuffle. */
private[graft] object Quantizer {
  type Centroids = Array[Array[Double]]

  /** (id, `__v`: array&lt;double&gt;) — the projection [[train]] and
    * [[centroids]] take. */
  def project(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))

  /** Centroids of a seeded k-means over the key-hash sample of `proj`
    * (see [[project]]); rows with a null vector are never sampled. */
  def train(proj: DataFrame, k: Int, maxIter: Int, maxTrainRows: Int,
      spherical: Boolean): Centroids = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(k > 0, "k must be positive")
    val id = col(proj.columns.head)
    val v = if (spherical) udf(unit _).apply(col("__v")) else col("__v")
    val sample = proj.filter(col("__v").isNotNull)
      .orderBy(Sampling.keyHash(id), id)
      .limit(maxTrainRows)
      .select(array_to_vector(v).as("features"))
    new KMeans().setK(k).setSeed(42L).setMaxIter(maxIter)
      .fit(sample).clusterCenters.map(_.toArray)
  }

  /** Session cache of trained centroids: under the fixed seed they are
    * a pure function of (corpus plan, k, maxIter, maxTrainRows,
    * spherical), and training is most of an operator call's cost, so a
    * re-invocation over the same corpus (bench passes, repeated
    * semDedup ticks, a query set per snapshot) must not retrain. */
  private val cache =
    new SessionCache[(PlanKey, Int, Int, Int, Boolean), Centroids](64)

  /** [[train]], served from the session cache when the same corpus
    * plan was trained with the same parameters. */
  def centroids(proj: DataFrame, k: Int, maxIter: Int, maxTrainRows: Int,
      spherical: Boolean): Centroids =
    cache.getOrBuild(proj.sparkSession,
        (new PlanKey(proj), k, maxIter, maxTrainRows, spherical)) {
      train(proj, k, maxIter, maxTrainRows, spherical)
    }

  private def unit(v: Array[Double]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0) v else v.map(_ / n)
  }

  /** The `n` centroids nearest `raw` by squared euclidean distance,
    * nearest first, ties to the lower index — on the unit sphere when
    * `spherical`. Assignment (n = 1) and probing share this math. */
  def nearest(cents: Centroids, raw: Array[Double], n: Int,
      spherical: Boolean): Array[Int] = {
    val v = if (spherical) unit(raw) else raw
    val d = new Array[Double](cents.length)
    var c = 0
    while (c < cents.length) {
      val ctr = cents(c)
      var s = 0.0; var i = 0
      val m = math.min(ctr.length, v.length)
      while (i < m) { val t = v(i) - ctr(i); s += t * t; i += 1 }
      d(c) = s; c += 1
    }
    if (n == 1) { // the per-row assignment path: no sort, no boxing
      var best = 0; var bd = Double.MaxValue
      c = 0
      while (c < d.length) { if (d(c) < bd) { bd = d(c); best = c }; c += 1 }
      Array(best)
    } else d.indices.sortBy(d).take(n).toArray
  }

  /** Column of the `n` nearest cells of each vector in the
    * array&lt;double&gt; column it is applied to (empty for a null
    * vector), against broadcast centroids. */
  def cells(spark: SparkSession, cents: Centroids, n: Int,
      spherical: Boolean): Column => Column = {
    val bc = spark.sparkContext.broadcast(cents)
    val u = udf { v: Array[Double] =>
      if (v == null) Array.empty[Int] else nearest(bc.value, v, n, spherical)
    }
    u(_)
  }

  /** Column of each vector's nearest cell (null for a null vector). */
  def cell(spark: SparkSession, cents: Centroids,
      spherical: Boolean): Column => Column = {
    val nearestOne = cells(spark, cents, 1, spherical)
    v => try_element_at(nearestOne(v), lit(1))
  }
}
