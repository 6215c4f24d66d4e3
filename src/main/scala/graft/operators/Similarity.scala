package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Vector similarity search over an embedding column (SURVEY.md §2C).
  *
  * Scoring math is IEEE-identical to the DuckDB oracle
  * (`list_cosine_similarity` in double): sequential left-to-right dot
  * product, `dot/(sqrt(dot_a)·sqrt(dot_b))`.
  *
  * Performance posture (round 2): pairwise scoring uses a compiled Scala
  * UDF over primitive double arrays — Spark's higher-order functions
  * (`zip_with`/`aggregate`) are interpreted per element with boxing,
  * which made the O(n²) scorers ~50× slower. One UDF call per pair with
  * a primitive while-loop keeps the hot path allocation-free. Norms are
  * computed once per row (not per pair) before the join.
  */
object Similarity {

  /** Sequential-order dot product via the NATIVE codegen'd expression
    * (graft.functions.ArrayDot): no ScalaUDF boundary, no ArrayData
    * copies, stays inside whole-stage codegen. Accumulation order
    * matches the HOF formulation and DuckDB's list_dot_product, so
    * results are bit-identical. */
  private[operators] def dotU(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.ArrayDot(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b)))

  /** Dot product of two numeric array columns. r21: routed through the
    * NATIVE codegen'd expression (array casts normalize the element
    * type; Catalyst elides them when already array<double>). The
    * previous HOF form (`aggregate(zip_with(...))`) evaluated
    * INTERPRETED per element with lambda dispatch — measured ~230 µs
    * per 64-dim cosine in q128's pair filter, 216 CPU-seconds for
    * 932k pairs; ArrayDot runs the same left-to-right IEEE
    * accumulation as a fused primitive loop (bit-identical results,
    * DuckDB list_dot_product parity preserved). */
  def dot(a: Column, b: Column): Column =
    dotU(a.cast("array<double>"), b.cast("array<double>"))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Symmetric int8 scalar quantization of an embedding column — the
    * 4× storage/bandwidth compression step of a vector index build
    * (each component mapped to round(x·127/max|x|) ∈ [−127, 127]).
    *
    * Row-local (no shuffle, stays in whole-stage codegen) and
    * engine-portable: rounding is `floor(x·scale + 0.5)` — exact IEEE
    * floor, no round-half-to-even ambiguity across engines — and the
    * scale is an IEEE double division both engines compute
    * bit-identically. An all-zero vector quantizes to zeros with
    * scale 0 (guarded; nothing to preserve).
    *
    * Output columns: the input's, plus `qCol` (array&lt;int&gt;) and
    * `scaleCol` (double; multiply q by 1/scale to dequantize). */
  def quantize(df: DataFrame, vecCol: String,
      qCol: String = "q", scaleCol: String = "scale"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val maxAbs = aggregate(v, lit(0.0),
      (acc, x) => greatest(acc, abs(x)))
    df.withColumn("__maxabs", maxAbs)
      .withColumn(scaleCol,
        when(col("__maxabs") === 0.0, lit(0.0))
          .otherwise(lit(127.0) / col("__maxabs")))
      .withColumn(qCol,
        transform(v, x => floor(x * col(scaleCol) + 0.5).cast("int")))
      .drop("__maxabs")
  }

  /** (id, v: array&lt;double&gt;, nrm) projection: cast once, norm once per
    * row. */
  private[operators] def prepped(df: DataFrame, idCol: String, vecCol: String,
      idAs: String, vecAs: String, normAs: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    df.select(col(idCol).as(idAs), v.as(vecAs))
      .withColumn(normAs, sqrt(dotU(col(vecAs), col(vecAs))))
  }

  /** Exact top-k nearest neighbors (cosine) for each query vector.
    *
    * Brute force: |queries| × |corpus| scored pairs. The query side is
    * broadcast, the corpus side streams, so the plan is a broadcast
    * nested-loop with no shuffle until the per-query top-k window. This
    * is the CORRECTNESS baseline; at 100 TB use `lshTopK` (bucketed
    * candidates) instead.
    *
    * @return (query_id, neighbor_id, sim, rank), rank 1..k per query
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = prepped(queries, idCol, vecCol, "query_id", "qv", "qn")
    val c = prepped(corpus, idCol, vecCol, "neighbor_id", "cv", "cn")
    rankTopK(c.join(broadcast(q), col("query_id") =!= col("neighbor_id")), k)
  }

  /** The rank tail every top-k search shares: score candidate rows
    * carrying (query_id, qv, qn, neighbor_id, cv, cn) by cosine, keep
    * each query's `k` best by (sim desc, neighbor_id), and emit `keys`
    * plus sim (rounded to 6 places) and rank 1..k. */
  private[operators] def rankTopK(pairs: DataFrame, k: Int,
      keys: Seq[String] = Seq("query_id", "neighbor_id")): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    pairs
      .withColumn("sim", dotU(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(keys.map(col) :+ round(col("sim"), 6).as("sim") :+ col("rank"): _*)
  }

  /** HARD-NEGATIVE MINING (the contrastive-training data op): for each
    * query vector, the `k` most-similar corpus items whose LABEL
    * DIFFERS — maximally confusing negatives, what embedding-model
    * training pairs against its positives. Same broadcast-query /
    * streaming-corpus plan as [[bruteForceTopK]] with the label
    * inequality folded into the join (null-safe: a NULL label differs
    * from everything except NULL). At 100 TB run [[lshTopK]] over the
    * corpus first and post-filter labels — this exact form is the
    * correctness baseline and the small-query-set path.
    *
    * @return (query_id, q_label, neighbor_id, n_label, sim, rank) */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val q = queries.select(col(idCol).as("query_id"), v.as("qv"),
        col(labelCol).as("q_label"))
      .withColumn("qn", sqrt(dotU(col("qv"), col("qv"))))
    val c = corpus.select(col(idCol).as("neighbor_id"), v.as("cv"),
        col(labelCol).as("n_label"))
      .withColumn("cn", sqrt(dotU(col("cv"), col("cv"))))
    rankTopK(c.join(broadcast(q),
        col("query_id") =!= col("neighbor_id") &&
          !(col("n_label") <=> col("q_label"))),
      k, Seq("query_id", "q_label", "neighbor_id", "n_label"))
  }

  /** Deterministic pseudo-random hyperplane coefficient for (dim, bit),
    * BIT-IDENTICAL to the expression formulation's
    * `xxhash64(i, b·7919) / Long.MaxValue`: XxHash64 folds its children
    * left-to-right from seed 42 with the int-width hash, so the chain
    * is hashInt(d, 42) → hashInt(b·7919, ·). Reproducible across runs
    * and engines without storing the planes. */
  def hyperplane(d: Int, b: Int): Double = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    XXH64.hashInt(b * 7919, XXH64.hashInt(d, 42L))
      .toDouble / Long.MaxValue.toDouble
  }

  /** Executor-local cache of the hyperplane coefficient matrix
    * `planes(b)(d) = hyperplane(d, b)` — the matrix is a pure function
    * of (bits, dims), so recomputing its 2·bits·dims XXH64 chains per
    * ROW (~2k hash calls for 16×64) was pure waste. One instance is
    * captured per UDF closure; the matrix rebuilds lazily on first use
    * per executor (and on a dims change). Unsynchronized racing rebuilds
    * are benign (same deterministic values). */
  private final class PlaneCache(bits: Int) extends Serializable {
    @transient @volatile private var cached: (Int, Array[Array[Double]]) = null
    def get(dims: Int): Array[Array[Double]] = {
      val c = cached
      if (c != null && c._1 == dims) c._2
      else {
        val m = Array.tabulate(bits, dims)((b, d) => hyperplane(d, b))
        cached = (dims, m)
        m
      }
    }
  }

  /** Compiled random-hyperplane signature: bit b = sign of
    * Σ_d v(d)·hyperplane(d, b). The LSH hot path — primitive loops over
    * the cached coefficient matrix, one UDF call per row (vs the
    * interpreted nested-HOF formulation below, which evaluates per
    * element with boxing). Outputs stay bit-identical to
    * [[hyperplaneSignature]] (same coefficients, same accumulation
    * order). */
  private def hyperplaneSigU(bits: Int) = {
    val cache = new PlaneCache(bits)
    udf { v: Seq[Double] =>
      if (v == null) null.asInstanceOf[java.lang.Long]
      else {
        val n = v.length
        val planes = cache.get(n)
        var sig = 0L
        var b = 0
        while (b < bits) {
          val row = planes(b)
          var s = 0.0
          var d = 0
          while (d < n) { s += v(d) * row(d); d += 1 }
          if (s > 0) sig |= (1L << b)
          b += 1
        }
        java.lang.Long.valueOf(sig)
      }
    }
  }

  /** Query-directed multiprobe band buckets: for each band, the base
    * bucket plus `nprobe − 1` variants with ONE bit flipped — flipping
    * the bits whose hyperplane projection magnitude is smallest first
    * (the bits most likely to differ for a true near neighbor; Lv et
    * al., "Multi-Probe LSH", VLDB 2007). nprobe = 1 degenerates to the
    * plain signature banding, bit-identical to [[hyperplaneSigU]].
    *
    * Query-side only: the corpus keeps one bucket per band, so the
    * index (and its shuffle) doesn't grow — only the probe fan-out
    * does, by ≤ nprobe×. Returns (band, bucket) pairs. */
  private def bandProbesU(bits: Int, bands: Int, nprobe: Int) = {
    val cache = new PlaneCache(bits)
    val rowsPerBand = bits / bands
    udf { v: Seq[Double] =>
      if (v == null) Seq.empty[(Int, Long)]
      else {
        val n = v.length
        val planes = cache.get(n)
        val proj = new Array[Double](bits)
        var sig = 0L
        var b = 0
        while (b < bits) {
          val row = planes(b)
          var s = 0.0
          var d = 0
          while (d < n) { s += v(d) * row(d); d += 1 }
          proj(b) = s
          if (s > 0) sig |= (1L << b)
          b += 1
        }
        val out = new scala.collection.mutable.ArrayBuffer[(Int, Long)](bands * nprobe)
        var band = 0
        while (band < bands) {
          val base = (sig >>> (band * rowsPerBand)) & ((1L << rowsPerBand) - 1)
          if (nprobe <= 1) out += ((band, base))
          else {
            // probe sequence = the nprobe flip-SETS with the smallest
            // summed projection magnitude (∅ scores 0, so the base
            // bucket is always probe #1); a two-weak-bit flip can beat
            // a one-strong-bit flip, which single-bit probing misses
            val masks = Array.range(0, 1 << rowsPerBand)
            val score = masks.map { m =>
              var s = 0.0
              var i = 0
              while (i < rowsPerBand) {
                if ((m & (1 << i)) != 0) {
                  val p = proj(band * rowsPerBand + i)
                  // squared distance-to-hyperplane: the expected-score
                  // model of Lv et al. §4.1 (two weak flips beat one
                  // strong flip more often than under |p| scoring)
                  s += p * p
                }
                i += 1
              }
              s
            }
            val seq = masks.sortBy(m => score(m))
            var p = 0
            while (p < nprobe && p < seq.length) {
              out += ((band, base ^ seq(p).toLong))
              p += 1
            }
          }
          band += 1
        }
        out.toSeq
      }
    }
  }

  /** Random-hyperplane signature (SimHash for vectors): bit i = sign of
    * dot(v, h_i) where h_i is a deterministic pseudo-random hyperplane
    * derived from xxhash64(dim, seed) — the expression-only formulation,
    * kept as the reference twin for the compiled [[hyperplaneSigU]]
    * (interpreted per element; don't use on hot paths).
    */
  def hyperplaneSignature(vecCol: Column, bits: Int): Column =
    aggregate(
      zip_with(
        transform(sequence(lit(0), lit(bits - 1)), b =>
          aggregate(
            zip_with(vecCol, sequence(lit(0), size(vecCol) - 1), (x, i) =>
              x.cast("double") *
                // hash → uniform in [-1, 1): cheap fixed hyperplane
                (xxhash64(i, lit(b * 7919)).cast("double") / lit(Long.MaxValue.toDouble))),
            lit(0.0), (acc, v) => acc + v)),
        sequence(lit(0), lit(bits - 1)),
        (proj, bit) => when(proj > 0, call_function("shiftleft", lit(1L), bit)).otherwise(0L)),
      lit(0L), (acc, x) => acc.bitwiseOR(x))

  /** Approximate top-k via LSH bucketing: candidates share a band of the
    * hyperplane signature; exact cosine re-ranks candidates only.
    *
    * Scale path: the candidate join shuffles on (band, bucket) — the
    * |corpus|×|queries| cross product never materializes. Recall is
    * tuned by (bits, bands) and by `nprobe` (query-directed multiprobe:
    * each extra probe also visits the band bucket with the
    * least-confident signature bit flipped — recall rises without
    * growing the corpus-side index).
    *
    * @return (query_id, neighbor_id, sim, rank) — same shape as
    *         bruteForceTopK, so callers can A/B recall
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, bits: Int = 16, bands: Int = 4,
      maxBucketSize: Int = 8192, nprobe: Int = 1): DataFrame = {
    require(bits % bands == 0)
    require(nprobe >= 1)
    // multiprobe enumerates 2^(bits/bands) flip-masks per band per query
    // row; unbounded this is an Int-shift overflow at 31+ bits and an
    // effective hang in the 20s — bound it well below either cliff
    require(nprobe == 1 || bits / bands <= 12,
      s"multiprobe needs bits/bands <= 12 (got ${bits / bands}); " +
        "use more bands or nprobe = 1")
    val rowsPerBand = bits / bands
    def banded(df: DataFrame, id: String, vec: String, nrm: String): DataFrame = {
      val sig = hyperplaneSigU(bits)(col(vec))
      df.withColumn("__sig", sig)
        .select(col(id), col(vec), col(nrm),
          posexplode(array((0 until bands).map(b =>
            shiftright(col("__sig"), b * rowsPerBand)
              .bitwiseAND((1L << rowsPerBand) - 1)): _*)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    }
    val q = prepped(queries, idCol, vecCol, "query_id", "qv", "qn")
    val c = prepped(corpus, idCol, vecCol, "neighbor_id", "cv", "cn")
    // Slim candidate join: band/bucket join and pair-dedup carry BARE
    // ids — the vectors re-attach to the few surviving pairs afterwards.
    // (Shuffling the duplicate-heavy candidate stream with both
    // embedding arrays attached was ~an order of magnitude more shuffle
    // volume than the ids.)
    val qb = q
      .select(col("query_id"),
        explode(bandProbesU(bits, bands, nprobe)(col("qv"))).as("__bb"))
      .select(col("query_id"), col("__bb._1").as("band"),
        col("__bb._2").as("bucket"))
    // skew guard: a degenerate corpus collapsing into one (band, bucket)
    // would make the candidate join quadratic inside it — cap the corpus
    // side's bucket population (drops are counted loudly, see
    // OpUtil.capBuckets)
    val cb = OpUtil.capBuckets(
      banded(c, "neighbor_id", "cv", "cn")
        .select("neighbor_id", "band", "bucket"),
      Seq("band", "bucket"), maxBucketSize, "graft.lsh.topk.bucket_drops")
    val idPairs = cb.join(qb, Seq("band", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .dropDuplicates("query_id", "neighbor_id")
    rankTopK(idPairs.join(q, "query_id").join(c, "neighbor_id"), k)
  }

  /** Row-count cap for the sizing probes: counts saturate here, so the
    * probe stays cheap on an arbitrarily large corpus. A count AT the cap
    * means "at least this many" — consumers must treat it as a lower
    * bound (adaptiveBlocks saturates). */
  private val ProbeCountCap: Long = 16L << 20

  /** Session cache of (dims, cappedCount) for the sizing probes, keyed
    * on the plan of the (id, vec) projection. The probes are two
    * bounded jobs (first-row dims + capped count); without the cache
    * every exactCosinePairs call re-ran them even when the same corpus
    * was probed moments before (q60's dedup gate + q33 in one session).
    * BOUNDED (LRU, same hygiene rule as `OpUtil.dropCounters`): each
    * entry retains a canonicalized LogicalPlan, so unbounded growth
    * across a long-lived server session's distinct corpora would leak
    * plan trees; LRU eviction keeps a steady working set hot and a cold
    * re-probe costs two bounded jobs. */
  private val statsCache = new SessionCache[PlanKey, (Int, Long)](64)

  private def corpusStats(df: DataFrame, idCol: String,
      vecCol: String): (Int, Long) =
    statsCache.getOrBuild(df.sparkSession,
        new PlanKey(df.select(col(idCol), col(vecCol)))) {
      val dims = df.select(col(vecCol)).filter(col(vecCol).isNotNull)
        .limit(1).collect().headOption
        .map(_.getSeq[Any](0).length).getOrElse(0)
      val n = df.select(col(idCol))
        .limit(math.min(ProbeCountCap, Int.MaxValue.toLong).toInt).count()
      (dims, n)
    }

  /** Exact pairwise near-duplicate pairs: all (a < b) with cosine >=
    * threshold, with a SHUFFLE-ONLY plan — no driver collect, no
    * broadcast. O(n²) *scoring* is inherent to exact all-pairs
    * semantics; what must scale is the memory/communication shape, and
    * this one does: per-task memory is O(n/blocks) rows, shuffle volume
    * O(n·blocks/2) rows.
    *
    * Physical strategy: block-grid self-join. Rows hash into `blocks`
    * id-blocks; each unordered block pair {i ≤ j} is one grid cell. The
    * "low" side replicates each row across its cell row (j = blk..B-1),
    * the "high" side across its cell column (i = 0..blk), so every
    * unordered row pair meets in EXACTLY one cell (same-block cells
    * dedup on id order). The join is a plain equi-join on (i, j) — a
    * hash shuffle, executor-sized tasks, AQE-splittable.
    *
    * The sub-quadratic scale path remains [[cosineNearDupPairs]] (LSH
    * candidates).
    */
  def exactCosinePairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, blocks: Int = 0): DataFrame = {
    val b = if (blocks > 0) blocks
      else {
        // bounded probes (cached per plan) size the grid from corpus
        // volume; a capped count is formula-safe (adaptiveBlocks
        // saturates above it)
        val (dims, n) = corpusStats(df, idCol, vecCol)
        GridSelfJoin.adaptiveBlocks(df.sparkSession, n, 8L * dims + 24L)
      }
    if (!OpUtil.isIntegralId(df.schema(idCol).dataType))
      return exactCosinePairsGridSql(df, idCol, vecCol, threshold, b)
    // Typed cell scoring via GridSelfJoin: each cell scored with
    // primitive while-loops over cell-local blocks — the block-matrix
    // inner loop (no per-pair UDF, no ArrayData copies) without a
    // driver-collected corpus block. Norms precomputed once per row.
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col(idCol).cast("long"),
        col(vecCol).cast("array<double>")).as[(Long, Array[Double])]
      .map { case (id, v) =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        (id, (v, math.sqrt(s)))
      }
    val scored = GridSelfJoin.pairs(rows, b, threshold) { (a, c) =>
      val (va, na) = a; val (vb, nb) = c
      var dot = 0.0; var k = 0
      val n = math.min(va.length, vb.length)
      while (k < n) { dot += va(k) * vb(k); k += 1 }
      dot / (na * nb)
    }.toDF("id_a", "id_b", "sim")
    scored.select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }

  /** Column-expression grid for NON-integral ids: same cell topology,
    * per-pair UDF scoring (slower, but id-type-generic and still
    * shuffle-only). */
  private def exactCosinePairsGridSql(df: DataFrame, idCol: String,
      vecCol: String, threshold: Double, b: Int): DataFrame = {
    val base = prepped(df, idCol, vecCol, "id", "v", "nrm")
      .withColumn("blk", pmod(hash(col("id")), lit(b)))
    val lo = base.select(col("id").as("id_l"), col("v").as("vl"),
      col("nrm").as("nl"), col("blk").as("blk_l"),
      explode(sequence(col("blk"), lit(b - 1))).as("cj"))
      .withColumnRenamed("blk_l", "ci_l")
    val hi = base.select(col("id").as("id_r"), col("v").as("vr"),
      col("nrm").as("nr"), col("blk").as("cj_r"),
      explode(sequence(lit(0), col("blk"))).as("ci"))
    lo.join(hi,
        col("ci_l") === col("ci") && col("cj") === col("cj_r") &&
          // cross-block pairs meet exactly once by construction;
          // same-block cells see both orderings — keep one
          (col("ci") =!= col("cj") || col("id_l") < col("id_r")))
      .withColumn("sim", dotU(col("vl"), col("vr")) / (col("nl") * col("nr")))
      .filter(col("sim") >= threshold)
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"),
        round(col("sim"), 6).as("sim"))
  }

  /** K-means document clustering: assign every embedding to one of `k`
    * clusters — the corpus-organization step (topic binning, per-cluster
    * sampling quotas, cluster-balanced eval splits) next to dedup and
    * ANN in a training-data pipeline. Centroids come from the shared
    * [[Quantizer]]: a bounded, deterministic, seeded training pass,
    * cached per session and corpus plan; assignment is a row-local map
    * against the broadcast centroids. Output: the input's id column
    * plus `cluster` (0..k−1; null for null vectors).
    */
  def kmeansAssign(df: DataFrame, idCol: String, vecCol: String, k: Int,
      maxIter: Int = 10, maxTrainRows: Int = 100000): DataFrame = {
    val proj = Quantizer.project(df, idCol, vecCol)
    val cents = Quantizer.centroids(proj, k, maxIter, maxTrainRows,
      spherical = false)
    proj.select(col(idCol),
      Quantizer.cell(df.sparkSession, cents, spherical = false)(col("__v"))
        .as("cluster"))
  }

  /** SOFT k-means assignment: each row's `probes` nearest centroids
    * (ascending squared distance), for multi-probe blocking — a near
    * -dup pair split across a cell boundary usually shares a
    * second-nearest cell, so candidate recall rises steeply with 2-3
    * probes while cost grows only ~probes² per shared cell
    * ([[graft.operators.Dedup.semDedup]]). Same cached centroids as
    * [[kmeansAssign]]; output: id column + `clusters` array<int> (null
    * vectors → empty). */
  def kmeansAssignN(df: DataFrame, idCol: String, vecCol: String, k: Int,
      probes: Int, maxIter: Int = 10, maxTrainRows: Int = 100000): DataFrame =
    kmeansAssignNVec(df, idCol, vecCol, k, probes, maxIter, maxTrainRows)
      .drop("__v")

  /** [[kmeansAssignN]] that KEEPS the projected double-vector (`__v`)
    * beside the assignment — callers that need vectors downstream
    * (semDedup's within-cell cosine) read them from this one pass
    * instead of re-joining assignments back to the source, which
    * re-derived the whole projection per plan reference. */
  def kmeansAssignNVec(df: DataFrame, idCol: String, vecCol: String, k: Int,
      probes: Int, maxIter: Int = 10, maxTrainRows: Int = 100000): DataFrame = {
    require(probes > 0 && probes <= k, s"probes must be in [1, $k]")
    val proj = Quantizer.project(df, idCol, vecCol)
    val cents = Quantizer.centroids(proj, k, maxIter, maxTrainRows,
      spherical = false)
    proj.select(col(idCol), col("__v"),
      Quantizer.cells(df.sparkSession, cents, probes, spherical = false)(
        col("__v")).as("clusters"))
  }

  /** IVF (inverted-file) approximate top-k: a coarse spherical k-means
    * quantizer ([[Quantizer]]: key-hash sample, seeded, cached per
    * session, corpus plan and parameters) partitions the corpus into
    * `nlist` cells; each query probes its `nprobe` nearest centroids
    * and exact-reranks only those cells. The other classic ANN scale
    * path next to [[lshTopK]] — better recall/cost on clustered
    * corpora, needs the (cheap, seeded) training pass LSH avoids. The
    * persisted twin is [[IvfIndex]]: same quantizer, same probe and
    * rank tail, trained once per corpus snapshot. Rows with a null
    * vector are dropped on both sides.
    *
    * Scale: cells are hash-partitioned by cell id; each query joins only
    * its probed cells, so the scored-pair count is ~corpus×(nprobe/nlist)
    * instead of corpus×queries.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
      maxTrainRows: Int = 100000): DataFrame = {
    val spark = corpus.sparkSession
    val cents = Quantizer.centroids(Quantizer.project(corpus, idCol, vecCol),
      nlist, 5, maxTrainRows, spherical = true)
    val q = prepped(queries, idCol, vecCol, "query_id", "qv", "qn")
      .filter(col("qv").isNotNull)
      .withColumn("cell", explode(
        Quantizer.cells(spark, cents, nprobe, spherical = true)(col("qv"))))
    ivfRank(ivfCells(corpus, idCol, vecCol, cents), q, k)
  }

  /** The IVF cell layout of a corpus: (id, v: array&lt;double&gt;, n =
    * norm, cell) for every row with a vector, each in its nearest
    * spherical cell — [[ivfTopK]]'s corpus side and [[IvfIndex]]'s
    * persisted assignment table. */
  private[operators] def ivfCells(df: DataFrame, idCol: String,
      vecCol: String, cents: Quantizer.Centroids): DataFrame =
    prepped(df, idCol, vecCol, "id", "v", "n")
      .filter(col("v").isNotNull)
      .withColumn("cell",
        Quantizer.cell(df.sparkSession, cents, spherical = true)(col("v")))

  /** The IVF probe tail: `cells` rows (see [[ivfCells]]) meet the
    * queries' probed cells (query_id, qv, qn, cell) and the neighbors
    * found there are ranked by [[rankTopK]]. */
  private[operators] def ivfRank(cells: DataFrame, probed: DataFrame,
      k: Int): DataFrame =
    rankTopK(
      cells.select(col("id").as("neighbor_id"), col("v").as("cv"),
          col("n").as("cn"), col("cell"))
        .join(probed, Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .dropDuplicates("query_id", "neighbor_id"),
      k)

  /** Pairwise near-duplicate detection on embeddings: pairs with cosine
    * >= threshold, via LSH candidates (scale) — used for
    * embedding-cosine near-dup dedup. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 16, bands: Int = 4,
      maxBucketSize: Int = 8192): DataFrame = {
    require(bits % bands == 0)
    val rowsPerBand = bits / bands
    val base = prepped(df, idCol, vecCol, "id", "v", "nrm")
    // Slim candidate join (see lshTopK): bucket join and pair-dedup on
    // bare ids; vectors re-attach to the deduped pairs only. The banded
    // stream is skew-capped (OpUtil.capBuckets) so one degenerate bucket
    // can't make the self-join quadratic in the corpus.
    //
    // Unlike the q32 probe path (static corpus index, query-side
    // fan-out, stream never shuffled — the query side broadcasts), the
    // candidate SELF-join here must hash-shuffle the banded stream by
    // (band, bucket) no matter what — so shuffle the CAPPED stream once,
    // explicitly (capBucketsForSelfJoin). Both self-join sides read that
    // single reused exchange (the r6 regression: with no explicit
    // repartition the join found no reusable exchange and the signature
    // UDF ran once per plan reference), and the guard drops mega-buckets
    // BEFORE the shuffle so a degenerate corpus never lands on one
    // reducer.
    val banded = OpUtil.capBucketsForSelfJoin(
      base
        .withColumn("__sig", hyperplaneSigU(bits)(col("v")))
        .select(col("id"),
          posexplode(array((0 until bands).map(b =>
            shiftright(col("__sig"), b * rowsPerBand)
              .bitwiseAND((1L << rowsPerBand) - 1)): _*)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket"),
      Seq("band", "bucket"), maxBucketSize, "graft.lsh.neardup.bucket_drops")
    val idPairs = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    idPairs
      .join(base.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na")), "id_a")
      .join(base.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), "id_b")
      .withColumn("sim", dotU(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }
}
