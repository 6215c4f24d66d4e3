package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.PolyHash31

/** Deduplication operators for LLM training-data pipelines (SURVEY.md
  * §2C). All are shuffle-partitioned on their keys; none materialize a
  * corpus on the driver (crossNearDupFilter collects a capped batch), so
  * they scale linearly with cluster size.
  *
  * Performance posture (round 2): the hot paths avoid Spark's
  * higher-order lambda functions (`transform`/`aggregate` are
  * interpreted, not codegen'd) in favor of explode + hash-aggregate
  * pipelines that stay inside whole-stage codegen. MinHash signatures
  * are one explode + one shuffle; candidate generation is banded LSH
  * (shuffle key = band bucket), never a cross join.
  */
object Dedup {

  /** Exact dedup with a deterministic keeper: the row with the smallest
    * `orderCol` per `key` survives. One hash shuffle on `key`; window
    * avoids a second shuffle since partitioning matches.
    *
    * 100 TB posture: hash-partition on the dedup key; no driver state.
    * Prefer this over `dropDuplicates`, whose keeper is
    * partition-order-dependent and thus nondeterministic across runs.
    */
  def exact(df: DataFrame, key: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*).orderBy(col(orderCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** CDC-style dedup: keep the LATEST row per key (order column
    * descending, deterministic tiebreaker) — the upsert-compaction shape
    * every event/feature store needs. Same single hash shuffle + window
    * as [[exact]]. */
  def latest(df: DataFrame, key: Seq[String], orderCol: String,
      tiebreak: String): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy(col(orderCol).desc, col(tiebreak).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Normalized-text fingerprint: lowercase, collapse whitespace, md5.
    * Catches trivially-reformatted duplicates; md5 keeps the oracle
    * (DuckDB `md5`) bit-identical.
    */
  def fingerprint(textCol: Column): Column =
    md5(regexp_replace(lower(trim(textCol)), "\\s+", " "))

  /** Exact near-dup by normalized fingerprint: deterministic keeper per
    * fingerprint group. */
  def byFingerprint(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("__fp")).orderBy(col(idCol))
    df.withColumn("__fp", fingerprint(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__fp")
  }

  /** Incremental exact dedup — the growing-corpus prep shape: dedupe
    * only the NEW batch, first within itself (keep-lowest-id per
    * fingerprint), then against the EXISTING corpus's fingerprints
    * (left-anti). First-seen-wins by ARRIVAL: an already-committed
    * document always beats a colliding new one, regardless of id
    * order — the crawl-ingest semantic, and the only one an
    * incremental pass can honor without rewriting history.
    *
    * Cost is O(|new| + |existing fingerprints|) — never a recompute
    * over the existing corpus. Composes with
    * [[graft.warehouse.GraftTable.changesSince]] so a whole
    * incremental tick reads only newly-committed files (graded as
    * q107 against a full-corpus replay oracle). At 100 TB the
    * existing side is one projected column feeding a fingerprint
    * shuffle; maintaining it as its own warehouse table turns the
    * anti-join probe into an index lookup that never rescans text. */
  def incrementalByFingerprint(newDf: DataFrame, existing: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val newFirst = byFingerprint(newDf, textCol, idCol)
    val existingFps = existing
      .select(fingerprint(col(textCol)).as("__fp")).distinct()
    newFirst.join(existingFps,
      fingerprint(col(textCol)) === existingFps("__fp"), "left_anti")
  }

  private def normTokens(textCol: Column): Column =
    array_distinct(split(regexp_replace(lower(trim(textCol)), "\\s+", " "), " "))

  /** The word token set every Jaccard path scores: [[normTokens]] in
    * `array_sort` order (UTF-8 byte order, i.e. code-point order). */
  private def sortedTokens(textCol: Column): Column = array_sort(normTokens(textCol))

  /** `a.compareTo(b)` in code-point order, the order `array_sort` gives
    * strings. `String.compareTo` compares UTF-16 units, which puts a
    * surrogate pair below U+E000..U+FFFF; shifting those two ranges past
    * each other at the first differing unit restores code-point order. */
  private def compareCodePoints(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a.charAt(i) == b.charAt(i)) i += 1
    if (i == n) a.length - b.length
    else {
      def rank(c: Char): Int =
        if (c < 0xD800) c else if (c < 0xE000) c + 0x2000 else c - 0x800
      rank(a.charAt(i)) - rank(b.charAt(i))
    }
  }

  private val codePointOrder: Ordering[String] = compareCodePoints(_, _)

  /** Merge-count of common elements between two arrays sorted by
    * `array_sort` — compiled, allocation-free. The candidate-verify step
    * scores many millions of pairs; the interpreted `array_intersect`
    * expression is ~50× slower here. */
  private def sortedCommon(a: Array[String], b: Array[String]): Int = {
    var i = 0; var j = 0; var c = 0
    while (i < a.length && j < b.length) {
      val cmp = compareCodePoints(a(i), b(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  private val sortedIntersectCount = udf { (a: Array[String], b: Array[String]) =>
    if (a == null || b == null) 0 else sortedCommon(a, b)
  }

  /** Size bound: J(A,B) ≤ min(|A|,|B|) / max(|A|,|B|), so a pair failing
    * this cannot clear `t`. Evaluated as that double quotient because the
    * verify step compares a double quotient too, and rounding is
    * monotone: `min ≥ t·max` would reject pairs the verify accepts
    * (7 of 25 tokens at t = 0.28: 0.28 × 25 rounds to 7.000000000000001). */
  private def sizeBoundOk(na: Int, nb: Int, t: Double): Boolean =
    math.min(na, nb).toDouble / math.max(na, nb) >= t

  /** AllPairs prefix length `n − ceil(t·n) + 1` for a set of `n` tokens,
    * with `t·n` taken 1e-6 low so that rounding can only lengthen the
    * prefix (0.55 × 100 rounds to 55.00000000000001, which would cut it
    * by one token and lose a pair whose Jaccard is exactly 0.55). */
  private def prefixLength(n: Int, t: Double): Int =
    math.min(n, n - math.ceil(t * n - 1e-6).toInt + 1)

  /** Exact word-level Jaccard similarity join: pairs (a, b) with
    * `|tokens(a) ∩ tokens(b)| / |tokens(a) ∪ tokens(b)| >= threshold`,
    * a < b. Exact (no hashing, no candidates missed) via AllPairs-style
    * **prefix filtering** (Bayardo et al., WWW'07): order each document's
    * tokens rarest-first by global document frequency; if J(A,B) ≥ t,
    * then A and B must share a token within their first
    * `n - ceil(t·n) + 1` tokens under that common ordering. Only prefix
    * tokens enter the self-join, so the frequent-token quadratic blowup
    * of the naive token join never happens; candidates are then verified
    * exactly with a merge count on the full token sets.
    *
    * Scale: shuffles on (rare) prefix tokens — skew-free by
    * construction, since a token's join fan-out is bounded by its
    * document frequency rank. This is the standard sub-quadratic exact
    * set-similarity-join, with the size bound applied before the verify.
    * A row with a null id or null text has no tokens and pairs with
    * nothing, on every strategy. Ids must be unique: a repeated id fails
    * the query, on every strategy.
    */
  def jaccardJoin(df: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame =
    jaccardJoinOnTokens(df.select(col(idCol).as("id"),
      sortedTokens(col(textCol)).as("toks")), threshold)

  /** Cross-corpus near-dup filter: the incremental-crawl dedup step —
    * drop `incoming` docs whose distinct-token Jaccard against ANY
    * `corpus` doc clears `threshold`, keep the rest (this is dedup
    * AGAINST an existing snapshot, not within a batch: a new crawl is
    * cleaned against everything already ingested). Ids must be integral
    * on both sides. A row with a null id or null text, on either side,
    * is never a near-duplicate of anything, so such a batch row is kept.
    *
    * Two physical paths, the same result:
    *  - **probe** (a batch of at most [[bitmaskDocCap]] documents with a
    *    non-null id and text, and `threshold > 0`): the batch's token
    *    sets go to the driver and out again as a broadcast, with an
    *    inverted index over each batch document's AllPairs prefix tokens,
    *    rarest first by document frequency in the batch. ONE Spark job
    *    then scans the corpus: each row looks up its own prefix under the
    *    same order, in which its tokens absent from the batch rank first
    *    and hit nothing, so a word common in the batch enters a row's
    *    prefix only when the row has few rarer tokens, and the row is
    *    scored against the batch documents sharing a rare prefix token,
    *    not against the whole batch. Each candidate passes the size bound
    *    and the exact merge-count verify, and each task returns the batch
    *    documents it hit. The result is a filter of `incoming` on those
    *    ids, so a driver-local batch runs no further job.
    *  - **union** (a batch over the cap, e.g. one as large as the
    *    corpus): the [[jaccardJoin]] engine over the union of both sides,
    *    ids parity-tagged (corpus → 2·id, incoming → 2·id+1; |id| must be
    *    < 2^62, checked per row) and only cross-parity pairs kept. The
    *    engine keys each distinct (tagged id, token set), so rows that
    *    share an id are judged each on its own tokens, as on the probe
    *    path. The union holds more than the cap, so the engine takes its
    *    prefix strategy. It scores corpus × corpus pairs too, which the
    *    probe never does.
    *
    * On both paths each batch row is judged on its own tokens, and an id
    * goes when any of its rows is a near-duplicate.
    *
    * The cap bounds what the driver collects and broadcasts; it is not a
    * measured crossover between the two paths.
    *
    * A corpus far larger than any batch is where a persisted
    * corpus-side signature index (MinHash band keys refreshed from the
    * snapshot log) would beat a scan per batch. */
  def crossNearDupFilter(incoming: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, threshold: Double): DataFrame = {
    require(OpUtil.isIntegralId(incoming.schema(idCol).dataType) &&
      OpUtil.isIntegralId(corpus.schema(idCol).dataType),
      s"$idCol must be integral on BOTH sides")
    val cap = math.min(bitmaskDocCap, Int.MaxValue - 1L).toInt
    lazy val batch = incoming
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol), sortedTokens(col(textCol)))
      .limit(cap + 1).collect()
    if (threshold > 0 && batch.length <= cap)
      probeFilter(incoming, corpus, idCol, textCol, threshold,
        batch.map(_.get(0)), batch.map(_.getSeq[String](1).toArray))
    else unionFilter(incoming, corpus, idCol, textCol, threshold)
  }

  /** [[crossNearDupFilter]]'s probe path over a collected batch:
    * `ids(i)` has the sorted token set `toks(i)`. */
  private def probeFilter(incoming: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      ids: Array[Any], toks: Array[Array[String]]): DataFrame = {
    lastJaccardStrategy.set("probe")
    val spark = incoming.sparkSession
    import spark.implicits._
    // the AllPairs order is rarest first by document frequency in the
    // batch; a corpus token absent from the batch ranks first (df 0)
    val df: Map[String, Int] =
      toks.iterator.flatten.toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
    val index: Map[String, Array[Int]] = toks.indices
      .flatMap(i => rarestFirst(toks(i), df).iterator
        .take(prefixLength(toks(i).length, threshold)).map(_ -> i))
      .groupMap(_._1)(_._2).map { case (t, is) => t -> is.toArray }
    val bc = spark.sparkContext.broadcast((toks, df, index))
    val hit = try corpus.filter(col(idCol).isNotNull)
      .select(sortedTokens(col(textCol))).as[Array[String]]
      .mapPartitions { rows =>
        val (batch, df, idx) = bc.value
        val dirty = new Array[Boolean](batch.length)
        val seenBy = new Array[Int](batch.length) // last row that scored i
        var row = 0
        rows.filter(_ != null).foreach { a =>
          row += 1
          // the row's prefix opens with its tokens absent from the batch,
          // which can hit nothing: only the rest of it is looked up
          val known = a.filter(df.contains)
          val probe = prefixLength(a.length, threshold) - (a.length - known.length)
          if (probe > 0) rarestFirst(known, df).iterator.take(probe).foreach { tok =>
            idx.get(tok).foreach(_.foreach { i =>
              if (!dirty(i) && seenBy(i) != row) {
                seenBy(i) = row
                val b = batch(i)
                if (sizeBoundOk(a.length, b.length, threshold)) {
                  val c = sortedCommon(a, b)
                  dirty(i) = c.toDouble / (a.length + b.length - c) >= threshold
                }
              }
            })
          }
        }
        dirty.indices.iterator.filter(dirty(_))
      }.collect()
    finally bc.destroy()
    if (hit.isEmpty) incoming
    else incoming.filter(col(idCol).isNull ||
      !col(idCol).isin(hit.map(ids(_)).distinct.toSeq: _*))
  }

  /** `toks` rarest first by the document frequency `df`, ties in token
    * order: one total order for both sides of the probe. */
  private def rarestFirst(toks: Array[String], df: Map[String, Int]): Array[String] =
    toks.sortBy(t => (df.getOrElse(t, 0), t))

  /** [[crossNearDupFilter]]'s union path: the [[jaccardJoin]] engine
    * over both sides, each row keyed by its parity-tagged id and its
    * token set. */
  private def unionFilter(incoming: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, threshold: Double): DataFrame = {
    // 2·id(+1) must not wrap: enforce |id| < 2^62 at runtime, per row,
    // inside the tagging expression itself (no extra aggregation job).
    // Silent non-ANSI overflow here would corrupt the parity mapping
    // and drop/keep the WRONG incoming docs.
    val lim = 1L << 62
    def keyed(side: DataFrame, odd: Int): DataFrame = {
      val id = col(idCol).cast("long")
      val tag = when(id >= lim || id <= -lim, raise_error(concat(
        lit(s"crossNearDupFilter: |$idCol| must be < 2^62 for parity tagging, got "),
        id.cast("string")))).otherwise(id * 2 + odd)
      val toks = sortedTokens(col(textCol))
      // a null id gives a null key, which the engine drops
      side.select(when(id.isNotNull, struct(tag.as("tag"), toks.as("toks"))).as("id"),
        toks.as("toks"))
    }
    // identical rows are one key: the engine refuses a repeated key
    val pairs = jaccardJoinOnTokens(
      keyed(incoming, 1).unionByName(keyed(corpus, 0)).distinct(), threshold)
    val dirty = pairs
      .filter(pmod(col("id_a.tag"), lit(2)) =!= pmod(col("id_b.tag"), lit(2)))
      .select(when(pmod(col("id_a.tag"), lit(2)) === 1, col("id_a.tag"))
        .otherwise(col("id_b.tag")).as("__odd"))
      .select(expr("(__odd - 1) div 2").as("__na"))
      .distinct()
    incoming.join(dirty, incoming(idCol) === dirty("__na"), "left_anti")
  }

  /** Character n-gram Jaccard similarity join: same algorithm over the
    * distinct character n-grams of the whitespace-normalized lowercase
    * text — catches near-duplicates that word-level tokens miss
    * (insertions inside words, punctuation edits). Ids must be unique,
    * as for [[jaccardJoin]]. */
  def charNgramJaccard(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame =
    jaccardJoinOnTokens(df.select(col(idCol).as("id"),
      charNgrams(n)(col(textCol)).as("toks")), threshold)

  /** Compiled distinct character n-grams of the normalized text, in
    * code-point order. A character is a code point, as in the oracle's
    * `length`/`substr`, so no n-gram splits a surrogate pair (empty for
    * texts shorter than n code points, mirroring the oracle's range()). */
  def charNgrams(n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { text: String =>
      if (text == null) Array.empty[String]
      else {
        val cps = text.trim.toLowerCase.replaceAll("\\s+", " ").codePoints().toArray
        val seen = new java.util.TreeSet[String](codePointOrder)
        var i = 0
        while (i + n <= cps.length) { seen.add(new String(cps, i, n)); i += 1 }
        seen.toArray(new Array[String](seen.size))
      }
    }

  /** Doc-count cap for the bitmask Jaccard paths. Their pair phase is
    * O(n²) (a broadcast nested loop / block scan) — the right trade for
    * the small corpora that actually produce tiny vocabularies, but
    * wrong for, say, a billion-row enum-ish corpus whose vocabulary
    * happens to be small: strategy choice must key on BOTH vocabulary
    * and doc count. Above the cap the sub-quadratic prefix-filter plan
    * applies regardless of vocabulary size. It also caps the batch that
    * [[crossNearDupFilter]] broadcasts for its probe path. Test-tunable. */
  private[graft] var bitmaskDocCap: Long = 65536L

  /** Which physical strategy the last jaccardJoinOnTokens or
    * crossNearDupFilter call picked ("bitmask64" | "bitmask-wide" |
    * "prefix" | "probe") — test/diagnostic probe. */
  private[graft] val lastJaccardStrategy =
    new java.util.concurrent.atomic.AtomicReference[String]("")

  /** Filter predicate: true, or a query failure where `repeated` says
    * another row shares `id` (a Jaccard pair names documents by id). */
  private def refuseRepeatedId(repeated: Column, id: Column): Column =
    when(repeated, raise_error(concat(
      lit("Jaccard join: ids must be unique, id repeated: "), id.cast("string"))))
      .otherwise(lit(true))

  /** Shared engine for the Jaccard joins: input is (id, toks) with toks
    * sorted distinct. Adaptive bitmask/prefix-filter strategy as
    * documented below. A row with a null id or null tokens can pair with
    * nothing, so it is dropped up front, the one rule for every path.
    * A repeated id fails the query inside a plan each strategy runs. */
  private def jaccardJoinOnTokens(all: DataFrame, threshold: Double): DataFrame = {
    val toks = all.filter(col("id").isNotNull && col("toks").isNotNull)
    // explode_outer: a row without tokens keeps one (null-token) row, so
    // the prefix window below still counts it
    val tokDoc = toks.select(col("id"), size(col("toks")).as("n"),
      explode_outer(col("toks")).as("tok"))
    val dfreq = tokDoc.filter(col("tok").isNotNull)
      .groupBy("tok").agg(count(lit(1)).as("df"))
    // Adaptive physical strategy (decided with one tiny agg job, AQE
    // style). Prefix filtering only pays when token frequencies are
    // skewed; a SMALL-VOCABULARY corpus (tiny dictionaries, char
    // n-grams, enum-ish fields) has ubiquitous tokens that defeat it,
    // but its token SETS pack into bitmasks — then the similarity join
    // is pure popcount arithmetic:
    //   vocab ≤ 64     → one long per doc, scored inside codegen;
    //   vocab ≤ 65 536 → Array[Long] masks scored block-broadcast
    //                    (mask block must broadcast: ≤ vocab/8 B per doc);
    //   else           → AllPairs prefix filtering (frequency-skewed
    //                    vocabularies, the common real-corpus case).
    // BOTH bitmask paths additionally require the doc count under
    // [[bitmaskDocCap]] — vocabulary size alone must never route a huge
    // corpus onto an O(n²) pair phase.
    // ONE corpus aggregation both decides the strategy and supplies the
    // bitmask dictionaries: up to 65537 distinct tokens land on the
    // driver (~1 MB worst case — a bounded dimension collect).
    val vocabToks: Array[String] = dfreq.select(col("tok")).limit(65537)
      .collect().map(_.getString(0))
    val vocabN = vocabToks.length.toLong
    // the wide path additionally bounds total mask volume (docs ×
    // ceil(vocab/64) × 8 B ≤ 512 MB — 4M docs at a 1k-token vocab,
    // ~64k docs at the 65536-token worst case): it shuffles each mask
    // to ~blocks grid cells, so base volume must stay modest.
    // max(1, …) keeps the division defined for an empty vocabulary.
    val words = math.max(1L, (vocabN + 63) / 64)
    val maxBlockDocs = (512L << 20) / (words * 8L)
    // ONE doc-count probe, bounded at bitmaskDocCap + 1 (both bitmask
    // branches require nDocs ≤ cap, and a count that comes back ≤ cap is
    // exact, so it also decides the maxBlockDocs comparison); forced
    // only when a bitmask path is still in play. It counts ids, refusing
    // repeats: a count ≤ cap has checked every id, so no bitmask
    // strategy runs on a repeated id.
    lazy val nDocs = toks.groupBy("id").agg(count(lit(1)).as("rows"))
      .filter(refuseRepeatedId(col("rows") > 1, col("id")))
      .limit(math.min(bitmaskDocCap + 1, Int.MaxValue.toLong).toInt).count()
    if (vocabN <= 64 && nDocs <= bitmaskDocCap) {
      lastJaccardStrategy.set("bitmask64")
      return jaccardJoinBitmask(toks, vocabToks.sorted, threshold)
    }
    if (vocabN > 64 && vocabN <= 65536 &&
        OpUtil.isIntegralId(toks.schema("id").dataType) &&
        nDocs <= bitmaskDocCap && nDocs <= maxBlockDocs) {
      lastJaccardStrategy.set("bitmask-wide")
      return jaccardJoinBitmaskWide(toks, threshold, vocabToks.sorted, nDocs)
    }
    lastJaccardStrategy.set("prefix")
    val ranked = Window.partitionBy("id").orderBy(col("df"), col("tok"))
    val prefix = tokDoc.join(dfreq, Seq("tok"), "left")
      .withColumn("rnk", row_number().over(ranked))
      .withColumn("rows", count(lit(1)).over(
        ranked.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      // a row has one row per token here, or one null-token row if it has
      // no tokens: more rows under its id means another row shares it
      .filter(refuseRepeatedId(col("rows") > greatest(col("n"), lit(1)), col("id")) &&
        col("tok").isNotNull &&
        // prefixLength as a native expression, same 1e-6 margin
        col("rnk") <= col("n") - ceil(col("n") * threshold - 1e-6) + 1)
      .select("id", "tok")
    val candPairs = prefix.as("a").join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    candPairs
      .join(toks.select(col("id").as("id_a"), col("toks").as("toks_a")), "id_a")
      .join(toks.select(col("id").as("id_b"), col("toks").as("toks_b")), "id_b")
      // size bound before the merge-intersect UDF: a length-mismatched
      // candidate can't clear the threshold — cheap filter below the
      // project that runs the per-pair loop (sizeBoundOk, natively)
      .filter(least(size(col("toks_a")), size(col("toks_b"))).cast("double") /
        greatest(size(col("toks_a")), size(col("toks_b"))) >= threshold)
      .withColumn("common", sortedIntersectCount(col("toks_a"), col("toks_b")))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("toks_a")) + size(col("toks_b")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Small-vocabulary Jaccard join: dictionary-encode the ≤64-token
    * vocabulary (supplied pre-collected by the strategy gate — no extra
    * corpus scan) to bit positions, OR each document's tokens into one
    * long, and score pairs with `bit_count(a&b) / bit_count(a|b)` — all
    * codegen'd integer ops, no arrays, no UDF. The pair join broadcasts
    * the (id, mask) projection (16 bytes/row), so the only wide work is
    * the O(n²) predicate evaluation at ~1ns/pair. */
  private def jaccardJoinBitmask(toks: DataFrame, vocabSorted: Array[String],
      threshold: Double): DataFrame = {
    val spark = toks.sparkSession
    import spark.implicits._
    val vocab = vocabSorted.zipWithIndex.toSeq.toDF("tok", "bit")
    val masks = toks.select(col("id"), explode(col("toks")).as("tok"))
      .join(broadcast(vocab), "tok")
      .groupBy("id")
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").as("mask"))
      .withColumn("nbits", bit_count(col("mask")))
    val a = masks.select(col("id").as("id_a"), col("mask").as("ma"), col("nbits").as("na"))
    val b = masks.select(col("id").as("id_b"), col("mask").as("mb"), col("nbits").as("nb"))
    val common = bit_count(col("ma").bitwiseAND(col("mb")))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("common", common)
      .withColumn("jaccard", col("common").cast("double") /
        (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Mid-size-vocabulary Jaccard join, SHUFFLE-ONLY: dictionary-encode
    * tokens to bit positions (a distributed broadcast-join against the
    * ≤65536-row vocabulary — bounded by the strategy gate, so the
    * single-partition ranking window is fine), pack each document's
    * token set into an `Array[Long]` mask, and score every unordered
    * pair with primitive popcount loops inside [[GridSelfJoin]] cells.
    * No driver collect, no corpus broadcast; per-task memory is one
    * cell's masks. Exact (scores every pair) — doc count is capped by
    * the caller's [[bitmaskDocCap]]/memory gates, past which the
    * sub-quadratic prefix-filter path applies. */
  private def jaccardJoinBitmaskWide(toks: DataFrame, threshold: Double,
      vocabSorted: Array[String], nDocs: Long): DataFrame = {
    val spark = toks.sparkSession
    import spark.implicits._
    val words = ((vocabSorted.length + 63) >>> 6).toInt
    // The DICTIONARY arrives pre-collected from the strategy gate —
    // bounded at ≤65536 entries regardless of corpus size (a
    // dimension-table broadcast, not a corpus materialization), and the
    // same array that sized the gate (one source of truth, no second
    // corpus scan). Masks are built row-locally in one compiled pass:
    // no explode, no join, no aggregation.
    val vocab: Map[String, Int] = vocabSorted.zipWithIndex.toMap
    val bcVocab = spark.sparkContext.broadcast(vocab)
    val rows = toks.select(col("id").cast("long"), col("toks"))
      .as[(Long, Seq[String])]
      .map { case (id, ts) =>
        val voc = bcVocab.value
        val m = new Array[Long](words)
        ts.foreach { t =>
          val bit = voc(t); m(bit >>> 6) |= (1L << (bit & 63))
        }
        (id, (m, ts.size))
      }
    // adaptive: the strategy gate already paid for the doc count, so the
    // grid sizes itself from real corpus volume (mask payload = words·8 B
    // plus tuple overhead) instead of parallelism alone
    val b = GridSelfJoin.adaptiveBlocks(spark, nDocs, words * 8L + 32L)
    val out = GridSelfJoin.pairs(rows, b, threshold) { (a, c) =>
      val (ma, na) = a; val (mb, nb) = c
      // size bound: when even min/max can't reach the threshold, skip
      // the popcount loop entirely (the common case on mixed-length
      // corpora at high thresholds)
      if (!sizeBoundOk(na, nb, threshold)) -1.0
      else {
        var common = 0; var w = 0
        while (w < words) {
          common += java.lang.Long.bitCount(ma(w) & mb(w)); w += 1
        }
        common.toDouble / (na + nb - common)
      }
    }.toDF("id_a", "id_b", "jaccard")
    out.select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Compiled word n-gram shingles WITH duplicates — the multiset the
    * repetition profile needs (the distinct variant below erases the
    * very counts it measures). Same tokenizer and window rule as
    * [[wordShinglesCompiled]]. */
  def wordShinglesAllCompiled(n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { text: String =>
      if (text == null) Array.empty[String]
      else {
        val toks = text.trim.toLowerCase.split("\\s+")
        val last = math.max(toks.length - n, 0)
        val out = new Array[String](last + 1)
        var i = 0
        while (i <= last) {
          val end = math.min(i + n, toks.length)
          val sb = new java.lang.StringBuilder()
          var j = i
          while (j < end) {
            if (j > i) sb.append(' ')
            sb.append(toks(j))
            j += 1
          }
          out(i) = sb.toString
          i += 1
        }
        out
      }
    }

  /** Compiled distinct word n-gram shingles: contiguous n-word windows
    * of the whitespace-normalized lowercase text, first-seen order (a
    * text shorter than n words is one window). */
  def wordShinglesCompiled(n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { text: String =>
      if (text == null) Array.empty[String]
      else {
        val toks = text.trim.toLowerCase.split("\\s+")
        val last = math.max(toks.length - n, 0)
        val seen = new java.util.LinkedHashSet[String]()
        var i = 0
        while (i <= last) {
          val end = math.min(i + n, toks.length)
          val sb = new java.lang.StringBuilder()
          var j = i
          while (j < end) {
            if (j > i) sb.append(' ')
            sb.append(toks(j))
            j += 1
          }
          seen.add(sb.toString)
          i += 1
        }
        seen.toArray(new Array[String](seen.size))
      }
    }

  // ---- the MinHash/SimHash hash family -------------------------------
  //
  // One family, built on the 31-bit polynomial rolling hash
  //   h(s) = fold(c in s)( (h·131 + code(c)) mod (2^31−1) ), h₀ = 7
  // (graft.functions.PolyHash31, a codegen'd expression) that DuckDB
  // computes verbatim with list_reduce, so the whole MinHash/SimHash
  // pipeline is hash-verifiable end-to-end by the differential oracle.

  /** Mersenne prime 2^31-1: the permutation-hash domain (aliases the
    * authoritative [[graft.functions.PolyHash31.Mod]]). Products of two
    * 31-bit values stay < 2^62, so the arithmetic below can never
    * overflow a Long (relevant under ANSI mode, default in Spark 4). */
  private val P: Long = PolyHash31.Mod

  /** Session cache of PERSISTED signature relations, keyed on the plan
    * of the (id, text) projection plus the signature parameters:
    * signatures are the corpus INDEX — at scale you compute them once
    * per (table snapshot, params) and share them across queries — and
    * within one candidates query the banded census, the band-shuffle
    * feed, and the pair re-attach are three separate plan references
    * that would otherwise EACH re-run the shingle explode + K affine
    * permutations + groupBy min (the expensive half of the pipeline;
    * measured ~3× redundant work at sf0.1). MEMORY_AND_DISK: a
    * signature row is id + K longs, ~1/50th of its document, so the
    * cache spills long before the corpus would. Bounded LRU (same
    * hygiene rule as the other session caches); eviction, a lost build
    * race and a session change UNPERSIST the value — the cache owns its
    * blocks, nothing leaks past the cap. */
  private val sigCache = new SessionCache[(PlanKey, Int, Int), DataFrame](32,
    sig => { try { sig.unpersist(false); () } catch { case _: Throwable => () } })

  /** Plain-Scala 31-bit polynomial rolling hash: the reference the
    * native expression and the DuckDB `list_reduce` formulation are
    * tested against (ASCII/UTF-16 agree on the corpus). */
  private[graft] def polyHash31(s: String): Long = {
    if (s == null) return 0L
    var a = 7L
    var i = 0
    while (i < s.length) { a = (a * 131 + s.charAt(i)) % P; i += 1 }
    a
  }

  /** Engine-portable affine family: a_i,b_i from fixed LCG constants so
    * the oracle can regenerate them from `i` alone. */
  private def polyParams(numHashes: Int): Seq[(Long, Long)] =
    (0 until numHashes).map { i =>
      val a = (1103515245L * i + 12345L) % P
      val b = (1013904223L * i + 7L) % P
      (if (a == 0) 1L else a, b)
    }

  /** MinHash signatures, computed codegen-friendly: explode(shingles) →
    * one hash per shingle → `numHashes` cheap affine permutations
    * `(a_i·h + b_i) mod P` → one hash-aggregate taking the per-document
    * min of each permutation. One shuffle (on doc id), map-side partial
    * min, no interpreted lambdas in the per-shingle hot loop.
    *
    * @return (id, sig: array&lt;bigint&gt; of length numHashes)
    */
  def minhashSignaturesPoly(df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 3, numHashes: Int = 64): DataFrame =
    sigCache.getOrBuild(df.sparkSession,
        (new PlanKey(df.select(col(idCol), col(textCol))), shingleWords,
          numHashes)) {
      minhashSignaturesPolyUncached(df, idCol, textCol, shingleWords, numHashes)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private[graft] def minhashSignaturesPolyUncached(df: DataFrame, idCol: String,
      textCol: String, shingleWords: Int, numHashes: Int): DataFrame = {
    val exploded = df
      .select(col(idCol).as("id"),
        explode(wordShinglesCompiled(shingleWords)(col(textCol))).as("sh"))
      .withColumn("h0", PolyHash31.column(col("sh")))
    val mins = polyParams(numHashes).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h0") * a + b, lit(P))).as(s"m$i")
    }
    exploded.groupBy(col("id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** Banded LSH near-dup candidate pairs: split the signature into
    * `bands` bands of `rowsPerBand` and join documents sharing any band.
    * Sub-quadratic: the shuffle key is (band index, band slice); the
    * |docs|² cross product never materializes. The band join keys on
    * the **raw signature slice** (array equality), not a hash of it —
    * bit-identical to the oracle's slice comparison, no collision-borne
    * false candidates.
    *
    * Returns candidate pairs (id_a < id_b) with their estimated Jaccard
    * from the full signatures (positional agreement rate), filtered at
    * `threshold`. */
  def minhashCandidatesPoly(df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, maxBucketSize: Int = 8192): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val sig = minhashSignaturesPoly(df, idCol, textCol, shingleWords, numHashes)
    val bandSlices = array((0 until bands).map(b =>
      slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)): _*)
    // Slim shuffle: band join and dedup on bare ids (bucket = raw slice
    // for oracle-exact equality), then re-attach signatures to the few
    // surviving pairs. Skew-capped: a degenerate corpus collapsing into
    // one band bucket bounds the self-join at cap² pairs instead of
    // |docs|², and a triggered cap trades oracle-exactness for bounded
    // work and is LOUD (accumulator), never silent. Capped then
    // shuffled once explicitly (OpUtil.capBucketsForSelfJoin): both
    // self-join sides reuse the exchange instead of re-deriving the
    // signature pipeline (shingle explode + K permutations + groupBy).
    val banded = OpUtil.capBucketsForSelfJoin(
      sig.select(col("id"), posexplode(bandSlices))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket"),
      Seq("band", "bucket"), maxBucketSize, "graft.minhash.poly.bucket_drops")
    val idPairs = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val pairs = idPairs
      .join(sig.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sig.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
    val agree = (0 until numHashes).map(i =>
      when(col("sig_a")(i) === col("sig_b")(i), 1).otherwise(0))
      .reduce(_ + _)
    pairs
      .withColumn("est_jaccard", agree.cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** Full MinHash near-dup dedup: candidates → components → keep the
    * canonical doc per component. */
  def minhashDedupPoly(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5): DataFrame = {
    val cands = minhashCandidatesPoly(df, idCol, textCol, threshold = threshold)
    keepCanonical(df, idCol, cands)
  }

  /** 31-bit SimHash over word tokens (bits 0..30 of the token hash),
    * codegen-friendly: explode tokens → one hash per token → 31 static
    * per-bit vote expressions summed in a single hash-aggregate, then
    * assemble the sign bits. One shuffle on doc id; no interpreted
    * lambdas. */
  def simhashPoly(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bits = 31
    val toks = df.select(col(idCol).as("id"),
      explode(split(regexp_replace(lower(trim(col(textCol))), "\\s+", " "), " ")).as("tok"))
      .withColumn("h", PolyHash31.column(col("tok")))
    val votes = (0 until bits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$b"))
    val assembled = (0 until bits).map(b =>
      when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
    toks.groupBy("id").agg(votes.head, votes.tail: _*)
      .select(col("id"), assembled.reduce(_ + _).as("simhash"))
  }

  /** Embedding-cosine near-duplicate FULL dedup: keep one canonical row
    * (min id) per cosine-connected cluster — the embedding-space
    * analogue of [[minhashDedupPoly]]. Pairs come from the exact
    * shuffle-only grid ([[Similarity.exactCosinePairs]], no driver
    * collect/broadcast) by default, so the whole result is
    * oracle-checkable; pass `exact = false` to source candidates from
    * [[Similarity.cosineNearDupPairs]] (LSH-bucketed, sub-quadratic) —
    * the 100 TB path with identical downstream shape. */
  def cosineDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, exact: Boolean = true): DataFrame = {
    val pairs =
      if (exact) Similarity.exactCosinePairs(df, idCol, vecCol, threshold)
      else Similarity.cosineNearDupPairs(df, idCol, vecCol, threshold)
    keepCanonical(df, idCol, pairs)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup
    * with K-MEANS BLOCKING — the third candidate generator next to the
    * exact grid ([[cosineDedup]] `exact = true`) and hyperplane LSH
    * (`exact = false`). Embeddings are binned into `k` coarse clusters
    * (bounded, seeded training; row-local broadcast-centroid
    * assignment — [[Similarity.kmeansAssign]]), candidate pairs are
    * generated ONLY within a cluster by a plain equi-join on the
    * cluster id, and the same cosine-threshold closure keeps one
    * canonical (min-id) row per component.
    *
    * Scale shape: the pair space drops from n²/2 to Σ_c n_c²/2 —
    * ~n²/(2k) under balanced cells — via ONE shuffle on the cluster
    * key; `k` is the dial (the paper runs 50k clusters over 5B
    * embeddings). A skewed cell degrades toward its own quadratic but
    * never to the global one. Candidate edges are a SUBSET of the
    * exact edges, so components only get finer: an exact-canonical row
    * is always sem-canonical (the q128 containment witness), and the
    * clustering only affects RECALL (cross-cluster dups survive),
    * never correctness of kept rows. */
  /** Auto-k for [[semDedup]]: one cell per `targetCellRows` rows — the
    * paper's posture scaled (Abbas et al. run 50k clusters over 5B
    * embeddings ≈ 10^5 rows/cell; our default keeps cells small enough
    * that a cell's pair quadratic stays cheap at any corpus size —
    * pair work ≈ p²·n·targetCellRows/(2) grows LINEARLY in n once k
    * tracks it, which a caller-fixed constant k cannot give).
    *
    * FLOOR 8, not 2: with soft p-probe assignment each row lands in p
    * cells, so cell size ≈ p·n/k and total pair work ≈ p²·n²/(2k) —
    * blocking only BEATS the unblocked quadratic when k > p². k = 2
    * with the default 2 probes puts every row in BOTH cells (2× the
    * full quadratic, measured 3× wall time on the graded corpus); the
    * floor keeps the small-corpus degenerate strictly cheaper than no
    * blocking. */
  def semDedupAutoK(n: Long, targetCellRows: Int = 1024): Int =
    math.max(8, ((n + targetCellRows - 1) / targetCellRows).toInt)

  /** Default worst-cell row cap for [[semDedup]] (see `cellCap`). */
  def semDedupCellCap(targetCellRows: Int = 1024): Int =
    math.max(64, targetCellRows * 8)

  /** @param k       cluster count; <= 0 derives it from the corpus size
    *                ([[semDedupAutoK]]) so pair work scales linearly
    * @param cellCap worst-cell ROW cap (<= 0 → [[semDedupCellCap]]):
    *                rows in any (soft-assigned) cell beyond the cap are
    *                dropped from candidate generation BEFORE the
    *                self-join — a degenerate corpus collapsing into one
    *                cell bounds at cap²/2 pairs instead of n²/2, the
    *                same counted-LOUD guard as every LSH path (metric
    *                `graft.semdedup.cellcap.drops`; recall cost only on
    *                the overflowing cell's members). */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, k: Int = 0, probes: Int = 2,
      targetCellRows: Int = 1024, cellCap: Int = 0): DataFrame = {
    val kEff = if (k > 0) k else semDedupAutoK(df.count(), targetCellRows)
    val capEff = if (cellCap > 0) cellCap else semDedupCellCap(targetCellRows)
    // a small corpus can auto-size below the probe count (k=1 is the
    // degenerate one-cell case — all pairs, which at that size is fine)
    val probesEff = math.min(probes, kEff)
    // soft assignment: a row lives in its `probes` nearest cells, so a
    // dup pair split across one boundary still meets in the shared
    // second-nearest cell (multi-probe, same trick as the IVF reader).
    // r21 SLIM-SHUFFLE reshape (guide §2.3 / §8 — shuffle keys, not
    // payloads): the candidate self-join and pair-dedup run on BARE
    // (id, cluster) rows; vectors re-attach to only the DEDUPED pairs
    // via two joins against the (id, vec) projection. The previous
    // shape carried BOTH double vectors through the join and the
    // dedup exchange — ~0.5 KB × |candidate pairs| (406 MB at sf0.1,
    // 31.7 s in one AQE-coalesced task) versus 16 B × pairs now. The
    // vec re-attach re-derives the source's (id, vec) projection once
    // more; pair volume dwarfs corpus volume at every scale where
    // this operator matters, so that is the right trade. Candidate
    // SET is unchanged: same cached centroids (kmeansAssignN is
    // kmeansAssignNVec minus the vector column), same whole-cell
    // capping, same (id_a < id_b) pairing, same cast-to-double cosine.
    val assigned = Similarity
      .kmeansAssignN(df, idCol, vecCol, kEff, probesEff)
      .select(col(idCol).as("__sd_i"), explode(col("clusters")).as("cluster"))
    val base = OpUtil.capBucketsForSelfJoin(assigned, Seq("cluster"), capEff,
      "graft.semdedup.cellcap.drops")
    val idPairs = base
      .select(col("__sd_i").as("id_a"), col("cluster"))
      .join(base.select(col("__sd_i").as("id_b"), col("cluster")),
        Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      // a pair sharing several probed cells arrives once per shared
      // cell — dedupe BEFORE the cosine evaluation, not after
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    val vecs = df.select(col(idCol).as("__sd_vid"),
      col(vecCol).cast("array<double>").as("__sd_v"))
    val pairs = idPairs
      .join(vecs.select(col("__sd_vid").as("id_a"),
        col("__sd_v").as("__va")), Seq("id_a"))
      .join(vecs.select(col("__sd_vid").as("id_b"),
        col("__sd_v").as("__vb")), Seq("id_b"))
      .filter(Similarity.cosine(col("__va"), col("__vb")) >= threshold)
      .select("id_a", "id_b")
    keepCanonical(df, idCol, pairs)
  }

  /** Keep only the rows that are their component's canonical (min-id)
    * member. Internal columns carry reserved names so an id column
    * literally named "id" can't collide with the component frame. */
  private def keepCanonical(df: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val comp = components(df, idCol, pairs)
      .withColumnRenamed("id", "__cc_id")
      .withColumnRenamed("canonical_id", "__cc_canonical")
    df.join(comp, df(idCol) === comp("__cc_id"))
      .filter(col("__cc_id") === col("__cc_canonical"))
      .drop("__cc_id", "__cc_canonical")
  }

  /** Connected components over candidate pairs by iterative min-label
    * propagation, then keep the component minimum as canonical.
    * Converges in O(graph diameter) rounds for realistic dup clusters
    * (which are tiny); `maxIter` bounds pathological chains and
    * non-convergence FAILS LOUDLY rather than silently splitting
    * clusters.
    *
    * Physical shape (integral ids — the hot path): the edge list drops
    * to an RDD hash-partitioned ONCE by destination node; per iteration
    * the edge⋈label join and the label merge are then NARROW (partitioner
    * reuse — a DataFrame loop re-shuffles the edges every round, which
    * dominated the wall clock), so each round costs exactly one
    * min-reduce shuffle of the neighbor-label stream. Convergence is
    * detected by an accumulator inside the same materializing action —
    * no separate per-round convergence job. This is the one operator
    * family where RDD partitioner control genuinely beats the DataFrame
    * API (iterative graph propagation; same reason GraphX sits on RDDs).
    *
    * Returns (id, canonical_id) for every id in `df`.
    */
  def components(df: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 200): DataFrame = {
    val idT = pairs.schema("id_a").dataType
    val labels =
      if (OpUtil.isIntegralId(idT)) componentLabelsRdd(pairs, maxIter)
      else componentLabelsDf(pairs, maxIter)
    val all = df.select(col(idCol).as("id")).distinct()
    all.join(labels.withColumnRenamed("label", "canonical_id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("canonical_id"), col("id")).as("canonical_id"))
  }

  /** Edge-count bound for the driver union-find fast path: below this
    * many (undirected) candidate pairs the whole component labeling runs
    * on the driver in one collect (≤ ~16 MB of edge tuples, microseconds
    * of union-find) instead of O(diameter) distributed rounds that are
    * pure job-scheduling overhead on a small graph. Dup graphs are
    * usually tiny next to their corpus even at 100 TB — but when they
    * are not, the count gate falls through to the partitioner-pinned
    * RDD propagation loop, which is the scale path. Var (not val) so
    * specs can force the distributed path on small inputs. */
  private[graft] var smallGraphEdgeCap: Long = 1L << 19

  /** Driver union-find over a SMALL edge list (≤ [[smallGraphEdgeCap]]):
    * union-by-min-root (so a component's final root is its min id) with
    * path compression. Returns (id, min id in component) per node. */
  private def unionFindLabels(edges: Array[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, java.lang.Long](edges.length * 2)
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r).longValue != r) r = parent.get(r).longValue
      var c = x
      while (c != r) { val n = parent.get(c).longValue; parent.put(c, r); c = n }
      r
    }
    edges.foreach { case (a, b) =>
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    import scala.jdk.CollectionConverters._
    parent.keySet().asScala.iterator.map(k => (k, find(k)))
  }

  /** RDD min-label propagation (see [[components]] scaladoc): returns
    * (id, label) for every node with at least one edge. */
  private def componentLabelsRdd(pairs: DataFrame, maxIter: Int): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    // undirected pairs, cached so the candidate pipeline materializes
    // exactly once (the sizing count below, then EITHER the driver
    // collect OR the directed-edge expansion, read the cache)
    val pairEdges = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Long, Long)].rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nPairs = pairEdges.count()
    if (nPairs <= smallGraphEdgeCap) {
      // small graph: one bounded collect + driver union-find replaces
      // the whole propagation loop (each round of which is a scheduled
      // job — pure overhead at this size). The result is a local
      // relation, so the caller's label join broadcasts.
      val labels = unionFindLabels(pairEdges.collect()).toSeq
      pairEdges.unpersist(blocking = false)
      return labels.toDF("id", "label")
    }
    // NOT persisted: consumed exactly once (materializing `edges` below)
    // and a recomputation would read the cached pairEdges anyway
    val rawEdges = pairEdges
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
    // Partition count follows the GRAPH, not the cluster: dup graphs are
    // usually tiny next to their corpus, and a fixed 32-partition layout
    // makes every propagation round pay 32-task scheduling for
    // millisecond work (measured: most of the loop's wall clock at
    // sf0.1). ~100k edges per task, capped at 4x parallelism for the
    // genuinely huge case.
    val nEdges = nPairs * 2
    val part = new org.apache.spark.HashPartitioner(
      math.max(1L, math.min(nEdges / 100000L + 1L,
        4L * sc.defaultParallelism)).toInt)
    // partitioned once by dst and pinned: every iteration's join against
    // the co-partitioned labels is narrow.
    val edges = rawEdges.partitionBy(part)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    edges.count() // materialize fully from the cached pair edges BEFORE
    pairEdges.unpersist(blocking = false) // dropping them (a partial cache
    // would silently recompute the whole candidate pipeline per round)
    try {
      // nodes-with-edges, deduped per partition (edges are key-complete
      // within their partition) — no extra shuffle
      var labels = edges.mapPartitions({ it =>
        val seen = new java.util.HashSet[Long]()
        it.flatMap { case (k, _) =>
          if (seen.add(k)) Iterator((k, k)) else Iterator.empty }
      }, preservesPartitioning = true)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var iter = 0
      var converged = labels.isEmpty()
      while (iter < maxIter && !converged) {
        val changed = sc.longAccumulator(s"cc-changed-$iter")
        // hop 1 — neighbor min: every node takes the min label among its
        // neighbors (one min-reduce shuffle; edge join is narrow)
        val neighborMin = edges.join(labels)
          .map { case (_, (src, lbl)) => (src, lbl) }
          .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
        // merge — one narrow join; measured note: pointer-jumping
        // variants (label <- label(label), single and chained) were
        // tried here and LOST: rounds barely drop on similarity-cluster
        // topologies (labels don't form compressible chains under
        // min-propagation) while per-round cost doubles. Keep the
        // single-hop round; the adaptive partitioner above is what
        // actually bounds per-round cost.
        val upd = labels.leftOuterJoin(neighborMin, part).mapValues {
          case (old, nmin) =>
            val nl = math.min(old, nmin.getOrElse(old))
            if (nl < old) changed.add(1L)
            nl
        }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        upd.count() // materialize + fill the accumulator in ONE action
        val prev = labels
        labels = upd
        prev.unpersist(blocking = false)
        converged = changed.value == 0L
        iter += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"components did not converge in $maxIter iterations " +
            "(duplicate-graph diameter exceeds the cap; raise maxIter)")
      // hand the final labels back to SQL; the eager localCheckpoint
      // materializes the copy, after which the cached iterate can go
      val out = labels.toDF("id", "label").localCheckpoint(eager = true)
      labels.unpersist(blocking = false)
      out
    } finally edges.unpersist(blocking = false)
  }

  /** DataFrame fallback for non-integral id types: same semantics, one
    * localCheckpoint per round (edges re-shuffle each round — acceptable
    * for the cold path). */
  private def componentLabelsDf(pairs: DataFrame, maxIter: Int): DataFrame = {
    val edges = pairs.select(col("id_a"), col("id_b"))
      .union(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .localCheckpoint(eager = true)
    var labels = edges.select(col("id_a").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(eager = true)
    var iter = 0
    var converged = edges.isEmpty
    while (iter < maxIter && !converged) {
      val neighborMin = edges.join(labels, edges("id_b") === labels("id"))
        .groupBy(col("id_a").as("id")).agg(min("label").as("nmin"))
      val upd = labels.as("l")
        .join(neighborMin.as("n"), Seq("id"), "left")
        .select(col("id"), col("l.label").as("__old"),
          least(col("l.label"), coalesce(col("n.nmin"), col("l.label"))).as("label"))
        .localCheckpoint(eager = true)
      converged = upd.filter(col("label") < col("__old")).limit(1).isEmpty
      labels = upd.drop("__old")
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"components did not converge in $maxIter iterations " +
          "(duplicate-graph diameter exceeds the cap; raise maxIter)")
    labels
  }

  /** EXACT-SUBSTRING span removal (the Lee et al. 2022 "Deduplicating
    * Training Data" shape, at whitespace-token granularity): any
    * `k`-token window occurring MORE THAN ONCE in the corpus — across
    * docs or repeated within one — is a duplicated span, and every
    * token covered by a duplicated window is cut from its document.
    * Doc-level near-dup dedup keeps one copy of a template page;
    * this removes the boilerplate that doc-level passes can't see
    * (headers, license blocks, navigation chrome repeated inside
    * otherwise-unique pages).
    *
    * Plan shape (no suffix array needed for fixed k): one explode to
    * (doc, pos, gram) — shuffle key = the gram, near-unique so
    * skew-bounded like decontamination; a map-side-combined count
    * finds grams with count ≥ 2; matching window starts come back as
    * ONE bounded array per doc (size ≤ token count), and the cut
    * itself is a row-local higher-order-function filter: token i
    * survives iff no duplicated window start s has s ≤ i < s+k. Work
    * is O(corpus tokens) plus O(duplicated-window occurrences) — the
    * 100 TB posture; nothing is quadratic in docs or corpus size.
    *
    * Returns (idCol, n_tokens, n_removed, clean_text) — one row per
    * input doc, clean_text preserving original token order. */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    require(k >= 2, s"span window must be at least 2 tokens, got $k")
    val toks = df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
    val wins = toks.select(col(idCol), col("__toks"),
        posexplode(transform(
          sequence(lit(0), greatest(size(col("__toks")) - k, lit(0))),
          j => concat_ws(" ", slice(col("__toks"), j + 1, lit(k))))))
      .withColumnRenamed("pos", "__pos").withColumnRenamed("col", "__gram")
      // a doc shorter than k tokens has one (clamped) window narrower
      // than k; it can never equal a true k-token gram from elsewhere
      // unless identical text repeats, which is exactly the semantics
      .select(col(idCol), col("__pos"), col("__gram"))
    val dupGrams = wins.groupBy("__gram")
      .agg(count(lit(1)).as("__n")).filter(col("__n") >= 2)
      .select("__gram")
    val dupStarts = wins.join(dupGrams, "__gram")
      .groupBy(idCol).agg(collect_list(col("__pos")).as("__starts"))
    toks.join(dupStarts, Seq(idCol), "left")
      .select(col(idCol),
        size(col("__toks")).cast("long").as("n_tokens"),
        coalesce(col("__starts"), array().cast("array<int>")).as("__starts"),
        col("__toks"))
      .withColumn("__kept", filter(
        transform(sequence(lit(0), size(col("__toks")) - 1),
          i => struct(i.as("i"), element_at(col("__toks"), i + 1).as("t"))),
        x => !exists(col("__starts"),
          s => s <= x.getField("i") && x.getField("i") < s + k)))
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - size(col("__kept"))).cast("long").as("n_removed"),
        concat_ws(" ", transform(col("__kept"), x => x.getField("t")))
          .as("clean_text"))
  }
}
