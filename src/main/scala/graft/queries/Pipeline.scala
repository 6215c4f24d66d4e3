package graft.queries

import graft.{Q, T}
import org.apache.spark.sql.functions._
import graft.operators.{Chunking, Contamination, Dedup, Packing, Sampling, Scrub, Similarity, TextAnalysis => TA}
import graft.warehouse.Connector

/** LLM-training-data pipeline surface (SURVEY.md §2C): dedup, text
  * analysis, and vector similarity over the `documents` / `embeddings`
  * fixtures. Everything with a deterministic ANSI-SQL twin carries a
  * DuckDB oracle stating the result literally; operators whose raw
  * output has no SQL twin (MinHash/SimHash/LSH buckets, approximate
  * top-k, trained models) are graded through self-computed invariants
  * the oracle states as literals — recall floors vs an in-query exact
  * anchor, error bounds vs an exact count, containment vs the exact
  * closure, planted-structure recovery, hand-derived merge tables
  * (the q84/q85 symbolic-oracle pattern; every query here hash-matches
  * as of round 8). Differential tests against exact counterparts live
  * in PipelineSpec.
  *
  * Scale posture: every operator is row-local or shuffle-keyed (token,
  * fingerprint, LSH bucket) — no driver materialization, no O(n²) unless
  * it is the explicitly-labeled exact baseline of an LSH operator.
  */
object Pipeline {

  /** DuckDB expression for the normalized token list — must stay in
    * lock-step with TextAnalysis.tokens. */
  private val duckToks =
    "string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ')"
  private val duckStops =
    TA.EnglishStopwords.map(s => s"'$s'").mkString("(", ", ", ")")

  /** Normalized lowercase token list (the dedup-side normalization). */
  private val duckToksLower =
    "string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')"

  /** Self-grading rig for the approximate top-k paths (q32/q55): left-
    * join the exact anchor's (query, neighbor) pairs against the
    * approximate result, reduce to one MACRO-averaged recall scalar —
    * per-query hit ratio first, then the mean over queries (ADVICE r8:
    * the r8 shape pooled all pairs into one ratio, so a severe
    * single-query collapse could partially hide under the other
    * queries' hits; macro weighs every query equally) — and re-attach
    * it to the per-query result counts. Output rows are fully
    * oracle-predictable: (query_id, n_results = k, recall_ok = floor
    * verdict). The anchor side defines the query universe, so a query
    * the index starved to < k results (or lost entirely) changes
    * n_results / drops a row — both hash-visible. */
  private def recallGraded(approx: org.apache.spark.sql.DataFrame,
      exact: org.apache.spark.sql.DataFrame, floor: Double)
      : org.apache.spark.sql.DataFrame = {
    val hit = approx.select(col("query_id"), col("neighbor_id"),
      lit(1).as("__hit"))
    val recall = exact.select("query_id", "neighbor_id")
      .join(hit, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg((count(col("__hit")).cast("double") / count(lit(1))).as("__r"))
      .agg(avg(col("__r")).as("__recall"))
    approx.groupBy("query_id")
      .agg(count(lit(1)).cast("long").as("n_results"))
      .crossJoin(broadcast(recall))
      .select(col("query_id"), col("n_results"),
        (col("__recall") >= floor).as("recall_ok"))
      .orderBy("query_id")
  }

  /** 31-bit polynomial rolling hash of column `tok`/`s` — must stay in
    * lock-step with graft.functions.PolyHash31 (h₀=7, ×131, mod 2^31−1). */
  private def polyHashOf(c: String): String =
    s"list_reduce(list_prepend(CAST(7 AS BIGINT), " +
      s"list_transform(string_split($c, ''), ch -> CAST(ascii(ch) AS BIGINT))), " +
      "(a, b) -> (a * 131 + b) % 2147483647)"

  private val duckPolyHash = polyHashOf("tok")

  /** Shared CTE chain rebuilding Dedup.minhashCandidatesPoly in DuckDB:
    * 3-word shingles → polyHash → 64 affine-permutation mins (params
    * regenerated from i via the fixed LCG constants) → 16-band LSH
    * slice-join → positional signature agreement / 64. */
  private val minhashCandSql: String =
    s"""WITH RECURSIVE docs AS (
       |  SELECT doc_id, $duckToksLower AS toks FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(greatest(len(toks) - 3, 0) + 1),
       |    j -> array_to_string(toks[j+1:j+3], ' ')))) AS s
       |  FROM docs),
       |hs AS (
       |  SELECT doc_id, ${polyHashOf("s")} AS h FROM sh),
       |sigv AS (
       |  SELECT doc_id, i,
       |    min(((CASE WHEN (1103515245 * i + 12345) % 2147483647 = 0 THEN 1
       |          ELSE (1103515245 * i + 12345) % 2147483647 END) * h
       |         + (1013904223 * i + 7) % 2147483647) % 2147483647) AS m
       |  FROM hs CROSS JOIN (SELECT unnest(range(64)) AS i)
       |  GROUP BY doc_id, i),
       |sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM sigv GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, sig, bi, sig[bi*4+1:bi*4+4] AS bslice
       |  FROM sig CROSS JOIN (SELECT unnest(range(16)) AS bi)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.bi = b.bi AND a.bslice = b.bslice AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT c.id_a, c.id_b,
       |    len(list_filter(range(64), i -> sa.sig[i+1] = sb.sig[i+1])) / 64.0 AS est_jaccard
       |  FROM cand c
       |  JOIN sig sa ON c.id_a = sa.doc_id
       |  JOIN sig sb ON c.id_b = sb.doc_id)
       |""".stripMargin

  private def ql: Seq[Q] = Seq(

    // ---- exact dedup, deterministic keeper (min doc_id per key) ----
    Q("q21_dedup_exact",
      """SELECT doc_id, lang, source, n_chars FROM (
        |  SELECT doc_id, lang, source, n_chars,
        |    row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
        |  FROM documents) t
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.exact(T.documents(s, d), Seq("lang", "source"), "doc_id")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    // ---- CDC-style keep-latest dedup (upsert compaction) --------------
    Q("q62_dedup_latest",
      """SELECT event_id, user_id, event_type, round(value, 4) AS value FROM (
        |  SELECT event_id, user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      Dedup.latest(T.events(s, d), Seq("user_id", "event_type"), "ts", "event_id")
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("value"), 4).as("value"))
        .orderBy("user_id", "event_type")
    },

    // ---- near-dup by normalized-text md5 fingerprint ----
    Q("q22_dedup_fingerprint",
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |    ORDER BY doc_id) AS rn
        |  FROM documents) t
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.byFingerprint(T.documents(s, d), "text", "doc_id")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // ---- exact n-gram (word) Jaccard similarity join ----
    Q("q23_jaccard_pairs",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_distinct(string_split(
         |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))) AS tok
         |  FROM documents),
         |sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
         |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
         |FROM common
         |JOIN sizes sa ON id_a = sa.doc_id
         |JOIN sizes sb ON id_b = sb.doc_id
         |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      Dedup.jaccardJoin(T.documents(s, d), "doc_id", "text", 0.5)
        .orderBy("id_a", "id_b")
    },

    // ---- MinHash+LSH banded candidate pairs -----------------------------
    // The portable 31-bit polynomial hash family lets DuckDB rebuild the
    // ENTIRE MinHash pipeline (shingles → hashes → 64 affine mins →
    // 16-band LSH join → signature-agreement estimate) and hash-verify
    // it; it is the library's one MinHash family.
    Q("q24_minhash_pairs", minhashCandSql +
      """SELECT id_a, id_b, est_jaccard FROM est
        |WHERE est_jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      Dedup.minhashCandidatesPoly(T.documents(s, d), "doc_id", "text",
          threshold = 0.5)
        .orderBy("id_a", "id_b")
    },

    // ---- full MinHash near-dup dedup (candidates → components) ---------
    // Oracle closes the candidate graph with a recursive CTE (exact
    // connected components, min id canonical) — differentially testing
    // the distributed min-label-propagation loop.
    Q("q25_minhash_dedup", minhashCandSql +
      """, edges AS (
        |  SELECT id_a AS x, id_b AS y FROM est WHERE est_jaccard >= 0.5
        |  UNION ALL
        |  SELECT id_b, id_a FROM est WHERE est_jaccard >= 0.5),
        |comp AS (
        |  SELECT doc_id AS id, doc_id AS m FROM documents
        |  UNION
        |  SELECT e.x, c.m FROM edges e JOIN comp c ON c.id = e.y),
        |canon AS (SELECT id, min(m) AS canonical FROM comp GROUP BY id)
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d JOIN canon c ON d.doc_id = c.id
        |WHERE c.canonical = d.doc_id ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      Dedup.minhashDedupPoly(T.documents(s, d), "doc_id", "text", threshold = 0.5)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },

    // ---- SimHash signatures (portable 31-bit family, hash-verified) ----
    Q("q26_simhash",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($duckToksLower) AS tok FROM documents),
         |h AS (SELECT doc_id, $duckPolyHash AS hv FROM toks),
         |votes AS (
         |  SELECT doc_id, b,
         |    sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM h CROSS JOIN (SELECT unnest(range(31)) AS b) GROUP BY doc_id, b)
         |SELECT doc_id,
         |  CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
         |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.simhashPoly(T.documents(s, d), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // ---- token counting ----
    Q("q27_token_stats",
      s"""SELECT doc_id,
         |  len($duckToks) AS n_tokens,
         |  len(list_distinct($duckToks)) AS n_unique,
         |  round(CAST(length(replace(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ', '')) AS DOUBLE)
         |        / len($duckToks), 6) AS avg_tok_len
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      T.documents(s, d).select(
          col("doc_id"),
          TA.tokenCount(col("text")).as("n_tokens"),
          TA.uniqueTokenCount(col("text")).as("n_unique"),
          round(TA.avgTokenLength(col("text")), 6).as("avg_tok_len"))
        .orderBy("doc_id")
    },

    // ---- quality scoring (length / stopword / punctuation signals) ----
    Q("q28_quality_score",
      s"""SELECT doc_id,
         |  round(stop_ratio, 6) AS stopword_ratio,
         |  round(punct_ratio, 6) AS punct_ratio,
         |  round(least(n_tokens / 50.0, 1.0) * 0.4
         |      + least(stop_ratio / 0.05, 1.0) * 0.4
         |      + greatest(0.0, 1.0 - punct_ratio * 5.0) * 0.2, 6) AS quality
         |FROM (
         |  SELECT doc_id,
         |    CAST(len($duckToks) AS DOUBLE) AS n_tokens,
         |    CASE WHEN len($duckToks) = 0 THEN 0.0 ELSE
         |      CAST(len(list_filter($duckToks, t -> t IN $duckStops)) AS DOUBLE)
         |        / len($duckToks) END AS stop_ratio,
         |    CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE
         |      CAST(length(trim(text))
         |         - length(regexp_replace(trim(text), '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
         |        / length(trim(text)) END AS punct_ratio
         |  FROM documents) t
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      T.documents(s, d).select(
          col("doc_id"),
          round(TA.stopwordRatio(col("text")), 6).as("stopword_ratio"),
          round(TA.punctRatio(col("text")), 6).as("punct_ratio"),
          TA.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    },

    // ---- language-ID heuristic (stopword density) ----
    Q("q29_lang_id",
      s"""SELECT doc_id, lang,
         |  CASE WHEN CAST(len(list_filter($duckToks, t -> t IN $duckStops)) AS DOUBLE)
         |            / len($duckToks) >= 0.05
         |       THEN 'en' ELSE 'unknown' END AS lang_guess
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      T.documents(s, d).select(
          col("doc_id"), col("lang"),
          TA.langIdGuess(col("text")).as("lang_guess"))
        .orderBy("doc_id")
    },

    // ---- rolling-hash document fingerprint ----
    Q("q30_rolling_fingerprint",
      s"""SELECT doc_id,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform($duckToks, t -> CAST(ascii(t) + length(t) AS BIGINT))),
         |    (a, b) -> (a * 131 + b) % 1000000007) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      T.documents(s, d).select(
          col("doc_id"),
          TA.rollingFingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    // ---- exact brute-force cosine top-k (ANN correctness baseline) ----
    Q("q31_cosine_topk",
      """SELECT query_id, neighbor_id, round(sim, 6) AS sim, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                           CAST(c.embedding AS DOUBLE[])) AS sim,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                             CAST(c.embedding AS DOUBLE[])) DESC,
        |      c.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 8) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      val emb = T.embeddings(s, d)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", 5)
        .orderBy("query_id", "rank")
    },

    // ---- hard-negative mining (contrastive-training pairs) -------------
    // For each query embedding: the k most-similar corpus vectors with
    // a DIFFERENT label — the maximally-confusing negatives an
    // embedding model trains against. q31's broadcast-query plan with
    // the label inequality folded into the join.
    Q("q166_hard_negatives",
      """SELECT query_id, q_label, neighbor_id, n_label,
        |       round(sim, 6) AS sim, rank FROM (
        |  SELECT q.vec_id AS query_id, q.label AS q_label,
        |    c.vec_id AS neighbor_id, c.label AS n_label,
        |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                           CAST(c.embedding AS DOUBLE[])) AS sim,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                             CAST(c.embedding AS DOUBLE[])) DESC,
        |      c.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id <> c.vec_id AND q.label IS DISTINCT FROM c.label
        |  WHERE q.vec_id < 8) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      val emb = T.embeddings(s, d)
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", "label", 5)
        .orderBy("query_id", "rank")
    },

    // ---- LSH-bucketed approximate top-k (invariant-graded) -------------
    // Hash-based bucketing has no DuckDB twin, so the query grades ITSELF
    // (the q84/q85 symbolic-oracle pattern): it runs the in-query exact
    // top-k (q31's shape) as the anchor, computes macro recall@5 of the
    // LSH result against it, and emits per query the verdicts the oracle
    // states literally — n_results = k (the index produced enough
    // candidates) and recall ≥ 0.85 (the PipelineSpec floor; measured
    // 0.925 at sf0.01 / 0.90 at sf0.1, nprobe = 4). A recall regression
    // or a starved bucket now hash-MISMATCHES instead of hiding behind a
    // rows-only count. At 100 TB the anchor runs over a query SAMPLE;
    // here the query set is already 8 vectors.
    // Spec anchor retained: PipelineSpec "lshTopK multiprobe".
    Q("q32_lsh_topk",
      """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_results,
        |  TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 8 ORDER BY query_id""".stripMargin) { (s, d) =>
      val emb = T.embeddings(s, d)
      val qs = emb.filter(col("vec_id") < 8)
      recallGraded(
        Similarity.lshTopK(emb, qs, "vec_id", "embedding", 5, nprobe = 4),
        Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 5),
        floor = 0.85)
    },

    // ---- IVF-bucketed approximate top-k (invariant-graded) -------------
    // Same self-grading shape as q32. nprobe = 8 (of nlist = 16) because
    // the fixture embeddings are near-random — the hardest case for a
    // clustering-based index (recall@5: nprobe 4 → 0.70, 6 → 0.80,
    // 8 → 0.90 at both SFs); at 100 TB nlist grows ~√n, so the probed
    // FRACTION falls even as recall holds. Floor 0.85 with the measured
    // 0.90 at both SFs.
    // Spec anchors retained: PipelineSpec "ivfTopK hits the exact top-1
    // neighbor" + "ivfTopK caches the quantizer".
    Q("q55_ivf_topk",
      """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_results,
        |  TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 8 ORDER BY query_id""".stripMargin) { (s, d) =>
      val emb = T.embeddings(s, d)
      val qs = emb.filter(col("vec_id") < 8)
      recallGraded(
        Similarity.ivfTopK(emb, qs, "vec_id", "embedding", 5, nprobe = 8),
        Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 5),
        floor = 0.85)
    },

    // ---- q168: PERSISTED IVF index (warehouse artifact) ----------------
    // q55's session-cached quantizer dies with the JVM; here the index
    // is a pair of warehouse tables (centroids snapshot-STAMPED against
    // the corpus, assignments cell-clustered with stats) built once and
    // served from disk. Witnesses: querying the persisted index runs
    // ZERO training jobs (a JVM-wide training counter is flat across
    // both queries); a 2-probe query reads a file-PRUNED slice of the
    // assignment table (manifest skipping, not a corpus scan); a
    // corpus commit makes the index refuse as STALE until rebuilt;
    // recall holds the same 0.85 floor as q55 (same spherical k-means
    // and probe math — the only change is where the quantizer lives).
    Q("q168_ivf_persisted",
      """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_results,
        |  TRUE AS recall_ok, TRUE AS persist_ok
        |FROM embeddings WHERE vec_id < 8 ORDER BY query_id""".stripMargin) { (s, d) =>
      import graft.operators.IvfIndex
      val conn = new Connector(s, Scratch.dir("run"))
      val emb = T.embeddings(s, d)
      conn.createTable("emb_ivf", emb)
      val qs = emb.filter(col("vec_id") < 8)
      IvfIndex.build(conn, "emb_ivf", "vec_id", "embedding", nlist = 16)
      val t0 = IvfIndex.trainings.get()
      // prune witness: a 2-probe query must read a strict file subset
      IvfIndex.topK(conn, "emb_ivf", qs, "vec_id", "embedding", 5,
        nprobe = 2).count()
      val pruned = IvfIndex.lastProbeScan.exists { case (kept, vis) =>
        kept > 0 && kept < vis }
      // the GRADED query: recall against brute force, MATERIALIZED (8
      // rows) before the staleness rig mutates the corpus — a persist
      // would leak cached state into every later bench query
      val gradedP = recallGraded(
        IvfIndex.topK(conn, "emb_ivf", qs, "vec_id", "embedding", 5,
          nprobe = 8),
        Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 5),
        floor = 0.85).persist()
      val gradedRows = gradedP.collect()
      val gradedSchema = gradedP.schema
      gradedP.unpersist()
      val graded = s.createDataFrame(
        java.util.Arrays.asList(gradedRows: _*), gradedSchema)
      val zeroTrain = IvfIndex.trainings.get() == t0
      // staleness: one corpus commit → topK refuses as stale
      conn.insert("emb_ivf", emb.limit(1))
      val staleRefused =
        try { IvfIndex.topK(conn, "emb_ivf", qs, "vec_id", "embedding", 5); false }
        catch { case _: IllegalArgumentException => true }
      // append-only drift: refresh assigns ONLY the delta (zero training)
      val t1 = IvfIndex.trainings.get()
      val incr = IvfIndex.refresh(conn, "emb_ivf", "vec_id", "embedding",
          nlist = 16) == "incremental" &&
        IvfIndex.trainings.get() == t1 && IvfIndex.fresh(conn, "emb_ivf")
      // a delete in the window degrades LOUDLY to a full rebuild
      conn.delete("emb_ivf", col("vec_id") === 0L)
      val rebuilt = IvfIndex.refresh(conn, "emb_ivf", "vec_id", "embedding",
          nlist = 16) == "rebuild" && IvfIndex.fresh(conn, "emb_ivf")
      val w = pruned && zeroTrain && staleRefused && incr && rebuilt
      graded.withColumn("persist_ok", lit(w))
    },

    // ---- exact embedding-cosine near-dup pairs ----
    Q("q33_cosine_neardup",
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])), 6) AS sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      Similarity.exactCosinePairs(T.embeddings(s, d), "vec_id", "embedding", 0.4)
        .orderBy("id_a", "id_b")
    },

    // ---- BPE-ish regex subword tokenization ----------------------------
    // letter-runs | digit-runs | single punctuation — the merge-free
    // skeleton of byte-pair tokenizers; ratio to whitespace words
    // approximates tokens-per-word fertility.
    Q("q51_bpeish_tokens",
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(lower(trim(text)), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_subtokens,
         |  CAST(len($duckToks) AS BIGINT) AS n_words,
         |  round(CAST(len(regexp_extract_all(lower(trim(text)), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS DOUBLE)
         |        / len($duckToks), 6) AS fertility
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      T.documents(s, d).select(
          col("doc_id"),
          size(regexp_extract_all(lower(trim(col("text"))),
            lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long").as("n_subtokens"),
          TA.tokenCount(col("text")).cast("long").as("n_words"),
          round(size(regexp_extract_all(lower(trim(col("text"))),
              lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("double") /
            TA.tokenCount(col("text")), 6).as("fertility"))
        .orderBy("doc_id")
    },

    // ---- character-trigram Jaccard near-dup pairs ----------------------
    Q("q52_char_ngram_jaccard",
      """WITH t AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(length(nt) - 2), i -> substr(nt, CAST(i + 1 AS BIGINT), 3)))) AS tok
        |  FROM t),
        |sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
        |FROM common
        |JOIN sizes sa ON id_a = sa.doc_id
        |JOIN sizes sb ON id_b = sb.doc_id
        |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      Dedup.charNgramJaccard(T.documents(s, d), "doc_id", "text",
          n = 3, threshold = 0.8)
        .orderBy("id_a", "id_b")
    },

    // ---- tf-idf top terms per document ---------------------------------
    // Ordering key is the ROUNDED score (then term) so the top-3 cut is
    // engine-deterministic; ln() agrees to well under the rounding grain.
    Q("q53_tfidf",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($duckToksLower) AS tok FROM documents),
         |tf AS (
         |  SELECT doc_id, tok, count(*) AS cnt,
         |    sum(count(*)) OVER (PARTITION BY doc_id) AS doc_len
         |  FROM toks GROUP BY doc_id, tok),
         |df AS (SELECT tok, count(DISTINCT doc_id) AS dfreq FROM toks GROUP BY tok),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT doc_id, tok,
         |    round((cnt * 1.0 / doc_len) * ln(n_docs * 1.0 / dfreq), 6) AS tfidf
         |  FROM tf JOIN df USING (tok) CROSS JOIN n)
         |SELECT doc_id, tok, tfidf FROM (
         |  SELECT doc_id, tok, tfidf,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rn
         |  FROM scored) t
         |WHERE rn <= 3 ORDER BY doc_id, tfidf DESC, tok""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = T.documents(s, d)
      // corpus size as a 1-row scalar agg cross-joined in (broadcast,
      // sub-microsecond) — NOT an eager docs.count(), which would run a
      // separate driver-side job before the query's own plan
      val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      val toks = docs.select(col("doc_id"),
        explode(split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")).as("tok"))
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
        .withColumn("doc_len", sum("cnt").over(Window.partitionBy("doc_id")))
      val dfreq = toks.select("doc_id", "tok").distinct()
        .groupBy("tok").agg(count(lit(1)).as("dfreq"))
      val scored = tf.join(dfreq, "tok").crossJoin(broadcast(nDocs))
        .withColumn("tfidf", round((col("cnt") * lit(1.0) / col("doc_len")) *
          log(col("n_docs") / col("dfreq")), 6))
      scored
        .withColumn("rn", row_number().over(Window.partitionBy("doc_id")
          .orderBy(col("tfidf").desc, col("tok"))))
        .filter(col("rn") <= 3)
        .select("doc_id", "tok", "tfidf")
        .orderBy(col("doc_id"), col("tfidf").desc, col("tok"))
    },

    // ---- embedding-cosine full dedup (cluster → canonical keep) ----
    // Pairs from the exact shuffle-only grid join; clusters closed by
    // min-label propagation. The oracle rebuilds the closure with a
    // recursive CTE over the same exact pairs.
    Q("q60_cosine_dedup",
      """WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])) >= 0.4),
        |edges AS (
        |  SELECT id_a AS x, id_b AS y FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |comp AS (
        |  SELECT vec_id AS id, vec_id AS m FROM embeddings
        |  UNION
        |  SELECT e.x, c.m FROM edges e JOIN comp c ON c.id = e.y),
        |canon AS (SELECT id, min(m) AS canonical FROM comp GROUP BY id)
        |SELECT emb.vec_id, emb.label FROM embeddings emb
        |JOIN canon c ON emb.vec_id = c.id
        |WHERE c.canonical = emb.vec_id ORDER BY emb.vec_id""".stripMargin) { (s, d) =>
      Dedup.cosineDedup(T.embeddings(s, d), "vec_id", "embedding", 0.4)
        .select("vec_id", "label")
        .orderBy("vec_id")
    },

    // ---- embedding-cosine dedup, LSH candidate path (the 100 TB plan) --
    // Same downstream closure as q60 but candidates come from the
    // sub-quadratic hyperplane-LSH bucket join instead of the exact
    // all-pairs grid — the shape that survives a 100x corpus. Hash-based
    // bucketing has no DuckDB twin, so the query grades itself (q84/q85
    // pattern) against the in-query exact path: rows are the EXACT-kept
    // set (the oracle rebuilds it with q60's recursive CTE), `lsh_kept`
    // witnesses the containment law per row (LSH edges ⊆ exact edges ⇒
    // an exact-kept row can never be LSH-dropped), and `power_ok`
    // witnesses dedup power — of the rows the exact path removes, the
    // LSH path removes ≥ 50% (the PipelineSpec floor; measured 0.60 at
    // sf0.01 / 0.53 at sf0.1). A bucketing regression flips one of the
    // booleans and hash-mismatches.
    // Spec anchor retained: PipelineSpec "q64 LSH cosine dedup".
    Q("q64_cosine_dedup_lsh",
      """WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])) >= 0.4),
        |edges AS (
        |  SELECT id_a AS x, id_b AS y FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |comp AS (
        |  SELECT vec_id AS id, vec_id AS m FROM embeddings
        |  UNION
        |  SELECT e.x, c.m FROM edges e JOIN comp c ON c.id = e.y),
        |canon AS (SELECT id, min(m) AS canonical FROM comp GROUP BY id)
        |SELECT emb.vec_id, emb.label, TRUE AS lsh_kept, TRUE AS power_ok
        |FROM embeddings emb
        |JOIN canon c ON emb.vec_id = c.id
        |WHERE c.canonical = emb.vec_id ORDER BY emb.vec_id""".stripMargin) { (s, d) =>
      val emb = T.embeddings(s, d)
      val keptExact = Dedup.cosineDedup(emb, "vec_id", "embedding", 0.4)
        .select("vec_id", "label")
      val keptLsh = Dedup.cosineDedup(emb, "vec_id", "embedding", 0.4,
          exact = false)
        .select(col("vec_id").as("__lsh_id"))
      // dedup-power scalar: (dropped by LSH) / (dropped by exact) ≥ 0.5,
      // vacuously true when the exact path drops nothing
      val power = emb.agg(count(lit(1)).as("__n")).crossJoin(
          keptExact.agg(count(lit(1)).as("__ne"))).crossJoin(
          keptLsh.agg(count(lit(1)).as("__nl")))
        .select((col("__n") === col("__ne") ||
          (col("__n") - col("__nl")).cast("double") /
            (col("__n") - col("__ne")) >= 0.5).as("power_ok"))
      keptExact
        .join(keptLsh, col("vec_id") === col("__lsh_id"), "left")
        .crossJoin(broadcast(power))
        .select(col("vec_id"), col("label"),
          col("__lsh_id").isNotNull.as("lsh_kept"), col("power_ok"))
        .orderBy("vec_id")
    },

    // ---- ordered conversion funnel (sequential pattern per user) ------
    // Stage reached in strict order: first view, first click AFTER that
    // view, first purchase AFTER that click. ONE hash exchange
    // (repartition on user) + partition-local sort + a single-pass state
    // machine with O(|stages|) per-key state — no collect_list buffers
    // (a power user with millions of events would otherwise OOM one
    // aggregation buffer), and still none of the 4-shuffle
    // join-per-stage formulation the oracle SQL spells out.
    Q("q63_funnel",
      """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS t_click
        |      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
        |      WHERE e.event_type = 'click' GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS t_purchase
        |      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
        |      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT u.user_id,
        |  CASE WHEN p.user_id IS NOT NULL THEN 3
        |       WHEN c.user_id IS NOT NULL THEN 2
        |       WHEN v.user_id IS NOT NULL THEN 1 ELSE 0 END AS stage
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN v ON u.user_id = v.user_id
        |LEFT JOIN c ON u.user_id = c.user_id
        |LEFT JOIN p ON u.user_id = p.user_id
        |ORDER BY u.user_id""".stripMargin) { (s, d) =>
      graft.operators.Funnel.ordered(T.events(s, d), "user_id",
          "event_type", "ts", Seq("view", "click", "purchase"))
        .orderBy("user_id")
    },

    // ---- deterministic hash-split sampling (train/eval carve-out) ------
    // Membership is a pure function of the key's portable hash: stable
    // under repartitioning and append, unlike df.sample — and DuckDB
    // recomputes the identical hash, so the split is hash-verified.
    Q("q65_hash_split",
      s"""SELECT doc_id,
         |  h % 100 AS bucket,
         |  CASE WHEN h % 100 < 90 THEN 'train' ELSE 'eval' END AS split
         |FROM (SELECT doc_id,
         |  ${polyHashOf("CAST(doc_id AS VARCHAR)")} AS h FROM documents)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Sampling.split(T.documents(s, d), "doc_id", 90)
        .select(col("doc_id"),
          Sampling.hashBucket(col("doc_id"), 100).as("bucket"),
          col("split"))
        .orderBy("doc_id")
    },

    // ---- stratified sample (deterministic k per group) -----------------
    // Up to 20 docs per language, picked by portable-hash order with the
    // key as tie-break — reproducible across engines and partition
    // layouts; Spark plans the rank filter as WindowGroupLimit (running
    // top-k per task, no full group sort).
    Q("q72_stratified_sample",
      s"""WITH h AS (
         |  SELECT doc_id, lang, source,
         |    ${polyHashOf("CAST(doc_id AS VARCHAR)")} AS hh
         |  FROM documents)
         |SELECT doc_id, lang, source FROM (
         |  SELECT doc_id, lang, source,
         |    row_number() OVER (PARTITION BY lang ORDER BY hh, doc_id) AS rn
         |  FROM h) t
         |WHERE rn <= 20 ORDER BY doc_id""".stripMargin) { (s, d) =>
      Sampling.stratified(T.documents(s, d), Seq("lang"), "doc_id", 20)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },

    // ---- weighted source mix (per-group deterministic down-sampling) ---
    // Rebalance a multi-source corpus: keep 25% of src0, 50% of src1,
    // 90% elsewhere — membership a pure function of (doc_id, weights),
    // row-local, hash-verified end-to-end like q65.
    Q("q73_weighted_mix",
      s"""WITH h AS (
         |  SELECT doc_id, lang, source,
         |    ${polyHashOf("CAST(doc_id AS VARCHAR)")} % 100 AS b
         |  FROM documents)
         |SELECT doc_id, lang, source FROM h
         |WHERE b < (CASE source WHEN 'src0' THEN 25 WHEN 'src1' THEN 50
         |           ELSE 90 END)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Sampling.weightedMix(T.documents(s, d), "doc_id", "source",
          Map("src0" -> 25, "src1" -> 50), defaultPct = 90)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },

    // ---- sequence packing (token-budget shard binning) -----------------
    // TWO-PHASE hierarchical packing: the lang shard key is near-constant
    // cardinality, so a single per-shard running-sum window would
    // serialize the majority language through one task at scale. Phase 1
    // packs each of 8 deterministic hash sub-shards independently
    // (parallelism = langs x 8, per-task state one sub-shard); phase 2
    // offsets each sub-shard's bins by the bins used below it (tiny
    // broadcast agg). The oracle rebuilds the identical layout from the
    // same portable key hash.
    Q("q66_sequence_packing",
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    len(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ')) AS n_tokens,
         |    ${polyHashOf("CAST(doc_id AS VARCHAR)")} % 8 AS sub
         |  FROM documents),
         |loc AS (
         |  SELECT doc_id, lang, n_tokens, sub,
         |    CAST(floor((sum(n_tokens) OVER (PARTITION BY lang, sub ORDER BY doc_id)
         |                - n_tokens) / 2048.0) AS BIGINT) AS lbin
         |  FROM t),
         |nb AS (SELECT lang, sub, max(lbin) + 1 AS nb FROM loc GROUP BY lang, sub),
         |off AS (SELECT lang, sub,
         |          sum(nb) OVER (PARTITION BY lang ORDER BY sub) - nb AS off
         |        FROM nb)
         |SELECT loc.doc_id, loc.lang, loc.n_tokens,
         |  CAST(loc.lbin + off.off AS BIGINT) AS bin
         |FROM loc JOIN off ON loc.lang = off.lang AND loc.sub = off.sub
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = T.documents(s, d).select(col("doc_id"), col("lang"),
        TA.tokenCount(col("text")).cast("long").as("n_tokens"))
      Packing.packBinsScaled(docs, "n_tokens", "doc_id", 2048, Seq("lang"), 8)
        .orderBy("doc_id")
    },

    // ---- benchmark decontamination (8-gram overlap vs eval set) --------
    // Training docs (doc_id >= 20) sharing any distinct 8-word shingle
    // with the benchmark slice (doc_id < 20); shuffle key = shingle.
    Q("q67_decontamination",
      """WITH docs AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(greatest(len(toks) - 8, 0) + 1),
        |    j -> array_to_string(toks[j+1:j+8], ' ')))) AS s
        |  FROM docs),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 20)
        |SELECT a.doc_id, count(*) AS n_shared
        |FROM sh a JOIN bench b ON a.s = b.s
        |WHERE a.doc_id >= 20
        |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin) { (s, d) =>
      val docs = T.documents(s, d)
      Contamination.overlap(
          docs.filter(col("doc_id") >= 20),
          docs.filter(col("doc_id") < 20),
          "doc_id", "text", 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // ---- decontamination FILTER (the op a pipeline actually ships) ----
    // q67 reports the overlap; this returns the CLEAN corpus — training
    // docs sharing NO 8-gram shingle with the benchmark slice, via a
    // left-anti join on the contaminated-id set.
    Q("q68_decontaminate_filter",
      """WITH docs AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(greatest(len(toks) - 8, 0) + 1),
        |    j -> array_to_string(toks[j+1:j+8], ' ')))) AS s
        |  FROM docs),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 20),
        |dirty AS (
        |  SELECT DISTINCT a.doc_id FROM sh a JOIN bench b ON a.s = b.s
        |  WHERE a.doc_id >= 20)
        |SELECT d.doc_id, d.lang, d.source FROM documents d
        |WHERE d.doc_id >= 20 AND d.doc_id NOT IN (SELECT doc_id FROM dirty)
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val docs = T.documents(s, d)
      Contamination.decontaminate(
          docs.filter(col("doc_id") >= 20),
          docs.filter(col("doc_id") < 20),
          "doc_id", "text", 8)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },

    // ---- q116: bloom-prefiltered decontamination — the scale path ----
    // Same semantics as q68, different plan: a bloom filter over the
    // benchmark's shingle hashes drops non-overlapping corpus shingles
    // ROW-LOCALLY before the exact verification join, so at 100 TB the
    // join input is the fpp sliver, not the corpus. Bloom filters have
    // no false negatives, so the oracle (q68's exact semantics in SQL)
    // hash-grades that the shortcut lost nothing; the witness pins the
    // PREFILTER itself — the bloom must reject most corpus shingles
    // (candidates < half the windows) — so a degenerate pass-everything
    // bloom (overfilled, or a broken might_contain) fails the grade
    // even though it would still be row-correct. PlanSpec additionally
    // pins might_contain below the verification join.
    Q("q116_decontaminate_bloom",
      """WITH docs AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(greatest(len(toks) - 8, 0) + 1),
        |    j -> array_to_string(toks[j+1:j+8], ' ')))) AS s
        |  FROM docs),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 20),
        |dirty AS (
        |  SELECT DISTINCT a.doc_id FROM sh a JOIN bench b ON a.s = b.s
        |  WHERE a.doc_id >= 20)
        |SELECT d.doc_id, d.lang, d.source, TRUE AS bloom_ok FROM documents d
        |WHERE d.doc_id >= 20 AND d.doc_id NOT IN (SELECT doc_id FROM dirty)
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val docs = T.documents(s, d)
      val corpus = docs.filter(col("doc_id") >= 20)
      val bench = docs.filter(col("doc_id") < 20)
      val benchSh = Contamination.benchShingles(bench, "text", 8)
      val bloom = Contamination.benchBloom(benchSh)
      val sh = org.apache.spark.sql.functions.explode(
        graft.operators.Dedup.wordShinglesCompiled(8)(col("text")))
      val windows = corpus.select(sh.as("shingle"))
      val stats = windows.agg(
        count(lit(1)).as("total"),
        sum(when(Contamination.mightContain(bloom, col("shingle")), 1L)
          .otherwise(0L)).as("cand")).head
      val selective = stats.getLong(1) > 0 &&
        stats.getLong(1) * 2 < stats.getLong(0)
      // same composition decontaminateBloom wires, reusing the ONE bloom
      // built above for the witness
      val corpusSh = corpus.select(col("doc_id"), sh.as("shingle"))
      val dirty = corpusSh
        .filter(Contamination.mightContain(bloom, col("shingle")))
        .join(benchSh, "shingle")
        .select("doc_id").distinct()
      corpus.join(dirty, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source")
        .withColumn("bloom_ok", lit(selective))
        .orderBy("doc_id")
    },

    // ---- q118: exact-substring span removal (Lee et al. 2022 shape) --
    // Doc-level dedup keeps one copy of a template page; this removes
    // the REPEATED SPANS doc-level passes can't see: any 8-token window
    // occurring ≥2 times in the corpus (across docs or within one) is
    // boilerplate, and every token it covers is cut. The oracle
    // recomputes window multiset, coverage, and the per-doc surviving
    // token sequence declaratively — clean_text must match token for
    // token, so an off-by-one in window coverage or a lost/reordered
    // surviving token breaks the hash. Plan: one gram-keyed shuffle
    // (near-unique key, skew-bounded), coverage applied row-locally via
    // higher-order functions — nothing quadratic at 100 TB.
    Q("q118_span_dedup",
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, j AS pos, array_to_string(toks[j+1:j+8], ' ') AS gram
        |  FROM (SELECT doc_id, toks,
        |        unnest(range(greatest(len(toks) - 8, 0) + 1)) AS j FROM t)),
        |dup AS (SELECT gram FROM w GROUP BY gram HAVING count(*) >= 2),
        |cov AS (
        |  SELECT DISTINCT doc_id, pos + u AS i
        |  FROM (SELECT doc_id, pos, unnest(range(8)) AS u
        |        FROM w WHERE gram IN (SELECT gram FROM dup))),
        |sel AS (
        |  SELECT doc_id, j AS i, toks[j+1] AS tok
        |  FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS j FROM t)),
        |keep AS (
        |  SELECT s.doc_id, s.i, s.tok FROM sel s
        |  LEFT JOIN cov c ON s.doc_id = c.doc_id AND s.i = c.i
        |  WHERE c.i IS NULL),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS kept,
        |    string_agg(tok, ' ' ORDER BY i) AS txt
        |  FROM keep GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  CAST(len(t.toks) - coalesce(a.kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(a.txt, '') AS clean_text
        |FROM t LEFT JOIN agg a ON t.doc_id = a.doc_id
        |ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      Dedup.removeDuplicatedSpans(T.documents(s, d), "doc_id", "text", 8)
        .orderBy("doc_id")
    },

    // ---- document chunking (fixed-token windows with overlap) ----------
    // Chunk i covers tokens [i*224, i*224+256): 256-token windows, 32
    // overlap. Row-local explode — no shuffle, chunks at scan speed.
    Q("q69_doc_chunking",
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks, unnest(range(0, len(toks), 224)) AS start
        |  FROM t)
        |SELECT doc_id, CAST(start // 224 AS BIGINT) AS chunk_id,
        |  array_to_string(toks[start+1:start+256], ' ') AS chunk_text,
        |  CAST(least(256, len(toks) - start) AS BIGINT) AS chunk_tokens
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      Chunking.chunk(T.documents(s, d), "text", chunkTokens = 256, overlap = 32)
        .select("doc_id", "chunk_id", "chunk_text", "chunk_tokens")
        .orderBy("doc_id", "chunk_id")
    },

    // ---- n-gram repetition profile (boilerplate/spam signal) -----------
    Q("q70_repetition",
      """WITH docs AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(greatest(len(toks) - 3, 0) + 1),
        |    j -> array_to_string(toks[j+1:j+3], ' '))) AS s
        |  FROM docs),
        |cnt AS (SELECT doc_id, s, count(*) AS c FROM sh GROUP BY doc_id, s)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_shingles,
        |  count(*) AS n_distinct, max(c) AS max_rep,
        |  round(1 - count(*) / CAST(sum(c) AS DOUBLE), 4) AS rep_ratio
        |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      TA.repetitionProfile(T.documents(s, d), "doc_id", "text", 3)
        .orderBy("doc_id")
    },

    // ---- PII masking (emails + long digit runs) ------------------------
    Q("q71_pii_mask",
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '[0-9]{6,}')) AS BIGINT) AS n_longnums,
        |  regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{6,}', '<NUM>', 'g') AS masked
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Scrub.mask(T.documents(s, d), "text")
        .select("doc_id", "n_emails", "n_longnums", "masked")
        .orderBy("doc_id")
    },

    // ---- corpus vocabulary (top-k tokens with ranks) --------------------
    // One partial-agg count shuffle + TakeOrdered top-k; the rank window
    // runs over only the k survivors.
    Q("q74_vocabulary",
      """WITH toks AS (
        |  SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
        |  FROM documents),
        |cnt AS (SELECT tok, count(*) AS freq FROM toks GROUP BY tok),
        |top AS (SELECT tok, freq FROM cnt ORDER BY freq DESC, tok LIMIT 500)
        |SELECT tok, freq,
        |  row_number() OVER (ORDER BY freq DESC, tok) AS token_id
        |FROM top ORDER BY token_id""".stripMargin) { (s, d) =>
      TA.vocabulary(T.documents(s, d), "text", 500)
        .orderBy("token_id")
    },

    // ---- per-doc out-of-vocabulary rate (tokenizer-fit gate) ------------
    Q("q75_oov_rate",
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
        |  FROM documents),
        |cnt AS (SELECT tok, count(*) AS freq FROM toks GROUP BY tok),
        |vocab AS (SELECT tok FROM cnt ORDER BY freq DESC, tok LIMIT 100)
        |SELECT t.doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  round(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
        |        / CAST(count(*) AS DOUBLE), 4) AS oov_rate
        |FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      val docs = T.documents(s, d)
      TA.oovRate(docs, "doc_id", "text",
          TA.vocabulary(docs, "text", 100))
        .orderBy("doc_id")
    },

    // ---- collocations (bigram lift — corpus phrase mining) -------------
    // lift = p(a,b)/(p(a)p(b)): PMI's argument without the log, so the
    // score is an IEEE mul/div chain both engines compute bit-identically.
    Q("q76_collocations",
      """WITH docs AS (
        |  SELECT string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |toks AS (SELECT unnest(toks) AS tok FROM docs),
        |bi AS (
        |  SELECT unnest(list_transform(range(len(toks) - 1),
        |    j -> array_to_string(toks[j+1:j+2], ' '))) AS bg
        |  FROM docs WHERE len(toks) >= 2),
        |uni AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
        |cab AS (SELECT bg, count(*) AS c_ab FROM bi GROUP BY bg HAVING count(*) >= 5),
        |tot AS (SELECT (SELECT count(*) FROM toks) AS nt,
        |               (SELECT count(*) FROM bi) AS nb)
        |SELECT string_split(c.bg, ' ')[1] AS a, string_split(c.bg, ' ')[2] AS b,
        |  c.c_ab,
        |  round(CAST(c.c_ab AS DOUBLE) / ua.cnt / ub.cnt * t.nt / t.nb * t.nt, 4) AS lift
        |FROM cab c
        |JOIN uni ua ON ua.tok = string_split(c.bg, ' ')[1]
        |JOIN uni ub ON ub.tok = string_split(c.bg, ' ')[2]
        |CROSS JOIN tot t
        |ORDER BY lift DESC, a, b LIMIT 50""".stripMargin) { (s, d) =>
      TA.collocations(T.documents(s, d), "text", minCount = 5L, k = 50)
    },

    // ---- token-budget sampling (per-source token cap) -------------------
    // Cut each source to ~600 tokens, docs taken in portable-hash order.
    // The Spark side computes the prefix sum TWO-PHASE over contiguous
    // hash-RANGE slices (order nests across slices, so per-slice sums
    // compose exactly); the oracle is the plain one-window formulation —
    // the hash-match IS the proof that the scale-safe plan preserves the
    // single-window semantics.
    Q("q77_token_budget",
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    CAST(len($duckToks) AS BIGINT) AS n_tokens,
         |    ${polyHashOf("CAST(doc_id AS VARCHAR)")} AS hh
         |  FROM documents)
         |SELECT doc_id, source, n_tokens FROM (
         |  SELECT doc_id, source, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY source ORDER BY hh, doc_id) AS cum
         |  FROM t)
         |WHERE cum - n_tokens < 600
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = T.documents(s, d).select(col("doc_id"), col("source"),
        TA.tokenCount(col("text")).cast("long").as("n_tokens"))
      Sampling.tokenBudget(docs, "doc_id", "n_tokens", Seq("source"),
          budget = 600, subShards = 8)
        .orderBy("doc_id")
    },

    // ---- int8 embedding quantization (row-local, portable rounding) ----
    Q("q78_quantize",
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |m AS (
        |  SELECT vec_id, e,
        |    CASE WHEN list_max(list_transform(e, x -> abs(x))) = 0 THEN 0.0
        |         ELSE 127.0 / list_max(list_transform(e, x -> abs(x))) END AS s
        |  FROM v)
        |SELECT vec_id, round(s, 6) AS scale,
        |  array_to_string(list_transform(e, x -> CAST(floor(x * s + 0.5) AS INT)), ',') AS q
        |FROM m ORDER BY vec_id""".stripMargin) { (s, d) =>
      // The graded projection joins q to a csv string: the driver's
      // pandas-based harness cannot sort/hash raw array columns
      // (CORRECTNESS_r05: "unhashable type: numpy.ndarray"). Semantics
      // unchanged — element order is positional and total.
      Similarity.quantize(T.embeddings(s, d), "embedding")
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          concat_ws(",", col("q")).as("q"))
        .orderBy("vec_id")
    },

    // ---- curriculum bucketing (exact quantiles, no global window) ------
    // ntile would serialize the corpus through one global sort task; the
    // thresholds here are ONE aggregate row broadcast back, assignment is
    // row-local. quantile_cont == Spark exact percentile (q49).
    Q("q79_curriculum",
      s"""WITH sc AS (
         |  SELECT doc_id,
         |    round(least(CAST(len($duckToks) AS DOUBLE) / 50.0, 1.0) * 0.4
         |        + least(CAST(len(list_filter($duckToks, t -> t IN $duckStops)) AS DOUBLE)
         |                / len($duckToks) / 0.05, 1.0) * 0.4
         |        + greatest(0.0, 1.0 - CAST(length(trim(text))
         |            - length(regexp_replace(trim(text), '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
         |            / length(trim(text)) * 5.0) * 0.2, 6) AS score
         |  FROM documents),
         |t AS (SELECT quantile_cont(score, [0.25, 0.5, 0.75]) AS th FROM sc)
         |SELECT doc_id, score,
         |  CASE WHEN score <= th[1] THEN 1 WHEN score <= th[2] THEN 2
         |       WHEN score <= th[3] THEN 3 ELSE 4 END AS bucket
         |FROM sc CROSS JOIN t ORDER BY doc_id""".stripMargin) { (s, d) =>
      TA.curriculum(T.documents(s, d), "text", 4)
        .select(col("doc_id"), col("score"), col("bucket"))
        .orderBy("doc_id")
    },

    // ---- token frequency spectrum (Zipf profile) ------------------------
    // Bucket = bit length of the token count: integer-exact in both
    // engines (floor(log2) rides on libm and flips at powers of two).
    Q("q80_freq_spectrum",
      s"""WITH toks AS (
         |  SELECT unnest($duckToksLower) AS tok FROM documents),
         |cnt AS (SELECT tok, count(*) AS freq FROM toks GROUP BY tok),
         |b AS (SELECT CAST(len(bin(freq)) AS BIGINT) AS bucket, freq FROM cnt)
         |SELECT bucket, count(*) AS n_tokens,
         |  CAST(sum(freq) AS BIGINT) AS n_occurrences,
         |  CAST(pow(2, bucket - 1) AS BIGINT) AS bucket_lo
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
      TA.freqSpectrum(T.documents(s, d), "text")
        .select("bucket", "n_tokens", "n_occurrences", "bucket_lo")
        .orderBy("bucket")
    },

    // ---- inverted index (bounded postings per term) ---------------------
    Q("q81_inverted_index",
      s"""WITH p0 AS (
         |  SELECT doc_id, unnest($duckToksLower) AS tok FROM documents),
         |pairs AS (SELECT DISTINCT doc_id, tok FROM p0),
         |dfq AS (SELECT tok, count(*) AS df FROM pairs GROUP BY tok),
         |post AS (
         |  SELECT tok, list(doc_id ORDER BY doc_id) AS postings FROM (
         |    SELECT tok, doc_id,
         |      row_number() OVER (PARTITION BY tok ORDER BY doc_id) AS rn
         |    FROM pairs) t
         |  WHERE rn <= 20 GROUP BY tok)
         |SELECT d.tok, d.df, array_to_string(p.postings, ',') AS postings
         |FROM dfq d JOIN post p USING (tok)
         |ORDER BY df DESC, tok LIMIT 100""".stripMargin) { (s, d) =>
      // postings rendered as csv for the same harness reason as q78.
      TA.invertedIndex(T.documents(s, d), "doc_id", "text",
          k = 100, maxPostings = 20)
        .select(col("tok"), col("df"), concat_ws(",", col("postings")).as("postings"))
        .orderBy(col("df").desc, col("tok"))
    },

    // ---- k-means document clustering (planted-blob recovery, graded) ---
    // Cluster ids are k-means-seed-specific, so raw assignments have no
    // SQL twin — instead the query grades itself (q84/q85 pattern) with
    // the spec's planted-blob recovery metric promoted to the oracle
    // surface: each embedding is displaced onto one of 8 well-separated
    // blob centers (axis `vec_id % 8` at +100, the original vector kept
    // as ×0.01 noise so the real data still perturbs the geometry), the
    // REAL kmeansAssign (bounded TakeOrdered train + broadcast-centroid
    // assign) clusters the result, and the emitted rows state what any
    // correct k-means must produce: every blob pure (1 cluster id) and
    // all 8 blobs separated (8 distinct ids). Blob sizes are exact-SQL
    // facts, so a clustering regression hash-mismatches.
    // Spec anchor retained: PipelineSpec "kmeansAssign recovers planted
    // well-separated blobs".
    Q("q82_embedding_cluster",
      """SELECT vec_id % 8 AS blob, count(*) AS n,
        |  TRUE AS pure, TRUE AS separated
        |FROM embeddings GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val planted = T.embeddings(s, d).select(col("vec_id"),
        pmod(col("vec_id"), lit(8)).as("blob"),
        transform(col("embedding").cast("array<double>"),
          (x, i) => x * lit(0.01) +
            when(i === pmod(col("vec_id"), lit(8)).cast("int"), lit(100.0))
              .otherwise(lit(0.0))).as("__pv"))
      val assigned = Similarity.kmeansAssign(planted, "vec_id", "__pv",
        k = 8, maxIter = 10)
      val joined = planted.select("vec_id", "blob").join(assigned, "vec_id")
      val separated = joined
        .agg(countDistinct(col("cluster")).as("__nsep"))
      joined.groupBy("blob")
        .agg(count(lit(1)).as("n"), countDistinct(col("cluster")).as("__nc"))
        .crossJoin(broadcast(separated))
        .select(col("blob"), col("n"), (col("__nc") === 1).as("pure"),
          (col("__nsep") === 8).as("separated"))
        .orderBy("blob")
    },

    // ---- shingle novelty (first-occurrence share per doc) ---------------
    // The incremental-crawl "new text" signal: share of a doc's distinct
    // 3-grams first seen (min doc_id) in that doc.
    Q("q83_novelty",
      s"""WITH docs AS (
         |  SELECT doc_id, $duckToksLower AS toks FROM documents),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(greatest(len(toks) - 3, 0) + 1),
         |    j -> array_to_string(toks[j+1:j+3], ' ')))) AS s
         |  FROM docs),
         |first AS (SELECT s, min(doc_id) AS fd FROM sh GROUP BY s)
         |SELECT a.doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN f.fd = a.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |  round(sum(CASE WHEN f.fd = a.doc_id THEN 1 ELSE 0 END)
         |        / CAST(count(*) AS DOUBLE), 4) AS novelty
         |FROM sh a JOIN first f ON a.s = f.s
         |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin) { (s, d) =>
      TA.noveltyProfile(T.documents(s, d), "doc_id", "text", 3)
        .orderBy("doc_id")
    },

    // ---- cross-corpus dedup (new batch vs existing snapshot) ------------
    // The incremental-crawl op: docs arriving as the "new batch"
    // (doc_id ≥ 400) survive only if no already-ingested doc (doc_id
    // < 400) clears 0.8 token-Jaccard against them.
    Q("q86_cross_dedup",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_distinct($duckToksLower)) AS tok
         |  FROM documents),
         |sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id AS na, b.doc_id AS ob, count(*) AS c
         |  FROM toks a JOIN toks b USING (tok)
         |  WHERE a.doc_id >= 400 AND b.doc_id < 400
         |  GROUP BY 1, 2),
         |dirty AS (
         |  SELECT DISTINCT na FROM common
         |  JOIN sizes sa ON na = sa.doc_id
         |  JOIN sizes sb ON ob = sb.doc_id
         |  WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8)
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id >= 400 AND doc_id NOT IN (SELECT na FROM dirty)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = T.documents(s, d)
      Dedup.crossNearDupFilter(
          docs.filter(col("doc_id") >= 400),
          docs.filter(col("doc_id") < 400),
          "doc_id", "text", 0.8)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },

    // ---- bigram LM perplexity-style scoring ------------------------------
    // Add-one-smoothed bigram model trained on the corpus, each doc
    // scored by avg -ln p(b|a). ln agrees across engines to ~1 ulp; the
    // 4-dp round on the per-doc AVERAGE has ~9 orders of magnitude of
    // slack over the accumulated drift.
    Q("q87_bigram_lm",
      s"""WITH docs AS (
         |  SELECT doc_id, $duckToksLower AS toks FROM documents),
         |pairs AS (
         |  SELECT doc_id, toks[j+1] AS a, toks[j+2] AS b
         |  FROM docs CROSS JOIN LATERAL unnest(range(len(toks) - 1)) AS t(j)
         |  WHERE len(toks) >= 2),
         |uni AS (
         |  SELECT unnest(toks) AS a FROM docs),
         |ca AS (SELECT a, count(*) AS ca FROM uni GROUP BY a),
         |cab AS (SELECT a, b, count(*) AS cab FROM pairs GROUP BY a, b),
         |v AS (SELECT count(*) AS v FROM ca)
         |SELECT p.doc_id, count(*) AS n_bigrams,
         |  round(avg(-ln((cab.cab + 1) / CAST(ca.ca + v.v AS DOUBLE))), 4)
         |    AS avg_nll
         |FROM pairs p
         |JOIN cab ON p.a = cab.a AND p.b = cab.b
         |JOIN ca ON p.a = ca.a
         |CROSS JOIN v
         |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin) { (s, d) =>
      TA.bigramLmScore(T.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    // ---- BPE merge training (tokenizer learning, graded) ----------------
    // The iterative argmax merge loop has no SQL twin (aggregation inside
    // recursion) — but its output on a KNOWN corpus is a literal the
    // oracle can state (q84/q85 pattern). The first 16 documents project
    // onto the Sennrich et al. 2016 §3.2 worked corpus (low×5, lower×2,
    // newest×6, widest×3) and training runs to exhaustion; the full
    // 15-merge sequence below is hand-derived from the (count desc, left
    // asc, right asc) rule — independent of the implementation — so a
    // tie-break or pair-count regression hash-mismatches. The real
    // distributed word-count + 40-merge training on the full corpus is
    // still graded through q89's encode side.
    // Spec anchors retained: PipelineSpec "bpeTrain learns the classic
    // merges" + the vocab-budget degradation test.
    Q("q88_bpe_merges",
      """SELECT * FROM (VALUES
        |  (1, 'e', 's', CAST(9 AS BIGINT)),
        |  (2, 'es', 't', CAST(9 AS BIGINT)),
        |  (3, 'est', '</w>', CAST(9 AS BIGINT)),
        |  (4, 'l', 'o', CAST(7 AS BIGINT)),
        |  (5, 'lo', 'w', CAST(7 AS BIGINT)),
        |  (6, 'e', 'w', CAST(6 AS BIGINT)),
        |  (7, 'ew', 'est</w>', CAST(6 AS BIGINT)),
        |  (8, 'n', 'ewest</w>', CAST(6 AS BIGINT)),
        |  (9, 'low', '</w>', CAST(5 AS BIGINT)),
        |  (10, 'd', 'est</w>', CAST(3 AS BIGINT)),
        |  (11, 'i', 'dest</w>', CAST(3 AS BIGINT)),
        |  (12, 'w', 'idest</w>', CAST(3 AS BIGINT)),
        |  (13, 'e', 'r', CAST(2 AS BIGINT)),
        |  (14, 'er', '</w>', CAST(2 AS BIGINT)),
        |  (15, 'low', 'er</w>', CAST(2 AS BIGINT))
        |) t(rank, "left", "right", pair_count) ORDER BY rank""".stripMargin) { (s, d) =>
      val sennrich = T.documents(s, d).filter(col("doc_id") < 16)
        .select(col("doc_id"),
          when(col("doc_id") < 5, "low").when(col("doc_id") < 7, "lower")
            .when(col("doc_id") < 13, "newest").otherwise("widest")
            .as("text"))
      // 20 requested; the corpus exhausts after exactly 15 merges — the
      // stop-on-empty path is part of what the literal oracle witnesses
      TA.bpeTrain(sennrich, "text", numMerges = 20)
        .orderBy("rank")
    },

    // ---- BPE encoding with the learned merges (train → apply loop) -----
    // Trains the REAL 40-merge table on the full corpus (the distributed
    // word-count shuffle + argmax loop), encodes every document with it,
    // and grades three invariants:
    //  - `roundtrip_ok` (per doc): greedy merge application must yield
    //    subwords that concatenate (with "</w>" as the word seam) back
    //    to the normalized text — an encoder that drops, duplicates, or
    //    mis-merges symbols flips it. This is encode-side only: ANY
    //    merge table segments losslessly, so alone it says nothing
    //    about training (ADVICE r8).
    //  - `n_merges` (pinned literal 40): training on the full corpus
    //    must deliver every requested merge — a truncated table (early
    //    exhaustion, a broken argmax loop returning short) mismatches.
    //  - `merges_ok` (corpus-wide verdict): every trained merge rank
    //    APPLIES at least once when the training corpus is re-encoded.
    //    Greedy lowest-rank-first application replays training in rank
    //    order on the corpus the table was learned from (merge k's
    //    operands are single chars or products of merges < k), so each
    //    rank's training-time pair_count ≥ 1 must reappear; a permuted,
    //    foreign, or wrongly-ranked table starves some rank and flips
    //    the verdict. This makes the distributed word-count/argmax path
    //    on the full corpus oracle-visible, not just PipelineSpec-
    //    visible. n_words anchors the row to the q51-graded tokenizer.
    // Spec anchor retained: PipelineSpec "bpeEncode applies learned
    // merges greedily by rank".
    Q("q89_bpe_encode",
      s"""SELECT doc_id, CAST(len($duckToks) AS BIGINT) AS n_words,
         |  TRUE AS roundtrip_ok, CAST(40 AS BIGINT) AS n_merges,
         |  TRUE AS merges_ok
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = T.documents(s, d)
      val merges = TA.bpeTrain(docs, "text", numMerges = 40)
      // The verdict aggregate and the per-doc projection are two plan
      // references to `enc`; without materialization each re-runs the
      // full-corpus encode UDF (ADVICE r9 — measured ~2× q89). AQE does
      // NOT stage-reuse the two subtrees here (probed: the crossJoin
      // dedup re-IDs the broadcast side and the stages plan apart), and
      // `persist` pins blocks in CacheManager until an unpersist this
      // rig has no post-consumption hook to issue. `localCheckpoint`
      // (eager) runs the encode ONCE, parks the result as executor-local
      // RDD blocks both consumers read, and the ContextCleaner reclaims
      // them when the plan is GC'd — single evaluation, no ownership.
      val enc = TA.bpeEncode(docs, "text", merges, rankAppsCol = "rank_apps")
        .localCheckpoint()
      // corpus-wide replay verdict: element-wise sum of the per-doc
      // rank-application arrays, then "every rank fired" as one boolean.
      // posexplode of a 40-long array per doc + one 40-group agg — noise
      // next to the training shuffle; the verdict row is a 1-row
      // broadcast (q56 pattern).
      val verdict = enc
        .select(posexplode(col("rank_apps")).as(Seq("rk", "n_apps")))
        .groupBy(col("rk")).agg(sum(col("n_apps")).as("total"))
        .agg((count(lit(1)).as("n_merges")),
          (min(col("total")) > 0L).as("merges_ok"))
      enc.select(col("doc_id"),
          TA.tokenCount(col("text")).cast("long").as("n_words"),
          (regexp_replace(lower(trim(col("text"))), "\\s+", " ") ===
            rtrim(regexp_replace(concat_ws("", col("bpe_tokens")),
              "</w>", " "))).as("roundtrip_ok"))
        .crossJoin(broadcast(verdict))
        .orderBy("doc_id")
    },

    // ---- composed prep pipeline (dedup -> quality -> per-lang cap) ----
    // Integration-level grade: three already-graded operators chained as
    // a real training-data prep flow — fingerprint dedup, quality
    // scoring with a floor, then a per-language quality-ranked cap
    // (budgeted corpus mix). Each step is individually hash-graded
    // (q22, q28, q72's window shape); this pins their COMPOSITION —
    // column plumbing, filter-before-rank ordering, deterministic
    // tiebreaks — against one end-to-end oracle. Physical shape: one
    // fingerprint shuffle, row-local scoring, one lang shuffle for the
    // rank window; nothing corpus-quadratic, no driver state.
    Q("q93_prep_pipeline",
      s"""WITH dedup AS (
         |  SELECT doc_id, lang, text FROM (
         |    SELECT doc_id, lang, text, row_number() OVER (
         |      PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
         |      ORDER BY doc_id) AS rn
         |    FROM documents) t
         |  WHERE rn = 1),
         |scored AS (
         |  SELECT doc_id, lang,
         |    round(least(n_tokens / 50.0, 1.0) * 0.4
         |        + least(stop_ratio / 0.05, 1.0) * 0.4
         |        + greatest(0.0, 1.0 - punct_ratio * 5.0) * 0.2, 6) AS quality
         |  FROM (
         |    SELECT doc_id, lang,
         |      CAST(len($duckToks) AS DOUBLE) AS n_tokens,
         |      CASE WHEN len($duckToks) = 0 THEN 0.0 ELSE
         |        CAST(len(list_filter($duckToks, t -> t IN $duckStops)) AS DOUBLE)
         |          / len($duckToks) END AS stop_ratio,
         |      CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE
         |        CAST(length(trim(text))
         |           - length(regexp_replace(trim(text), '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
         |          / length(trim(text)) END AS punct_ratio
         |    FROM dedup) t),
         |kept AS (SELECT * FROM scored WHERE quality >= 0.5),
         |ranked AS (
         |  SELECT doc_id, lang, quality, row_number() OVER (
         |    PARTITION BY lang ORDER BY quality DESC, doc_id) AS rn
         |  FROM kept)
         |SELECT doc_id, lang, quality FROM ranked
         |WHERE rn <= 50 ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val deduped = Dedup.byFingerprint(T.documents(s, d), "text", "doc_id")
      val kept = deduped
        .withColumn("quality", TA.qualityScore(col("text")))
        .filter(col("quality") >= 0.5)
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("quality").desc, col("doc_id"))
      kept.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 50)
        .select(col("doc_id"), col("lang"), col("quality"))
        .orderBy("doc_id")
    },

    // ---- per-label embedding stats (norms via higher-order funcs) ----
    Q("q34_embedding_stats",
      """SELECT label, count(*) AS n,
        |  round(avg(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                                  CAST(embedding AS DOUBLE[])))), 4) AS avg_norm
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
      T.embeddings(s, d)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          round(avg(Similarity.norm(col("embedding"))), 4).as("avg_norm"))
        .orderBy("label")
    },

    // ---- q128: SemDeDup — semantic dedup with k-means blocking ---------
    // The LLM-corpus dedup from Abbas et al. 2023: bin embeddings into
    // coarse k-means cells, pair-test ONLY within a cell (one equi-join
    // shuffle on the cluster id; pair space n²/(2k) instead of n²/2),
    // same cosine closure downstream. Graded like q64: rows are the
    // EXACT-kept set (q60's recursive-CTE oracle), `sem_kept` witnesses
    // the containment law per row (within-cluster edges ⊆ exact edges ⇒
    // components only refine ⇒ an exact-canonical row can never be
    // sem-dropped — true for ANY clustering, so centroid jitter can't
    // flip it), and `power_ok` witnesses recall — of the rows the exact
    // path removes, the blocked path removes ≥ 50%. Hard top-1
    // assignment measured 0.30-0.65 on this corpus (boundary-split
    // pairs); the graded config is SOFT 2-probe assignment at k=8
    // (each row in its two nearest cells — the IVF multiprobe trick),
    // measured 0.79 at sf0.1 / 0.90 at sf0.01.
    Q("q128_semdedup",
      """WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])) >= 0.4),
        |edges AS (
        |  SELECT id_a AS x, id_b AS y FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |comp AS (
        |  SELECT vec_id AS id, vec_id AS m FROM embeddings
        |  UNION
        |  SELECT e.x, c.m FROM edges e JOIN comp c ON c.id = e.y),
        |canon AS (SELECT id, min(m) AS canonical FROM comp GROUP BY id)
        |SELECT emb.vec_id, emb.label, TRUE AS sem_kept, TRUE AS power_ok,
        |  TRUE AS cell_ok
        |FROM embeddings emb
        |JOIN canon c ON emb.vec_id = c.id
        |WHERE c.canonical = emb.vec_id ORDER BY emb.vec_id""".stripMargin) { (s, d) =>
      val emb = T.embeddings(s, d)
      val keptExact = Dedup.cosineDedup(emb, "vec_id", "embedding", 0.4)
        .select("vec_id", "label")
      // k derives from the corpus (n / targetCellRows — the r12 auto-k:
      // pair work scales linearly once k tracks n) and the worst cell
      // is row-capped with counted drops, like every LSH path
      val keptSem = Dedup.semDedup(emb, "vec_id", "embedding", 0.4,
          probes = 2)
        .select(col("vec_id").as("__sem_id"))
      val power = emb.agg(count(lit(1)).as("__n")).crossJoin(
          keptExact.agg(count(lit(1)).as("__ne"))).crossJoin(
          keptSem.agg(count(lit(1)).as("__ns")))
        .select((col("__n") === col("__ne") ||
          (col("__n") - col("__ns")).cast("double") /
            (col("__n") - col("__ne")) >= 0.5).as("power_ok"))
      // max-cell-pairs witness: re-derive the SAME seeded soft
      // assignment at the auto k (centroids come from the session
      // cache — no retraining) and bound the worst cell's population
      // by the cap, so no cell's pair quadratic can exceed cap²/2;
      // enforcement under degenerate collapse is PipelineSpec's pin.
      // In-plan (one crossJoined scalar), so the whole grade stays a
      // single action.
      val kAuto = Dedup.semDedupAutoK(emb.count())
      val cap = Dedup.semDedupCellCap()
      val cells = graft.operators.Similarity
        .kmeansAssignN(emb, "vec_id", "embedding", kAuto, math.min(2, kAuto))
        .select(explode(col("clusters")).as("cluster"))
        .groupBy("cluster").count()
        .agg((max(col("count")) <= cap).as("cell_ok"))
      keptExact
        .join(keptSem, col("vec_id") === col("__sem_id"), "left")
        .crossJoin(broadcast(power))
        .crossJoin(broadcast(cells))
        .select(col("vec_id"), col("label"),
          col("__sem_id").isNotNull.as("sem_kept"), col("power_ok"),
          col("cell_ok"))
        .orderBy("vec_id")
    },

    // ---- q125: heavy hitters via a NATIVE Misra-Gries aggregate --------
    // Which tokens exceed 1/(cap+1) of the whole corpus? The 100 TB
    // shape: a full GROUP BY shuffles every distinct token; the
    // MisraGries TypedImperativeAggregate instead summarizes each task
    // into <= 32 counters (partials serialize into the shuffle, merges
    // compose with the mergeable-summaries bound), and ONLY the <= 32
    // candidate keys — a guaranteed superset of the true hitters — are
    // exactly re-counted through a broadcast semi-join, so the
    // verification shuffle carries 32 groups, not the vocabulary. The
    // hash grade against DuckDB's exact HAVING proves the sketch
    // dropped no hitter and the verification dropped every false
    // candidate; the witness pins that the candidate set really was
    // sketch-sized.
    Q("q125_heavy_hitters",
      """WITH toks AS (
        |  SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
        |  FROM documents),
        |tot AS (SELECT count(*) AS n FROM toks),
        |cnt AS (SELECT tok, count(*) AS freq FROM toks GROUP BY tok)
        |SELECT c.tok, c.freq, TRUE AS mg_ok
        |FROM cnt c, tot t WHERE c.freq * 33 > t.n
        |ORDER BY c.tok""".stripMargin) { (s, d) =>
      val cap = 32
      val toks = T.documents(s, d)
        .select(explode(TA.tokensLower(col("text"))).as("tok"))
      val cand = toks
        .agg(graft.functions.MisraGries.sketch(col("tok"), cap).as("sk"))
        .select(explode(col("sk")).as("kv"))
        .select(col("kv.key").as("tok"))
      val total = toks.agg(count(lit(1)).as("n"))
      val nCand = cand.count()
      val verified = toks
        .join(broadcast(cand), Seq("tok"), "left_semi")
        .groupBy("tok").agg(count(lit(1)).as("freq"))
        .crossJoin(broadcast(total))
        .filter(col("freq") * (cap + 1) > col("n"))
      verified.select(col("tok"), col("freq"),
          lit(nCand <= cap).as("mg_ok"))
        .orderBy("tok")
    },

    // ---- q162: BM25 top-k retrieval -----------------------------------
    // The relevance-mining pass of a training-data pipeline: pull the
    // k most query-relevant documents from the corpus by Okapi BM25.
    // Scale posture (see TextAnalysis.bm25TopK): dl is row-local, the
    // only keyed shuffle carries (doc, query-term) HITS (prefiltered
    // before aggregation), df/N/avgdl broadcast, top-k is TakeOrdered.
    // The oracle replays the exact formula (same ln(1+…) idf, same
    // k1/b, same 6-place rounding before the deterministic cut).
    Q("q162_bm25",
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |d AS (SELECT doc_id, len(toks) * 1.0 AS dl FROM t),
        |st AS (SELECT count(*) * 1.0 AS n, avg(dl) AS avgdl FROM d),
        |hits AS (
        |  SELECT doc_id, unnest(toks) AS tok FROM t)
        |, fh AS (SELECT doc_id, tok FROM hits WHERE tok IN ('spark', 'join', 'vector')),
        |tf AS (SELECT doc_id, tok, count(*) * 1.0 AS tf FROM fh GROUP BY 1, 2),
        |dfq AS (SELECT tok, count(DISTINCT doc_id) * 1.0 AS df FROM fh GROUP BY 1),
        |scored AS (
        |  SELECT tf.doc_id,
        |    ln((st.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0) *
        |      (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * d.dl / st.avgdl)) AS s
        |  FROM tf JOIN dfq USING (tok) JOIN d ON tf.doc_id = d.doc_id
        |  CROSS JOIN st)
        |SELECT doc_id, round(sum(s), 6) AS bm25
        |FROM scored GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id LIMIT 25""".stripMargin) { (s, d) =>
      TA.bm25TopK(T.documents(s, d), "doc_id", "text",
        Seq("spark", "join", "vector"), k = 25)
    })

  def queries: Seq[Q] = ql
}
