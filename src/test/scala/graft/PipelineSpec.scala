package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Contamination, Dedup, Packing, Sampling, Similarity}

/** Differential tests for the approximate operators against their exact
  * counterparts — the check the DuckDB oracle can't express for
  * hash-randomized algorithms (this is q32's correctness story, and the
  * recall floor for the LSH candidate paths).
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("lshTopK multiprobe hits the exact top-1 neighbor (recall ≥ 0.85 at nprobe=4)") {
    // Measured curve on this 500×64-dim near-random corpus (16 queries,
    // so granularity is 1/16): nprobe 1→0.69, 3→0.75, 4→0.875, 6→0.94,
    // 12→1.0. The floor is pinned one step past the 0.85 crossing.
    val emb = T.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 16)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def recallAt(nprobe: Int): Double = {
      val approx = Similarity.lshTopK(emb, queries, "vec_id", "embedding", 1,
          nprobe = nprobe)
        .select("query_id", "neighbor_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      exact.count { case (q, n) => approx.get(q).contains(n) }.toDouble / exact.size
    }
    val r1 = recallAt(1)
    val r4 = recallAt(4)
    assert(r1 >= 0.6, s"top-1 recall at nprobe=1: $r1")
    assert(r4 >= 0.85, s"top-1 recall at nprobe=4: $r4")
    assert(r4 >= r1, s"multiprobe must not lose recall ($r4 vs $r1)")
  }

  test("lshTopK at nprobe=1 returns exactly the plain-signature banding result") {
    val emb = T.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 16)
    // nprobe=1 must be a pure refactor of the original single-bucket
    // probe: same candidates, same ranks
    val a = Similarity.lshTopK(emb, queries, "vec_id", "embedding", 3)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val b = Similarity.lshTopK(emb, queries, "vec_id", "embedding", 3, nprobe = 1)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(a === b)
  }

  test("ivfTopK hits the exact top-1 neighbor (recall ≥ 0.85 at nprobe=3)") {
    val emb = T.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 16)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // nlist ~ sqrt(n)/3 for this 500-vector corpus
    val approx = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 1,
        nlist = 8, nprobe = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = exact.count { case (q, n) => approx.get(q).contains(n) }
    assert(hits.toDouble / exact.size >= 0.85,
      s"IVF top-1 recall ${hits.toDouble / exact.size} ($hits/${exact.size})")
  }

  test("ivfTopK caches the quantizer: second invocation runs fewer jobs, same result") {
    val emb = T.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 8)
    def runCountingJobs(group: String,
        maxTrainRows: Int = 100000): (Int, Array[(Long, Long, Int)]) = {
      val sc = spark.sparkContext
      sc.setJobGroup(group, group)
      val rows =
        try Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 5,
            nlist = 4, nprobe = 2, maxTrainRows = maxTrainRows)
          .orderBy("query_id", "rank")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
        finally sc.clearJobGroup()
      // the status store fills asynchronously — poll until stable
      def count() = sc.statusTracker.getJobIdsForGroup(group).length
      var last = -1
      var cur = count()
      while (cur != last) { Thread.sleep(200); last = cur; cur = count() }
      (cur, rows)
    }
    val (jobs1, rows1) = runCountingJobs("ivf-first")
    val (jobs2, rows2) = runCountingJobs("ivf-second")
    assert(rows1 === rows2)
    assert(jobs2 < jobs1,
      s"cached invocation should skip the k-means training jobs ($jobs2 vs $jobs1)")
    // a smaller training sample trains different centroids: it must not
    // be served the quantizer cached for the full sample
    val (jobs3, _) = runCountingJobs("ivf-third", maxTrainRows = 100)
    assert(jobs3 > jobs2,
      s"a call differing only in maxTrainRows must train ($jobs3 vs $jobs2)")
  }

  test("ivfTopK's answer does not depend on the corpus's partitioning") {
    val emb = T.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 16)
    val answers = Seq(1, 3, 7, 13).map { p =>
      Similarity.ivfTopK(emb.repartition(p), queries, "vec_id", "embedding",
          5, nlist = 8, nprobe = 3)
        .orderBy("query_id", "rank").collect().toSeq
    }
    assert(answers.forall(_.nonEmpty))
    val distinct = answers.distinct.size
    assert(distinct == 1,
      s"$distinct distinct answers over 1, 3, 7 and 13 partitions")
  }

  test("IvfIndex: persisted index serves a fresh connector with zero training, matches ivf math") {
    import graft.operators.IvfIndex
    import graft.warehouse.Connector
    val whDir = java.nio.file.Files.createTempDirectory("graft-ivfidx-").toString
    val emb = T.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 8)
    val c1 = new Connector(spark, whDir)
    c1.createTable("emb", emb)
    IvfIndex.build(c1, "emb", "vec_id", "embedding", nlist = 8)
    val r1 = IvfIndex.topK(c1, "emb", queries, "vec_id", "embedding", 5,
        nprobe = 3).orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    // a brand-NEW connector over the same warehouse (the cross-JVM
    // shape): answers identically from the persisted artifacts, trains
    // nothing
    val t0 = IvfIndex.trainings.get()
    val c2 = new Connector(spark, whDir)
    val r2 = IvfIndex.topK(c2, "emb", queries, "vec_id", "embedding", 5,
        nprobe = 3).orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(r1 === r2)
    assert(IvfIndex.trainings.get() == t0, "persisted query must not train")
    // staleness: a corpus commit flips fresh() and topK refuses
    c2.insert("emb", emb.limit(1))
    assert(!IvfIndex.fresh(c2, "emb"))
    intercept[IllegalArgumentException] {
      IvfIndex.topK(c2, "emb", queries, "vec_id", "embedding", 5)
    }
    // append-only refresh: a NEW vector equal to query 0's embedding
    // must be served as its top-1 neighbor straight from the delta
    // assignment — no retraining happened to find it
    val twin = emb.filter(col("vec_id") === 0L)
      .withColumn("vec_id", org.apache.spark.sql.functions.lit(99999L))
    c2.insert("emb", twin)
    val t1 = IvfIndex.trainings.get()
    assert(IvfIndex.refresh(c2, "emb", "vec_id", "embedding", nlist = 8)
      == "incremental")
    assert(IvfIndex.trainings.get() == t1)
    val top1 = IvfIndex.topK(c2, "emb",
        emb.filter(col("vec_id") === 0L), "vec_id", "embedding", 1,
        nprobe = 3)
      .select("neighbor_id").collect().head.getLong(0)
    assert(top1 == 99999L, s"delta twin must be query 0's top-1, got $top1")
  }

  test("IvfIndex.refresh is idempotent across a crash between delta append and re-stamp") {
    import graft.operators.IvfIndex
    import graft.warehouse.Connector
    val whDir = java.nio.file.Files.createTempDirectory("graft-ivfidem-").toString
    val emb = T.embeddings(spark, sf)
    val c = new Connector(spark, whDir)
    c.createTable("emb", emb)
    IvfIndex.build(c, "emb", "vec_id", "embedding", nlist = 8)
    val stamp1 = IvfIndex.stamp(c, "emb").get
    // append-only drift, then a clean incremental refresh
    c.insert("emb", emb.filter(col("vec_id") < 10)
      .withColumn("vec_id", col("vec_id") + 1000000L))
    assert(IvfIndex.refresh(c, "emb", "vec_id", "embedding", nlist = 8)
      == "incremental")
    val at = c.loadTable(IvfIndex.assignTable("emb"))
    val n1 = at.read().count()
    // simulate the crash: rewind the centroid STAMP to its pre-refresh
    // value — exactly the on-disk state a crash between the delta
    // append and the re-stamp leaves behind (delta landed, stamp stale)
    val ct = c.loadTable(IvfIndex.centroidsTable("emb"))
    ct.replace(ct.read(), properties = Map(
      IvfIndex.StampKey -> stamp1._1.toString,
      IvfIndex.NlistKey -> "8", IvfIndex.VecColKey -> "embedding"))
    // the retry must re-stamp WITHOUT appending the same delta again
    assert(IvfIndex.refresh(c, "emb", "vec_id", "embedding", nlist = 8)
      == "incremental")
    assert(c.loadTable(IvfIndex.assignTable("emb")).read().count() == n1,
      "crash-retry refresh duplicated assignment rows")
    assert(IvfIndex.fresh(c, "emb"))
    // one assignment row per corpus vector — the no-duplicates invariant
    assert(n1 == c.loadTable("emb").read()
      .filter(col("embedding").isNotNull).count())
  }

  test("IvfIndex.refresh rebuilds on centroid/assignment geometry mismatch") {
    import graft.operators.IvfIndex
    import graft.warehouse.Connector
    val whDir = java.nio.file.Files.createTempDirectory("graft-ivffp-").toString
    val emb = T.embeddings(spark, sf)
    val c = new Connector(spark, whDir)
    c.createTable("emb", emb)
    IvfIndex.build(c, "emb", "vec_id", "embedding", nlist = 8)
    val st = IvfIndex.stamp(c, "emb").get
    // simulate a build() crash BETWEEN its assignment commit and its
    // centroid replace: the assignments were bucketed by NEW centroids
    // (assigned_through == head, new fingerprint) while the centroid
    // table still holds OLD geometry under the old stamp. On-disk we
    // reproduce the inverse, equivalent state: perturb the centroid
    // CONTENT while re-stating the stamp — content fingerprint no
    // longer matches the assignment commit's recorded fingerprint.
    val ct = c.loadTable(IvfIndex.centroidsTable("emb"))
    val perturbed = ct.read().withColumn("centroid",
      org.apache.spark.sql.functions.expr(
        "transform(centroid, x -> x * 0.5 + 0.01)"))
    ct.replace(perturbed, properties = Map(
      IvfIndex.StampKey -> st._1.toString,
      IvfIndex.NlistKey -> "8", IvfIndex.VecColKey -> "embedding",
      IvfIndex.CentFpKey -> "stale-geometry"))
    // drift the corpus so refresh takes the append-only path, where
    // the pre-r17 skip logic would have silently blessed the mismatch
    c.insert("emb", emb.limit(3)
      .withColumn("vec_id", col("vec_id") + 2000000L))
    val t0 = IvfIndex.trainings.get()
    assert(IvfIndex.refresh(c, "emb", "vec_id", "embedding", nlist = 8)
      == "rebuild",
      "mismatched geometry must degrade to rebuild, not re-stamp")
    assert(IvfIndex.trainings.get() == t0 + 1, "rebuild must retrain")
    assert(IvfIndex.fresh(c, "emb"))
    // post-rebuild invariant: one assignment row per corpus vector
    assert(c.loadTable(IvfIndex.assignTable("emb")).read().count() ==
      c.loadTable("emb").read()
        .filter(col("embedding").isNotNull).count())
  }

  test("IvfIndex: interrupted rebuild at an UNCHANGED head refuses/rebuilds, never serves") {
    import graft.operators.IvfIndex
    import graft.warehouse.Connector
    val whDir = java.nio.file.Files.createTempDirectory("graft-ivfint-").toString
    val emb = T.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 4)
    val c = new Connector(spark, whDir)
    c.createTable("emb", emb)
    IvfIndex.build(c, "emb", "vec_id", "embedding", nlist = 8)
    val st = IvfIndex.stamp(c, "emb").get
    // build() is idempotent per head: a RE-RUN at the same corpus head
    // that crashes between its assignment commit and centroid replace
    // leaves fp_new assignments under a stamp still reading fp_old —
    // with s == head, so the r16 incremental-arm parity check never
    // runs. Reproduce the inverse on-disk state: perturb the centroid
    // CONTENT under a re-stated same-head stamp.
    val ct = c.loadTable(IvfIndex.centroidsTable("emb"))
    ct.replace(ct.read().withColumn("centroid",
      org.apache.spark.sql.functions.expr(
        "transform(centroid, x -> x * 0.9 + 0.02)")),
      properties = Map(
        IvfIndex.StampKey -> st._1.toString,
        IvfIndex.NlistKey -> "8", IvfIndex.VecColKey -> "embedding",
        IvfIndex.CentFpKey -> "old-geometry"))
    assert(!IvfIndex.fresh(c, "emb"),
      "fresh() must see the assignment/centroid geometry mismatch")
    val e = intercept[IllegalArgumentException] {
      IvfIndex.topK(c, "emb", queries, "vec_id", "embedding", 3) }
    assert(e.getMessage.contains("INCONSISTENT"))
    // refresh at the UNCHANGED head must rebuild, not return "fresh"
    val t0 = IvfIndex.trainings.get()
    assert(IvfIndex.refresh(c, "emb", "vec_id", "embedding", nlist = 8)
      == "rebuild")
    assert(IvfIndex.trainings.get() == t0 + 1)
    assert(IvfIndex.fresh(c, "emb"))
  }

  test("IvfIndex.refresh treats corpus TBLPROPERTIES commits as no-ops, not retrains") {
    import graft.operators.IvfIndex
    import graft.warehouse.Connector
    val whDir = java.nio.file.Files.createTempDirectory("graft-ivfpr-").toString
    val emb = T.embeddings(spark, sf)
    val c = new Connector(spark, whDir)
    c.createTable("emb", emb)
    IvfIndex.build(c, "emb", "vec_id", "embedding", nlist = 8)
    // a metadata-only properties commit changes no row — refreshing
    // must catch up WITHOUT retraining (O(corpus) kmeans for a
    // property edit would make properties unusable on indexed corpora)
    c.sql("ALTER TABLE emb SET TBLPROPERTIES ('team'='ml')")
    val t0 = IvfIndex.trainings.get()
    assert(IvfIndex.refresh(c, "emb", "vec_id", "embedding", nlist = 8)
      == "incremental")
    assert(IvfIndex.trainings.get() == t0, "properties commit retrained")
    assert(IvfIndex.fresh(c, "emb"))
    // and the index still answers
    IvfIndex.topK(c, "emb", emb.filter(col("vec_id") < 2),
      "vec_id", "embedding", 3).collect()
  }

  test("IvfIndex stamp survives a stampless commit on the artifact table") {
    import graft.operators.IvfIndex
    import graft.warehouse.Connector
    val whDir = java.nio.file.Files.createTempDirectory("graft-ivfsl-").toString
    val emb = T.embeddings(spark, sf)
    val c = new Connector(spark, whDir)
    c.createTable("emb", emb)
    IvfIndex.build(c, "emb", "vec_id", "embedding", nlist = 8)
    val st0 = IvfIndex.stamp(c, "emb")
    assert(st0.isDefined)
    // a stray property edit routed at the centroid table lands a
    // commit WITHOUT the stamp keys — stamp() must walk back to the
    // latest STAMPED commit, not read `.last` raw and silently
    // degrade every refresh to a full retrain
    c.sql(s"ALTER TABLE ${IvfIndex.centroidsTable("emb")} " +
      "SET TBLPROPERTIES ('note'='stray')")
    assert(IvfIndex.stamp(c, "emb") == st0,
      "stampless artifact commit erased the stamp")
    assert(IvfIndex.fresh(c, "emb"))
    val t0 = IvfIndex.trainings.get()
    assert(IvfIndex.refresh(c, "emb", "vec_id", "embedding", nlist = 8)
      == "fresh")
    assert(IvfIndex.trainings.get() == t0,
      "stampless artifact commit caused a retrain")
  }

  test("drop/rename cascade spares same-named tables that are not provable artifacts") {
    import graft.operators.IvfIndex
    import graft.warehouse.Connector
    import spark.implicits._
    val whDir = java.nio.file.Files.createTempDirectory("graft-ivfcg-").toString
    val emb = T.embeddings(spark, sf)
    val c = new Connector(spark, whDir)
    // a USER table that merely spells the artifact name (no graft.ivf
    // stamp) must survive its same-prefixed neighbor's drop
    c.createTable("emb2", emb)
    c.createTable(IvfIndex.centroidsTable("emb2"),
      Seq((1L, "user data")).toDF("id", "v"))
    c.dropTable("emb2")
    assert(c.tableExists(IvfIndex.centroidsTable("emb2")),
      "user table spelling the artifact name was cascade-dropped")
    // ... and must stay PUT on a rename of the neighbor
    c.createTable("emb3", emb)
    c.createTable(IvfIndex.assignTable("emb3"),
      Seq((2L, "user data")).toDF("id", "v"))
    c.renameTable("emb3", "emb4")
    assert(c.tableExists(IvfIndex.assignTable("emb3")) &&
      !c.tableExists(IvfIndex.assignTable("emb4")),
      "user table spelling the artifact name was cascade-renamed")
    // REAL artifacts (stamped, matching create-lineage uuid) cascade
    c.createTable("emb5", emb)
    IvfIndex.build(c, "emb5", "vec_id", "embedding", nlist = 8)
    assert(c.tableExists(IvfIndex.centroidsTable("emb5")))
    c.dropTable("emb5")
    assert(!c.tableExists(IvfIndex.centroidsTable("emb5")) &&
      !c.tableExists(IvfIndex.assignTable("emb5")),
      "real index artifacts must die with their corpus")
  }

  test("IvfIndex follows a corpus RENAME; a recreated corpus can never adopt a stale index") {
    import graft.operators.IvfIndex
    import graft.warehouse.Connector
    val whDir = java.nio.file.Files.createTempDirectory("graft-ivfrn-").toString
    val emb = T.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 4)
    val c = new Connector(spark, whDir)
    c.createTable("emb", emb)
    IvfIndex.build(c, "emb", "vec_id", "embedding", nlist = 8)
    val r1 = IvfIndex.topK(c, "emb", queries, "vec_id", "embedding", 3,
        nprobe = 3).orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    // RENAME: the index artifacts move with their corpus and keep
    // serving under the new name — zero training, identical answers
    val t0 = IvfIndex.trainings.get()
    c.sql("ALTER TABLE emb RENAME TO corpus")
    assert(c.tables.toSet ==
      Set("corpus", "corpus__ivf_centroids", "corpus__ivf_assign"))
    assert(IvfIndex.fresh(c, "corpus"))
    val r2 = IvfIndex.topK(c, "corpus", queries, "vec_id", "embedding", 3,
        nprobe = 3).orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(r1 === r2)
    assert(IvfIndex.trainings.get() == t0)
    // ADOPTION GUARD: rename the corpus back out of the way, then park
    // stale artifacts at a NEW table's name. The new table's head (1)
    // EQUALS the stale stamp — the snapshot-id check alone would pass.
    // The create-lineage uuid refuses both serve and skip paths.
    c.renameTable("corpus__ivf_centroids", "fresh__ivf_centroids")
    c.renameTable("corpus__ivf_assign", "fresh__ivf_assign")
    c.createTable("fresh", emb)
    assert(IvfIndex.stamp(c, "fresh").exists(st =>
      c.loadTable("fresh").currentSnapshotId.contains(st._1)),
      "rig must reproduce the id-collision the uuid exists to catch")
    assert(!IvfIndex.fresh(c, "fresh"))
    val e = intercept[IllegalArgumentException] {
      IvfIndex.topK(c, "fresh", queries, "vec_id", "embedding", 3) }
    assert(e.getMessage.contains("ORPHANED"))
    // refresh on the orphaned pair REBUILDS rather than skipping
    val t1 = IvfIndex.trainings.get()
    assert(IvfIndex.refresh(c, "fresh", "vec_id", "embedding", nlist = 8)
      == "rebuild")
    assert(IvfIndex.trainings.get() == t1 + 1)
    assert(IvfIndex.fresh(c, "fresh"))
    IvfIndex.topK(c, "fresh", queries, "vec_id", "embedding", 3).collect()
  }

  test("minhash signature cache persists one relation, reused across calls and variants") {
    // a corpus plan UNIQUE to this test: the cache is session-lifetime
    // and other suites share the session, so asserting persist counts
    // on the bare documents table would be suite-order-dependent
    val docs = T.documents(spark, sf).filter(col("doc_id") % 97 =!= 13)
    val before = spark.sparkContext.getPersistentRDDs.size
    val sig1 = Dedup.minhashSignaturesPoly(docs, "doc_id", "text")
    val sig2 = Dedup.minhashSignaturesPoly(docs, "doc_id", "text")
    // same (plan, params) → the SAME cached DataFrame, not a second persist
    assert(sig1 eq sig2)
    sig1.count()
    val afterPoly = spark.sparkContext.getPersistentRDDs.size
    assert(afterPoly == before + 1,
      s"one persisted signature relation expected (before=$before after=$afterPoly)")
    // different params → their own cache entry (params are part of the key)
    val sig32 = Dedup.minhashSignaturesPoly(docs, "doc_id", "text", numHashes = 32)
    assert(!(sig32 eq sig1))
    assert(sig32.first().getSeq[Long](1).length === 32)
    assert(Dedup.minhashSignaturesPoly(docs, "doc_id", "text", numHashes = 32) eq sig32)
    // candidates ride the cached signatures and still compute correctly
    val pairs = Dedup.minhashCandidatesPoly(docs, "doc_id", "text", threshold = 0.4)
    assert(pairs.count() >= 0)
  }

  test("compiled hyperplane signature is bit-identical to the expression formulation") {
    val emb = T.embeddings(spark, sf).limit(100)
    val viaHof = emb.select(col("vec_id"),
        Similarity.hyperplaneSignature(col("embedding").cast("array<double>"), 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // lshTopK's banded() computes the compiled form internally; rebuild
    // the same value via the public hyperplane() coefficients
    val viaCompiled = emb.select("vec_id", "embedding").collect().map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble)
      var sig = 0L
      for (b <- 0 until 16) {
        var s = 0.0
        for (d <- v.indices) s += v(d) * Similarity.hyperplane(d, b)
        if (s > 0) sig |= (1L << b)
      }
      r.getLong(0) -> sig
    }.toMap
    assert(viaCompiled === viaHof)
  }

  test("cosineNearDupPairs is a subset of the exact pairs with decent recall") {
    val emb = T.embeddings(spark, sf)
    val exact = Similarity.exactCosinePairs(emb, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH pairs must verify exactly (no false positives)")
    if (exact.nonEmpty)
      assert(lsh.size.toDouble / exact.size >= 0.5,
        s"recall ${lsh.size.toDouble / exact.size}")
  }

  test("bitmask Jaccard paths respect the doc-count cap (strategy keys on docs too)") {
    val docs = T.documents(spark, sf).limit(40)
    val before = Dedup.bitmaskDocCap
    try {
      // char trigrams on this corpus → small vocab → bitmask normally
      Dedup.bitmaskDocCap = 65536L
      val masked = Dedup.charNgramJaccard(docs, "doc_id", "text", 3, 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val chosen = Dedup.lastJaccardStrategy.get()
      assert(chosen.startsWith("bitmask"), s"expected a bitmask path, got $chosen")
      // over the cap: same corpus must take the prefix plan — and agree
      Dedup.bitmaskDocCap = 10L
      val prefixed = Dedup.charNgramJaccard(docs, "doc_id", "text", 3, 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(Dedup.lastJaccardStrategy.get() === "prefix")
      assert(prefixed === masked, "strategies must be result-identical")
    } finally Dedup.bitmaskDocCap = before
  }

  test("edge cases: empty-vocabulary Jaccard and an id column literally named 'id'") {
    val spark2 = spark
    import spark2.implicits._
    // all texts shorter than the n-gram → empty vocabulary, empty result
    val tiny = Seq((1L, "ab"), (2L, "x"), (3L, "")).toDF("doc_id", "text")
    assert(Dedup.charNgramJaccard(tiny, "doc_id", "text", n = 3).count() === 0)
    // dedup with idCol named "id" must not hit an ambiguous reference
    val emb = T.embeddings(spark, sf).withColumnRenamed("vec_id", "id").limit(50)
    val kept = Dedup.cosineDedup(emb, "id", "embedding", threshold = 0.95)
    assert(kept.columns.toSeq === Seq("id", "embedding", "label"))
    assert(kept.count() > 0)
  }

  test("minhash estimate tracks true word-shingle Jaccard within 0.25") {
    val docs = T.documents(spark, sf).limit(120)
    val est = Dedup.minhashCandidatesPoly(docs, "doc_id", "text", threshold = 0.4)
      .withColumnRenamed("est_jaccard", "est")
    // true Jaccard over the same 3-word shingles, via the compiled sets
    val sh = docs.select(col("doc_id").as("id"),
      array_sort(Dedup.wordShinglesCompiled(3)(col("text"))).as("toks"))
    val truth = est.select("id_a", "id_b", "est")
      .join(sh.select(col("id").as("id_a"), col("toks").as("ta")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("toks").as("tb")), "id_b")
      .withColumn("common", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("truth", col("common").cast("double") /
        (size(col("ta")) + size(col("tb")) - col("common")))
    val bad = truth.filter(abs(col("est") - col("truth")) > 0.25)
    assert(bad.isEmpty, s"estimates off by >0.25:\n${bad.collect().mkString("\n")}")
  }

  test("cosineDedup drops planted duplicate embeddings, keeps their canonical twins") {
    val emb = T.embeddings(spark, sf)
    val dups = emb.limit(5).withColumn("vec_id", col("vec_id") + 1000000)
    val withDups = emb.unionByName(dups)
    val kept = Dedup.cosineDedup(withDups, "vec_id", "embedding", threshold = 0.95)
    val keptIds = kept.select("vec_id").collect().map(_.getLong(0)).toSet
    // every planted dup (identical vector, higher id) must be gone
    assert(dups.select("vec_id").collect().map(_.getLong(0)).forall(!keptIds.contains(_)))
    // exactly one survivor per cosine-connected cluster
    val nComponents = Dedup.components(withDups, "vec_id",
        Similarity.exactCosinePairs(withDups, "vec_id", "embedding", 0.95))
      .select("canonical_id").distinct().count()
    assert(keptIds.size.toLong === nComponents)
    // LSH-sourced mode must also drop identical twins (sim 1.0 is
    // always bucketed together)
    val lshKept = Dedup.cosineDedup(withDups, "vec_id", "embedding",
      threshold = 0.95, exact = false)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(dups.select("vec_id").collect().map(_.getLong(0)).forall(!lshKept.contains(_)))
  }

  test("q64 LSH cosine dedup: exact-kept ⊆ lsh-kept, and dedup power holds up") {
    val emb = T.embeddings(spark, sf)
    val all = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    val keptExact = Dedup.cosineDedup(emb, "vec_id", "embedding", 0.4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val keptLsh = Dedup.cosineDedup(emb, "vec_id", "embedding", 0.4, exact = false)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // containment law: LSH edges ⊆ exact edges, so each exact component's
    // min id is also the min of its LSH sub-component — exact-kept rows
    // can never be dropped by the LSH path
    assert(keptExact.subsetOf(keptLsh))
    // dedup-power recall: of the rows the exact path removes, the LSH
    // path must remove most (the quantity that matters at 100 TB)
    val droppedExact = all -- keptExact
    val droppedLsh = all -- keptLsh
    assert(droppedLsh.subsetOf(droppedExact))
    if (droppedExact.nonEmpty) {
      val recall = droppedLsh.size.toDouble / droppedExact.size
      assert(recall >= 0.5, s"dedup-power recall $recall " +
        s"(${droppedLsh.size}/${droppedExact.size})")
    }
  }

  test("q128 SemDeDup: exact-kept ⊆ sem-kept; 2-probe blocking keeps dedup power") {
    val emb = T.embeddings(spark, sf)
    val all = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    val keptExact = Dedup.cosineDedup(emb, "vec_id", "embedding", 0.4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val keptSem = Dedup.semDedup(emb, "vec_id", "embedding", 0.4, k = 8, probes = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // within-cell edges ⊆ exact edges for ANY clustering: components
    // only refine, so an exact canonical stays canonical
    assert(keptExact.subsetOf(keptSem))
    val droppedExact = all -- keptExact
    val droppedSem = all -- keptSem
    assert(droppedSem.subsetOf(droppedExact))
    if (droppedExact.nonEmpty) {
      val recall = droppedSem.size.toDouble / droppedExact.size
      assert(recall >= 0.5, s"SemDeDup dedup-power recall $recall " +
        s"(${droppedSem.size}/${droppedExact.size})")
    }
    // single-probe hard assignment is the degraded baseline the probes
    // exist for — it must still obey containment
    val keptHard = Dedup.semDedup(emb, "vec_id", "embedding", 0.4, k = 8, probes = 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(keptExact.subsetOf(keptHard))
  }

  test("hash-split sampling is stable under repartitioning and splits near the target") {
    val docs = T.documents(spark, sf)
    def splits(df: org.apache.spark.sql.DataFrame) =
      Sampling.split(df, "doc_id", 90).select("doc_id", "split")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val a = splits(docs)
    val b = splits(docs.repartition(17, col("lang")))
    assert(a === b, "split membership must not depend on partition layout")
    val trainFrac = a.values.count(_ == "train").toDouble / a.size
    assert(trainFrac > 0.8 && trainFrac < 0.97, s"train fraction $trainFrac")
    // sampleByHash is the split's filter twin
    val sampled = Sampling.sampleByHash(docs, "doc_id", 90)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sampled === a.filter(_._2 == "train").keySet)
  }

  test("sequence packing fills bins in order within each shard") {
    val docs = T.documents(spark, sf).select(col("doc_id"), col("lang"),
      graft.operators.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    val capacity = 500L
    val packed = Packing.packBins(docs, "n_tokens", "doc_id", capacity, Seq("lang"))
      .select("lang", "doc_id", "n_tokens", "bin")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // local reference: greedy offset packing per shard in doc_id order
    packed.groupBy(_._1).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._2).foreach { case (_, id, n, bin) =>
        assert(bin === cum / capacity, s"doc $id expected bin ${cum / capacity}")
        cum += n
      }
    }
    // bins are dense from 0 within each shard
    packed.groupBy(_._1).foreach { case (lang, rows) =>
      val bins = rows.map(_._4).distinct.sorted
      assert(bins === (0L to bins.max).toArray.toSeq, s"holes in $lang bins")
    }
  }

  test("two-phase packing composes sub-shard packings into dense shard bins") {
    val docs = T.documents(spark, sf).select(col("doc_id"), col("lang"),
      graft.operators.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    val capacity = 500L
    val k = 4
    val packed = Packing.packBinsScaled(docs, "n_tokens", "doc_id", capacity,
        Seq("lang"), k)
      .select("lang", "doc_id", "n_tokens", "bin")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // driver reference: hash-split each shard into k sub-shards, pack each
    // greedily in doc_id order, then offset by bins used below it
    def subOf(id: Long): Long = {
      var h = 7L
      id.toString.foreach(c => h = (h * 131 + c.toLong) % 2147483647L)
      h % k
    }
    packed.groupBy(_._1).foreach { case (lang, rows) =>
      val bySub = rows.groupBy(r => subOf(r._2)).toSeq.sortBy(_._1)
      var off = 0L
      val expected = scala.collection.mutable.Map.empty[Long, Long]
      bySub.foreach { case (_, subRows) =>
        var cum = 0L
        var maxLocal = -1L
        subRows.sortBy(_._2).foreach { case (_, id, n, _) =>
          val lbin = cum / capacity
          expected(id) = off + lbin
          maxLocal = math.max(maxLocal, lbin)
          cum += n
        }
        off += maxLocal + 1
      }
      rows.foreach { case (_, id, _, bin) =>
        assert(bin === expected(id), s"doc $id in $lang")
      }
      // bins stay dense from 0 within the shard (phase-2 contract)
      val bins = rows.map(_._4).distinct.sorted
      assert(bins === (0L to bins.max).toArray.toSeq, s"holes in $lang bins")
    }
  }

  test("two-phase packing keeps NULL shard keys (window parity)") {
    import spark.implicits._
    val docs = Seq(
      (1L, Option("en"), 100L), (2L, Option.empty[String], 100L),
      (3L, Option("en"), 100L), (4L, Option.empty[String], 100L)
    ).toDF("doc_id", "lang", "n_tokens")
    val out = Packing.packBinsScaled(docs, "n_tokens", "doc_id", 150L,
      Seq("lang"), 2)
    // a plain equi-join on the shard key would silently drop the NULL
    // group; the single-phase window keeps it, so the scaled path must too
    assert(out.count() === 4L)
    assert(out.filter(col("lang").isNull).count() === 2L)
  }

  test("two-phase packing bounds per-task state by sub-shard, not shard") {
    val docs = T.documents(spark, sf).select(col("doc_id"), col("lang"),
      graft.operators.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    val out = Packing.packBinsScaled(docs, "n_tokens", "doc_id", 500L,
      Seq("lang"), 8)
    // the phase-1 window must partition by (shard, sub) — the sub column
    // in the Window spec is what splits a near-constant shard key's
    // running sum across tasks
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("__sub"), s"phase-1 window must partition by sub-shard:\n$p")
    // with one near-constant shard, work splits into ~8 sub-groups
    val subCounts = docs.groupBy(
        graft.operators.Sampling.hashBucket(col("doc_id"), 8)).count().count()
    assert(subCounts === 8L)
  }

  test("LSH bucket-skew guard bounds a degenerate corpus of identical vectors") {
    val emb = T.embeddings(spark, sf)
    // 2000 copies of ONE vector: every band collapses them into a single
    // mega-bucket, which un-guarded goes quadratic (~2M candidate pairs)
    val clones = emb.limit(1).select(col("embedding"))
      .crossJoin(spark.range(2000))
      .select((col("id") + 1000000L).as("vec_id"), col("embedding"))
    val distinctPart = emb.filter(col("vec_id") < 100)
    val corpus = distinctPart.select("vec_id", "embedding").unionByName(clones)
    val pairs = Similarity.cosineNearDupPairs(corpus, "vec_id", "embedding",
      0.9, maxBucketSize = 64)
    val n = pairs.count()
    // mega-buckets (the 2000 clones) are dropped loudly; the distinct
    // 100-vector part still pairs normally — far below the ~2M quadratic
    assert(n < 20000, s"degenerate corpus produced $n pairs — cap not applied")
    // LOUDLY means the drop accumulator actually fired — Catalyst once
    // pruned a projected-then-dropped side-effect column and silenced
    // the alarm entirely; the counter hook pins it evaluated
    val drops = graft.operators.OpUtil
      .dropCounters("graft.lsh.neardup.bucket_drops").value
    assert(drops > 0L, "bucket drops happened but the alarm counted zero")
    // and the guarded operator with a cap ABOVE every bucket is a no-op
    val unguarded = Similarity.cosineNearDupPairs(distinctPart, "vec_id",
      "embedding", 0.9, maxBucketSize = 1 << 20).count()
    val guarded = Similarity.cosineNearDupPairs(distinctPart, "vec_id",
      "embedding", 0.9).count()
    assert(guarded === unguarded)
  }

  test("semDedup cell cap bounds a degenerate corpus; auto-k tracks corpus size") {
    val emb = T.embeddings(spark, sf)
    // auto-k: one cell per targetCellRows rows, never below 1
    assert(Dedup.semDedupAutoK(100, 1024) === 8)
    assert(Dedup.semDedupAutoK(100000, 1024) === 98)
    assert(Dedup.semDedupAutoK(0, 1024) === 8)
    // 2000 identical vectors collapse every k-means cell assignment
    // onto one cell — un-capped that is ~2M within-cell pairs; the
    // cell cap drops the overflow LOUDLY and keeps the run bounded
    val clones = emb.limit(1).select(col("embedding"))
      .crossJoin(spark.range(2000))
      .select((col("id") + 1000000L).as("vec_id"), col("embedding"),
        lit("x").as("label"))
    val kept = Dedup.semDedup(clones, "vec_id", "embedding", 0.9,
      cellCap = 64)
    // capped: the run completes with bounded pair work, and no cell
    // above the cap reached the join (cap construction) — the drop
    // accumulator must have fired for the overflow
    kept.count()
    val drops = graft.operators.OpUtil
      .dropCounters("graft.semdedup.cellcap.drops").value
    assert(drops > 0L, "cell overflow dropped silently — alarm not counted")
    // a cap above every cell is a no-op: same kept set either way
    val distinctPart = emb.filter(col("vec_id") < 100)
    val a = Dedup.semDedup(distinctPart, "vec_id", "embedding", 0.4,
      cellCap = 1 << 20).select("vec_id").collect().map(_.getLong(0)).sorted
    val b = Dedup.semDedup(distinctPart, "vec_id", "embedding", 0.4)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    assert(a.toSeq === b.toSeq)
  }

  test("minhash bucket-skew guard bounds a degenerate corpus of identical docs") {
    import org.apache.spark.sql.functions._
    val docs = T.documents(spark, sf)
    // 2000 copies of ONE text: every band collapses into a mega-bucket
    val clones = docs.limit(1).select(col("text"))
      .crossJoin(spark.range(2000))
      .select((col("id") + 1000000L).as("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") < 100).select("doc_id", "text")
      .unionByName(clones)
    val pairs = Dedup.minhashCandidatesPoly(corpus, "doc_id", "text",
      threshold = 0.5, maxBucketSize = 64)
    val n = pairs.count()
    assert(n < 20000, s"degenerate corpus produced $n pairs — cap not applied")
    val drops = graft.operators.OpUtil
      .dropCounters("graft.minhash.poly.bucket_drops").value
    assert(drops > 0L, "bucket drops happened but the alarm counted zero")
  }

  test("funnel state machine handles out-of-order stages and timestamp ties") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val events = Seq(
      // u1: full funnel in order
      (1L, "view", ts(10)), (1L, "click", ts(20)), (1L, "purchase", ts(30)),
      // u2: click BEFORE the first view must not count; no click after
      (2L, "click", ts(5)), (2L, "view", ts(10)),
      // u3: click ties the view timestamp (strict > required)
      (3L, "view", ts(10)), (3L, "click", ts(10)),
      // u4: purchase ties the click (strict > required) -> stage 2
      (4L, "view", ts(1)), (4L, "click", ts(2)), (4L, "purchase", ts(2)),
      // u5: no view at all -> stage 0
      (5L, "purchase", ts(1)),
      // u6: second click qualifies after the FIRST qualifying click set
      // t_click=20; purchase after 20 counts even though a later click
      // (ts 40) also exists
      (6L, "view", ts(10)), (6L, "click", ts(20)), (6L, "click", ts(40)),
      (6L, "purchase", ts(25))
    ).toDF("user_id", "event_type", "ts")
    val got = graft.operators.Funnel.ordered(events, "user_id",
        "event_type", "ts", Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 3, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 0, 6L -> 3))
  }

  test("funnel accepts TIMESTAMP_NTZ (the driver testdata's current type)") {
    // java.time.LocalDateTime encodes as TimestampNTZType, whose external
    // Row type is LocalDateTime, not java.sql.Timestamp — this pins the
    // type axis that crashed q63 when the testdata regenerated as µs-NTZ.
    import spark.implicits._
    def ts(s: Long) = java.time.LocalDateTime.ofEpochSecond(
      s, 0, java.time.ZoneOffset.UTC)
    val events = Seq(
      (1L, "view", ts(10)), (1L, "click", ts(20)), (1L, "purchase", ts(30)),
      (2L, "click", ts(5)), (2L, "view", ts(10)),
      (3L, "view", ts(10)), (3L, "click", ts(10)), // tie: strict > required
      (4L, "view", ts(1)), (4L, "click", ts(2)), (4L, "purchase", ts(2)),
      (5L, "purchase", ts(1))
    ).toDF("user_id", "event_type", "ts")
    assert(events.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampNTZType)
    val got = graft.operators.Funnel.ordered(events, "user_id",
        "event_type", "ts", Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 3, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 0))
  }

  test("funnel orders pre-epoch TimestampType events correctly (floorDiv, not truncation)") {
    // getTime/1000 truncates toward zero: -800ms would rank AFTER
    // +100ms. Events straddling 1970-01-01 pin the floorDiv fix.
    import spark.implicits._
    def ts(ms: Long) = { val t = new java.sql.Timestamp(ms); t }
    val events = Seq(
      // u1: view just BEFORE the epoch, click just after — valid funnel
      (1L, "view", ts(-800L)), (1L, "click", ts(100L)),
      // u2: click BEFORE the pre-epoch view must not count
      (2L, "view", ts(-100L)), (2L, "click", ts(-900L))
    ).toDF("user_id", "event_type", "ts")
    assert(events.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    val got = graft.operators.Funnel.ordered(events, "user_id",
        "event_type", "ts", Seq("view", "click"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 2, 2L -> 1))
  }

  test("incremental fingerprint dedup is first-seen-by-ARRIVAL, not by id") {
    import spark.implicits._
    val existing = Seq(
      (10L, "alpha beta gamma", "en"),
      (11L, "delta epsilon", "en")).toDF("doc_id", "text", "lang")
    val fresh = Seq(
      // id 1 < 10 but collides with committed doc 10 → must be DROPPED
      // (an incremental pass cannot rewrite history)
      (1L, "  ALPHA   beta GAMMA ", "en"),
      // within-batch collision: keep lowest id (2), drop 3
      (2L, "zeta eta", "en"),
      (3L, "ZETA ETA", "de"),
      (4L, "unique text here", "fr")).toDF("doc_id", "text", "lang")
    val kept = graft.operators.Dedup
      .incrementalByFingerprint(fresh, existing, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 4L))
  }

  test("decontamination flags a planted benchmark copy with its full shingle count") {
    val docs = T.documents(spark, sf)
    val bench = docs.filter(col("doc_id") < 10)
    // plant one verbatim benchmark doc inside the training corpus
    val planted = bench.limit(1).withColumn("doc_id", col("doc_id") + 5000000)
    val train = docs.filter(col("doc_id") >= 10).unionByName(planted)
    val hits = Contamination.overlap(train, bench, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val plantedId = planted.select("doc_id").collect().head.getLong(0)
    val expectedShingles = bench.limit(1)
      .select(explode(Dedup.wordShinglesCompiled(8)(col("text"))))
      .distinct().count()
    assert(hits.get(plantedId).contains(expectedShingles),
      s"planted copy: got ${hits.get(plantedId)}, want $expectedShingles")
  }

  test("decontaminate keeps exactly the corpus minus the overlap set") {
    val docs = T.documents(spark, sf)
    val bench = docs.filter(col("doc_id") < 10)
    val planted = bench.limit(1).withColumn("doc_id", col("doc_id") + 5000000)
    val train = docs.filter(col("doc_id") >= 10).unionByName(planted)
    val dirty = Contamination.overlap(train, bench, "doc_id", "text", 8)
      .select("id").collect().map(_.getLong(0)).toSet
    val kept = Contamination.decontaminate(train, bench, "doc_id", "text", 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val all = train.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === all -- dirty)
    val plantedId = planted.select("doc_id").collect().head.getLong(0)
    assert(!kept.contains(plantedId), "planted benchmark copy survived")
  }

  test("stratified sample is k-capped per group and layout-independent") {
    val docs = T.documents(spark, sf)
    val a = Sampling.stratified(docs, Seq("lang"), "doc_id", 7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // per-group cap holds
    val sizes = Sampling.stratified(docs, Seq("lang"), "doc_id", 7)
      .groupBy("lang").count().collect().map(_.getLong(1))
    assert(sizes.forall(_ <= 7))
    // same rows regardless of partition layout (df.sample would differ)
    val b = Sampling.stratified(docs.repartition(13), Seq("lang"), "doc_id", 7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a === b)
  }

  test("weighted mix keeps each group at its configured rate") {
    val docs = T.documents(spark, sf)
    val kept = Sampling.weightedMix(docs, "doc_id", "source",
      Map("src0" -> 0, "src1" -> 100), defaultPct = 50)
    val bySource = kept.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!bySource.contains("src0"), "0% group must vanish")
    val src1Total = docs.filter(col("source") === "src1").count()
    assert(bySource("src1") === src1Total, "100% group must be complete")
    // membership is the q65 hash: the 50% groups keep exactly the rows
    // whose bucket < 50
    val expected = docs.filter(col("source") =!= "src0" && col("source") =!= "src1")
      .filter(Sampling.hashBucket(col("doc_id"), 100) < 50).count()
    val gotOther = kept.filter(col("source") =!= "src1").count()
    assert(gotOther === expected)
  }

  test("vocabulary ranks by frequency; OOV rate is 0 under a full vocab") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat")).toDF("doc_id", "text")
    val vocab = graft.operators.TextAnalysis.vocabulary(docs, "text", 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    // "the" x3, then "sat" x2, then ties at 1 broken lexicographically
    assert(vocab.toSeq === Seq(("the", 3L, 1), ("sat", 2L, 2), ("cat", 1L, 3)))
    val full = graft.operators.TextAnalysis.vocabulary(docs, "text", 100)
    val oov = graft.operators.TextAnalysis.oovRate(docs, "doc_id", "text", full)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(oov(1L) === ((6L, 0L, 0.0)))
    assert(oov(2L) === ((3L, 0L, 0.0)))
    // a 1-token vocab ("the") leaves everything else OOV
    val tiny = graft.operators.TextAnalysis.vocabulary(docs, "text", 1)
    val oov2 = graft.operators.TextAnalysis.oovRate(docs, "doc_id", "text", tiny)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(oov2 === Map(1L -> 4L, 2L -> 2L))
  }

  test("chunking covers every token with the declared overlap") {
    import spark.implicits._
    val words = (1 to 600).map(i => s"w$i")
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val chunks = graft.operators.Chunking.chunk(docs, "text",
        chunkTokens = 256, overlap = 32)
      .orderBy("chunk_id")
      .select("chunk_id", "chunk_text", "chunk_tokens")
      .collect().map(r => (r.getLong(0), r.getString(1).split(" "), r.getLong(2)))
    // starts 0, 224, 448 -> sizes 256, 256, 152
    assert(chunks.map(c => (c._1, c._3)).toSeq === Seq((0L, 256L), (1L, 256L), (2L, 152L)))
    chunks.foreach { case (_, toks, n) => assert(toks.length.toLong === n) }
    // consecutive chunks overlap by exactly 32 tokens
    chunks.sliding(2).foreach {
      case Array((_, a, _), (_, b, _)) =>
        assert(a.takeRight(32).toSeq === b.take(32).toSeq)
      case _ =>
    }
    // stride prefixes reassemble the document exactly
    val rebuilt = chunks.init.flatMap(_._2.take(224)) ++ chunks.last._2
    assert(rebuilt.toSeq === words)
  }

  test("repetition profile counts the dominant n-gram") {
    import spark.implicits._
    val docs = Seq((1L, "a b c a b c a b c"), (2L, "x y z w v")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.repetitionProfile(docs, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // 9 tokens -> 7 shingles: "a b c"x3, "b c a"x2, "c a b"x2
    assert(got(1L) === ((7L, 3L, 3L, BigDecimal(1.0 - 3.0 / 7.0)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    // 5 distinct tokens -> 3 unique shingles, no repetition
    assert(got(2L) === ((3L, 3L, 1L, 0.0)))
  }

  test("PII masking replaces emails and long digit runs, counting both") {
    import spark.implicits._
    val docs = Seq(
      (1L, "contact bob.smith+x@example.co.uk or call 12345678 today"),
      (2L, "short 12345 stays; a@b.io goes")).toDF("doc_id", "text")
    val got = graft.operators.Scrub.mask(docs, "text")
      .select("doc_id", "n_emails", "n_longnums", "masked")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got(1L) === ((1L, 1L, "contact <EMAIL> or call <NUM> today")))
    assert(got(2L) === ((1L, 0L, "short 12345 stays; <EMAIL> goes")))
  }

  test("minhashDedupPoly keeps exactly one canonical doc per duplicate cluster") {
    val docs = T.documents(spark, sf)
    // plant exact duplicate clusters with higher ids
    val dups = docs.limit(5)
      .withColumn("doc_id", col("doc_id") + 1000000)
    val withDups = docs.unionByName(dups)
    val kept = Dedup.minhashDedupPoly(withDups, "doc_id", "text", threshold = 0.9)
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    // every planted dup (id+1e6) must be gone — its low-id twin is canonical
    assert(dups.select("doc_id").collect().map(_.getLong(0)).forall(!keptIds.contains(_)))
    assert(docs.limit(5).select("doc_id").collect().map(_.getLong(0))
      .forall(keptIds.contains))
  }

  test("crossNearDupFilter fails loudly on ids too large for parity tagging") {
    import spark.implicits._
    // 2·id+1 on an id ≥ 2^62 silently wraps under non-ANSI arithmetic,
    // corrupting the parity mapping — the guard must raise instead. The
    // guard lives on the union path, which a batch over the cap takes.
    val big = Seq(((1L << 62), "some text here")).toDF("doc_id", "text")
    val ok = Seq((1L, "other text entirely")).toDF("doc_id", "text")
    val before = Dedup.bitmaskDocCap
    val e = try {
      Dedup.bitmaskDocCap = 0L
      intercept[Exception] {
        Dedup.crossNearDupFilter(big, ok, "doc_id", "text", 0.5).collect()
      }
    } finally Dedup.bitmaskDocCap = before
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("parity tagging")), chain(e).mkString(" | "))
    // at the default cap the probe path never tags ids, so a batch id
    // ≥ 2^62 is filtered like any other: its near-copy goes, a novel
    // document stays
    val batch = Seq((Long.MaxValue, "Other text  ENTIRELY"),
      ((1L << 62) + 1, "nothing like the corpus")).toDF("doc_id", "text")
    val kept = Dedup.crossNearDupFilter(batch, ok, "doc_id", "text", 0.5)
      .as[(Long, String)].collect().toSeq
    assert(Dedup.lastJaccardStrategy.get() === "probe")
    assert(kept === Seq(((1L << 62) + 1, "nothing like the corpus")))
  }

  /** Word token sets exactly as the Jaccard paths tokenise: trim spaces,
    * lowercase, runs of whitespace to one space, split on spaces. */
  private def refTokens(text: String): Set[String] =
    text.replaceAll("^ +| +$", "").toLowerCase(java.util.Locale.ROOT)
      .replaceAll("\\s+", " ").split(" ", -1).toSet

  private def refJaccard(a: Set[String], b: Set[String]): Double = {
    val c = (a & b).size
    c.toDouble / (a.size + b.size - c)
  }

  /** Plain-Scala crossNearDupFilter: a row is dropped iff its id is not
    * null and some row with that id and non-null text clears `t`
    * against a corpus row with a non-null id and text. */
  private def refCrossFilter(batch: Seq[(java.lang.Long, String)],
      corpus: Seq[(java.lang.Long, String)], t: Double): Seq[(java.lang.Long, String)] = {
    val corpusToks = corpus.collect { case (id, text) if id != null && text != null =>
      refTokens(text) }
    val dirty = batch.collect { case (id, text) if id != null && text != null &&
      corpusToks.exists(c => refJaccard(refTokens(text), c) >= t) => id }.toSet
    batch.filter { case (id, _) => id == null || !dirty.contains(id) }
  }

  private def crossFilterRows(batch: Seq[(java.lang.Long, String)],
      corpus: Seq[(java.lang.Long, String)], t: Double,
      cap: Long = Dedup.bitmaskDocCap): (Seq[(java.lang.Long, String)], String) = {
    import spark.implicits._
    val before = Dedup.bitmaskDocCap
    try {
      Dedup.bitmaskDocCap = cap
      val out = Dedup.crossNearDupFilter(batch.toDF("doc_id", "text"),
          corpus.toDF("doc_id", "text"), "doc_id", "text", t)
        .as[(java.lang.Long, String)].collect().toSeq
      (out, Dedup.lastJaccardStrategy.get())
    } finally Dedup.bitmaskDocCap = before
  }

  private def sortRows(rows: Seq[(java.lang.Long, String)]) =
    rows.sortBy { case (id, text) => (Option(id).map(_.longValue), Option(text)) }

  test("null text has no tokens on every Jaccard path: never a near-duplicate, always kept") {
    import spark.implicits._
    // vocabulary 30 takes the 64-bit mask path, vocabulary 200 the wide
    // mask path; a null text sits on both sides of every comparison
    def docsOver(vocab: Int): (Seq[String], Seq[(java.lang.Long, String)]) = {
      val rnd = new scala.util.Random(vocab)
      val texts = Seq.fill(20)(Seq.fill(8)(s"w${rnd.nextInt(vocab)}").mkString(" "))
      (texts, texts.zipWithIndex.map { case (t, i) => (Long.box(i.toLong), t) } ++
        Seq((Long.box(100L), texts(0)), (Long.box(101L), null: String),
          (Long.box(102L), null: String)))
    }
    for ((vocab, strategy) <- Seq(30 -> "bitmask64", 200 -> "bitmask-wide")) {
      val (_, docs) = docsOver(vocab)
      val pairs = Dedup.jaccardJoin(docs.toDF("id", "text"), "id", "text", 0.5)
        .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
      assert(Dedup.lastJaccardStrategy.get() === strategy)
      val expected = (for {
        (ia, ta) <- docs; (ib, tb) <- docs
        if ia < ib && ta != null && tb != null
        if refJaccard(refTokens(ta), refTokens(tb)) >= 0.5
      } yield (ia.longValue, ib.longValue)).toSet
      assert(pairs === expected, s"vocabulary $vocab")
      assert(pairs.contains((0L, 100L)))
    }
    for (vocab <- Seq(30, 200)) {
      val (texts, docs) = docsOver(vocab)
      val batch = Seq[(java.lang.Long, String)]((200L, texts(1)),
        (201L, null), (202L, "novel words only"))
      val corpus = docs.filter(_._1 != 100L)
      val want = sortRows(refCrossFilter(batch, corpus, 0.5))
      assert(want.map(_._1.longValue) === Seq(201L, 202L))
      val (probed, probeStrategy) = crossFilterRows(batch, corpus, 0.5)
      assert(probeStrategy === "probe")
      assert(sortRows(probed) === want, s"probe, vocabulary $vocab")
      val (unioned, _) = crossFilterRows(batch, corpus, 0.5, cap = 1L)
      assert(sortRows(unioned) === want, s"union, vocabulary $vocab")
    }
  }

  test("crossNearDupFilter: probe path, union path and a plain-Scala Jaccard agree") {
    // a small vocabulary so that near-copies are common; texts include
    // the empty and whitespace-only strings (both tokenise to [""]),
    // mixed case, tabs, null text, duplicate batch ids and null ids
    val words = Seq("alpha", "Beta", "GAMMA", "delta", "eps", "zeta", "eta", "theta")
    def text(rnd: scala.util.Random): String = rnd.nextInt(12) match {
      case 0 => ""
      case 1 => "   "
      case 2 => null
      case _ =>
        Seq.fill(1 + rnd.nextInt(6))(words(rnd.nextInt(words.size)))
          .map(w => if (rnd.nextBoolean()) w.toUpperCase else w)
          .mkString(if (rnd.nextInt(4) == 0) "\t" else " ")
    }
    for ((t, seed) <- Seq(0.5, 0.7, 0.8, 0.9, 0.95, 1.0).zipWithIndex) {
      val rnd = new scala.util.Random(seed)
      val corpus: Seq[(java.lang.Long, String)] =
        Seq.tabulate(30)(i => (if (i % 9 == 0) null else Long.box(i.toLong), text(rnd)))
      val batch: Seq[(java.lang.Long, String)] = Seq.tabulate(30) { i =>
        val id: java.lang.Long =
          if (i % 11 == 5) null
          else if (i % 7 == 3) Long.box((1L << 62) + i)
          else if (i % 5 == 4) Long.box(1000L + i - 1) // the id of row i - 1
          else Long.box(1000L + i)
        val body =
          if (rnd.nextInt(3) == 0) corpus(rnd.nextInt(corpus.size))._2 else text(rnd)
        (id, body)
      }
      val want = sortRows(refCrossFilter(batch, corpus, t))
      val (probed, strategy) = crossFilterRows(batch, corpus, t)
      assert(strategy === "probe")
      assert(sortRows(probed) === want, s"probe at t=$t")
      // ids ≥ 2^62 cannot be parity-tagged: they are left out of the
      // union run. Rows that share an id stay in, each judged on its own
      // text.
      val small = batch.filter(r => r._1 == null || r._1 < (1L << 62))
      assert(small.groupBy(_._1).exists { case (id, rs) => id != null && rs.size > 1 })
      val (unioned, _) = crossFilterRows(small, corpus, t, cap = 1L)
      assert(sortRows(unioned) === sortRows(refCrossFilter(small, corpus, t)),
        s"union at t=$t")
      assert(want.size < batch.size && want.exists(_._1 != null),
        s"t=$t: the data should drop some rows and keep some")
    }
  }

  test("Jaccard paths keep pairs at the threshold: rounding edges and code-point order") {
    import spark.implicits._
    // 0.55 × 100 rounds to 55.00000000000001: a prefix cut by ceil() of
    // that product misses B ⊂ A with |A| = 100, |B| = 55, J = 0.55, when
    // A's 45 other tokens sort first. 0.28 × 25 rounds to
    // 7.000000000000001: a size bound min ≥ t·max rejects B ⊂ A with
    // |A| = 25, |B| = 7, J = 0.28. array_sort puts U+FF46 before the
    // surrogate pair of U+1F600, String.compareTo after it: a merge count
    // in UTF-16 order finds no common token in {U+FF46, U+1F600} and
    // {U+1F600}.
    def toks(p: String, n: Int) = (0 until n).map(i => f"$p$i%03d")
    val cases = Seq(
      (0.55, toks("a", 45) ++ toks("b", 55), toks("b", 55)),
      (0.28, toks("c", 18) ++ toks("d", 7), toks("d", 7)),
      (0.5, Seq("\uFF46", "\uD83D\uDE00"), Seq("\uD83D\uDE00")))
    for ((t, a, b) <- cases) {
      assert(refJaccard(a.toSet, b.toSet) >= t)
      // a third, unrelated document takes the vocabulary past 64 words
      val df = Seq((1L, a.mkString(" ")), (2L, b.mkString(" ")),
        (3L, toks("z", 64).mkString(" "))).toDF("id", "text")
      val before = Dedup.bitmaskDocCap
      try {
        for (cap <- Seq(before, 1L)) {
          Dedup.bitmaskDocCap = cap
          val pairs = Dedup.jaccardJoin(df, "id", "text", t)
            .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSeq
          assert(pairs === Seq((1L, 2L)),
            s"t=$t, strategy ${Dedup.lastJaccardStrategy.get()}")
        }
      } finally Dedup.bitmaskDocCap = before
      val batch = Seq[(java.lang.Long, String)]((9L, b.mkString(" ")))
      val corpus = Seq[(java.lang.Long, String)]((1L, a.mkString(" ")))
      assert(crossFilterRows(batch, corpus, t)._1.isEmpty, s"probe at t=$t")
      assert(crossFilterRows(batch, corpus, t, cap = 0L)._1.isEmpty, s"union at t=$t")
    }
    // character 3-grams: two U+1F600 in front of fullwidth text add two
    // grams to its 8, J = 0.8, when a character is a code point (UTF-16
    // units would cut four grams through the surrogate pairs, J = 2/3).
    // In UTF-16 order the emoji-led grams come first, in code-point
    // order last; a merge over one order that compares in the other
    // steps past every common gram.
    val fw = "ｆｇｈ，ｉｊｋ，ｌｍ"
    val grams = Seq((1L, "😀😀" + fw), (2L, fw)).toDF("id", "text")
    val before = Dedup.bitmaskDocCap
    try {
      for (cap <- Seq(before, 1L)) {
        Dedup.bitmaskDocCap = cap
        val pairs = Dedup.charNgramJaccard(grams, "id", "text", 3, 0.8)
          .as[(Long, Long, Double)].collect().toSeq
        assert(pairs === Seq((1L, 2L, 0.8)),
          s"char 3-grams, strategy ${Dedup.lastJaccardStrategy.get()}")
      }
    } finally Dedup.bitmaskDocCap = before
  }

  test("Jaccard self-joins refuse a repeated id on every strategy") {
    import spark.implicits._
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    def words(vocab: Int): Seq[String] = {
      val rnd = new scala.util.Random(vocab)
      Seq.fill(20)(Seq.fill(8)(s"w${rnd.nextInt(vocab)}").mkString(" "))
    }
    def letters(alphabet: Int): Seq[String] = {
      val rnd = new scala.util.Random(alphabet)
      Seq.fill(20)(Seq.fill(10)(('a' + rnd.nextInt(alphabet)).toChar).mkString)
    }
    val wordJoin = (df: org.apache.spark.sql.DataFrame) =>
      Dedup.jaccardJoin(df, "id", "text", 0.5)
    val charJoin = (df: org.apache.spark.sql.DataFrame) =>
      Dedup.charNgramJaccard(df, "id", "text", 3, 0.5)
    // each join over a small vocabulary (≤ 64 tokens) and a wide one; the
    // repeated row of char 3-grams is too short for any gram, so it
    // brings no tokens of its own
    for ((kind, join, small, wide, repeat) <- Seq(
        ("words", wordJoin, words(30), words(200), "novel words here"),
        ("char 3-grams", charJoin, letters(3), letters(10), "ab"))) {
      // string ids rule out both bitmask strategies, so over a wide
      // vocabulary the prefix strategy runs without the doc-count probe
      for ((strategy, texts, stringIds, cap) <- Seq(
          ("bitmask64", small, false, Dedup.bitmaskDocCap),
          ("bitmask-wide", wide, false, Dedup.bitmaskDocCap),
          ("prefix", small, false, 1L),
          ("prefix", wide, true, Dedup.bitmaskDocCap))) {
        def frame(rows: Seq[(Int, String)]) =
          if (stringIds) rows.map { case (i, t) => (s"d$i", t) }.toDF("id", "text")
          else rows.map { case (i, t) => (i.toLong, t) }.toDF("id", "text")
        val rows = texts.zipWithIndex.map(_.swap)
        val before = Dedup.bitmaskDocCap
        try {
          Dedup.bitmaskDocCap = cap
          join(frame(rows)).collect()
          assert(Dedup.lastJaccardStrategy.get() === strategy, kind)
          val e = intercept[Exception](join(frame(rows :+ (3 -> repeat))).collect())
          val id = if (stringIds) "d3" else "3"
          assert(chain(e).exists(_.contains(s"ids must be unique, id repeated: $id")),
            s"$kind, $strategy: ${chain(e).mkString(" | ")}")
        } finally Dedup.bitmaskDocCap = before
      }
    }
  }

  test("charNgrams steps by code point: no n-gram splits a surrogate pair") {
    import spark.implicits._
    val grams = Seq("A😀b😀").toDF("text")
      .select(Dedup.charNgrams(2)(col("text"))).as[Seq[String]].head()
    // distinct, lowercased, in code-point order (U+1F600 after 'b')
    assert(grams === Seq("a😀", "b😀", "😀b"))
  }

  test("crossNearDupFilter drops cross-side near-copies, keeps novel docs") {
    val docs = T.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") < 250)
    // incoming: 5 exact copies of corpus docs (remapped ids) + 5 docs
    // the corpus has never seen
    val copies = corpus.limit(5).withColumn("doc_id", col("doc_id") + 900000)
    val novel = docs.filter(col("doc_id") >= 250 && col("doc_id") < 255)
      .withColumn("doc_id", col("doc_id") + 800000)
    val incoming = copies.unionByName(novel)
    val kept = Dedup.crossNearDupFilter(incoming, corpus, "doc_id", "text", 0.95)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(copies.select("doc_id").collect().map(_.getLong(0))
      .forall(!kept.contains(_)), "an exact cross-side copy survived")
    // differential: an independent naive token-keyed A×B Jaccard (fine
    // at test scale) must produce EXACTLY the same dirty set — both
    // over- and under-dropping fail
    import org.apache.spark.sql.functions.{array_distinct, count => fcount, explode, lit => flit, size => fsize, split => fsplit, regexp_replace, lower, trim}
    def toks(d: org.apache.spark.sql.DataFrame, as: String) = d.select(
      col("doc_id").as(as),
      array_distinct(fsplit(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")).as("t"))
    val a = toks(incoming, "na").select(col("na"), fsize(col("t")).as("sa"), explode(col("t")).as("tok"))
    val b = toks(corpus, "ob").select(col("ob"), fsize(col("t")).as("sb"), explode(col("t")).as("tok"))
    val expectedDirty = a.join(b, "tok")
      .groupBy("na", "ob", "sa", "sb").agg(fcount(flit(1)).as("c"))
      .filter(col("c").cast("double") / (col("sa") + col("sb") - col("c")) >= 0.95)
      .select("na").distinct().collect().map(_.getLong(0)).toSet
    val allIncoming = incoming.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === allIncoming -- expectedDirty,
      s"filter diverged from the independent pair join: kept=$kept expectedDirty=$expectedDirty")
  }

  test("tokenBudget two-phase equals the single-window prefix filter") {
    import org.apache.spark.sql.expressions.Window
    val docs = T.documents(spark, sf).select(col("doc_id"), col("source"),
      graft.operators.TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
    // reference semantics: one window per group in (hash, key) order
    val w = Window.partitionBy("source")
      .orderBy(Sampling.keyHash(col("doc_id")), col("doc_id"))
    val single = docs.withColumn("__cum", sum(col("n")).over(w))
      .filter(col("__cum") - col("n") < 600)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    for (k <- Seq(1, 3, 8)) {
      val got = Sampling.tokenBudget(docs, "doc_id", "n", Seq("source"),
          budget = 600, subShards = k)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got === single, s"subShards=$k diverged from single-window")
    }
    // layout independence
    val re = Sampling.tokenBudget(docs.repartition(13), "doc_id", "n",
        Seq("source"), budget = 600, subShards = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(re === single)
  }

  test("tokenBudget kept token mass stays within budget + one document") {
    val docs = T.documents(spark, sf).select(col("doc_id"), col("source"),
      graft.operators.TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
    val maxDoc = docs.agg(max("n")).collect().head.getLong(0)
    val kept = Sampling.tokenBudget(docs, "doc_id", "n", Seq("source"),
      budget = 600, subShards = 8)
    val perGroup = kept.groupBy("source").agg(sum("n").as("tot"))
      .collect().map(_.getLong(1))
    assert(perGroup.nonEmpty)
    assert(perGroup.forall(t => t < 600 + maxDoc),
      s"a group overshot budget+maxDoc: ${perGroup.max}")
  }

  test("quantize bounds components, reconstructs within half a step") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)), // all-zero guard
      (3L, Array(3.0f, -2.0f, 1.5f, 0.1f))).toDF("vec_id", "embedding")
    val rows = Similarity.quantize(df, "embedding")
      .select("vec_id", "embedding", "q", "scale").collect()
    for (r <- rows) {
      val v = r.getSeq[Float](1).map(_.toDouble)
      val q = r.getSeq[Int](2)
      val s = r.getDouble(3)
      assert(q.forall(x => x >= -127 && x <= 127))
      if (s == 0.0) assert(q.forall(_ == 0)) // zero vector
      else v.zip(q).foreach { case (x, qi) =>
        assert(math.abs(x - qi / s) <= 0.5 / s + 1e-12,
          s"component $x reconstructed as ${qi / s} (scale $s)")
      }
    }
  }

  test("curriculum buckets are ordered; tie-free input buckets evenly") {
    // real corpus: scores tie heavily (length component saturates), so
    // upper buckets may legally be empty — assert order, not balance
    val got = graft.operators.TextAnalysis.curriculum(
        T.documents(spark, sf), "text", 4)
      .groupBy("bucket")
      .agg(min("score").as("lo"), max("score").as("hi"), count(lit(1)).as("n"))
      .orderBy("bucket").collect()
    assert(got.map(_.getInt(0)).forall(b => b >= 1 && b <= 4))
    got.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getDouble(2) <= b.getDouble(1),
          s"bucket ${a.getInt(0)} hi ${a.getDouble(2)} > bucket ${b.getInt(0)} lo ${b.getDouble(1)}")
      case _ => ()
    }
    // tie-free synthetic (distinct token counts 1..40, no stopwords or
    // punctuation): exact quartiles, 10 docs per bucket
    import spark.implicits._
    val docs = (1 to 40).map(n => (n.toLong, Seq.fill(n)("word").mkString(" ")))
      .toDF("doc_id", "text")
    val sizes = graft.operators.TextAnalysis.curriculum(docs, "text", 4)
      .groupBy("bucket").count().orderBy("bucket").collect()
      .map(r => r.getInt(0) -> r.getLong(1))
    assert(sizes.toSeq === Seq(1 -> 10L, 2 -> 10L, 3 -> 10L, 4 -> 10L))
  }

  test("freqSpectrum buckets by bit length and conserves token mass") {
    import spark.implicits._
    // counts: a=5 (bucket 3), b=2 (bucket 2), c=1, d=1 (bucket 1)
    val df = Seq("a a a b", "a a b c", "d").toDF("text")
    val got = graft.operators.TextAnalysis.freqSpectrum(df, "text")
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq((1L, 2L, 2L, 1L), (2L, 1L, 2L, 2L), (3L, 1L, 5L, 4L)))
  }

  test("kmeansAssign recovers planted well-separated blobs") {
    import spark.implicits._
    // three blobs at distance >> intra-blob spread; any reasonable
    // k-means must give each blob one pure label
    val pts = (0 until 30).map { i =>
      val blob = i % 3
      val base = Array.fill(8)(blob * 100.0)
      (i.toLong, base.zipWithIndex.map { case (b, j) =>
        (b + ((i * 7 + j * 13) % 5) * 0.1).toFloat })
    }
    val df = pts.toDF("vec_id", "embedding")
    val got = Similarity.kmeansAssign(df, "vec_id", "embedding", k = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1))
    val byBlob = got.groupBy { case (id, _) => id % 3 }
      .view.mapValues(_.map(_._2).toSet).toMap
    byBlob.foreach { case (blob, labels) =>
      assert(labels.size === 1, s"blob $blob split across labels $labels")
    }
    assert(byBlob.values.flatten.toSet.size === 3, "blobs share a label")
    // assignment is total: every input row gets exactly one cluster
    assert(got.length === 30)
  }

  test("noveltyProfile: exact copies score zero; first occurrence scores one") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"), // all shingles first here
      (2L, "alpha beta gamma delta epsilon"), // exact copy -> novelty 0
      (3L, "zeta eta theta iota kappa")       // disjoint -> novelty 1
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .noveltyProfile(docs, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L)._3 === 1.0)
    assert(got(2L)._3 === 0.0) // every shingle first seen in doc 1
    assert(got(3L)._3 === 1.0)
    assert(got(1L)._1 === 3L) // 5 tokens -> 3 distinct 3-grams
  }

  test("bpeTrain learns the classic merges on the Sennrich corpus") {
    import spark.implicits._
    // low×5, lower×2, newest×6, widest×3 — the worked example from the
    // original BPE-for-NMT paper (Sennrich et al. 2016, §3.2)
    val docs = Seq(
      Seq.fill(5)("low"), Seq.fill(2)("lower"),
      Seq.fill(6)("newest"), Seq.fill(3)("widest")
    ).flatten.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val merges = graft.operators.TextAnalysis.bpeTrain(docs, "text", 3)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // (e,s) 9 wins rank 1 on the (count desc, left asc) tie-break over
    // (s,t) and (t,</w>); the chain then extends deterministically
    assert(merges.toSeq === Seq(
      (1, "e", "s", 9L), (2, "es", "t", 9L), (3, "est", "</w>", 9L)))
    // determinism: same input, same merges, regardless of layout
    val again = graft.operators.TextAnalysis
      .bpeTrain(docs.repartition(7), "text", 3)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(again.toSeq === merges.toSeq)
  }

  test("bpeTrain over the vocab budget samples top-frequency words instead of dying") {
    import spark.implicits._
    // Sennrich corpus + two rare noise words; budget 4 keeps exactly the
    // four frequent words (count desc, word asc), so the classic merges
    // must come out unchanged — the fallback trains on the kept mass
    val docs = (Seq(
      Seq.fill(5)("low"), Seq.fill(2)("lower"),
      Seq.fill(6)("newest"), Seq.fill(3)("widest"),
      Seq("zzq"), Seq("xxj")
    ).flatten).zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    assert(docs.select("text").distinct().count() === 6)
    val merges = graft.operators.TextAnalysis
      .bpeTrain(docs, "text", 3, maxVocabRows = 4)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(merges.toSeq === Seq(
      (1, "e", "s", 9L), (2, "es", "t", 9L), (3, "est", "</w>", 9L)))
  }

  test("bpeEncode applies learned merges greedily by rank") {
    import spark.implicits._
    val docs = Seq(
      Seq.fill(5)("low"), Seq.fill(2)("lower"),
      Seq.fill(6)("newest"), Seq.fill(3)("widest")
    ).flatten.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val merges = graft.operators.TextAnalysis.bpeTrain(docs, "text", 5)
    // "lowest" is unseen but composed of learned subwords: est-chain
    // fires first (ranks 1-3), then lo (4), low (5)
    val got = graft.operators.TextAnalysis.bpeEncode(
        Seq((1L, "lowest")).toDF("id", "text"), "text", merges)
      .select("bpe_tokens").collect().head.getSeq[String](0)
    assert(got === Seq("low", "est</w>"))
    // unknown characters survive as singleton symbols
    val unk = graft.operators.TextAnalysis.bpeEncode(
        Seq((1L, "zq")).toDF("id", "text"), "text", merges)
      .select("bpe_tokens").collect().head.getSeq[String](0)
    assert(unk === Seq("z", "q", "</w>"))
  }

  test("bigramLmScore: corpus-typical text scores lower NLL than rare word soup") {
    import spark.implicits._
    val common = (1L to 20L).map(i => (i, "the cat sat on the mat"))
    val rare = Seq((99L, "zyx wvu tsr qpo nml kji"))
    val docs = (common ++ rare).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.bigramLmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(1L) < got(99L),
      s"typical ${got(1L)} should beat word soup ${got(99L)}")
    // identical docs score identically, and every doc with >=2 tokens
    // is present
    assert(got(1L) === got(20L))
    assert(got.size === 21)
    // smoothing keeps scores finite and positive
    assert(got.values.forall(v => v > 0 && !v.isInfinite))
  }

  test("invertedIndex caps postings, keeps them sorted, df counts all docs") {
    import spark.implicits._
    val docs = (1L to 30L).map(i =>
      (i, if (i <= 25) "common filler" else "rare filler")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .invertedIndex(docs, "doc_id", "text", k = 10, maxPostings = 5)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getSeq[Long](2)))).toMap
    assert(got("filler")._1 === 30L) // df counts beyond the posting cap
    assert(got("filler")._2 === Seq(1L, 2L, 3L, 4L, 5L)) // capped + sorted
    assert(got("common")._1 === 25L)
    assert(got("rare")._2 === Seq(26L, 27L, 28L, 29L, 30L))
  }

  test("span removal cuts exactly the tokens covered by repeated k-grams") {
    import spark.implicits._
    // k=3; docs 1 and 2 share the 3-gram "b c d" (cross-doc dup); doc 3
    // repeats "x y z" internally (self dup); doc 4 is clean
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "b c d q r"),
      (3L, "x y z w x y z"),
      (4L, "p q r s t u")).toDF("doc_id", "text")
    val got = graft.operators.Dedup
      .removeDuplicatedSpans(docs, "doc_id", "text", k = 3)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_removed"), r.getAs[String]("clean_text")))
    // doc 1: window at pos 1 covers tokens 1..3 → "a ... e" survive
    assert(got(0) == ((1L, 5L, 3L, "a e")))
    // doc 2: window at pos 0 covers 0..2 → "q r" survive
    assert(got(1) == ((2L, 5L, 3L, "q r")))
    // doc 3: "x y z" at pos 0 and 4 → covers 0..2 and 4..6, "w" survives
    assert(got(2) == ((3L, 7L, 6L, "w")))
    // doc 4: untouched, and "p q r"/"q r s" don't recur ("q r" alone is
    // only 2 tokens — shorter than k, never a window)
    assert(got(3) == ((4L, 6L, 0L, "p q r s t u")))
  }

  test("bm25TopK matches the hand formula, drops no-hit docs, cuts at k deterministically") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a b"),   // tf(a)=2
      (2L, "a b c"),   // tf(a)=1
      (3L, "c c c"),   // no query term
      (4L, "a b c"))   // tf(a)=1, ties with doc 2 → id breaks
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .bm25TopK(docs, "doc_id", "text", Seq("a"), k = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // N=4, avgdl=3, dl=3 ⇒ dl/avgdl=1; df(a)=3
    val idf = math.log((4.0 - 3 + 0.5) / (3 + 0.5) + 1.0)
    def s(tf: Double) = BigDecimal(idf * (tf * 2.2) / (tf + 1.2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.length === 2)
    assert(got(0) === ((1L, s(2))), s"got ${got.toSeq}")
    assert(got(1) === ((2L, s(1))), "tie must break by id: doc 2 before 4")
    // multi-term: scores add per term; doc 3 appears once c is queried
    val multi = graft.operators.TextAnalysis
      .bm25TopK(docs, "doc_id", "text", Seq("a", "c"), k = 4)
      .collect().map(r => r.getLong(0)).toSet
    assert(multi === Set(1L, 2L, 3L, 4L))
  }
}
