package graft

import java.nio.file.Files

import graft.streaming.EventStreams
import graft.warehouse.{Connector, GraftTable, SnapshotLog, Staged}
import org.scalatest.funsuite.AnyFunSuite

class WarehouseSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshWarehouse(): String =
    Files.createTempDirectory("graft-wh-").toString

  test("create + read round-trip") {
    val c = new Connector(spark, freshWarehouse())
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(c.createTable("t1", df))
    assert(!c.createTable("t1", df), "create must be idempotent-false on existing")
    assert(c.count("t1") == 2)
    assert(c.query("t1").columns.toSeq == Seq("id", "v"))
    assert(c.tables == Seq("t1"))
  }

  test("append accumulates and bumps snapshot id") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", Seq((1L, "a")).toDF("id", "v"))
    assert(c.getCurrentSnapshotId("t").contains(1L))
    c.insert("t", Seq((2L, "b"), (3L, "c")).toDF("id", "v"))
    assert(c.getCurrentSnapshotId("t").contains(2L))
    assert(c.count("t") == 3)
  }

  test("append rejects schema mismatch") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", Seq((1L, "a")).toDF("id", "v"))
    intercept[IllegalArgumentException] {
      c.insert("t", Seq(("x", 1L)).toDF("v", "id")) // swapped types
    }
  }

  test("changes-since returns exactly the rows after the snapshot") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", Seq((1L, "a")).toDF("id", "v"))
    val s1 = c.getCurrentSnapshotId("t").get
    c.insert("t", Seq((2L, "b")).toDF("id", "v"))
    c.insert("t", Seq((3L, "c")).toDF("id", "v"))
    val changes = c.getChangesSinceSnapshot("t", s1).get
    assert(changes.select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    // no duplicates even across multiple intervening snapshots
    assert(changes.count() == 2)
    // since head → empty
    val head = c.getCurrentSnapshotId("t").get
    assert(c.getChangesSinceSnapshot("t", head).get.count() == 0)
  }

  test("time travel readAsOf") {
    val wh = freshWarehouse()
    val c = new Connector(spark, wh)
    c.createTable("t", Seq((1L, "a")).toDF("id", "v"))
    c.insert("t", Seq((2L, "b")).toDF("id", "v"))
    val t = c.loadTable("t")
    assert(t.read(asOf = Some(1L)).count() == 1)
    assert(t.read(asOf = Some(2L)).count() == 2)
    assert(t.read().count() == 2)
  }

  test("sql() sees warehouse tables through Catalyst") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("sales", Seq(("x", 10.0), ("y", 5.0), ("x", 2.5)).toDF("k", "amt"))
    val r = c.sql("SELECT k, sum(amt) AS total FROM sales GROUP BY k ORDER BY k")
      .as[(String, Double)].collect().toSeq
    assert(r == Seq(("x", 12.5), ("y", 5.0)))
  }

  test("property: N appends → count == sum of rows; incremental union == full read") {
    val c = new Connector(spark, freshWarehouse())
    val batches = (1 to 5).map(i => (1 to i).map(j => (i.toLong * 100 + j, s"b$i")).toDF("id", "v"))
    c.createTable("t", batches.head)
    batches.tail.foreach(b => c.insert("t", b))
    val total = batches.map(_.count()).sum
    assert(c.count("t") == total)
    // union of incremental reads over any snapshot cut == full read
    val t = c.loadTable("t")
    for (cut <- 0L to t.currentSnapshotId.get) {
      val upTo = if (cut == 0) 0L else t.read(asOf = Some(cut)).count()
      val after = t.changesSince(cut).count()
      assert(upTo + after == total, s"cut=$cut")
    }
  }

  test("clustered append records file stats; readWhere prunes files") {
    val c = new Connector(spark, freshWarehouse())
    val df = spark.range(0, 10000).toDF("id")
      .withColumn("bucket", $"id" % 4)
      .withColumn("name", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("n"), $"id"))
    c.createTable("t", df.limit(1)) // establish schema
    val t = c.loadTable("t")
    t.append(df, clusterBy = Seq("id"), statsCols = Seq("name"),
      clusterParts = 8)
    val all = t.read()
    // range-clustered on id → a narrow id slice must hit fewer files
    val slice = t.readWhere("id", Some(100L), Some(200L))
    assert(slice.inputFiles.length < all.inputFiles.length,
      s"${slice.inputFiles.length} vs ${all.inputFiles.length}")
    // pruning is sound: pruned scan + row filter ≡ full scan + row filter
    val expected = all.filter($"id".between(100, 200)).count()
    assert(slice.filter($"id".between(100, 200)).count() === expected)
    // string stats prune too
    val sSlice = t.readWhere("name", Some("n100"), Some("n101"))
    assert(sSlice.filter($"name" === "n100").count() === 1)
    // stats survive the manifest round-trip
    val st = t.log.head.get.stats
    assert(st.nonEmpty && st.values.forall(f =>
      f.numMin.contains("id") && f.strMin.contains("name")))
  }

  test("ZOrder.zvalue matches a reference Morton interleave bit-for-bit") {
    // independent formulation: per-bit loop, no mask ladder
    def morton(a: Long, b: Long): Long =
      (0 until 16).foldLeft(0L) { (z, i) =>
        z | ((a >> i) & 1L) << (2 * i) | ((b >> i) & 1L) << (2 * i + 1)
      }
    val rnd = new scala.util.Random(0x5EED)
    val cases = Seq((0L, 0L), (65535L, 65535L), (1L, 0L), (0L, 1L)) ++
      Seq.fill(200)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val df = cases.toDF("a", "b").withColumn("z",
      graft.warehouse.ZOrder.zvalue(
        org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b")))
    df.collect().foreach { r =>
      assert(r.getLong(2) === morton(r.getLong(0), r.getLong(1)),
        s"a=${r.getLong(0)} b=${r.getLong(1)}")
    }
  }

  test("ZOrder.zvalue3 matches a reference 3-way Morton interleave bit-for-bit") {
    def morton3(a: Long, b: Long, c: Long): Long =
      (0 until 21).foldLeft(0L) { (z, i) =>
        z | ((a >> i) & 1L) << (3 * i) |
          ((b >> i) & 1L) << (3 * i + 1) |
          ((c >> i) & 1L) << (3 * i + 2)
      }
    val rnd = new scala.util.Random(0x3D)
    val lim = 1 << 21
    val cases = Seq((0L, 0L, 0L), ((lim - 1).toLong, (lim - 1).toLong, (lim - 1).toLong)) ++
      Seq.fill(200)((rnd.nextInt(lim).toLong, rnd.nextInt(lim).toLong, rnd.nextInt(lim).toLong))
    val df = cases.toDF("a", "b", "c").withColumn("z",
      graft.warehouse.ZOrder.zvalue3(
        org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b"),
        org.apache.spark.sql.functions.col("c")))
    df.collect().foreach { r =>
      assert(r.getLong(3) === morton3(r.getLong(0), r.getLong(1), r.getLong(2)),
        s"(${r.getLong(0)}, ${r.getLong(1)}, ${r.getLong(2)})")
    }
  }

  test("three-column Z-order prunes on every clustered dimension") {
    val c = new Connector(spark, freshWarehouse())
    val df = spark.range(0, 24000).toDF("i")
      .withColumn("x", $"i" % 1000)
      .withColumn("y", ($"i" * 37) % 64000)
      .withColumn("w", ($"i" * 11) % 500)
      .select("x", "y", "w")
    c.createTable("tz3", df.limit(0))
    val t = c.loadTable("tz3")
    t.append(graft.warehouse.ZOrder.cluster(df, Seq("x", "y", "w"), 27),
      statsCols = Seq("x", "y", "w"))
    val total = t.read().inputFiles.length
    assert(total > 8, s"want many files, got $total")
    val px = t.readWhere("x", None, Some(124L)).inputFiles.length
    val py = t.readWhere("y", None, Some(7999L)).inputFiles.length
    val pw = t.readWhere("w", None, Some(62L)).inputFiles.length
    assert(px < total && py < total && pw < total,
      s"each dim must prune: $px, $py, $pw of $total")
    val want = t.read().filter($"x" <= 124 && $"w" <= 62).count()
    val got = t.readWhereAll(Seq(("x", None, Some(124L)), ("w", None, Some(62L))))
      .filter($"x" <= 124 && $"w" <= 62).count()
    assert(got === want)
  }

  test("Z-order clustered table prunes files on BOTH columns; slices stay sound") {
    val c = new Connector(spark, freshWarehouse())
    // deliberately different ranges per dim: x in [0,1000), y in
    // [0,64000) — the normalization must keep x-pruning useful anyway
    val df = spark.range(0, 16000).toDF("i")
      .withColumn("x", $"i" % 1000)
      .withColumn("y", ($"i" * 37) % 64000)
      .select("x", "y")
    c.createTable("tz", df.limit(0))
    val t = c.loadTable("tz")
    t.append(graft.warehouse.ZOrder.cluster(df, "x", "y", 16),
      statsCols = Seq("x", "y"))
    val total = t.read().inputFiles.length
    assert(total > 4, s"want multiple files, got $total")
    val px = t.readWhere("x", None, Some(249L)).inputFiles.length
    val py = t.readWhere("y", None, Some(15999L)).inputFiles.length
    val pb = t.readWhereAll(Seq(
      ("x", None, Some(249L)), ("y", None, Some(15999L)))).inputFiles.length
    assert(px < total, s"x alone must prune: $px of $total")
    assert(py < total, s"y alone must prune: $py of $total")
    assert(pb <= px && pb <= py && pb > 0,
      s"conjunction must prune at least as hard: $pb vs ($px, $py)")
    // soundness: pruned scan + row filter ≡ full scan + row filter
    val want = t.read().filter($"x" <= 249 && $"y" <= 15999).count()
    val got = t.readWhereAll(Seq(("x", None, Some(249L)), ("y", None, Some(15999L))))
      .filter($"x" <= 249 && $"y" <= 15999).count()
    assert(got === want)
  }

  test("rollbackTo reverts head content, keeps history, and composes with diff") {
    import org.apache.spark.sql.functions.col
    val c = new Connector(spark, freshWarehouse())
    val b1 = spark.range(0, 500).toDF("id").withColumn("v", $"id" * 2)
    c.createTable("tr", b1)
    val t = c.loadTable("tr")
    val s1 = t.currentSnapshotId.get
    val junk = spark.range(9000, 9100).toDF("id").withColumn("v", $"id")
    t.append(junk)
    // +1 so even id 0's new value differs from b1's (id*2 vs id*100+1) —
    // an identical row would legitimately cancel out of the diff
    t.upsert(spark.range(0, 10).toDF("id").withColumn("v", $"id" * 100 + 1), Seq("id"))
    val s3 = t.currentSnapshotId.get
    t.rollbackTo(s1)
    // head reads as if the junk append and the upsert never happened
    val now = t.read()
    assert(now.exceptAll(b1).isEmpty && b1.exceptAll(now).isEmpty)
    // ...but they remain time-travelable
    assert(t.read(Some(s3)).count() === 600)
    // append-only incremental readers refuse to cross the rollback
    intercept[graft.warehouse.HistoryExpiredException] { t.changesSince(s3).count() }
    // the changelog crosses it exactly: everything since s3 is the undo
    val d = t.diff(s3)
    assert(d.filter(col("_change_type") === "delete").count() === 110)
    assert(d.filter(col("_change_type") === "insert").count() === 10)
    // life goes on: a post-rollback append lands on the reverted state
    t.append(spark.range(1000, 1010).toDF("id").withColumn("v", $"id"))
    assert(t.read().count() === 510)
  }

  test("removeOrphans deletes only unreferenced aged files") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("to1", spark.range(0, 100).toDF("id"))
    val t = c.loadTable("to1")
    val dataDir = java.nio.file.Paths.get(t.dir.toString, "data", "crashed")
    java.nio.file.Files.createDirectories(dataDir)
    val orphan = dataDir.resolve("part-orphan.parquet")
    java.nio.file.Files.write(orphan, Array[Byte](1, 2, 3))
    java.nio.file.Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 100000))
    // a fresh (within-grace) orphan must survive
    val fresh = dataDir.resolve("part-fresh.parquet")
    java.nio.file.Files.write(fresh, Array[Byte](4, 5))
    val deleted = t.removeOrphans(graceMs = 50000)
    assert(deleted === Seq("data/crashed/part-orphan.parquet"))
    assert(!java.nio.file.Files.exists(orphan))
    assert(java.nio.file.Files.exists(fresh), "within-grace file must survive")
    assert(t.read().count() === 100, "referenced files untouched")
  }

  test("diff yields exact row changelogs across append/upsert/delete and is silent across compact") {
    import org.apache.spark.sql.functions.col
    val c = new Connector(spark, freshWarehouse())
    val b1 = spark.range(0, 1000).toDF("id").withColumn("v", $"id" * 10)
    c.createTable("td", b1)
    val t = c.loadTable("td")
    val s1 = t.currentSnapshotId.get
    // diff from 0 = everything is an insert
    val all = t.diff(0L)
    assert(all.filter($"_change_type" === "insert").count() === 1000)
    assert(all.filter($"_change_type" === "delete").count() === 0)
    // upsert: update 100 rows, insert 50 new
    val incoming = spark.range(0, 100).toDF("id").withColumn("v", $"id" * 10 + 1)
      .unionByName(spark.range(1000, 1050).toDF("id").withColumn("v", $"id" * 10))
    t.upsert(incoming, Seq("id"))
    val s2 = t.currentSnapshotId.get
    val d12 = t.diff(s1, s2).cache()
    val ins = d12.filter($"_change_type" === "insert").drop("_change_type")
    val del = d12.filter($"_change_type" === "delete").drop("_change_type")
    // inserts = the 150 incoming rows; deletes = the 100 OLD versions
    assert(ins.exceptAll(incoming).isEmpty && incoming.exceptAll(ins).isEmpty)
    val oldVersions = b1.filter($"id" < 100)
    assert(del.exceptAll(oldVersions).isEmpty && oldVersions.exceptAll(del).isEmpty)
    d12.unpersist()
    // semantic invariant: before ⊎ inserts ∖ deletes = after (multiset)
    val reconstructed = t.read(Some(s1)).unionByName(ins).exceptAll(del)
    val after = t.read(Some(s2))
    assert(reconstructed.exceptAll(after).isEmpty && after.exceptAll(reconstructed).isEmpty)
    // deleteWhere shows as pure deletes
    t.deleteWhere(col("id") >= 1040)
    val s3 = t.currentSnapshotId.get
    val d23 = t.diff(s2, s3)
    assert(d23.filter($"_change_type" === "insert").count() === 0)
    assert(d23.filter($"_change_type" === "delete").count() === 10)
    // compact moves every row to new files but changes none: diff is EMPTY
    t.compact(targetFiles = 4)
    assert(t.diff(s3).count() === 0,
      "a pure rewrite must produce no spurious changes")
  }

  test("stats-pruned reads time-travel: asOf resolves that era's files AND stats") {
    val c = new Connector(spark, freshWarehouse())
    val df = spark.range(0, 8000).toDF("i")
      .withColumn("x", $"i" % 1000).withColumn("y", ($"i" * 37) % 64000)
      .select("x", "y")
    c.createTable("tzt", df.limit(0))
    val t = c.loadTable("tzt")
    t.append(graft.warehouse.ZOrder.cluster(df, "x", "y", 8),
      statsCols = Seq("x", "y"))
    val s1 = t.currentSnapshotId.get
    val era1Files = t.read(Some(s1)).inputFiles.toSet
    // junk era: overlapping values, unclustered — must be invisible asOf s1
    t.append(df.withColumn("x", $"x" + 1), clusterParts = 2)
    val slice = t.readWhereAll(Seq(("x", None, Some(249L))), asOf = Some(s1))
    assert(slice.inputFiles.length < era1Files.size,
      "era-1 stats must still prune under time travel")
    val want = t.read(Some(s1)).filter($"x" <= 249).count()
    assert(slice.filter($"x" <= 249).count() === want)
    // leak check on FILE IDENTITY, not row counts — range-partition
    // sampling wobbles kept-row counts by ~±100, which is smaller than
    // any count-based margin would reliably separate
    assert(slice.inputFiles.toSet.subsetOf(era1Files),
      "the junk era's files must not leak into the pinned read")
  }

  test("compact with zOrderBy re-lays arrival-order appends into a prunable Z layout") {
    val c = new Connector(spark, freshWarehouse())
    val df = spark.range(0, 16000).toDF("i")
      .withColumn("x", $"i" % 1000)
      .withColumn("y", ($"i" * 37) % 64000)
      .select("x", "y")
    c.createTable("tzc", df.limit(0))
    val t = c.loadTable("tzc")
    // two arrival-order appends: stats (if any) span the full range,
    // so nothing prunes before the rewrite
    t.append(df.filter($"x" % 2 === 0), clusterParts = 4)
    t.append(df.filter($"x" % 2 =!= 0), clusterParts = 4)
    val before = t.read().count()
    t.compact(targetFiles = 16, zOrderBy = Seq("x", "y"))
    assert(t.read().count() === before, "compact must not change content")
    val total = t.read().inputFiles.length
    val px = t.readWhere("x", None, Some(249L)).inputFiles.length
    val py = t.readWhere("y", None, Some(15999L)).inputFiles.length
    assert(px < total && py < total,
      s"z-compacted table must prune on both columns: $px, $py of $total")
  }

  test("replace swaps contents in one snapshot: time travel kept, changesSince refuses, diff resolves") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("tr", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val t = c.loadTable("tr")
    val s1 = t.currentSnapshotId.get
    t.replace(Seq((2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v"))
    // head shows the new contents; the old cut is still readable
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L, 4L))
    assert(t.read(Some(s1)).select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // an append-only incremental read cannot express a replace
    intercept[graft.warehouse.HistoryExpiredException] { t.changesSince(s1).count() }
    // the changelog can: delete of 1, inserts of 3 and 4; row 2 cancels
    val d = t.diff(s1).groupBy("_change_type")
      .agg(org.apache.spark.sql.functions.collect_list("id").as("ids"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).sorted).toMap
    assert(d("insert") == Seq(3L, 4L) && d("delete") == Seq(1L))
    // replace may also change the schema (mirror evolution continuation)
    t.replace(Seq((5L, "e", 1L)).toDF("id", "v", "extra"))
    assert(t.schema.fieldNames.toSeq == Seq("id", "v", "extra"))
    assert(t.read(Some(s1)).columns.toSeq == Seq("id", "v"),
      "pre-replace cuts keep their era's schema")
  }

  test("quantile Z-ranks prune skewed columns where linear min/max ranks cannot") {
    // power-law shape: 99% of rows in [0, 90), 1% scattered above 10^5.
    // Linear ranks collapse the dense 99% onto ~a dozen rank values, so
    // every z-range file contains dense-region rows in the v dimension
    // and a low-v predicate prunes NOTHING; equal-mass quantile buckets
    // spread the same 99% across the rank space, restoring pruning.
    import graft.warehouse.ZOrder
    val df = spark.range(1, 20001).toDF("id")
      .withColumn("v",
        org.apache.spark.sql.functions.when($"id" % 100 === 0, $"id" + 100000L)
          .otherwise($"id" % 90))
      .select("v", "id")
    def layout(name: String, clustered: org.apache.spark.sql.DataFrame): GraftTable = {
      val c = new Connector(spark, freshWarehouse())
      c.createTable(name, df.limit(0))
      val t = c.loadTable(name)
      t.append(clustered, statsCols = Seq("v", "id"))
      t
    }
    val linear = layout("tlin", ZOrder.cluster(df, Seq("v", "id"), 16))
    val quant = layout("tq", ZOrder.clusterQuantile(df, Seq("v", "id"), 16))
    assert(quant.read().count() === df.count(),
      "quantile clustering must not change content")
    // the schema-only create's empty file is pruned by its rows==0 stat
    // on every stats path — the degeneration claim is about DATA files
    val totalL = linear.read().inputFiles.length - 1
    val totalQ = quant.read().inputFiles.length - 1
    val pLin = linear.readWhere("v", None, Some(45L)).inputFiles.length
    val pQ = quant.readWhere("v", None, Some(45L)).inputFiles.length
    // the degeneration this test exists to pin: min/max ranks leave the
    // skewed dimension unprunable (every data file spans the dense region)
    assert(pLin === totalL,
      s"expected linear ranks to prune nothing on the skewed column, got $pLin of $totalL")
    assert(pQ < totalQ,
      s"quantile ranks must prune the skewed column: $pQ of $totalQ")
    // and the uniform dimension still prunes under quantile ranks
    val pId = quant.readWhere("id", None, Some(5000L)).inputFiles.length
    assert(pId < totalQ, s"uniform dim must still prune: $pId of $totalQ")
  }

  test("compact with zOrderQuantile re-lays a skewed table into a prunable layout") {
    val c = new Connector(spark, freshWarehouse())
    val df = spark.range(1, 20001).toDF("id")
      .withColumn("v",
        org.apache.spark.sql.functions.when($"id" % 100 === 0, $"id" + 100000L)
          .otherwise($"id" % 90))
      .select("v", "id")
    c.createTable("tzq", df.limit(0))
    val t = c.loadTable("tzq")
    t.append(df.filter($"id" % 2 === 0), clusterParts = 4)
    t.append(df.filter($"id" % 2 =!= 0), clusterParts = 4)
    val before = t.read().count()
    t.compact(targetFiles = 16, zOrderBy = Seq("v", "id"), zOrderQuantile = true)
    assert(t.read().count() === before, "compact must not change content")
    val total = t.read().inputFiles.length
    val pv = t.readWhere("v", None, Some(45L)).inputFiles.length
    val pid = t.readWhere("id", None, Some(5000L)).inputFiles.length
    assert(pv < total && pid < total,
      s"quantile-z compact must prune on both columns: $pv, $pid of $total")
  }

  test("compact rewrites files without changing content; expiry reclaims them") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", Seq((1L, "a")).toDF("id", "v"))
    (2L to 9L).foreach(i => c.insert("t", Seq((i, s"v$i")).toDF("id", "v")))
    val t = c.loadTable("t")
    val preCompactSnap = t.currentSnapshotId.get
    val preFiles = t.read().inputFiles.length
    assert(preFiles >= 9) // one tiny file per append

    val compactSnap = t.compact(targetFiles = 2)
    assert(t.read().inputFiles.length <= 2)
    assert(t.read().count() === 9)
    // time travel to before the compaction still sees the old files
    assert(t.read(asOf = Some(preCompactSnap)).count() === 9)
    // appends after compaction land on top of the baseline
    c.insert("t", Seq((10L, "v10")).toDF("id", "v"))
    assert(t.read().count() === 10)
    // changes-since skips the rewrite: only the real append is a change
    assert(t.changesSince(preCompactSnap).select("id").as[Long]
      .collect().toSeq === Seq(10L))

    // expiry up to the compaction baseline drops old manifests + files
    t.expireSnapshots(compactSnap.snapshotId)
    assert(t.log.snapshots.head.snapshotId === compactSnap.snapshotId)
    assert(t.read().count() === 10) // head view intact
    intercept[IllegalArgumentException] {
      t.expireSnapshots(compactSnap.snapshotId + 1)
    }
    // changes-since across the expired horizon must FAIL, not silently
    // return a partial delta (a lagging replica would diverge)
    intercept[IllegalStateException] { t.changesSince(1L) }
    // ...but the delta from the surviving baseline still works
    assert(t.changesSince(compactSnap.snapshotId - 1).count() === 1)
  }

  test("additive schema evolution: old files read as nulls, time travel keeps the old schema") {
    import org.apache.spark.sql.types._
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val t = c.loadTable("t")
    val preEvolve = t.currentSnapshotId.get
    t.addColumns(StructType(Seq(StructField("score", DoubleType, nullable = true))))
    // head read: evolved schema, old rows null-filled
    assert(t.read().columns.toSeq === Seq("id", "v", "score"))
    assert(t.read().filter($"score".isNull).count() === 2)
    // appends must carry the evolved schema; old shape is rejected
    intercept[IllegalArgumentException] {
      t.append(Seq((3L, "c")).toDF("id", "v"))
    }
    t.append(Seq((3L, "c", 0.5)).toDF("id", "v", "score"))
    assert(t.read().filter($"score".isNotNull).count() === 1)
    // time travel to before the evolution sees the old schema
    assert(t.read(asOf = Some(preEvolve)).columns.toSeq === Seq("id", "v"))
    // guards: non-nullable and duplicate columns rejected
    intercept[IllegalArgumentException] {
      t.addColumns(StructType(Seq(StructField("x", LongType, nullable = false))))
    }
    intercept[IllegalArgumentException] {
      t.addColumns(StructType(Seq(StructField("id", LongType, nullable = true))))
    }
  }

  test("sql() sees external commits but never re-reflects unchanged tables") {
    val wh = freshWarehouse()
    val c1 = new Connector(spark, wh) // external committer
    val c2 = new Connector(spark, wh) // query side
    c1.createTable("ext", Seq((1L, "a")).toDF("id", "v"))
    assert(c2.sql("SELECT count(*) FROM ext").head.getLong(0) === 1L)
    val afterFirst = c2.reflections.get()
    // repeat queries with no commits: no further reflections
    (1 to 3).foreach(_ => c2.sql("SELECT count(*) FROM ext").collect())
    assert(c2.reflections.get() === afterFirst, "unchanged table re-reflected")
    // an EXTERNAL commit (different connector instance) must be seen
    c1.insert("ext", Seq((2L, "b")).toDF("id", "v"))
    assert(c2.sql("SELECT count(*) FROM ext").head.getLong(0) === 2L)
    assert(c2.reflections.get() === afterFirst + 1)
  }

  test("sql() probes only the statement's relations, not the warehouse (r19)") {
    val wh = freshWarehouse()
    val c = new Connector(spark, wh)
    // a warehouse much wider than any one statement
    (1 to 30).foreach(i =>
      c.createTable(s"wide_$i", Seq((i.toLong, "x")).toDF("id", "v")))
    c.sql("CREATE VIEW wv AS SELECT id FROM wide_7")
    c.sql("SELECT 1").collect() // warm-up
    def probesFor(stmt: String): Long = {
      val before = c.probes.get()
      c.sql(stmt).collect()
      c.probes.get() - before
    }
    // one relation → a constant few probes, NOT ~30 (the r18 surface
    // paid O(#tables) directory listings per statement)
    assert(probesFor("SELECT count(*) AS n FROM wide_3") <= 3L)
    // a join names two; a view chases to ITS base table
    assert(probesFor("SELECT count(*) AS n FROM wide_1 a " +
      "JOIN wide_2 b ON a.id = b.id") <= 6L)
    assert(probesFor("SELECT count(*) AS n FROM wv") <= 6L)
    // a view over a view chases through both definitions to the table
    c.sql("CREATE VIEW wvv AS SELECT id FROM wv")
    assert(probesFor("SELECT count(*) AS n FROM wvv") <= 6L)
    // a relation-free statement probes nothing
    assert(probesFor("SELECT 1 + 1") === 0L)
    // catalog-enumerating verbs keep the full sweep (they list the
    // session's temp views, so every table must be fresh)
    assert(probesFor("SHOW TABLES") >= 30L)
    // EXTERNAL-commit visibility survives the scoping: a second
    // connector commits, the statement naming that table sees it —
    // directly and through the view
    val c1 = new Connector(spark, wh)
    c1.insert("wide_7", Seq((99L, "y")).toDF("id", "v"))
    assert(c.sql("SELECT count(*) AS n FROM wide_7").head.getLong(0) === 2L)
    c1.insert("wide_7", Seq((100L, "z")).toDF("id", "v"))
    assert(c.sql("SELECT count(*) AS n FROM wv").head.getLong(0) === 3L)
    // ... and through a meta-table spelling and DML sources too
    c1.insert("wide_8", Seq((98L, "y")).toDF("id", "v"))
    assert(c.sql("SELECT count(*) AS n FROM wide_8").head.getLong(0) === 2L)
  }

  test("conditional commit rejects a moved head (compact CAS)") {
    val dir = Files.createTempDirectory("graft-cas-")
    val log = new SnapshotLog(dir)
    def commit(op: String, file: String) = log.publish(op,
      SnapshotLog.RelinkLimit)(_ => Right(Staged(op, Seq(file), "{}"))).merge
    commit("create", "data/s1/a.parquet")
    commit("append", "data/s2/b.parquet")
    val compact = Staged("compact", Seq("data/c1/c.parquet"), "{}")
    intercept[java.util.ConcurrentModificationException] {
      log.publishAt(1L, "compact")(compact) // head is 2
    }
    assert(log.currentSnapshotId.contains(2L), "failed CAS must not commit")
    val ok = log.publishAt(2L, "compact")(compact)
    assert(ok.snapshotId === 3L)
  }

  test("compact racing concurrent appends never loses rows") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v"))
    val t = c.loadTable("t")
    val appender = new Thread(() => {
      // appends need the active session on this fresh thread
      spark match {
        case cs: org.apache.spark.sql.classic.SparkSession =>
          org.apache.spark.sql.classic.SparkSession.setActiveSession(cs)
        case _ =>
      }
      (1 to 5).foreach { k =>
        t.append((1L to 10L).map(i => (1000L * k + i, s"x$k$i")).toDF("id", "v"))
      }
    })
    appender.start()
    (1 to 3).foreach(_ => t.compact(targetFiles = 2))
    appender.join()
    t.compact(targetFiles = 2) // settle once appends are done
    assert(t.read().count() === 100, "concurrent append rows survived compaction")
    assert(t.read().select("id").distinct().count() === 100)
  }

  test("file stats stay conservative for longs above 2^53") {
    import graft.warehouse.FileStat
    val big = (1L << 60) + 1L // not representable as Double
    val lo = FileStat.dirDouble(big, up = false)
    val hi = FileStat.dirDouble(big, up = true)
    assert(BigDecimal(lo) <= BigDecimal(big), "min rounds down")
    assert(BigDecimal(hi) >= BigDecimal(big), "max rounds up")
    // a single-value file must never be pruned for its own value
    val st = FileStat(Map("id" -> lo), Map("id" -> hi), Map.empty, Map.empty)
    assert(st.mayContain("id", Some(big), Some(big)))
    assert(st.mayContain("id", Some(big - 10), Some(big + 10)))
    // end-to-end: snowflake-style ids survive stats-based pruning
    val c = new Connector(spark, freshWarehouse())
    val df = Seq(big - 2, big - 1, big, big + 1).toDF("id")
    c.createTable("t", df.limit(1))
    c.loadTable("t").append(df, clusterBy = Seq("id"))
    val hits = c.loadTable("t").readWhere("id", Some(big), Some(big))
      .filter($"id" === big).count()
    assert(hits === 1L)
  }

  test("follower feeds each row exactly once across appends, expiry self-heal included") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v"))
    val t = c.loadTable("t")
    val offset = Files.createTempDirectory("graft-follow").resolve("offset")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    def consume(df: org.apache.spark.sql.DataFrame, full: Boolean): Unit = {
      if (full) seen.clear() // full feed resets downstream state
      seen ++= df.select("id").as[Long].collect()
    }
    val t1 = graft.warehouse.Follower.followOnce(t, offset)(consume)
    assert(t1.status === "full" && seen.size === 20)
    c.insert("t", Seq((21L, "v21"), (22L, "v22")).toDF("id", "v"))
    val t2 = graft.warehouse.Follower.followOnce(t, offset)(consume)
    assert(t2.status === "incremental" && t2.rows === 2)
    assert(seen.sorted.toSeq === (1L to 22L))
    val t3 = graft.warehouse.Follower.followOnce(t, offset)(consume)
    assert(t3.status === "up_to_date" && seen.size === 22)

    // expire history past the follower's offset → full re-feed, no dupes
    c.insert("t", Seq((23L, "v23")).toDF("id", "v"))
    val compacted = t.compact(targetFiles = 1)
    c.insert("t", Seq((24L, "v24")).toDF("id", "v"))
    // rewind the offset before the horizon, then expire
    java.nio.file.Files.writeString(offset, "1")
    t.expireSnapshots(compacted.snapshotId)
    val t4 = graft.warehouse.Follower.followOnce(t, offset)(consume)
    assert(t4.status === "full_resync", s"got ${t4.status}")
    assert(seen.sorted.toSeq === (1L to 24L))
    // loop mode converges
    val t5 = graft.warehouse.Follower.run(t, offset, intervalMs = 1,
      iterations = Some(2))(consume)
    assert(t5.status === "up_to_date")
  }

  test("upsert replaces matched keys, inserts new ones, leaves other files alone") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"))
    val t = c.loadTable("t")
    t.append((11L to 20L).map(i => (i, s"v$i")).toDF("id", "v"))
    val preFiles = t.log.dataFiles().toSet
    val s1 = t.currentSnapshotId.get
    // update 2 rows in the first file's range, insert 1 new key
    val snap = t.upsert(Seq((1L, "NEW1"), (5L, "NEW5"), (99L, "NEW99"))
      .toDF("id", "v"), Seq("id"))
    assert(snap.operation === "merge") // upsert = merge with a never-true delete arm
    val now = t.read().as[(Long, String)].collect().toMap
    assert(now.size === 21)
    assert(now(1L) === "NEW1" && now(5L) === "NEW5" && now(99L) === "NEW99")
    assert(now(2L) === "v2" && now(15L) === "v15")
    // write amplification is bounded to the hit files: the second
    // append's files (ids 11-20, no matches) must still be referenced
    val postFiles = t.log.dataFiles().toSet
    val untouched = preFiles.intersect(postFiles)
    assert(untouched.nonEmpty, "files without matching keys were rewritten")
    // time travel: the pre-upsert snapshot still reads the old values
    val before = t.read(Some(s1)).as[(Long, String)].collect().toMap
    assert(before(1L) === "v1" && before.size === 20)
    // incremental readers refuse to cross the rewrite
    intercept[graft.warehouse.HistoryExpiredException] {
      t.changesSince(s1).count()
    }
  }

  test("merge applies update+insert+delete in one commit; absent-key tombstones no-op") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("tm", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val t = c.loadTable("tm")
    val s0 = t.currentSnapshotId.get
    // U on 2, D on 3, I of 4, D of never-present 9 — one changelog batch
    val cl = Seq((2L, "B", "U"), (3L, "x", "D"), (4L, "d", "I"), (9L, "x", "D"))
      .toDF("id", "v", "_op")
    c.merge("tm", cl, Seq("id"), $"_op" === "D")
    assert(t.read().as[(Long, String)].collect().toMap ===
      Map(1L -> "a", 2L -> "B", 4L -> "d"))
    // single commit, merge snapshot, predicate column not persisted
    assert(t.currentSnapshotId.contains(s0 + 1))
    assert(t.log.head.get.operation === "merge")
    assert(t.schema.fieldNames.toSeq === Seq("id", "v"))
    // delete-of-old + insert-of-new changelog crosses the merge
    val d = t.diff(s0).groupBy("_change_type")
      .agg(org.apache.spark.sql.functions.collect_list("id").as("ids"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).sorted).toMap
    assert(d("delete") === Seq(2L, 3L) && d("insert") === Seq(2L, 4L))
    // NULL-evaluating delete predicate keeps the row on the upsert arm
    val cl2 = Seq((1L, "A", null.asInstanceOf[String])).toDF("id", "v", "_op")
    c.merge("tm", cl2, Seq("id"), $"_op" === "D")
    assert(t.read().as[(Long, String)].collect().toMap.apply(1L) === "A")
  }

  test("deleteWhere removes matching rows; no-match is a snapshotless no-op") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", (1L to 20L).map(i => (i, i % 3)).toDF("id", "m"))
    val t = c.loadTable("t")
    val s0 = t.currentSnapshotId.get
    t.deleteWhere(org.apache.spark.sql.functions.col("m") === 1)
    val left = t.read().select("id").as[Long].collect().toSet
    assert(left === (1L to 20L).filter(_ % 3 != 1).toSet)
    // no-op delete commits nothing
    val sBefore = t.currentSnapshotId.get
    t.deleteWhere(org.apache.spark.sql.functions.col("m") === 99)
    assert(t.currentSnapshotId.get === sBefore)
    // time travel unaffected
    assert(t.read(Some(s0)).count() === 20)
  }

  test("deleteWhere keeps NULL-evaluating rows (SQL DELETE semantics)") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", Seq((1L, "x"), (2L, null.asInstanceOf[String]), (3L, "y"))
      .toDF("id", "v"))
    val t = c.loadTable("t")
    t.deleteWhere(org.apache.spark.sql.functions.col("v") === "x")
    // row 2's predicate evaluates to NULL — it must SURVIVE (a bare
    // !cond filter would silently drop it)
    assert(t.read().select("id").as[Long].collect().toSet === Set(2L, 3L))
  }

  test("updateWhere: simultaneous assignment, NULL-keep, file surgery, CDC pairing") {
    import org.apache.spark.sql.functions.{col, lit}
    val c = new Connector(spark, freshWarehouse())
    val base = (1L to 400L).map(i =>
      (i, i * 10L, if (i % 7 == 0) null else s"g${i % 4}"))
      .toDF("id", "a", "g")
    c.createTable("t", base.limit(0))
    val t = c.loadTable("t")
    t.append(base, clusterBy = Seq("id"), statsCols = Seq("id"), clusterParts = 8)
    val filesBefore = t.read().inputFiles.length
    val s0 = t.currentSnapshotId.get
    // SET a = a + 1, id = a (simultaneous: new id must be the OLD a)
    val up = t.updateWhere(col("id") <= 50,
      Map("a" -> (col("a") + 1), "id" -> col("a")))
    assert(up.operation === "update")
    // the sargable range predicate stats-pruned the file-target probe
    assert(t.lastStatProbe.exists { case (k, v) => k > 0 && k < v },
      s"probe not pruned: ${t.lastStatProbe}")
    // file surgery: the clustered layout means only the low-range files
    // were rewritten
    assert(up.removedFiles.nonEmpty && up.removedFiles.size < filesBefore,
      s"update rewrote ${up.removedFiles.size} of $filesBefore files")
    val got = t.read().filter(col("a") <= 501).orderBy("a")
      .select("id", "a").as[(Long, Long)].collect()
    assert(got.take(3).toSeq === Seq((10L, 11L), (20L, 21L), (30L, 31L)))
    assert(got.length === 50)
    // NULL-evaluating predicate leaves the row UNtouched (g is null at
    // multiples of 7: g === "g1" is NULL there, not true). The %10
    // guard excludes rows the FIRST update relocated (their new ids
    // are all multiples of 10).
    t.updateWhere(col("g") === "g1" && col("id") > 300 &&
        col("id") % 10 =!= 0,
      Map("a" -> lit(-1L)))
    assert(t.read().filter(col("a") === -1L).count() ===
      (301L to 400L).count(i => i % 4 == 1 && i % 7 != 0))
    // no-match is a snapshotless no-op
    val sBefore = t.currentSnapshotId.get
    t.updateWhere(col("id") === -999, Map("a" -> lit(0L)))
    assert(t.currentSnapshotId.get === sBefore)
    // changeFeed pairs the rewrite into update pre/post images via the
    // recorded non-assigned pairing key (g)
    val cf = t.changeFeed(s0, up.snapshotId)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cf.getOrElse("update_preimage", 0L) === 50L &&
      cf.getOrElse("update_postimage", 0L) === 50L,
      s"changeFeed did not pair the update: $cf")
    // assignments cast to the declared type; unknown SET column refuses
    intercept[IllegalArgumentException] {
      t.updateWhere(col("id") === 1, Map("nope" -> lit(1)))
    }
    // time travel pre-update unaffected
    assert(t.read(Some(s0)).filter(col("id") <= 50).count() === 50)
  }

  test("updateWhere enforces CHECK constraints on the post-image and moves partitions") {
    import org.apache.spark.sql.functions.col
    val c = new Connector(spark, freshWarehouse())
    val base = (1L to 100L).map(i => (i, i % 10)).toDF("id", "b")
    c.createTable("t", base.limit(0))
    val t = c.loadTable("t")
    t.setPartitionSpec(Seq(graft.warehouse.PartitionField("identity", "b")))
    t.append(base)
    t.addCheckConstraint("b_range", "b BETWEEN 0 AND 20")
    // post-image violates → refused before any commit
    val head0 = t.currentSnapshotId.get
    intercept[IllegalArgumentException] {
      t.updateWhere(col("id") <= 5, Map("b" -> (col("b") + 100)))
    }
    assert(t.currentSnapshotId.get === head0)
    // partition-column update relocates rows to the new directories
    t.updateWhere(col("b") === 3, Map("b" -> (col("b") + 10)))
    assert(t.read().filter(col("b") === 3).count() === 0)
    assert(t.read().filter(col("b") === 13).count() === 10)
    // the relocated rows are findable via partition pruning (the new
    // files carry b=13 point-range path stats)
    val pruned = t.readWhere("b", Some(13L), Some(13L))
    assert(pruned.count() === 10)
  }

  test("upsert matches NULL keys null-safely (no duplicate accumulation)") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", Seq((java.lang.Long.valueOf(1L), "a"),
      (null.asInstanceOf[java.lang.Long], "n1")).toDF("id", "v"))
    val t = c.loadTable("t")
    t.upsert(Seq((null.asInstanceOf[java.lang.Long], "n2")).toDF("id", "v"), Seq("id"))
    t.upsert(Seq((null.asInstanceOf[java.lang.Long], "n3")).toDF("id", "v"), Seq("id"))
    val rows = t.read().collect().map(r =>
      (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getString(1)).toMap
    assert(rows.size === 2, s"NULL key duplicated: ${rows.mkString(",")}")
    assert(rows(-1L) === "n3" && rows(1L) === "a")
  }

  test("copy-on-write probes rewrite exactly the files their hit rows come from") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{col, input_file_name, lit}
    // 40 files, rows dealt round-robin, so every predicate below hits
    // rows in many files, and the scan packs several files per task
    val init = (0L until 2000L).map(i => (Option(i), s"v$i")) :+ ((None, "null"))
    def table(): GraftTable = GraftTable.create(spark,
      Files.createTempDirectory("graft-probe-"), "t",
      init.toDF("id", "v").repartition(40)).get
    def hitFiles(t: GraftTable, hit: Column): Set[String] =
      t.read().filter(hit).select(input_file_name()).as[String].collect()
        .map(u => t.dir.relativize(java.nio.file.Paths.get(
          java.net.URI.create(u).getPath)).toString).toSet
    def check(t: GraftTable, hit: Column)(
        dml: GraftTable => graft.warehouse.Snapshot): Unit = {
      val want = hitFiles(t, hit)
      assert(want.size > 4 && want.size < t.log.dataFiles().size,
        s"hits must span files: $want")
      assert(t.read().queryExecution.toRdd.getNumPartitions > 1,
        "hits must span scan partitions")
      assert(dml(t).removedFiles.toSet === want)
    }
    check(table(), col("id") % 50 === 7L)(_.deleteWhere(col("id") % 50 === 7L))
    // driver-local bodies (bare, and coalesced as an Arrow body arrives)
    // and a body with a plan behind it take different key-set paths;
    // the NULL key finds its stored NULL twin on each
    val keys = (3L until 2000L by 45L).map(Option(_)) ++ Seq(None, Some(5000L))
    val body = keys.map(k => (k, "new")).toDF("id", "v")
    val planned = spark.range(3L, 2000L, 45L)
      .select(col("id"), lit("new").as("v"))
      .unionByName(Seq((Option.empty[Long], "new"), (Some(5000L), "new")).toDF("id", "v"))
    Seq(body, body.coalesce(1), planned).foreach { b =>
      val t = table()
      check(t, col("id").isin(keys.flatten: _*) || col("id").isNull)(
        _.upsert(b, Seq("id")))
      assert(t.read().count() === init.size + 1)
      assert(t.read().filter(col("v") === "new").count() === keys.size)
    }
    // under row lineage a key repeated anywhere in the batch is refused
    val lt = table()
    lt.enableRowLineage()
    intercept[IllegalArgumentException] {
      lt.upsert((keys :+ keys.head).map(k => (k, "dup")).toDF("id", "v")
        .coalesce(1), Seq("id"))
    }
  }

  test("upsert prunes probe files via key stats when the table is clustered") {
    val c = new Connector(spark, freshWarehouse())
    val wide = (1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v")
    c.createTable("t", wide.limit(0))
    val t = c.loadTable("t")
    t.append(wide, clusterBy = Seq("id"), statsCols = Seq("id"), clusterParts = 8)
    // a one-key upsert must not mark distant files affected: the stats
    // range check keeps untouched files out of removedFiles
    val before = t.log.dataFiles().size
    val snap = t.upsert(Seq((5L, "NEW")).toDF("id", "v"), Seq("id"),
      statsCols = Seq("id"))
    assert(snap.removedFiles.size < before,
      s"stats pruning ineffective: rewrote ${snap.removedFiles.size}/$before files")
    assert(t.read().filter(org.apache.spark.sql.functions.col("id") === 5L)
      .select("v").as[String].head() === "NEW")
    assert(t.read().count() === 1000)
  }

  test("upsert racing a concurrent append retries and loses no rows") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v"))
    val t = c.loadTable("t")
    val appender = new Thread(() => {
      spark match {
        case cs: org.apache.spark.sql.classic.SparkSession =>
          org.apache.spark.sql.classic.SparkSession.setActiveSession(cs)
        case _ =>
      }
      (1 to 5).foreach { k =>
        t.append((1L to 10L).map(i => (1000L * k + i, s"x$k$i")).toDF("id", "v"))
      }
    })
    appender.start()
    (1 to 3).foreach { r =>
      t.upsert(Seq((1L, s"U$r"), (50000L + r, s"I$r")).toDF("id", "v"), Seq("id"))
    }
    appender.join()
    val rows = t.read().as[(Long, String)].collect().toMap
    assert(rows.size === 50 + 50 + 3, s"got ${rows.size}") // 50 base + 5x10 appends + 3 inserts
    assert(rows(1L) === "U3")
    (1 to 5).foreach(k => assert(rows(1000L * k + 7) === s"x${k}7"))
  }

  test("each CAS-committing write survives exactly one lost head race") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.warehouse.Snapshot
    val race = LostRaceHook.passLong
    val base = (1L to 6L).map(i => (i, s"v$i"))
    def raced(df: org.apache.spark.sql.DataFrame) =
      df.select(race(col("id")).as("id"), col("v"))
    // (operation, committed operation name, the call, rows afterwards);
    // `race` sits in the operation's own input, so its first evaluation
    // lands inside the first attempt, after the head was read — or, for
    // the writes that stage once and only re-link (append,
    // deleteKeysMor), while their files are staged
    val cases: Seq[(String, String, GraftTable => Snapshot, Seq[(Long, String)])] = Seq(
      ("append", "append", _.append(raced(Seq((7L, "A")).toDF("id", "v"))),
        base :+ ((7L, "A"))),
      ("deleteKeysMor", "eqdelete",
        _.deleteKeysMor(Seq(2L).toDF("id").select(race(col("id")).as("id"))),
        base.filterNot(_._1 == 2L)),
      ("deleteWhere", "delete", _.deleteWhere(race(col("id")) <= 2L),
        base.drop(2)),
      ("updateWhere", "update",
        _.updateWhere(race(col("id")) === 3L, Map("v" -> lit("U"))),
        base.map { case (i, v) => (i, if (i == 3L) "U" else v) }),
      ("upsert", "merge",
        _.upsert(raced(Seq((2L, "U"), (9L, "I")).toDF("id", "v")), Seq("id")),
        base.map { case (i, v) => (i, if (i == 2L) "U" else v) } :+ ((9L, "I"))),
      ("replace", "replace", _.replace(raced(Seq((7L, "R")).toDF("id", "v"))),
        Seq((7L, "R"))),
      ("deletePosMor", "posdelete", _.deletePosMor(race(col("id")) === 4L),
        base.filterNot(_._1 == 4L)))
    cases.foreach { case (op, opName, run, want) =>
      val dir = Files.createTempDirectory("graft-race-")
      val t = GraftTable.create(spark, dir, "t", base.toDF("id", "v")).get
      // the rival commits through its own handle on the same table
      val rival = GraftTable.load(spark, dir, "t").get
      val raceId = new java.util.concurrent.atomic.AtomicLong(-1L)
      LostRaceHook.arm(() =>
        raceId.set(rival.setProperties(Map("race" -> op)).snapshotId))
      val snap = run(t)
      assert(raceId.get > 0L, s"$op: the rival commit never ran")
      assert(snap.snapshotId == raceId.get + 1, s"$op committed at ${snap.snapshotId}")
      assert(snap.operation == opName, op)
      assert(t.read().as[(Long, String)].collect().sorted.toSeq == want, op)
      assert(t.userProperties().get("race").contains(op),
        s"$op: the winner's commit must stay visible")
      // the lost attempt's staged files were discarded, not orphaned
      assert(t.removeOrphans(graceMs = 0L).isEmpty, op)
    }
  }

  test("an append racing addColumns keeps the added column; its rows read NULL there") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val dir = Files.createTempDirectory("graft-race-evolve-")
    val t = GraftTable.create(spark, dir, "t", Seq((1L, "a")).toDF("id", "v")).get
    val rival = GraftTable.load(spark, dir, "t").get
    // the rival evolves the table while the append writes its data
    LostRaceHook.arm(() =>
      rival.addColumns(StructType(Seq(StructField("note", StringType)))))
    val snap = t.append(Seq((2L, "b")).toDF("id", "v")
      .select(LostRaceHook.passLong(col("id")).as("id"), col("v")))
    assert(snap.operation == "append")
    assert(t.schema.fieldNames.toSeq == Seq("id", "v", "note"),
      "the append must not revert the evolution with its stale schema")
    val rows = t.read().orderBy("id").as[(Long, String, Option[String])]
      .collect().toSeq
    assert(rows == Seq((1L, "a", None), (2L, "b", None)))
  }

  test("connector upsert/delete re-reflect views so sql() sees the change") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    c.sql("SELECT * FROM t").count() // prime the view
    c.upsert("t", Seq((2L, "B2"), (3L, "c")).toDF("id", "v"), Seq("id"))
    val got = c.sql("SELECT v FROM t ORDER BY id").as[String].collect().toSeq
    assert(got === Seq("a", "B2", "c"))
    c.delete("t", org.apache.spark.sql.functions.col("id") === 1L)
    assert(c.sql("SELECT count(*) FROM t").as[Long].head() === 2L)
  }

  test("branch staging is invisible to main until a one-commit publish") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val t = c.loadTable("t")
    val s1 = t.currentSnapshotId.get
    val fork = t.createBranch("wap")
    assert(fork == s1)
    t.appendBranch("wap", Seq((3L, "c")).toDF("id", "v"))
    t.appendBranch("wap", Seq((4L, "d")).toDF("id", "v"))
    // main untouched; branch view = main-at-fork + both staged commits
    assert(t.currentSnapshotId.contains(s1))
    assert(t.read().count() == 2)
    assert(t.readBranch("wap").select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
    assert(t.branches == Seq("wap"))
    val pub = t.publishBranch("wap")
    // both staged commits land as ONE snapshot; branch metadata gone
    assert(pub.snapshotId == s1 + 1)
    assert(pub.operation == "publish")
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
    assert(t.branches.isEmpty)
    // published rows flow to incremental readers as an ordinary delta
    assert(t.changesSince(s1).select("id").as[Long].collect().sorted.toSeq ==
      Seq(3L, 4L))
  }

  test("publish CAS-fails when main advanced past the fork; drop discards staging") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", Seq((1L, "a")).toDF("id", "v"))
    val t = c.loadTable("t")
    t.createBranch("wap")
    t.appendBranch("wap", Seq((2L, "b")).toDF("id", "v"))
    c.insert("t", Seq((9L, "z")).toDF("id", "v")) // concurrent main commit
    intercept[java.util.ConcurrentModificationException] {
      t.publishBranch("wap")
    }
    // rebase: re-fork from the new head and publish cleanly
    val staged = t.readBranch("wap").filter($"id" === 2L)
      .select("id", "v").as[(Long, String)].collect().toSeq
    t.dropBranch("wap")
    t.createBranch("wap")
    t.appendBranch("wap", staged.toDF("id", "v"))
    t.publishBranch("wap")
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 9L))
  }

  test("dropped-branch files are orphans; open-branch files survive GC") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", Seq((1L, "a")).toDF("id", "v"))
    val t = c.loadTable("t")
    t.createBranch("keep")
    t.appendBranch("keep", Seq((2L, "b")).toDF("id", "v"))
    t.createBranch("dead")
    t.appendBranch("dead", Seq((3L, "c")).toDF("id", "v"))
    t.dropBranch("dead")
    val removed = t.removeOrphans(graceMs = 0L)
    // exactly the dropped branch's staged files were collected
    assert(removed.nonEmpty)
    assert(t.readBranch("keep").select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L), "open branch staging must survive orphan GC")
    t.publishBranch("keep")
    assert(t.read().count() == 2)
  }

  test("metaCount/metaMinMax answer from manifests across DML; unknown history → None") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"))
    val t = c.loadTable("t")
    t.append((101L to 120L).map(i => (i, s"v$i")).toDF("id", "v"),
      clusterBy = Seq("id"), clusterParts = 2)
    t.upsert(Seq((50L, "replaced")).toDF("id", "v"), Seq("id"))
    t.deleteWhere($"id" > 110L)
    assert(t.metaCount().contains(110L))
    // min/max need id stats on every surviving file: first commit had
    // no stat columns → unknowable, must refuse rather than guess
    assert(t.metaMinMax("id").isEmpty)
    t.compact(targetFiles = 2, clusterBy = Seq("id"))
    assert(t.metaCount().contains(110L))
    assert(t.metaMinMax("id").contains((1.0, 110.0)))
    // time travel: the metadata fold resolves at the cut
    assert(t.metaCount(Some(1L)).contains(100L))
    // physical witness: with the data dir renamed away, the answers
    // still come back — no data byte is touched
    val dataDir = t.dir.resolve("data")
    val hidden = t.dir.resolve("data_hidden")
    java.nio.file.Files.move(dataDir, hidden)
    try {
      assert(t.metaCount().contains(110L))
      assert(t.metaMinMax("id").contains((1.0, 110.0)))
    } finally java.nio.file.Files.move(hidden, dataDir)
  }

  test("materialized aggregate maintains count/sum from diffs; WAL survives both crash windows") {
    import graft.warehouse.MaterializedAgg
    val c = new Connector(spark, freshWarehouse())
    c.createTable("b", Seq((1L, 10L), (1L, 5L), (2L, 7L)).toDF("g", "v"))
    val t = c.loadTable("b")
    val vd = Files.createTempDirectory("graft-mv-")
    val mv = MaterializedAgg.create(t, vd.resolve("v"), "v", Seq("g"), Seq("v"))
    val state = vd.resolve("v").resolve("_mv_state.json")
    def stateApplied: Long = Files.readString(state).trim.split(",")(0).toLong
    def viewMap: Map[Long, (Long, Long)] = mv.view.read().collect()
      .map(r => r.getAs[Long]("g") ->
        ((r.getAs[Long]("cnt"), r.getAs[Long]("sum_v")))).toMap
    assert(viewMap == Map(1L -> ((2L, 15L)), 2L -> ((1L, 7L))))
    assert(mv.refresh() == "fresh")
    t.append(Seq((2L, 3L), (3L, 1L)).toDF("g", "v"))
    assert(mv.refresh() == "incremental")
    assert(viewMap == Map(1L -> ((2L, 15L)), 2L -> ((2L, 10L)), 3L -> ((1L, 1L))))
    // an emptied group must leave the view through the merge delete arm
    t.deleteWhere($"g" === 1L)
    assert(mv.refresh() == "incremental")
    assert(viewMap == Map(2L -> ((2L, 10L)), 3L -> ((1L, 1L))))
    // crash window A: pending marker written, merge never landed — the
    // marker must be recognized as aborted and the delta applied once
    val appliedA = stateApplied
    t.append(Seq((4L, 9L)).toDF("g", "v"))
    Files.writeString(state,
      s"$appliedA,${t.currentSnapshotId.get},${mv.view.currentSnapshotId.get}")
    assert(mv.refresh() == "incremental")
    assert(viewMap(4L) == ((1L, 9L)))
    // crash window B: merge landed, applied-state write lost — the
    // marker must be recognized as committed; re-applying would double
    val appliedB = stateApplied
    val preViewHead = mv.view.currentSnapshotId.get
    t.append(Seq((4L, 1L)).toDF("g", "v"))
    assert(mv.refresh() == "incremental")
    Files.writeString(state,
      s"$appliedB,${t.currentSnapshotId.get},$preViewHead")
    assert(mv.refresh() == "fresh", "a landed merge must not re-apply")
    assert(viewMap(4L) == ((2L, 10L)))
    // history expired past the applied snapshot → loud full rebuild
    val comp = t.compact(targetFiles = 2)
    t.expireSnapshots(comp.snapshotId)
    t.append(Seq((5L, 2L)).toDF("g", "v"))
    assert(mv.refresh() == "rebuild")
    assert(viewMap == Map(2L -> ((2L, 10L)), 3L -> ((1L, 1L)),
      4L -> ((2L, 10L)), 5L -> ((1L, 2L))))
    assert(mv.refresh() == "fresh")
    // a merge-on-read delete changes rows without changing file sets —
    // diff refused (pre-r14 this forced a rebuild), but the change
    // FEED reports the killed rows as deletes, so the refresh stays
    // incremental (group 4 loses both rows and leaves the view via
    // the merge delete arm)
    t.deleteKeysMor(Seq(4L).toDF("g"))
    assert(mv.refresh() == "incremental")
    assert(viewMap == Map(2L -> ((2L, 10L)), 3L -> ((1L, 1L)),
      5L -> ((1L, 2L))))
  }

  test("changeFeed reads under the window-end schema across a rename") {
    val dir = Files.createTempDirectory("graft-cfren-")
    val t = GraftTable.create(spark, dir, "t",
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v")).get // s1
    t.renameColumn("v", "w")       // metadata-only (id-upgrade + evolve)
    val ap = t.append(Seq((3L, 30L)).toDF("id", "w")).snapshotId
    val dl = t.deleteWhere($"id" === 1L).snapshotId
    val feed = t.changeFeed(0L)
    // all rows — including the pre-rename create's — report under the
    // CURRENT name (era projection by field id), the evolve commits are
    // silent, and the delete's preimage decodes the old-era file
    assert(feed.columns.contains("w") && !feed.columns.contains("v"))
    val got = feed.select("_commit_snapshot_id", "_change_type", "id", "w")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, "insert", 1L, 10L), (1L, "insert", 2L, 20L),
      (ap, "insert", 3L, 30L), (dl, "delete", 1L, 10L)))
  }

  test("timestamp time travel resolves the snapshot current at a wall-clock cut") {
    val dir = Files.createTempDirectory("graft-tstt-")
    val t = GraftTable.create(spark, dir, "t",
      Seq((1L, "a")).toDF("id", "v")).get
    val s1 = t.log.snapshots.head
    t.append(Seq((2L, "b")).toDF("id", "v"))
    val s2 = t.log.snapshots.last
    // before the first commit: refuse loudly, never an empty relation
    intercept[IllegalArgumentException] { t.readAsOfTime(s1.timestampMs - 1) }
    assert(t.snapshotIdAsOfTime(s1.timestampMs - 1).isEmpty)
    // at/after each commit: the snapshot current at that instant
    assert(t.snapshotIdAsOfTime(s1.timestampMs).contains(s1.snapshotId))
    assert(t.readAsOfTime(s2.timestampMs - 1).count() == 1 ||
      s2.timestampMs == s1.timestampMs) // same-ms commits collapse
    assert(t.snapshotIdAsOfTime(s2.timestampMs).contains(s2.snapshotId))
    assert(t.readAsOfTime(System.currentTimeMillis()).count() == 2)
  }

  test("overwritePartitions replaces exactly the incoming rows' partitions") {
    import graft.warehouse.PartitionField
    val dir = Files.createTempDirectory("graft-dpo-")
    val t = GraftTable.create(spark, dir, "t",
      Seq.empty[(Long, Long, String)].toDF("id", "bucket_day", "v")).get
    t.setPartitionSpec(Seq(PartitionField("identity", "bucket_day")))
    // 3 partitions (day 1..3), clustered one-file-per-partition
    t.append((1L to 9L).map(i => (i, (i - 1) / 3 + 1, s"old$i"))
      .toDF("id", "bucket_day", "v"))
    val filesBefore = t.read().inputFiles.toSet
    // re-compute days 1 and 3 only; day 2 must survive byte-untouched
    val snap = t.overwritePartitions(
      Seq((101L, 1L, "new1"), (103L, 3L, "new3")).toDF("id", "bucket_day", "v"))
    val got = t.read().select("id", "bucket_day", "v")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((4L, 2L, "old4"), (5L, 2L, "old5"), (6L, 2L, "old6"),
      (101L, 1L, "new1"), (103L, 3L, "new3")))
    // file surgery: the commit neither removed nor re-wrote anything
    // in the untouched day-2 partition (partitionBy path layout)
    assert(snap.removedFiles.forall(!_.contains("p_id_bucket_day=2")),
      s"day-2 files were removed: ${snap.removedFiles}")
    assert(snap.addedFiles.forall(!_.contains("p_id_bucket_day=2")),
      s"day-2 files were rewritten: ${snap.addedFiles}")
    assert(snap.removedFiles.nonEmpty && snap.removedFiles.size < filesBefore.size,
      "overwrite was not a partial file surgery")
    assert(snap.operation == "overwrite")
    // the probe was manifest-pruned to the two target partitions
    assert(t.lastOverwriteProbe.exists { case (p, v) => p < v },
      s"probe not pruned: ${t.lastOverwriteProbe}")
    // refusals: unpartitioned table, empty incoming
    t.setPartitionSpec(Nil)
    intercept[IllegalArgumentException] {
      t.overwritePartitions(Seq((1L, 1L, "x")).toDF("id", "bucket_day", "v"))
    }
    t.setPartitionSpec(Seq(PartitionField("identity", "bucket_day")))
    intercept[IllegalArgumentException] {
      t.overwritePartitions(
        Seq.empty[(Long, Long, String)].toDF("id", "bucket_day", "v"))
    }
  }

  test("overwritePartitions: 500-partition dynamic commit plans a constant-depth predicate") {
    import graft.warehouse.PartitionField
    val dir = Files.createTempDirectory("graft-dpo500-")
    val t = GraftTable.create(spark, dir, "t",
      Seq.empty[(Long, Long, String)].toDF("id", "day", "v")).get
    t.setPartitionSpec(Seq(PartitionField("identity", "day")))
    // 520 partitions, one row each
    t.append((1L to 520L).map(i => (i, i, s"old$i")).toDF("id", "day", "v"))
    // replace ALL of them in ONE dynamic overwrite: the region
    // predicate must be a flat struct-isin (constant expression
    // depth), not a 520-deep OR chain — the shape that stack-overflows
    // or quadratic-transforms exactly when dynamic overwrite earns
    // its keep (a wide backfill)
    val snap = t.overwritePartitions(
      (1L to 520L).map(i => (i + 1000L, i, s"new$i")).toDF("id", "day", "v"))
    assert(snap.operation == "overwrite")
    assert(t.lastOverwriteCondDepth.exists(_ <= 10),
      s"region predicate depth grew with partition count: " +
        s"${t.lastOverwriteCondDepth}")
    val got = t.read().select("id").as[Long].collect().sorted.toSeq
    assert(got == (1001L to 1520L).toSeq)
  }

  test("overwritePartitions matches NULL partition values null-safely") {
    import graft.warehouse.PartitionField
    val dir = Files.createTempDirectory("graft-dponull-")
    val t = GraftTable.create(spark, dir, "t",
      Seq.empty[(Long, Option[Long], String)].toDF("id", "day", "v")).get
    t.setPartitionSpec(Seq(PartitionField("identity", "day")))
    t.append(Seq((1L, Some(1L), "old1"), (2L, None, "oldnull"),
      (3L, Some(3L), "old3")).toDF("id", "day", "v"))
    // the payload touches the NULL partition and day 1 — the struct
    // field comparison is null-safe (the pre-r18 `<=>` semantics), so
    // the stored NULL-day row is replaced, day 3 survives untouched
    t.overwritePartitions(Seq((11L, Some(1L), "new1"),
      (12L, None, "newnull")).toDF("id", "day", "v"))
    val got = t.read().select("id", "v").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((3L, "old3"), (11L, "new1"), (12L, "newnull")),
      s"null partition did not match null-safely: $got")
  }

  test("readWhereIn prunes per-value where a range prune keeps the whole span") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", (1L to 80L).map(i => (i, s"v$i")).toDF("id", "v").limit(0))
    val t = c.loadTable("t")
    t.append((1L to 80L).map(i => (i, s"v$i")).toDF("id", "v"),
      clusterBy = Seq("id"), clusterParts = 8)
    val total = t.log.dataFiles(None).length
    assert(total == 9) // 8 clustered files + the schema-only create's empty file
    // 3 and 77 live in the first and last file; their RANGE spans all 8
    // (the empty create file prunes via its rows==0 stat on both paths)
    val in = t.readWhereIn("id", Seq(3L, 77L))
    assert(in.inputFiles.length == 2)
    assert(t.readWhere("id", Some(3L), Some(77L)).inputFiles.length == 8)
    // soundness: the kept files contain every requested row
    assert(in.filter($"id".isin(3L, 77L)).count() == 2)
    // files without stats conservatively match (stats-free first commit)
    val c2 = new Connector(spark, freshWarehouse())
    c2.createTable("u", Seq((1L, "a")).toDF("id", "v"))
    assert(c2.loadTable("u").readWhereIn("id", Seq(99L)).inputFiles.nonEmpty)
  }

  test("merge-on-read deletes: era-scoped tombstones, guards, compact materialization") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"))
    val t = c.loadTable("t")
    val s1 = t.currentSnapshotId.get
    // tombstone commit writes NO data files (addedFiles empty)
    val del1 = t.deleteKeysMor(Seq(2L, 4L, 6L).toDF("id"))
    assert(del1.operation == "eqdelete" && del1.addedFiles.isEmpty &&
      del1.deleteFiles.nonEmpty)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 5L, 7L, 8L, 9L, 10L))
    // time travel BEFORE the delete still sees everything
    assert(t.read(Some(s1)).count() == 10)
    // era semantics: re-inserting a deleted key AFTER the tombstone is
    // visible — the delete scopes only pre-existing files
    t.append(Seq((4L, "reborn")).toDF("id", "v"))
    assert(t.read().filter($"id" === 4L).select("v").as[String].collect().toSeq ==
      Seq("reborn"))
    // a second tombstone applies to everything before it, incl. reborn
    t.deleteKeysMor(Seq(4L, 7L).toDF("id"))
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 5L, 8L, 9L, 10L))
    // guards: rollback-across-a-delete, incremental + metadata readers
    // refuse while tombstones are live (CoW DML materializes inline
    // and WAP branches apply fork-cut tombstones since r13; cloneTo
    // CARRIES live tombstones since r14 — dedicated test)
    intercept[IllegalArgumentException] { t.rollbackTo(s1) }
    intercept[graft.warehouse.HistoryExpiredException] { t.changesSince(s1) }
    assert(t.metaCount().isEmpty)
    // WAP under live tombstones: the branch audit view applies the
    // fork-cut tombstones; staged rows escape them (sequence
    // semantics); publish lands atomically as usual
    val fork = t.createBranch("wapt")
    t.appendBranch("wapt", Seq((2L, "staged2")).toDF("id", "v"))
    val bv = t.readBranch("wapt").select("id", "v").as[(Long, String)]
      .collect().sorted.toSeq
    assert(bv.map(_._1) == Seq(1L, 2L, 3L, 5L, 8L, 9L, 10L),
      s"branch view under tombstones: $bv")
    assert(bv.contains((2L, "staged2")), "staged re-insert must escape scoping")
    t.publishBranch("wapt")
    assert(t.read().filter($"id" === 2L).select("v").as[String]
      .collect().toSeq == Seq("staged2"))
    assert(fork == s1 + 3)
    // diff stays incremental across appends while the delete set is
    // UNCHANGED between the cuts…
    val sA = t.currentSnapshotId.get
    t.append(Seq((20L, "w")).toDF("id", "v"))
    assert(t.diff(sA).select("id").as[Long].collect().toSeq == Seq(20L))
    // …and refuses when a delete lands in the window
    intercept[graft.warehouse.HistoryExpiredException] { t.diff(s1) }
    // compact materializes: content unchanged, tombstones gone, DML back
    val pre = t.read().select("id").as[Long].collect().sorted.toSeq
    t.compact(targetFiles = 2)
    assert(t.liveEqDeletes().isEmpty)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == pre)
    assert(t.metaCount().contains(pre.size.toLong))
    t.upsert(Seq((1L, "x")).toDF("id", "v"), Seq("id"))
    assert(t.read().filter($"id" === 1L).select("v").as[String].head() == "x")
  }

  test("additive evolution is safe under live tombstones; rename/widen/drop refuse") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"))
    val t = c.loadTable("t")
    t.deleteKeysMor(Seq(2L).toDF("id"))
    t.deleteWhereMor($"v" === "v5")
    t.deletePosMor($"id" === 6L)
    // addColumns changes no bindings: key sidecars, stored predicates,
    // position files, and era scoping are all untouched
    t.addColumns(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.LongType))))
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 4L), "tombstones lost across addColumns")
    // era semantics hold for NEW-era appends: a re-added deleted key
    // (and a row the stored predicate would match) stay visible
    t.append(Seq((2L, "v5", 20L)).toDF("id", "v", "extra"))
    assert(t.read().filter($"id" === 2L).count() == 1)
    assert(t.liveEqDeletes().size == 3)
    // the non-additive ops still refuse on TOMBSTONE-BOUND columns
    // (id: key sidecar, v: stored predicate); unreferenced columns
    // evolve freely — see the dedicated narrowing test
    intercept[IllegalArgumentException] { t.renameColumn("v", "w") }
    intercept[IllegalArgumentException] { t.dropColumn("v") }
    intercept[IllegalArgumentException] {
      t.widenColumn("id", org.apache.spark.sql.types.DoubleType)
    }
    // compact materializes bit-identically under the evolved schema
    val pre = t.read().select("id").as[Long].collect().sorted.toSeq
    t.compact(targetFiles = 2)
    assert(t.liveEqDeletes().isEmpty)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == pre)
    assert(t.validate().isEmpty)
  }

  test("evolution narrows to tombstone-bound columns: unreferenced rename/widen/drop proceed") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t",
      (1L to 8L).map(i => (i, s"v$i", i.toInt)).toDF("id", "v", "aux"))
    val t = c.loadTable("t")
    t.deleteKeysMor(Seq(2L).toDF("id"))          // binds 'id'
    t.deleteWhereMor($"v" === "v5")              // binds 'v'
    t.deletePosMor($"aux" === 7)                 // binds NO column
    val want = Seq(1L, 3L, 4L, 6L, 8L)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == want)
    // bound columns refuse with the precise message
    intercept[IllegalArgumentException] { t.renameColumn("id", "key") }
    intercept[IllegalArgumentException] { t.widenColumn("id",
      org.apache.spark.sql.types.DoubleType) }
    intercept[IllegalArgumentException] { t.dropColumn("v") }
    // the UNREFERENCED column evolves freely — tombstones keep applying
    t.renameColumn("aux", "aux2")
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == want,
      "tombstones lost across an unreferenced rename")
    t.widenColumn("aux2", org.apache.spark.sql.types.LongType)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == want)
    // era semantics intact after the evolution: re-adds stay visible
    t.append(Seq((2L, "v5", 20L)).toDF("id", "v", "aux2"))
    assert(t.read().filter($"id" === 2L).count() == 1)
    assert(t.liveEqDeletes().size == 3)
    t.dropColumn("aux2")
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      (want :+ 2L).sorted)
    // compact materializes bit-identically under the evolved schema
    val pre = t.read().select("id", "v").as[(Long, String)]
      .collect().sorted.toSeq
    t.compact(targetFiles = 2)
    assert(t.liveEqDeletes().isEmpty)
    assert(t.read().select("id", "v").as[(Long, String)]
      .collect().sorted.toSeq == pre)
    assert(t.validate().isEmpty)
  }

  test("CoW DML materializes live tombstones inline — no pre-compact required") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", (1L to 12L).map(i => (i, s"v$i")).toDF("id", "v"))
    val t = c.loadTable("t")
    t.deleteKeysMor(Seq(2L, 4L).toDF("id"))
    t.deleteWhereMor($"id" >= 11L)
    // diff across the coming merge window must NOT report phantom
    // deletes for rows the tombstones already hid
    val sB = t.currentSnapshotId.get
    // upsert with BOTH tombstone kinds live: updates 1, inserts 13;
    // tombstoned keys in the rewritten file stay gone
    t.upsert(Seq((1L, "x"), (13L, "new")).toDF("id", "v"), Seq("id"))
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 5L, 6L, 7L, 8L, 9L, 10L, 13L))
    assert(t.read().filter($"id" === 1L).select("v").as[String].head() == "x")
    val ch = t.diff(sB).select("id", "_change_type")
      .as[(Long, String)].collect().toSet
    assert(ch == Set((1L, "delete"), (1L, "insert"), (13L, "insert")),
      s"phantom changes: $ch")
    // tombstones SURVIVE the DML, still applying to untouched files
    assert(t.liveEqDeletes().size == 2)
    assert(t.deletesDf().select("kind").as[String].collect().sorted.toSeq ==
      Seq("equality", "predicate"))
    // upserting a TOMBSTONED key re-inserts it (invisible ⇒ insert arm)
    t.upsert(Seq((4L, "reborn")).toDF("id", "v"), Seq("id"))
    assert(t.read().filter($"id" === 4L).select("v").as[String]
      .collect().toSeq == Seq("reborn"))
    // CoW deleteWhere under live tombstones
    t.deleteWhere($"id" === 9L)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 4L, 5L, 6L, 7L, 8L, 10L, 13L))
    // the rewrites never resurrected a tombstoned row: compact's
    // materialization is content-identical
    val pre = t.read().select("id").as[Long].collect().sorted.toSeq
    t.compact(targetFiles = 2)
    assert(t.liveEqDeletes().isEmpty)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == pre)
  }

  test("binpack under live tombstones: era-grouped rewrite keeps delete scoping") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", (1L to 6L).map(i => (i, s"a$i")).toDF("id", "v"))
    val t = c.loadTable("t")
    t.deleteKeysMor(Seq(2L, 4L).toDF("id"))
    // a key re-inserted AFTER its tombstone must stay visible across
    // the rewrite (its file rewrites in a LATER era group)
    t.append(Seq((4L, "reborn"), (7L, "b7")).toDF("id", "v"))
    t.deleteWhereMor($"id" === 7L)
    t.append(Seq((8L, "c8")).toDF("id", "v"))
    val pre = t.read().select("id", "v").as[(Long, String)].collect().sorted.toSeq
    assert(pre.map(_._1) == Seq(1L, 3L, 4L, 5L, 6L, 8L))
    val bp = t.compactSmall(smallBytes = 1L << 30).get
    assert(bp.operation == "rewrite")
    assert(bp.properties.keys.exists(_.startsWith("graft.tombsid.")),
      "expected inherited tombstone-era sids on the outputs")
    assert(t.read().select("id", "v").as[(Long, String)].collect().sorted.toSeq
      == pre, "binpack under tombstones changed visible rows")
    assert(t.liveEqDeletes().size == 2)
    // chained binpack: the second rewrite resolves the first's
    // inherited sids (one-hop) and scoping still holds
    t.append(Seq((9L, "d9")).toDF("id", "v"))
    t.compactSmall(smallBytes = 1L << 30).get
    val withNine = (pre :+ ((9L, "d9"))).sorted
    assert(t.read().select("id", "v").as[(Long, String)].collect().sorted.toSeq
      == withNine)
    // compact materializes identically
    t.compact(targetFiles = 2)
    assert(t.liveEqDeletes().isEmpty)
    assert(t.read().select("id", "v").as[(Long, String)].collect().sorted.toSeq
      == withNine)
    // POSITION tombstones: the rewrite APPLIES them (their file
    // identities cease to exist) — visible rows unchanged, fsck clean
    t.deletePosMor($"id" === 1L)
    t.append(Seq((10L, "e10")).toDF("id", "v"))
    val vis = t.read().select("id").as[Long].collect().sorted.toSeq
    t.compactSmall(smallBytes = 1L << 30).get
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == vis)
    assert(t.validate().isEmpty)
  }

  test("rollback with live tombstones when the delete set is unchanged between the cuts") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", (1L to 6L).map(i => (i, s"a$i")).toDF("id", "v"))
    val t = c.loadTable("t")
    t.deleteKeysMor(Seq(2L, 4L).toDF("id"))
    val good = t.currentSnapshotId.get
    val goodRows = t.read().select("id").as[Long].collect().sorted.toSeq
    assert(goodRows == Seq(1L, 3L, 5L, 6L))
    // a bad batch AND a bad upsert land while the tombstones are live
    t.append(Seq((100L, "bad")).toDF("id", "v"))
    t.upsert(Seq((1L, "oops")).toDF("id", "v"), Seq("id"))
    // undo without a compact: the delete set is unchanged between the
    // cuts, so the rollback re-lists files with inherited era sids
    t.rollbackTo(good)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == goodRows,
      "rollback under live tombstones diverged")
    assert(t.read().filter($"id" === 1L).select("v").as[String].head() == "a1")
    assert(t.liveEqDeletes().size == 1)
    // era scoping survives: the re-listed pre-delete rows stay dead,
    // and a post-rollback re-insert of a deleted key is visible
    t.append(Seq((2L, "back")).toDF("id", "v"))
    assert(t.read().filter($"id" === 2L).select("v").as[String]
      .collect().toSeq == Seq("back"))
    // a DELETE in the window still refuses (visibility differs)
    val s2 = t.currentSnapshotId.get
    t.deleteKeysMor(Seq(3L).toDF("id"))
    intercept[IllegalArgumentException] { t.rollbackTo(s2) }
    intercept[IllegalArgumentException] { t.rollbackTo(good) }
  }

  test("checkpoint carries live tombstones across the expiry horizon") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", (1L to 8L).map(i => (i, s"a$i")).toDF("id", "v"))
    val t = c.loadTable("t")
    t.deleteKeysMor(Seq(2L, 4L).toDF("id"))
    t.append(Seq((4L, "reborn")).toDF("id", "v")) // era: stays visible
    t.deleteWhereMor($"v" === "a6")
    t.deletePosMor($"id" === 8L)
    val pre = t.read().select("id", "v").as[(Long, String)].collect().sorted.toSeq
    assert(pre.map(_._1) == Seq(1L, 3L, 4L, 5L, 7L))
    val ck = t.checkpoint()
    assert(ck.properties.keys.exists(_.startsWith("graft.carrydel.")),
      "expected carried tombstones on the checkpoint")
    assert(ck.deleteFiles.nonEmpty, "carried sidecars must ride deleteFiles")
    t.expireSnapshots(ck.snapshotId)
    assert(t.log.snapshots.size == 1)
    assert(t.read().select("id", "v").as[(Long, String)].collect().sorted.toSeq
      == pre, "tombstones lost across the horizon")
    assert(t.liveEqDeletes().size == 3)
    // era scoping survives the horizon: re-inserting a carried-deleted
    // key stays visible (the carried tombstone scopes only old files)
    t.append(Seq((2L, "back")).toDF("id", "v"))
    assert(t.read().filter($"id" === 2L).select("v").as[String]
      .collect().toSeq == Seq("back"))
    // incremental reads flow THROUGH the carrying checkpoint
    assert(t.changesSince(ck.snapshotId).count() == 1)
    assert(t.validate().isEmpty)
    val pre2 = t.read().count()
    t.compact(targetFiles = 2)
    assert(t.liveEqDeletes().isEmpty && t.read().count() == pre2)
  }

  test("position deletes: one-time selection, file-scoped, DML folds them, compact materializes") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", (1L to 6L).map(i => (i, i * 10L)).toDF("id", "x"))
    val t = c.loadTable("t")
    t.append((7L to 12L).map(i => (i, i * 10L)).toDF("id", "x"))
    val d = t.deletePosMor($"x" >= 40L && $"x" <= 90L) // kills ids 4..9
    assert(d.operation == "posdelete" && d.addedFiles.isEmpty &&
      d.deleteFiles.nonEmpty)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 10L, 11L, 12L))
    // ONE-TIME selection: re-appending a row the predicate matches
    // stays visible (positions are file-scoped, not a stored filter)
    t.append(Seq((4L, 40L)).toDF("id", "x"))
    assert(t.read().filter($"id" === 4L).count() == 1)
    // a second position delete composes; both stay live
    t.deletePosMor($"id" === 11L)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 10L, 12L))
    assert(t.liveEqDeletes().size == 2)
    // $deletes inspection: both tombstones with their position counts
    val dd = t.deletesDf().orderBy("snapshot_id")
      .select("kind", "positions").as[(String, Long)].collect().toSeq
    assert(dd == Seq(("position", 6L), ("position", 1L)), s"deletesDf: $dd")
    // nothing matches ⇒ no-op, head unchanged
    val h = t.currentSnapshotId.get
    assert(t.deletePosMor($"id" === 999L).snapshotId == h)
    // CoW DML folds position tombstones into its rewrite; a
    // pos-deleted key upserts back via the insert arm
    t.upsert(Seq((2L, 200L), (5L, 500L)).toDF("id", "x"), Seq("id"))
    assert(t.read().orderBy("id").select("id", "x").as[(Long, Long)]
      .collect().toSeq ==
      Seq((1L, 10L), (2L, 200L), (3L, 30L), (4L, 40L), (5L, 500L),
        (10L, 100L), (12L, 120L)))
    // metadata-only COUNT stays EXACT under pure position tombstones
    // (per-file position counts recorded at commit); min/max declines
    val pre = t.read().select("id").as[Long].collect().sorted.toSeq
    assert(t.metaCount().contains(pre.size.toLong),
      s"metaCount under pos tombstones: got ${t.metaCount()}")
    assert(t.metaMinMax("x").isEmpty)
    t.compact(targetFiles = 2)
    assert(t.liveEqDeletes().isEmpty)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == pre)
    assert(t.validate().isEmpty)
    assert(t.metaCount().contains(pre.size.toLong))
  }

  test("overwriteWhere: atomic predicate-scoped replace, untouched files kept, violations refused") {
    val c = new Connector(spark, freshWarehouse())
    val rows = (1L to 90L).map(i => (i, (i - 1) / 30 + 1, i * 10L)) // months 1..3
    c.createTable("t", rows.toDF("id", "m", "v"))
    val t = c.loadTable("t")
    // cluster by month so the overwrite probe prunes to the target slice
    t.compact(targetFiles = 3, clusterBy = Seq("m"), statsCols = Seq("m"))
    val filesBefore = t.read().inputFiles.toSet
    val snapsBefore = t.log.snapshots.size
    // replacement rows OUTSIDE the region must refuse BEFORE any write
    intercept[IllegalArgumentException] {
      t.overwriteWhere($"m" === 2L, Seq((999L, 4L, 0L)).toDF("id", "m", "v"))
    }
    assert(t.log.snapshots.size == snapsBefore, "failed overwrite committed")
    // the backfill: recompute month 2 with half the rows at 7× value
    val repl = (31L to 45L).map(i => (i, 2L, i * 70L)).toDF("id", "m", "v")
    val ow = t.overwriteWhere($"m" === 2L, repl)
    assert(ow.operation == "overwrite")
    assert(t.log.snapshots.size == snapsBefore + 1, "overwrite must be ONE commit")
    val expect = rows.filter(_._2 != 2L) ++ (31L to 45L).map(i => (i, 2L, i * 70L))
    assert(t.read().select("id", "m", "v").as[(Long, Long, Long)]
      .collect().sorted.toSeq == expect.sorted)
    // file-level surgery: month-1/3 files were never rewritten —
    // exactly the removed count disappears from the visible set
    val filesAfter = t.read().inputFiles.toSet
    assert(filesAfter.intersect(filesBefore).size ==
      filesBefore.size - ow.removedFiles.size,
      "untouched files must survive the overwrite")
    assert(ow.removedFiles.nonEmpty && ow.removedFiles.size < filesBefore.size,
      "a partition-aligned overwrite must not rewrite the whole table")
    // rows were REPLACED: incremental readers refuse across it
    intercept[graft.warehouse.HistoryExpiredException] {
      t.changesSince(snapsBefore.toLong).collect()
    }
    // nothing matches ⇒ the new rows still land (region was empty)
    t.overwriteWhere($"m" === 9L, Seq((1000L, 9L, 1L)).toDF("id", "m", "v"))
    assert(t.read().filter($"m" === 9L).count() == 1)
    assert(t.validate().isEmpty)
  }

  test("overwriteWhere era-projects under rename and folds live tombstones") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", (1L to 10L).map(i => (i, i * 10L)).toDF("id", "v"))
    val t = c.loadTable("t")
    t.renameColumn("v", "w")
    t.append(Seq((11L, 110L), (12L, 120L)).toDF("id", "w"))
    t.deleteKeysMor(Seq(2L, 11L).toDF("id"))
    // the overwrite probe and survivor rewrite must decode OLD-era
    // files (written as 'v') under the head schema AND apply the live
    // key tombstones to survivor selection — while the tombstones
    // keep applying to untouched files afterwards
    t.overwriteWhere($"id" >= 5L && $"id" <= 8L,
      Seq((5L, 999L), (6L, 999L)).toDF("id", "w"))
    val got = t.read().select("id", "w").as[(Long, Long)]
      .collect().sorted.toSeq
    val want = Seq((1L, 10L), (3L, 30L), (4L, 40L), (5L, 999L),
      (6L, 999L), (9L, 90L), (10L, 100L), (12L, 120L))
    assert(got == want, s"got $got")
    // tombstones still live and still era-scoped: re-adding id=2 works
    assert(t.liveEqDeletes().size == 1)
    t.append(Seq((2L, 222L)).toDF("id", "w"))
    assert(t.read().filter($"id" === 2L).select("w").as[Long]
      .collect().toSeq == Seq(222L))
    assert(t.validate().isEmpty)
  }

  test("metaCount stays exact across checkpoint+expiry under pure position tombstones") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", (1L to 6L).map(i => (i, i * 10L)).toDF("id", "x"))
    val t = c.loadTable("t")
    t.append((7L to 12L).map(i => (i, i * 10L)).toDF("id", "x"))
    t.deletePosMor($"id" >= 4L && $"id" <= 9L)   // kills 6
    t.deletePosMor($"id" === 11L)                 // kills 1
    assert(t.metaCount().contains(5L))
    // the poscount keys live only on the posdelete snapshots — the
    // checkpoint must RE-RECORD them (sid-scoped) or expiry silently
    // degrades the metadata COUNT to scan-fallback
    val ck = t.checkpoint()
    t.expireSnapshots(ck.snapshotId)
    assert(t.log.snapshots.size == 1)
    assert(t.metaCount().contains(5L),
      s"metaCount degraded across the horizon: ${t.metaCount()}")
    // $deletes keeps reporting the carried counts too
    val dd = t.deletesDf().orderBy("snapshot_id")
      .select("positions").as[Long].collect().toSeq
    assert(dd == Seq(6L, 1L), s"deletesDf positions after expiry: $dd")
    // CHAINED checkpoints re-carry from the prior carry
    t.append(Seq((13L, 130L)).toDF("id", "x"))
    val ck2 = t.checkpoint()
    t.expireSnapshots(ck2.snapshotId)
    assert(t.metaCount().contains(6L),
      s"metaCount lost through a checkpoint chain: ${t.metaCount()}")
    assert(t.read().count() == 6L)
  }

  test("compactDeletes merges live position tombstones and prunes dangling entries") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", (1L to 24L).map(i => (i, i * 10L)).toDF("id", "x"))
    val t = c.loadTable("t")
    t.compact(targetFiles = 6, clusterBy = Seq("id"), statsCols = Seq("id"))
    // three O(1) position deletes — three live tombstones, three+ sidecars
    t.deletePosMor($"id" === 2L)
    t.deletePosMor($"id" === 7L || $"id" === 13L)
    t.deletePosMor($"id" === 21L)
    assert(t.liveEqDeletes().size == 3)
    // a CoW delete folds the tombstones for ITS files, dangling their
    // entries (the named files leave the visible set)
    t.deleteWhere($"id" === 3L)
    val expect = t.read().select("id").as[Long].collect().sorted.toSeq
    assert(expect == (1L to 24L).filterNot(Set(2L, 3L, 7L, 13L, 21L)))
    val rw = t.compactDeletes().get
    assert(rw.operation == "posrewrite")
    // ONE merged tombstone replaces the three
    assert(t.liveEqDeletes().size == 1)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == expect)
    // dangling pruned: every named file is still visible
    val visible = t.read().inputFiles.map(u =>
      t.dir.relativize(java.nio.file.Paths.get(java.net.URI.create(u).getPath))
        .toString).toSet
    val named = rw.properties(graft.warehouse.SnapshotLog.PosFilesKey)
      .split('\n').toSet
    assert(named.subsetOf(visible), s"dangling entries survived: $named")
    // metadata COUNT stays exact off the rewrite's fresh counts
    assert(t.metaCount().contains(expect.size.toLong))
    // incremental readers flow THROUGH the rewrite (no new rows deleted)
    t.append(Seq((100L, 1000L)).toDF("id", "x"))
    assert(t.changesSince(rw.snapshotId - 1).count() == 1)
    // checkpoint+expiry carry the MERGED tombstone
    val ck = t.checkpoint()
    t.expireSnapshots(ck.snapshotId)
    assert(t.liveEqDeletes().size == 1)
    assert(t.metaCount().contains(expect.size + 1L))
    assert(t.validate().isEmpty)
    // ALL-dangling: a fresh table where the CoW rewrite consumes every
    // named file — compactDeletes becomes a pure CLEAR
    c.createTable("u", (1L to 6L).map(i => (i, i)).toDF("id", "x").coalesce(1))
    val u = c.loadTable("u")
    u.deletePosMor($"id" === 4L)
    u.deleteWhere($"id" === 5L) // single file table: rewrite consumes it
    val clear = u.compactDeletes().get
    assert(clear.deleteFiles.isEmpty &&
      !clear.properties.contains(graft.warehouse.SnapshotLog.PosDeleteKey))
    assert(u.liveEqDeletes().isEmpty)
    assert(u.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 6L))
    // nothing live ⇒ None
    assert(u.compactDeletes().isEmpty)
  }

  test("removeOrphans reclaims unreferenced data files and honors the grace period") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"))
    val t = c.loadTable("t")
    t.append(Seq((11L, "v11")).toDF("id", "v"))
    t.deletePosMor($"id" === 3L) // a delete sidecar is REFERENCED too
    val pre = t.read().select("id").as[Long].collect().sorted.toSeq
    // plant orphans: a crashed writer's files that never got committed
    val stage = Files.createTempDirectory("graft-orph")
    Seq((99L, "z")).toDF("id", "v").coalesce(1).write
      .parquet(stage.resolve("p").toString)
    val src = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(stage.resolve("p"))
      try s.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally s.close()
    }
    val orphanDir = t.dir.resolve("data").resolve("zzcrashed")
    Files.createDirectories(orphanDir)
    val oldOrphan = orphanDir.resolve("old.parquet")
    val freshOrphan = orphanDir.resolve("fresh.parquet")
    Files.copy(src, oldOrphan)
    Files.copy(src, freshOrphan)
    Files.setLastModifiedTime(oldOrphan,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 7200000L))
    // grace period: only the OLD orphan goes; live files + sidecar stay
    val removed = t.removeOrphans(graceMs = 3600000L)
    assert(removed == Seq("data/zzcrashed/old.parquet"), s"removed: $removed")
    assert(Files.exists(freshOrphan), "grace period violated")
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == pre)
    assert(t.liveEqDeletes().size == 1)
    assert(t.validate().isEmpty)
    // zero grace sweeps the fresh one; a second pass finds nothing
    assert(t.removeOrphans(0L) == Seq("data/zzcrashed/fresh.parquet"))
    assert(t.removeOrphans(0L).isEmpty)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == pre)
    // time travel is untouched: orphans were never part of any cut
    assert(t.read(Some(1L)).count() == 10)
  }

  test("CHECK constraints gate every row-introducing write; NULL passes; guards hold") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t",
      Seq((1L, Option(10L)), (2L, Option(20L))).toDF("id", "v"))
    val t = c.loadTable("t")
    t.addCheckConstraint("v_pos", "v >= 0")
    assert(t.checkConstraints == Map("v_pos" -> "v >= 0"))
    // a constraint the existing data violates is refused
    intercept[IllegalArgumentException] {
      t.addCheckConstraint("id_big", "id > 100")
    }
    // append: violating rows refuse, the commit never lands
    val head = t.currentSnapshotId.get
    intercept[IllegalArgumentException] {
      t.append(Seq((3L, Option(-5L))).toDF("id", "v"))
    }
    assert(t.currentSnapshotId.get == head)
    // NULL evaluates the CHECK to NULL — passes (SQL semantics)
    t.append(Seq((3L, Option.empty[Long])).toDF("id", "v"))
    // upsert/merge: violating incoming refuses; delete-arm rows exempt
    intercept[IllegalArgumentException] {
      t.upsert(Seq((1L, Option(-1L))).toDF("id", "v"), Seq("id"))
    }
    t.merge(Seq((1L, Option(-1L))).toDF("id", "v"), Seq("id"),
      whenMatchedDelete =
        org.apache.spark.sql.functions.lit(true)) // tombstone: no row lands
    assert(t.read().filter($"id" === 1L).count() == 0)
    // replace / overwriteWhere refuse violating payloads
    intercept[IllegalArgumentException] {
      t.replace(Seq((9L, Option(-9L))).toDF("id", "v"))
    }
    intercept[IllegalArgumentException] {
      t.overwriteWhere($"id" === 2L, Seq((2L, Option(-2L))).toDF("id", "v"))
    }
    // rename/drop of a referenced column refuse while active
    intercept[IllegalArgumentException] { t.renameColumn("v", "w") }
    intercept[IllegalArgumentException] { t.dropColumn("v") }
    // drop the constraint: the same writes now pass
    t.dropCheckConstraint("v_pos")
    assert(t.checkConstraints.isEmpty)
    t.append(Seq((4L, Option(-4L))).toDF("id", "v"))
    assert(t.read().filter($"v" < 0).count() == 1)
    t.renameColumn("v", "w")
    assert(t.validate().isEmpty)
  }

  test("maintain composes binpack, tombstone compaction, expiry, and orphan cleanup") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", Seq((1L, "v1")).toDF("id", "v").coalesce(1))
    val t = c.loadTable("t")
    (2L to 6L).foreach(i =>
      t.append(Seq((i, s"v$i")).toDF("id", "v").coalesce(1)))
    t.deletePosMor($"id" === 3L)
    t.tagSnapshot("pin")
    // plant an aged orphan
    val orphanDir = t.dir.resolve("data").resolve("zzm")
    Files.createDirectories(orphanDir)
    Files.writeString(orphanDir.resolve("junk.parquet"), "not parquet")
    Files.setLastModifiedTime(orphanDir.resolve("junk.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(1000L))
    val pre = t.read().select("id").as[Long].collect().sorted.toSeq
    assert(pre == Seq(1L, 2L, 4L, 5L, 6L))
    val filesBefore = t.read().inputFiles.length
    // tag protects history: expiry REFUSED but reported, rest lands
    val r1 = t.maintain(expireHistory = true)
    assert(r1.binpacked, "six tiny files must binpack")
    // binpack retires the pos-named file identities -> the tombstone
    // dangles fully and compactDeletes CLEARS it
    assert(r1.posMerged && t.liveEqDeletes().isEmpty)
    assert(!r1.expired && r1.expireRefusal.exists(_.contains("tag")))
    assert(r1.orphansRemoved == Seq("data/zzm/junk.parquet"))
    assert(t.read().inputFiles.length < filesBefore)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == pre)
    // tag dropped: the next maintain expires down to one manifest
    t.dropTag("pin")
    val r2 = t.maintain(expireHistory = true)
    assert(r2.expired && r2.expireRefusal.isEmpty)
    assert(t.log.snapshots.size == 1)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == pre)
    assert(t.validate().isEmpty)
  }

  test("cloneTo carries live tombstones: scoping verbatim, positions remapped, future appends escape") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", (1L to 12L).map(i => (i, i * 10L)).toDF("id", "x"))
    val t = c.loadTable("t")
    t.compact(targetFiles = 4, clusterBy = Seq("id"), statsCols = Seq("id"))
    t.deleteKeysMor(Seq(2L).toDF("id"))
    t.append(Seq((2L, 222L)).toDF("id", "x")) // era: re-add stays visible
    t.deleteWhereMor($"x" === 50L)
    t.deletePosMor($"id" === 8L)
    val want = t.read().select("id", "x").as[(Long, Long)].collect().sorted.toSeq
    val srcHead = t.currentSnapshotId.get
    val srcFiles = t.read().inputFiles.length
    val dstDir = Files.createTempDirectory("graft-clonemor").resolve("u")
    val u = t.cloneTo(dstDir, "u")
    // content identical, tombstones LIVE in the clone, zero data rewritten
    assert(u.read().select("id", "x").as[(Long, Long)].collect().sorted.toSeq
      == want)
    assert(u.liveEqDeletes().size == 3)
    assert(u.read().inputFiles.length == srcFiles)
    // pure-pos exactness travels: not here (key+pred live) — but the
    // clone's create pins at the source head id so future appends
    // ESCAPE the carried deletes by sequence
    assert(u.currentSnapshotId.contains(srcHead))
    u.append(Seq((50L, 50L)).toDF("id", "x")) // x=50 matches the carried pred!
    assert(u.read().filter($"id" === 50L).count() == 1,
      "a post-clone append fell inside a carried tombstone's era")
    // the clone evolves independently; the source is untouched
    u.deleteWhere($"id" === 1L)
    assert(t.read().select("id", "x").as[(Long, Long)].collect().sorted.toSeq
      == want)
    assert(u.validate().isEmpty && t.validate().isEmpty)
    // compact materializes the carried tombstones bit-identically
    val pre = u.read().count()
    u.compact(targetFiles = 2)
    assert(u.liveEqDeletes().isEmpty && u.read().count() == pre)
    // pure-position clone keeps the metadata-only COUNT exact
    c.createTable("p", (1L to 9L).map(i => (i, i)).toDF("id", "x"))
    val p = c.loadTable("p")
    p.deletePosMor($"id" >= 7L)
    assert(p.metaCount().contains(6L))
    val pc = p.cloneTo(Files.createTempDirectory("graft-clonepos")
      .resolve("pc"), "pc")
    assert(pc.metaCount().contains(6L),
      s"clone lost pos-count exactness: ${pc.metaCount()}")
    assert(pc.read().select("id").as[Long].collect().sorted.toSeq ==
      (1L to 6L))
  }

  test("merge-on-read deletes match null keys null-safely and respect multi-column keys") {
    val c = new Connector(spark, freshWarehouse())
    val rows = Seq((Some(1L), "a", 10L), (None, "b", 20L), (Some(3L), "b", 30L))
    c.createTable("t", rows.toDF("id", "grp", "x"))
    val t = c.loadTable("t")
    // delete by (id, grp) incl. a NULL id — must match the stored NULL twin
    t.deleteKeysMor(Seq((Option.empty[Long], "b"), (Some(3L), "zzz"))
      .toDF("id", "grp"))
    val left = t.read().select("x").as[Long].collect().sorted.toSeq
    // (None,"b") deleted; (3,"zzz") matches nothing ⇒ (1,a) and (3,b) stay
    assert(left == Seq(10L, 30L))
  }

  test("tags pin snapshots, protect them from expiry, read their era") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val t = c.loadTable("t")
    val s1 = t.tagSnapshot("v1") // defaults to head
    assert(s1 == t.currentSnapshotId.get)
    c.insert("t", Seq((3L, "c")).toDF("id", "v"))
    assert(t.readTag("v1").select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
    intercept[IllegalArgumentException] { t.tagSnapshot("v1") } // duplicate
    intercept[IllegalArgumentException] { t.tagSnapshot("v2", 99L) } // absent
    val comp = t.compact(targetFiles = 2)
    // the tag protects its snapshot from expiry…
    intercept[IllegalArgumentException] { t.expireSnapshots(comp.snapshotId) }
    assert(t.readTag("v1").count() == 2, "tagged read must survive the refusal")
    // …until dropped
    t.dropTag("v1")
    t.expireSnapshots(comp.snapshotId)
    assert(t.tags.isEmpty)
    assert(t.read().count() == 3)
  }

  test("snapshot log json round-trip incl. escapes") {
    val dir = Files.createTempDirectory("graft-log-")
    val log = new SnapshotLog(dir)
    def commit(st: Staged) =
      log.publish(st.operation, SnapshotLog.RelinkLimit)(_ => Right(st)).merge
    val s = commit(Staged("create", Seq("data/s1/part-0.parquet"),
      """{"type":"struct","fields":[]}"""))
    assert(s.snapshotId == 1L)
    val s2 = commit(Staged("append", Seq("data/s2/a.parquet", "data/s2/b.parquet"), s.schemaJson))
    assert(s2.snapshotId == 2L)
    assert(log.snapshots.map(_.snapshotId) == Seq(1L, 2L))
    assert(log.changedFiles(1L).size == 2)
    assert(log.dataFiles().size == 3)
  }

  // ---- hidden partitioning -------------------------------------------

  test("driver-side partition transforms equal the engine's expressions") {
    import graft.warehouse.PartitionField
    import org.apache.spark.sql.types._
    // bucket over longs — the driver evaluates the SAME Murmur3Hash
    // Catalyst expression; a divergence here silently breaks pruning
    val longs = Seq(0L, 1L, -1L, 42L, 123456789L, Long.MaxValue, Long.MinValue)
    val fb = PartitionField("bucket", "x", 16)
    val engineL = spark.createDataset(longs).toDF("x")
      .select(fb.expr(LongType).as("b")).as[Int].collect().toSeq
    assert(engineL == longs.map(v => fb.apply(v, LongType)))
    // bucket over ints must hash as INT (not widened to long)
    val ints = Seq(0, 7, -3, Int.MaxValue)
    val engineI = spark.createDataset(ints).toDF("x")
      .select(fb.expr(IntegerType).as("b")).as[Int].collect().toSeq
    assert(engineI == ints.map(v => fb.apply(v, IntegerType)))
    // bucket over strings (incl. non-ASCII)
    val strs = Seq("", "a", "hello", "héllo", "你好")
    val engineS = spark.createDataset(strs).toDF("x")
      .select(fb.expr(StringType).as("b")).as[Int].collect().toSeq
    assert(engineS == strs.map(v => fb.apply(v, StringType)))
    // day over NTZ timestamps (the testdata's type; session TZ = UTC)
    val fd = PartitionField("day", "x")
    val ldts = Seq(
      java.time.LocalDateTime.of(1970, 1, 1, 0, 0, 0),
      java.time.LocalDateTime.of(1969, 12, 31, 23, 59, 59),
      java.time.LocalDateTime.of(2026, 8, 14, 5, 30, 0))
    val engineD = spark.createDataset(ldts).toDF("x")
      .select(fd.expr(TimestampNTZType).as("d")).as[Int].collect().toSeq
    assert(engineD == ldts.map(v => fd.apply(v, TimestampNTZType)))
    // truncate: strings by prefix, longs by floor-multiple (negatives!);
    // Long.MinValue's floor multiple is unrepresentable — both sides
    // refuse it under ANSI arithmetic rather than wrapping
    val truncLongs = longs.filterNot(_ == Long.MinValue)
    val ft = PartitionField("truncate", "x", 3)
    val engineT = spark.createDataset(truncLongs).toDF("x")
      .select(ft.expr(LongType).as("t")).as[Long].collect().toSeq
    assert(engineT == truncLongs.map(v => ft.apply(v, LongType)))
    intercept[ArithmeticException] { ft.apply(Long.MinValue, LongType) }
    val engineTs = spark.createDataset(strs).toDF("x")
      .select(ft.expr(StringType).as("t")).as[String].collect().toSeq
    assert(engineTs == strs.map(v => ft.apply(v, StringType)))
  }

  test("bucket partitioning prunes point lookups era-correctly across spec evolution") {
    import graft.warehouse.PartitionField
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-part-")
    val t = GraftTable.create(spark, dir, "t",
      Seq.empty[(Long, Long)].toDF("id", "grp")).get
    t.setPartitionSpec(Seq(PartitionField("bucket", "id", 8)))
    t.append(spark.range(0, 800).toDF("id")
      .select(col("id"), (col("id") * 7).as("grp")).repartition(4))
    // METADATA-ONLY spec change: bucket width doubles, nothing rewritten
    t.setPartitionSpec(Seq(PartitionField("bucket", "id", 16)))
    t.append(spark.range(800, 1600).toDF("id")
      .select(col("id"), (col("id") * 7).as("grp")).repartition(4))
    val total = t.read().inputFiles.length
    assert(t.read().count() == 1600)
    // a hash-partitioned layout has NO usable raw-column ranges (each
    // bucket file spans the whole id range) — only the transform prunes
    for (v <- Seq(5L, 803L, 1599L, 0L)) {
      val df = t.readWhereIn("id", Seq(v))
      assert(df.filter(col("id") === v).count() == 1, s"lookup $v")
      val kept = df.inputFiles.length
      assert(kept > 0 && kept < total / 4,
        s"lookup $v kept $kept of $total files — bucket pruning inert")
    }
    // multi-point probe unions the per-value keep sets
    val multi = t.readWhereIn("id", Seq(5L, 803L))
    assert(multi.filter(col("id").isin(5L, 803L)).count() == 2)
    // range reads must NOT use the scrambling bucket transform: a full
    // range scan still sees every row
    assert(t.readWhere("id", Some(0L), Some(1599L)).count() == 1600)
    // a plain compact preserves the CURRENT spec: rewritten files
    // re-land one-bucket-value-each and keep pruning (old-era entries
    // vanish with the old files; history probes stay conservative)
    t.compact(targetFiles = 4)
    val total2 = t.read().inputFiles.length
    assert(t.read().count() == 1600)
    val kept2 = t.readWhereIn("id", Seq(5L)).inputFiles.length
    assert(kept2 > 0 && kept2 * 4 <= total2,
      s"post-compact lookup kept $kept2 of $total2 — spec not preserved")
    // DML rewrites keep the layout too: after a predicate delete the
    // rewritten survivors re-land one-bucket-value-each and still prune
    t.deleteWhere(col("id") % 13 === 0)
    assert(t.readWhereIn("id", Seq(5L)).filter(col("id") === 5L).count() == 1)
    val total3 = t.read().inputFiles.length
    val kept3 = t.readWhereIn("id", Seq(5L)).inputFiles.length
    assert(kept3 > 0 && kept3 * 4 <= total3,
      s"post-delete lookup kept $kept3 of $total3 — spec lost in rewrite")
  }

  test("manifest blooms prune point lookups on an unclustered high-cardinality column") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val dir = Files.createTempDirectory("graft-bloom-")
    val t = GraftTable.create(spark, dir, "t",
      Seq.empty[(Long, String)].toDF("id", "s")).get
    // round-robin layout: every file spans the whole id range, so
    // min/max stats keep everything — only the bloom can skip
    val data = spark.range(0, 4000).toDF("id")
      .withColumn("s", concat(lit("k"), col("id")))
      .repartition(8)
    t.append(data, statsCols = Seq("id"), bloomCols = Seq("id", "s"))
    // range stats are useless on this layout (premise): a point range
    // probe keeps every data file (the schema-only create file is
    // zero-row-pruned on all stats paths)
    val total = t.readWhere("id", Some(1234L), Some(1234L)).inputFiles.length
    assert(total >= 8)
    // bloom probe reads ~1 file (+ the fp sliver), through the JSON
    // manifest round-trip (readWhereIn re-reads manifests from disk)
    val kept = t.readWhereIn("id", Seq(1234L)).inputFiles.length
    assert(kept <= 3, s"bloom kept $kept of $total files")
    // string blooms too
    val keptS = t.readWhereIn("s", Seq("k77")).inputFiles.length
    assert(keptS <= 3, s"string bloom kept $keptS of $total files")
    // soundness: a present key is NEVER pruned away
    (0L until 4000L by 79L).foreach { v =>
      assert(t.readWhereIn("id", Seq(v))
        .filter(col("id") === v).count() == 1, s"lost id $v")
    }
    // absent keys usually prune to zero files (fp rate makes this
    // probabilistic per key; over 20 absent keys at ~2% fp, all-kept
    // would be astronomically unlikely)
    val absentKept = (100000L until 100020L)
      .map(v => t.readWhereIn("id", Seq(v)).inputFiles.length).sum
    assert(absentKept < total * 20 / 2, "absent keys should mostly prune")
    // compact(bloomCols) re-records the index on the rewritten files
    t.compact(targetFiles = 8, bloomCols = Seq("id"))
    val kept2 = t.readWhereIn("id", Seq(1234L)).inputFiles.length
    assert(kept2 <= 3, s"post-compact bloom kept $kept2 files")
    assert(t.readWhereIn("id", Seq(1234L))
      .filter(col("id") === 1234L).count() == 1)
    // DML rewrites INHERIT blooms: the rewritten survivors re-record
    // the sketch, so point skipping survives a delete
    t.deleteWhere(col("id") % 97 === 0)
    assert(t.readWhereIn("id", Seq(1234L))
      .filter(col("id") === 1234L).count() == 1)
    val kept3 = t.readWhereIn("id", Seq(1234L)).inputFiles.length
    assert(kept3 <= 3, s"post-delete bloom kept $kept3 files — sketch lost")
  }

  test("addFiles adopts parquet byte-identically and composes with DML") {
    import org.apache.spark.sql.functions.col
    // stage an "external" parquet file
    val ext = Files.createTempDirectory("graft-ext-")
    spark.range(0, 100).toDF("id")
      .withColumn("v", (col("id") * 3).cast("string"))
      .coalesce(1).write.mode("overwrite").parquet(ext.toString)
    def onlyParquet(d: java.nio.file.Path): java.nio.file.Path = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(d)
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
      finally s.close()
    }
    val srcFile = onlyParquet(ext)
    val dir = Files.createTempDirectory("graft-add-")
    val t = GraftTable.create(spark, dir, "t",
      Seq.empty[(Long, String)].toDF("id", "v")).get
    val snap = t.addFiles(Seq(srcFile), statsCols = Seq("id"))
    assert(snap.operation == "append")
    // byte-identical adoption (link or verbatim copy — never a rewrite)
    val imported = dir.resolve(snap.addedFiles.head)
    assert(java.nio.file.Files.mismatch(srcFile, imported) == -1L)
    assert(t.read().count() == 100)
    // requested stats recorded: range prune works on the imported file
    assert(t.metaCount().contains(100L))
    // the adopted file participates in normal DML afterwards
    t.append(spark.range(100, 120).toDF("id")
      .withColumn("v", (col("id") * 3).cast("string")))
    t.deleteWhere(col("id") < 10L)
    assert(t.read().count() == 110)
    // schema mismatch refused (swapped types)
    val bad = Files.createTempDirectory("graft-ext2-")
    spark.range(0, 5).toDF("v").withColumn("id", col("v").cast("string"))
      .select("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(bad.toString)
    intercept[IllegalArgumentException] { t.addFiles(Seq(onlyParquet(bad))) }
  }

  test("footer stats never narrow a file's range past a NaN row group") {
    import org.apache.spark.sql.functions.col
    // one external file of 2-row row groups (the block-size check runs
    // every 2 records and any buffered row group exceeds a 1-byte
    // block); the middle group holds [500.0, NaN], for which parquet
    // records no min/max although the group is not all-null. Its string
    // chunk holds a 5,000-character value: parquet drops min/max for a
    // binary chunk whose bounds exceed 4 KB, so "m" — outside every
    // other group's [a, d] — must not be pruned either
    val ext = Files.createTempDirectory("graft-nan-")
    Seq(1.0 -> "a", 2.0 -> "b", 500.0 -> "m", Double.NaN -> "z" * 5000,
      3.0 -> "c", 4.0 -> "d").toDF("x", "s")
      .coalesce(1).write
      .option("parquet.block.size", "1")
      .option("parquet.page.size.row.check.min", "2")
      .option("parquet.page.size.row.check.max", "2")
      .mode("overwrite").parquet(ext.toString)
    def onlyParquet(d: java.nio.file.Path) = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(d)
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
      finally s.close()
    }
    def footer(p: java.nio.file.Path) =
      org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toUri),
          spark.sparkContext.hadoopConfiguration))
    val src = onlyParquet(ext)
    val reader = footer(src)
    try assert(reader.getFooter.getBlocks.size >= 3,
      "the fixture needs several row groups")
    finally reader.close()
    // a second file whose one string row group holds the invalid UTF-8
    // byte 0xFF: decoded, its max would read U+FFFD (EF BF BD), below
    // the raw byte and below U+FFFF (EF BF BF)
    val bad = Files.createTempDirectory("graft-badutf8-")
    Seq(5.0 -> "FF", 6.0 -> "65").toDF("x", "h")
      .select(col("x"), org.apache.spark.sql.functions.unhex(col("h"))
        .cast("string").as("s"))
      .coalesce(1).write.mode("overwrite").parquet(bad.toString)
    val badSrc = onlyParquet(bad)
    val badReader = footer(badSrc)
    try {
      import scala.jdk.CollectionConverters._
      val st = badReader.getFooter.getBlocks.get(0).getColumns.asScala
        .find(_.getPath.toDotString == "s").get.getStatistics
      assert(st.getMaxBytes.toSeq == Seq(0xFF.toByte),
        "the fixture needs the raw 0xFF byte as its footer max")
    } finally badReader.close()
    val t = GraftTable.create(spark, Files.createTempDirectory("graft-nan-t-"),
      "t", Seq.empty[(Double, String)].toDF("x", "s")).get
    t.addFiles(Seq(src, badSrc), statsCols = Seq("x", "s"))
    assert(t.readWhere("x", Some(500.0), Some(500.0))
      .filter(col("x") === 500.0).count() == 1L,
      "the file holding 500.0 was pruned by footer bounds")
    assert(t.readWhere("s", Some("m"), Some("m"))
      .filter(col("s") === "m").count() == 1L,
      "the file holding \"m\" was pruned by footer bounds")
    assert(t.readWhere("s", Some("\uFFFF"), None)
      .filter(col("x") === 5.0).count() == 1L,
      "the file holding 0xFF was pruned by lossily decoded footer bounds")
    // the 0xFF string beside a decimal stats column: decimals have no
    // footer mapping, so this commit's stats come from the aggregate
    // fallback, whose decoded strings must not narrow the range either
    val badDec = Files.createTempDirectory("graft-badutf8-dec-")
    spark.read.parquet(bad.toString)
      .withColumn("d", col("x").cast("decimal(10,2)"))
      .coalesce(1).write.mode("overwrite").parquet(badDec.toString)
    val t2 = GraftTable.create(spark,
      Files.createTempDirectory("graft-badutf8-t-"), "t",
      spark.read.parquet(badDec.toString).limit(0)).get
    t2.addFiles(Seq(onlyParquet(badDec)), statsCols = Seq("x", "s", "d"))
    assert(t2.readWhere("s", Some("\uFFFF"), None)
      .filter(col("x") === 5.0).count() == 1L,
      "the file holding 0xFF was pruned by lossily decoded aggregate bounds")
  }

  test("shallow clone shares bytes, evolves independently, and prunes via carried stats") {
    import org.apache.spark.sql.functions.col
    val c = new Connector(spark, freshWarehouse())
    c.createTable("src", Seq.empty[(Long, String)].toDF("id", "v"))
    val t = c.loadTable("src")
    t.append(spark.range(0, 400).toDF("id")
      .withColumn("v", col("id").cast("string")),
      clusterBy = Seq("id"), clusterParts = 8)
    val clone = t.cloneTo(
      Files.createTempDirectory("graft-clone-"), "src_clone")
    assert(clone.read().count() == 400)
    // stats traveled: the clone prunes immediately
    val total = clone.read().inputFiles.length
    assert(clone.readWhere("id", Some(10L), Some(20L)).inputFiles.length < total)
    // clone evolves independently; source untouched
    clone.append(spark.range(400, 500).toDF("id")
      .withColumn("v", col("id").cast("string")))
    clone.deleteWhere(col("id") < 50L)
    assert(clone.read().count() == 450)
    assert(t.read().count() == 400)
    // source evolves independently; clone untouched
    t.deleteWhere(col("id") >= 200L)
    assert(t.read().count() == 200)
    assert(clone.read().count() == 450)
    // both audit clean afterwards (shared bytes were never mutated)
    assert(t.validate().isEmpty && clone.validate().isEmpty)
  }

  test("validate() reports missing files and manifest inconsistencies; silent when clean") {
    import org.apache.spark.sql.functions.col
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val t = c.loadTable("t")
    t.append(Seq((3L, "c")).toDF("id", "v"))
    t.deleteWhere(col("id") === 1L)
    assert(t.validate().isEmpty, "a healthy table must audit clean")
    // vandalize: remove one currently-visible data file
    val victim = t.dir.resolve(t.log.head.get.addedFiles.head)
    Files.delete(victim)
    val issues = t.validate()
    assert(issues.exists(_.contains("missing on disk")), issues.mkString("; "))
  }

  test("declared sort order: appends and plain compacts cluster by default") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-so-")
    val t = GraftTable.create(spark, dir, "t",
      Seq.empty[(Long, String)].toDF("id", "v")).get
    t.setSortOrder(Seq("id"))
    // caller does NOT restate the layout: the declared order clusters
    t.append(spark.range(0, 2000).toDF("id")
      .withColumn("v", col("id").cast("string")).repartition(8))
    val total = t.read().inputFiles.length
    assert(total >= 2)
    val kept = t.readWhere("id", Some(0L), Some(100L)).inputFiles.length
    assert(kept < total, s"default sort order inert: kept $kept of $total")
    // a plain compact keeps the declared layout and its stats
    t.append(spark.range(2000, 4000).toDF("id")
      .withColumn("v", col("id").cast("string")).repartition(8))
    t.compact(targetFiles = 6)
    val total2 = t.read().inputFiles.length
    val kept2 = t.readWhere("id", Some(0L), Some(100L)).inputFiles.length
    assert(kept2 < total2, s"post-compact order inert: kept $kept2 of $total2")
    // the order travels with a clone
    val clone = t.cloneTo(Files.createTempDirectory("graft-so-c-"), "tc")
    assert(clone.sortOrder == Seq("id"))
  }

  test("streaming ingestion into a partition-specced table lands prunable") {
    import org.apache.spark.sql.functions.col
    // the foreachBatch sink appends through the same GraftTable.append,
    // so a declared bucket spec applies to STREAMED data too
    val c = new Connector(spark, freshWarehouse())
    // table schema must match the STREAMED shape (readEvents reads ts as
    // TimestampType via eventSchema, not the raw parquet's NTZ)
    c.createTable("ev", spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      EventStreams.eventSchema))
    c.loadTable("ev").setPartitionSpec(Seq(
      graft.warehouse.PartitionField("bucket", "user_id", 8)))
    val stage = Files.createTempDirectory("graft-ing-").toString
    T.events(spark, "/root/testdata/sf0.001").coalesce(2)
      .write.mode("overwrite").parquet(stage)
    val sq = EventStreams.ingestToWarehouse(
      EventStreams.readEvents(spark, stage), c, "ev",
      Files.createTempDirectory("graft-ing-ckpt").toString)
    sq.awaitTermination(120000)
    val t = c.loadTable("ev")
    val uid = t.read().select("user_id").head().getLong(0)
    val total = t.read().inputFiles.length
    val kept = t.readWhereIn("user_id", Seq(uid)).inputFiles.length
    assert(kept > 0 && kept < total,
      s"streamed files not partition-prunable: kept $kept of $total")
    assert(t.readWhereIn("user_id", Seq(uid))
      .filter(col("user_id") === uid).count() ==
      t.read().filter(col("user_id") === uid).count())
  }

  test("metadata tables: snapshots history and visible files from manifests alone") {
    import org.apache.spark.sql.functions.col
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    c.insert("t", Seq((3L, "c")).toDF("id", "v"))
    val t = c.loadTable("t")
    t.append(Seq((4L, "d")).toDF("id", "v"), statsCols = Seq("id"),
      bloomCols = Seq("id"))
    t.deleteWhere(col("id") === 2L)
    val snaps = c.inspect("t", "snapshots")
    assert(snaps.select("operation").as[String].collect().toSeq ==
      Seq("create", "append", "append", "delete"))
    assert(snaps.columns.contains("committed_at"))
    val files = c.inspect("t", "files")
    // visible rows from metadata == actual table count
    assert(files.agg(org.apache.spark.sql.functions.sum("rows"))
      .head().getLong(0) == t.read().count())
    // the bloom-indexed append advertises its skipping indexes
    val withBloom = files.filter(org.apache.spark.sql.functions
      .array_contains(col("bloom_columns"), "id"))
    assert(withBloom.count() >= 1)
    assert(files.filter(col("added_by").isNull).count() == 0)
    // time travel: the pre-delete cut still lists the deleted row's file
    val preDelete = t.filesDf(Some(3L))
    assert(preDelete.count() >= files.count())
  }

  test("multi-field spec: bucket x day prunes multiplicatively through one layout") {
    import graft.warehouse.PartitionField
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-part2-")
    val t = GraftTable.create(spark, dir, "t",
      Seq.empty[(Long, java.time.LocalDateTime)].toDF("id", "ts")).get
    t.setPartitionSpec(Seq(
      PartitionField("bucket", "id", 4), PartitionField("day", "ts")))
    val base = java.time.LocalDateTime.of(2026, 5, 1, 0, 0, 0)
    val rows = (0L until 1200L).map(i => (i, base.plusHours(i % (6 * 24))))
    t.append(spark.createDataset(rows).toDF("id", "ts").repartition(2))
    val total = t.read().inputFiles.length
    assert(total >= 20, s"expected a 4x6-cell layout, got $total files")
    // single-dimension probes each keep a slice...
    val dayLo = base.plusDays(2); val dayHi = base.plusDays(2).plusHours(23)
    val byDay = t.readWhere("ts", Some(dayLo), Some(dayHi)).inputFiles.length
    val byId = t.readWhereIn("id", Seq(7L)).inputFiles.length
    assert(byDay < total && byId < total)
    // ...and the readWhereIn probe composes BOTH fields for a point row:
    // value 7 pins the id-bucket; its day entry can't help a pure id
    // probe, but the bucket alone already beats either slice bound
    assert(byId * 2 <= total, s"bucket kept $byId of $total")
    // correctness through the 2-field layout
    assert(t.read().count() == 1200)
    assert(t.readWhereIn("id", Seq(7L)).filter(col("id") === 7L).count() == 1)
    val want = rows.count(r => !r._2.isBefore(dayLo) && !r._2.isAfter(dayHi))
    assert(t.readWhere("ts", Some(dayLo), Some(dayHi))
      .filter(col("ts") >= dayLo && col("ts") <= dayHi).count() == want)
  }

  test("day partitioning prunes time-range reads from path metadata alone") {
    import graft.warehouse.PartitionField
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-part-day-")
    val t = GraftTable.create(spark, dir, "t",
      Seq.empty[(java.time.LocalDateTime, Long)].toDF("ts", "v")).get
    t.setPartitionSpec(Seq(PartitionField("day", "ts")))
    val base = java.time.LocalDateTime.of(2026, 3, 1, 0, 0, 0)
    val rows = (0 until 800).map(i =>
      (base.plusHours(i % (8 * 24)), i.toLong)) // 8 distinct days
    t.append(spark.createDataset(rows).toDF("ts", "v").repartition(3))
    val total = t.read().inputFiles.length
    val lo = base.plusDays(3)
    val hi = base.plusDays(3).plusHours(23)
    val day3 = t.readWhere("ts", Some(lo), Some(hi))
    assert(day3.inputFiles.length < total / 2,
      s"kept ${day3.inputFiles.length} of $total — day pruning inert")
    assert(day3.filter(col("ts") >= lo && col("ts") <= hi).count() ==
      rows.count(r => !r._1.isBefore(lo) && !r._1.isAfter(hi)))
    // a NULL-day or unknown file would conservatively match; full scan intact
    assert(t.read().count() == 800)
  }

  test("hour partitioning prunes a time-window lookup; month/year handle pre-1970 dates") {
    import graft.warehouse.PartitionField
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-part-hour-")
    val t = GraftTable.create(spark, dir, "t",
      Seq.empty[(java.time.LocalDateTime, Long)].toDF("ts", "v")).get
    t.setPartitionSpec(Seq(PartitionField("hour", "ts")))
    val base = java.time.LocalDateTime.of(2026, 3, 1, 0, 0, 0)
    val rows = (0 until 480).map(i => (base.plusMinutes(i * 6), i.toLong)) // 48 hours
    t.append(spark.createDataset(rows).toDF("ts", "v").coalesce(1))
    val total = t.read().inputFiles.length
    val lo = base.plusHours(5)
    val hi = base.plusHours(7).plusMinutes(59)
    val win = t.readWhere("ts", Some(lo), Some(hi))
    assert(win.inputFiles.length * 4 <= total,
      s"kept ${win.inputFiles.length} of $total — hour pruning inert")
    assert(win.filter(col("ts") >= lo && col("ts") <= hi).count() ==
      rows.count(r => !r._1.isBefore(lo) && !r._1.isAfter(hi)))
    // negative-date edge (Iceberg encoding): 1969-12-31 is month −1 /
    // year −1; an off-by-one (truncation toward zero) would collide it
    // with 1970-01 and misprune
    assert(graft.warehouse.PartitionField("month", "ts")
      .apply(java.time.LocalDateTime.of(1969, 12, 31, 23, 0), null) == -1)
    assert(graft.warehouse.PartitionField("year", "ts")
      .apply(java.time.LocalDateTime.of(1969, 12, 31, 23, 0), null) == -1)
    assert(graft.warehouse.PartitionField("hour", "ts")
      .apply(java.time.LocalDateTime.of(1969, 12, 31, 23, 30), null) == -1)
  }

  test("drop + recreate at the same path serves the NEW table (manifest cache invalidated)") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("dr", Seq((1L, "old-a"), (2L, "old-b")).toDF("id", "v"))
    // parse (and cache) the first table's v…1 manifest
    assert(c.query("dr").select("v").as[String].collect().forall(_.startsWith("old")))
    assert(c.dropTable("dr"))
    // the recreated table restarts its id sequence: v…1.json is REUSED
    // with new content — a path-keyed cache that survived the drop
    // would resolve the old schema/file list here
    c.createTable("dr", Seq((10L, "new-x")).toDF("id", "v"))
    val vs = c.query("dr").select("v").as[String].collect().toSeq
    assert(vs == Seq("new-x"), s"stale manifest cache served: $vs")
    assert(c.count("dr") == 1)
  }

  test("concurrent setPartitionSpec declarations are never lost (CAS spec files)") {
    import graft.warehouse.PartitionField
    val dir = Files.createTempDirectory("graft-spec-race-")
    val t = GraftTable.create(spark, dir, "t",
      Seq.empty[(Long, Long)].toDF("a", "b")).get
    val threads = (1 to 8).map { i =>
      new Thread(() =>
        t.setPartitionSpec(Seq(PartitionField("bucket", "a", i * 2))))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // every declaration must appear in history — the pre-CAS
    // read-modify-write dropped racing lines silently
    val buckets = t.partitionSpecHistory.collect {
      case f if f.kind == "bucket" => f.param
    }.toSet
    assert(buckets == (1 to 8).map(_ * 2).toSet,
      s"lost spec declarations: got $buckets")
    // current spec is exactly one of the declared ones
    assert(t.partitionSpec.nonEmpty)
  }

  test("compactSmall binpacks only small files; incremental readers flow through") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-binpack-")
    val t = GraftTable.create(spark, dir, "t",
      spark.range(0, 50000).toDF("id")
        .withColumn("v", col("id").cast("string")).coalesce(1)).get
    val bigFiles = t.read().inputFiles.toSet
    assert(bigFiles.size == 1)
    // 6 tiny appends — the poll-loop small-file problem
    (0 until 6).foreach(i => t.append(
      Seq((100000L + i, s"x$i")).toDF("id", "v")))
    val s1 = t.currentSnapshotId.get
    t.append(Seq((200000L, "post")).toDF("id", "v"))
    val preCount = t.read().count()
    val preFiles = t.read().inputFiles.length
    // small threshold far below the 50k-row file's size
    val snap = t.compactSmall(smallBytes = 64 << 10, targetBytes = 1 << 20)
    assert(snap.nonEmpty && snap.get.operation == "rewrite")
    // the big file was NOT rewritten; the 7 small ones packed into few
    val post = t.read().inputFiles.toSet
    assert(bigFiles.subsetOf(post), "right-sized file was rewritten")
    assert(post.size < preFiles, s"no packing: $preFiles -> ${post.size}")
    assert(t.read().count() == preCount)
    // nothing to do → no commit
    assert(t.compactSmall(smallBytes = 1L).isEmpty)
    // incremental readers FLOW THROUGH the rewrite (no refusal, no
    // double-count): delta since s1 is exactly the one post-rewrite row
    val delta = t.changesSince(s1)
    assert(delta.select("id").as[Long].collect().toSeq == Seq(200000L))
    // time travel before the rewrite still resolves
    assert(t.read(Some(s1)).count() == preCount - 1)
    // fsck clean
    assert(t.validate().isEmpty)
  }

  test("checkpoint re-lists the visible set metadata-only and unlocks expiry") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-ckptmeta-")
    val t = GraftTable.create(spark, dir, "t",
      (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")).get
    (0 until 4).foreach(i => t.append(Seq((200L + i, "x")).toDF("id", "v")))
    t.compactSmall(smallBytes = 1L << 20) // partial rewrite: not an expiry horizon
    intercept[IllegalArgumentException] {
      t.expireSnapshots(t.currentSnapshotId.get)
    }
    val dataFilesBefore = t.log.dataFiles(None).map(
      f => java.nio.file.Paths.get(f).getFileName.toString).toSet
    val preCount = t.read().count()
    val ck = t.checkpoint()
    // ZERO data writes: the checkpoint lists exactly the same files
    assert(ck.operation == "compact")
    assert(ck.addedFiles.map(f =>
      java.nio.file.Paths.get(f).getFileName.toString).toSet == dataFilesBefore)
    // expiry now severs at the checkpoint; reads stay whole
    t.expireSnapshots(ck.snapshotId)
    assert(t.read().count() == preCount)
    assert(t.log.snapshots.size == 1)
    assert(t.validate().isEmpty)
    // stats carried: pruning still works after checkpoint+expiry
    t.append((300L to 400L).map(i => (i, "y")).toDF("id", "v"),
      clusterBy = Seq("id"))
    assert(t.readWhere("id", Some(350L), Some(350L))
      .filter(col("id") === 350L).count() == 1)
    // rename makes the visible set era-mixed: the checkpoint records
    // per-file ERA BINDINGS (r13) and expiry still severs here — reads
    // stay era-projected across the horizon with no compact anywhere
    t.renameColumn("v", "label")
    t.append(Seq((500L, "z")).toDF("id", "label"))
    val preEvolved = t.read().orderBy("id").collect().toSeq
    val ck2 = t.checkpoint()
    assert(ck2.properties.keys.exists(_.startsWith("graft.eraof.")),
      "expected per-file era bindings on an era-mixed checkpoint")
    t.expireSnapshots(ck2.snapshotId)
    assert(t.log.snapshots.size == 1)
    assert(t.read().orderBy("id").collect().toSeq == preEvolved,
      "era-projected read diverged across the checkpoint horizon")
    assert(t.validate().isEmpty)
    // the carried RETIRED binding refuses re-using the pre-rename name
    // even though every evolve commit before the horizon is expired
    intercept[IllegalArgumentException] {
      t.addColumns(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType))))
    }
    // a real compact normalizes; the next checkpoint needs no bindings
    t.compact()
    val ck3 = t.checkpoint()
    assert(!ck3.properties.keys.exists(_.startsWith("graft.eraof.")))
  }

  test("MV min/max: incremental on inserts, group-pruned recompute on extremum deletes") {
    import org.apache.spark.sql.functions.col
    import graft.warehouse.MaterializedAgg
    val baseDir = Files.createTempDirectory("graft-mvx-")
    val rows = Seq((1L, 1L), (1L, 5L), (1L, 9L), (2L, 2L), (2L, 6L),
      (2L, 10L), (3L, 3L), (4L, 4L), (4L, 8L), (4L, 12L))
    val t = GraftTable.create(spark, baseDir, "b",
      rows.toDF("g", "k").repartition(1)).get
    val mv = MaterializedAgg.create(t,
      Files.createTempDirectory("graft-mvxv-"), "v",
      Seq("g"), Seq("k"), minMaxCols = Seq("k"))
    def viewMap() = mv.view.read()
      .select("g", "cnt", "min_k", "max_k").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(viewMap() == Map(1L -> (3L, 1L, 9L), 2L -> (3L, 2L, 10L),
      3L -> (1L, 3L, 3L), 4L -> (3L, 4L, 12L)))
    // pure insert: incremental bounds, no recompute
    t.append(Seq((2L, 0L)).toDF("g", "k"))
    assert(mv.refresh() == "incremental" && mv.lastRedoScan.isEmpty)
    assert(viewMap()(2L) == (4L, 0L, 10L))
    // NON-extremum delete: no recompute needed
    t.deleteWhere(col("g") === 4L && col("k") === 8L)
    assert(mv.refresh() == "incremental" && mv.lastRedoScan.isEmpty)
    assert(viewMap()(4L) == (2L, 4L, 12L))
    // extremum delete: only g=1 recomputes from the base
    t.deleteWhere(col("g") === 1L && col("k") === 9L)
    assert(mv.refresh() == "incremental" && mv.lastRedoScan.nonEmpty)
    assert(viewMap()(1L) == (2L, 1L, 5L))
    // emptied group leaves the view without a recompute
    t.deleteWhere(col("g") === 3L)
    assert(mv.refresh() == "incremental")
    assert(!viewMap().contains(3L))
    assert(mv.refresh() == "fresh")
  }

  test("merge WHEN NOT MATCHED BY SOURCE deletes absent keys in the same commit") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = Files.createTempDirectory("graft-nms-")
    val t = GraftTable.create(spark, dir, "t",
      Seq((1L, "old1"), (2L, "old2"), (3L, "gone"), (4L, "gone")).toDF("id", "v")).get
    val head = t.currentSnapshotId.get
    // source: updates 1, inserts 5, omits 2/3/4; arm deletes only ids > 2
    t.merge(Seq((1L, "new1"), (5L, "new5")).toDF("id", "v"), Seq("id"),
      whenMatchedDelete = lit(false),
      whenNotMatchedBySourceDelete = Some(col("id") > 2L))
    assert(t.currentSnapshotId.get == head + 1, "must be ONE commit")
    assert(t.read().as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "new1"), (2L, "old2"), (5L, "new5")))
    // unconditional arm = full snapshot sync
    t.merge(Seq((7L, "only")).toDF("id", "v"), Seq("id"),
      whenMatchedDelete = lit(false),
      whenNotMatchedBySourceDelete = Some(lit(true)))
    assert(t.read().as[(Long, String)].collect().toSeq == Seq((7L, "only")))
  }

  test("predicate MOR delete: era-scoped, zero files, refuses bad predicates") {
    import org.apache.spark.sql.functions.{col, rand}
    val dir = Files.createTempDirectory("graft-morp-")
    val t = GraftTable.create(spark, dir, "t",
      (1L to 20L).map(i => (i, i * 10.0)).toDF("id", "x")).get
    // unknown column / nondeterministic predicates refused at commit
    intercept[Exception] { t.deleteWhereMor(col("nope") > 0) }
    intercept[IllegalArgumentException] { t.deleteWhereMor(rand() < 0.5) }
    val snap = t.deleteWhereMor(col("x") <= 50.0)
    assert(snap.addedFiles.isEmpty && snap.deleteFiles.isEmpty)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == (6L to 20L))
    // era semantics: re-append a matching row AFTER the delete — visible
    t.append(Seq((3L, 30.0)).toDF("id", "x"))
    assert(t.read().filter(col("id") === 3L).count() == 1)
    // NULL-evaluating predicate keeps the row (SQL DELETE semantics)
    val dir2 = Files.createTempDirectory("graft-morp2-")
    val t2 = GraftTable.create(spark, dir2, "t2",
      Seq((1L, Some(1.0)), (2L, None: Option[Double])).toDF("id", "x")).get
    t2.deleteWhereMor(col("x") > 0.0)
    assert(t2.read().select("id").as[Long].collect().toSeq == Seq(2L))
    // compact materializes; the predicate never reapplies to new rows
    t.compact()
    assert(t.liveEqDeletes().isEmpty)
    assert(t.read().filter(col("id") === 3L).count() == 1)
    t.append(Seq((4L, 40.0)).toDF("id", "x"))
    assert(t.read().filter(col("id") === 4L).count() == 1)
  }

  test("widenColumn promotes int->long metadata-only; era files cast on read") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft-widen-")
    val t = GraftTable.create(spark, dir, "t",
      Seq((1L, 10), (2L, 20)).toDF("id", "qty")).get
    val filesBefore = t.read().inputFiles.toSet
    intercept[IllegalArgumentException] { t.widenColumn("qty", StringType) }
    t.widenColumn("qty", LongType)
    // metadata-only: same physical files; old int32 pages read as long
    assert(t.read().inputFiles.toSet == filesBefore)
    assert(t.schema("qty").dataType == LongType)
    // appends carry the wide type; values beyond Int.MaxValue land
    t.append(Seq((3L, 5000000000L)).toDF("id", "qty"))
    assert(t.read().select("qty").as[Long].collect().sorted.toSeq ==
      Seq(10L, 20L, 5000000000L))
    // cross-era DML decodes the narrow era correctly
    t.upsert(Seq((1L, 11L)).toDF("id", "qty"), Seq("id"))
    assert(t.read().select("id", "qty").as[(Long, Long)].collect().sorted.toSeq ==
      Seq((1L, 11L), (2L, 20L), (3L, 5000000000L)))
    // pruning still works across the widening (stats are type-agnostic)
    val pruned = t.readWhere("id", Some(3L), Some(3L))
    assert(pruned.filter(col("id") === 3L).count() == 1)
    // float -> double too; rename composes with widen
    t.renameColumn("qty", "amount")
    assert(t.read().select("amount").as[Long].collect().sorted.toSeq ==
      Seq(11L, 20L, 5000000000L))
  }

  test("widen refuses hash-domain breaks; expiry refuses severing open branches") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    import graft.warehouse.PartitionField
    // bucket-partitioned column: murmur3(int) != murmur3(long), so a
    // widen would falsely prune against old-era partition entries
    val d1 = Files.createTempDirectory("graft-wguard1-")
    val t1 = GraftTable.create(spark, d1, "t1",
      Seq.empty[(Int, Long)].toDF("k", "v")).get
    t1.setPartitionSpec(Seq(PartitionField("bucket", "k", 8)))
    t1.append((1 to 100).map(i => (i, i.toLong)).toDF("k", "v"))
    intercept[IllegalArgumentException] { t1.widenColumn("k", LongType) }
    // bloom-sketched column: same hash-domain argument
    val d2 = Files.createTempDirectory("graft-wguard2-")
    val t2 = GraftTable.create(spark, d2, "t2",
      Seq.empty[(Int, Long)].toDF("k", "v")).get
    t2.append((1 to 100).map(i => (i, i.toLong)).toDF("k", "v"),
      bloomCols = Seq("k"))
    intercept[IllegalArgumentException] { t2.widenColumn("k", LongType) }
    // a compact re-records under the new layout; widen then proceeds
    t2.compact()
    t2.widenColumn("k", LongType)
    assert(t2.schema("k").dataType == LongType)
    assert(t2.read().filter(col("k") === 50L).count() == 1)
    // expiry refuses to sever an open branch from its fork point
    val d3 = Files.createTempDirectory("graft-bguard-")
    val t3 = GraftTable.create(spark, d3, "t3",
      Seq((1L, "a")).toDF("id", "v")).get
    t3.createBranch("wip")
    val comp = t3.compact()
    intercept[IllegalArgumentException] { t3.expireSnapshots(comp.snapshotId) }
    t3.dropBranch("wip")
    t3.expireSnapshots(comp.snapshotId)
    assert(t3.read().count() == 1)
  }

  test("renameColumn is metadata-only and era-correct: old files keep their data") {
    val dir = Files.createTempDirectory("graft-ren-")
    val t = GraftTable.create(spark, dir, "t",
      Seq((1L, "a"), (2L, "b")).toDF("id", "v")).get
    val filesBefore = t.read().inputFiles.toSet
    val preRename = t.currentSnapshotId.get
    t.renameColumn("v", "label")
    // metadata-only: same physical files
    assert(t.read().inputFiles.toSet == filesBefore)
    assert(t.schema.fieldNames.toSeq == Seq("id", "label"))
    // old files' data surfaces under the NEW name
    assert(t.read().select("id", "label").as[(Long, String)].collect().sorted.toSeq
      == Seq((1L, "a"), (2L, "b")))
    // time travel before the rename reads with the OLD name
    assert(t.read(Some(preRename)).columns.toSeq == Seq("id", "v"))
    // appends carry the new schema; both eras union correctly
    t.append(Seq((3L, "c")).toDF("id", "label"))
    assert(t.read().select("id", "label").as[(Long, String)].collect().sorted.toSeq
      == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // changesSince across the rename window projects old-era files too
    val delta = t.changesSince(0L)
    assert(delta.columns.toSeq == Seq("id", "label") && delta.count() == 3)
    // rename back-and-forth via field ids
    t.renameColumn("label", "v")
    assert(t.read().select("id", "v").as[(Long, String)].collect().sorted.toSeq
      == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("dropColumn retires the field; a re-used name never resurrects old data") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft-drop-")
    val t = GraftTable.create(spark, dir, "t",
      Seq((1L, "secret", 10.0), (2L, "hidden", 20.0)).toDF("id", "v", "x")).get
    val preDrop = t.currentSnapshotId.get
    t.dropColumn("v")
    assert(t.schema.fieldNames.toSeq == Seq("id", "x"))
    assert(t.read().columns.toSeq == Seq("id", "x") && t.read().count() == 2)
    // time travel still sees the dropped column
    assert(t.read(Some(preDrop)).columns.contains("v"))
    // re-adding the retired NAME while its era files are retained is
    // refused (by-name reads of old files would resurrect the data)
    intercept[IllegalArgumentException] {
      t.addColumns(StructType(Seq(StructField("v", StringType))))
    }
    // a fresh name is fine and null-fills
    t.addColumns(StructType(Seq(StructField("note", StringType))))
    assert(t.read().filter(col("note").isNull).count() == 2)
  }

  test("DML after a rename rewrites old-era files under the new name") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-rendml-")
    val t = GraftTable.create(spark, dir, "t",
      (1L to 10L).map(i => (i, s"v$i", i * 1.0)).toDF("id", "v", "x")).get
    t.renameColumn("v", "label")
    // upsert keyed on id touches old-era files: survivors must decode
    // era-correctly (label <- v), not null out
    t.upsert(Seq((3L, "NEW", 33.0)).toDF("id", "label", "x"), Seq("id"))
    val got = t.read().select("id", "label").as[(Long, String)]
      .collect().toMap
    assert(got(3L) == "NEW" && got(1L) == "v1" && got(10L) == "v10")
    // deleteWhere on the renamed column
    t.deleteWhere(col("label") === "v5")
    assert(t.read().count() == 9)
    // diff across the rename+DML window reports under current names
    val d = t.diff(0L)
    assert(d.columns.contains("label") && !d.columns.contains("v"))
    // compact normalizes every era; reads stay identical
    val before = t.read().select("id", "label", "x").collect().sortBy(_.getLong(0))
    t.compact()
    val after = t.read().select("id", "label", "x").collect().sortBy(_.getLong(0))
    assert(before.toSeq == after.toSeq)
  }

  test("rename re-declares layout declarations that referenced the old name") {
    import graft.warehouse.PartitionField
    val dir = Files.createTempDirectory("graft-renlay-")
    val t = GraftTable.create(spark, dir, "t",
      Seq.empty[(Long, Long)].toDF("a", "b")).get
    t.setSortOrder(Seq("a"))
    t.setPartitionSpec(Seq(PartitionField("bucket", "a", 8)))
    t.renameColumn("a", "a2")
    assert(t.sortOrder == Seq("a2"))
    assert(t.partitionSpec.map(_.column) == Seq("a2"))
    // dropping a partition-spec column is refused until re-declared
    intercept[IllegalArgumentException] { t.dropColumn("a2") }
    t.setPartitionSpec(Nil)
    t.dropColumn("a2")
    assert(t.schema.fieldNames.toSeq == Seq("b"))
    // the sort order shed the dropped column
    assert(!t.sortOrder.contains("a2"))
  }

  test("column defaults: pre-add files read the constant, writes may omit, rewrites materialize") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft-def-")
    val t = GraftTable.create(spark, dir, "t",
      (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v")).get
    val s0 = t.currentSnapshotId.get
    t.addColumns(
      StructType(Seq(StructField("score", DoubleType),
        StructField("tag", StringType))),
      defaults = Map("score" -> 2.5d, "tag" -> "none"))
    // pre-add rows read the default (fast path: absent column filled by
    // the reader from the existence-default metadata)
    assert(t.read().filter(col("score") === 2.5 && col("tag") === "none")
      .count() === 6)
    // time travel BEFORE the add has no column at all
    assert(!t.read(Some(s0)).columns.contains("score"))
    // explicit values — including explicit NULL — are kept as given
    t.append(Seq((7L, "v7", java.lang.Double.valueOf(9.0), "real"),
      (8L, "v8", null.asInstanceOf[java.lang.Double],
        null.asInstanceOf[String])).toDF("id", "v", "score", "tag"))
    val by = t.read().collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) null else r.getDouble(2)))
      .toMap
    assert(by(7L) === 9.0 && by(8L) === null && by(1L) === 2.5)
    // write-default: an append OMITTING the defaulted columns fills them
    t.append(Seq((9L, "v9")).toDF("id", "v"))
    val r9 = t.read().filter(col("id") === 9L).collect().head
    assert(r9.getDouble(2) === 2.5 && r9.getString(3) === "none")
    // an append omitting a NON-defaulted column still refuses
    t.addColumns(StructType(Seq(StructField("plain", LongType))))
    intercept[IllegalArgumentException] {
      t.append(Seq((10L, "v10")).toDF("id", "v"))
    }
    // a rewrite materializes defaults; reads stay value-identical
    val before = t.read().orderBy("id").collect().map(_.toSeq).toSeq
    t.compact()
    assert(t.read().orderBy("id").collect().map(_.toSeq).toSeq === before)
    // wrong-typed default refuses at declaration time
    intercept[IllegalArgumentException] {
      t.addColumns(StructType(Seq(StructField("bad", LongType))),
        defaults = Map("bad" -> "not-a-long"))
    }
  }

  test("column defaults fill era-correctly through renamed-era (slow path) reads") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft-defr-")
    val t = GraftTable.create(spark, dir, "t",
      (1L to 4L).map(i => (i, i * 10L)).toDF("id", "amt")).get
    // rename forces field-id mode: pre-rename files decode per-era
    t.renameColumn("amt", "amount")
    t.addColumns(StructType(Seq(StructField("src", StringType))),
      defaults = Map("src" -> "legacy"))
    t.append(Seq((5L, 50L, "fresh")).toDF("id", "amount", "src"))
    // old-era files (physical name `amt`, no `src`) take the slow
    // projection path — the default must fill there too
    val got = t.read().orderBy("id").select("id", "amount", "src")
      .as[(Long, Long, String)].collect().toSeq
    assert(got === Seq((1L, 10L, "legacy"), (2L, 20L, "legacy"),
      (3L, 30L, "legacy"), (4L, 40L, "legacy"), (5L, 50L, "fresh")))
  }

  test("row lineage: stable ids across maintenance, preserved by update/delete, fresh on append") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-rl-")
    val t = GraftTable.create(spark, dir, "t",
      (1L to 100L).map(i => (i, i * 10L)).toDF("id", "amt")).get
    t.append((101L to 200L).map(i => (i, i * 10L)).toDF("id", "amt"))
    // not enabled yet → refuse
    intercept[IllegalArgumentException] { t.readLineage() }
    t.enableRowLineage()
    def ids(): Map[Long, Long] = t.readLineage().select("id", "_row_id")
      .as[(Long, Long)].collect().toMap
    val ids0 = ids()
    assert(ids0.size === 200 && ids0.values.toSet.size === 200,
      "row ids not distinct")
    assert(ids0.values.min === 0L && ids0.values.max === 199L,
      s"retro-assignment not dense: ${ids0.values.min}..${ids0.values.max}")
    // appends mint fresh ids above the counter
    t.append((201L to 220L).map(i => (i, i * 10L)).toDF("id", "amt"))
    val ids1 = ids()
    assert((201L to 220L).map(ids1).toSet === (200L to 219L).toSet)
    assert((1L to 200L).forall(k => ids1(k) == ids0(k)),
      "append disturbed existing ids")
    // a full compact preserves every id (materializes them)
    t.compact(targetFiles = 3, clusterBy = Seq("id"), statsCols = Seq("id"))
    assert(ids() === ids1, "compact changed row ids")
    // UPDATE preserves the updated rows' ids
    t.updateWhere(col("id") <= 10, Map("amt" -> (col("amt") + 1)))
    assert(ids() === ids1, "update changed row ids")
    // CoW DELETE: survivors keep ids, victims' ids never reused
    t.deleteWhere(col("id") % 50 === 0)
    val ids2 = ids()
    assert(ids2 === ids1.removedAll(Seq(50L, 100L, 150L, 200L)))
    // MOR delete: no rewrite, no id movement
    t.deleteKeysMor(Seq(7L).toDF("id"))
    assert(ids() === ids2.removed(7L))
    // binpack preserves ids too (with the tombstone still live)
    val bp = t.compactSmall(smallBytes = 1L << 30)
    assert(bp.nonEmpty, "binpack found nothing to pack")
    assert(ids() === ids2.removed(7L), "binpack changed row ids")
    // merge PRESERVES matched ids and mints only genuine inserts
    t.compact() // materialize the tombstone so merge's file probe is clean
    val before = ids()
    t.merge(Seq((1L, 999L), (300L, 3000L)).toDF("id", "amt"), Seq("id"),
      whenMatchedDelete = org.apache.spark.sql.functions.lit(false))
    val after = ids()
    assert(after(300L) >= 220L, "fresh merge insert got a recycled id")
    assert(after(1L) == before(1L),
      "merge updated row 1 — its identity must survive (v3 MERGE)")
    assert(after.removed(300L) === before,
      "merge disturbed ids it never touched")
    // ids stay globally unique
    assert(after.values.toSet.size === after.size)
    // checkpoint + expiry: the carry keeps every id resolvable
    val ck = t.checkpoint()
    t.expireSnapshots(ck.snapshotId)
    assert(ids() === after, "checkpoint/expiry lost row ids")
  }

  test("row lineage assigns through partitioned writes and era-projected (renamed) reads") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-rlp-")
    val t = GraftTable.create(spark, dir, "t",
      (1L to 60L).map(i => (i, i % 3)).toDF("id", "b")).get
    t.setPartitionSpec(Seq(graft.warehouse.PartitionField("identity", "b")))
    t.append((61L to 120L).map(i => (i, i % 3)).toDF("id", "b"))
    t.enableRowLineage()
    // partition-dir rel paths (p_b=0/...) resolve through the row-side
    // decoded join key
    val l0 = t.readLineage().select("id", "_row_id")
      .as[(Long, Long)].collect().toMap
    assert(l0.size === 120 && l0.values.toSet.size === 120)
    // rename forces the per-era slow path; materialized files carry
    // physical ids through it
    t.renameColumn("b", "bucket")
    t.updateWhere(col("id") <= 5, Map("bucket" -> (col("bucket") + 0)))
    assert(t.readLineage().select("id", "_row_id")
      .as[(Long, Long)].collect().toMap === l0,
      "rename + update lost ids on era-projected files")
    // lineage refuses a second enable
    intercept[IllegalArgumentException] { t.enableRowLineage() }
  }

  test("DML probe pruning never unwraps a narrowing cast (soundness)") {
    import org.apache.spark.sql.functions.col
    val c = new Connector(spark, freshWarehouse())
    // clustered doubles: one file holds (5.2 .. 5.9) — a pruned probe
    // keyed on the RAW values would skip it for cast(price AS INT) = 5
    val rows = (1L to 400L).map(i => (i, 5.0 + i / 100.0))
    c.createTable("t", rows.toDF("id", "price").limit(0))
    val t = c.loadTable("t")
    t.append(rows.toDF("id", "price"), clusterBy = Seq("price"),
      statsCols = Seq("price"), clusterParts = 8)
    val hit = rows.count { case (_, p) => p.toInt == 7 }
    t.deleteWhere(col("price").cast("int") === 7)
    assert(t.read().count() === 400 - hit,
      "narrowing-cast predicate must not be stats-pruned")
    // the WIDENING analyzer cast still prunes (long col vs int literal)
    val c2 = new Connector(spark, freshWarehouse())
    c2.createTable("t2", rows.toDF("id", "price").limit(0))
    val t2 = c2.loadTable("t2")
    t2.append(rows.toDF("id", "price"), clusterBy = Seq("id"),
      statsCols = Seq("id"), clusterParts = 8)
    t2.deleteWhere(col("id") <= 50)
    assert(t2.lastStatProbe.exists { case (k, v) => k > 0 && k < v },
      s"widening-cast range should still prune: ${t2.lastStatProbe}")
  }

  test("lineage guards: duplicate-keyed merge refuses; typo'd append column still fails loudly") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-rlg-")
    val t = GraftTable.create(spark, dir, "t",
      (1L to 10L).map(i => (i, i)).toDF("id", "v")).get
    t.enableRowLineage()
    // duplicate incoming keys would give both rows the inherited id —
    // refuse instead of corrupting the uniqueness invariant
    intercept[IllegalArgumentException] {
      t.merge(Seq((1L, 5L), (1L, 6L)).toDF("id", "v"), Seq("id"),
        whenMatchedDelete = org.apache.spark.sql.functions.lit(false))
    }
    // write-default fill must not swallow an unknown (typo'd) column
    import org.apache.spark.sql.types._
    t.addColumns(StructType(Seq(StructField("tag", StringType))),
      defaults = Map("tag" -> "x"))
    intercept[IllegalArgumentException] {
      t.append(Seq((11L, 11L, "oops")).toDF("id", "v", "tga"))
    }
    // the legitimate omission still fills
    t.append(Seq((11L, 11L)).toDF("id", "v"))
    assert(t.read().filter(col("id") === 11L && col("tag") === "x")
      .count() === 1)
  }

  test("expireOlderThan severs at the newest qualifying full-set snapshot") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-age-")
    val t = GraftTable.create(spark, dir, "t",
      (1L to 30L).map(i => (i, i)).toDF("id", "v")).get
    t.append(Seq((31L, 31L)).toDF("id", "v"))
    t.compact(targetFiles = 2)
    t.append(Seq((32L, 32L)).toDF("id", "v"))
    val ck = t.checkpoint()
    // nothing that old: no full-set snapshot before the epoch
    assert(t.expireOlderThan(0L).isEmpty)
    // sever at the checkpoint (the newest full-set snapshot <= now)
    val got = t.expireOlderThan(System.currentTimeMillis() + 1000L)
    assert(got.contains(ck.snapshotId), s"horizon $got != ${ck.snapshotId}")
    assert(t.firstSnapshotId.contains(ck.snapshotId))
    assert(t.read().count() === 32)
    assert(t.read().filter(col("id") === 32L).count() === 1)
    // already at the horizon: no-op
    assert(t.expireOlderThan(System.currentTimeMillis() + 1000L).isEmpty)
  }

  test("row lineage travels through cloneTo and survives rollback") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-rlc-")
    val t = GraftTable.create(spark, dir, "t",
      (1L to 40L).map(i => (i, i * 2L)).toDF("id", "v")).get
    t.enableRowLineage()
    t.updateWhere(col("id") <= 10, Map("v" -> (col("v") + 1))) // mat files
    def idsOf(tt: GraftTable): Map[Long, Long] =
      tt.readLineage().select("id", "_row_id")
        .as[(Long, Long)].collect().toMap
    val ids = idsOf(t)
    // $files advertises the bookkeeping: the update's files carry
    // physical ids, untouched files carry their first-row-id
    val fdf = t.filesDf()
      .select("first_row_id", "has_physical_row_ids").collect()
    assert(fdf.forall(r => !r.isNullAt(1)))
    assert(fdf.exists(r => r.getBoolean(1)), "no materialized file listed")
    assert(fdf.exists(r => !r.isNullAt(0)), "no arithmetic-id file listed")
    // the clone preserves every identity under its remapped file names
    val c2 = t.cloneTo(Files.createTempDirectory("graft-rlc2-"), "t2")
    assert(idsOf(c2) === ids, "clone lost or remapped row identities")
    // and CONTINUES the counter: clone appends can never collide
    c2.append(Seq((100L, 1L)).toDF("id", "v"))
    val cIds = idsOf(c2)
    assert(cIds(100L) >= 40L && cIds.values.toSet.size === cIds.size)
    // rollback restores identities and never re-numbers re-listed files
    val cut = t.currentSnapshotId.get
    t.append((41L to 45L).map(i => (i, i)).toDF("id", "v"))
    val withNew = idsOf(t)
    t.rollbackTo(cut)
    assert(idsOf(t) === ids, "rollback disturbed row identities")
    // rolled-back ids are burned, not recycled: the counter stands
    t.append(Seq((200L, 1L)).toDF("id", "v"))
    assert(idsOf(t)(200L) > withNew.values.max,
      "post-rollback append recycled a rolled-back identity")
  }

  test("changeFeed withRowIds: identity-paired updates, id-carrying MOR kills, merge preservation") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-cfrl-")
    val t = GraftTable.create(spark, dir, "t",
      (1L to 10L).map(i => (i, i * 10L)).toDF("id", "price")).get
    // refuses without lineage
    intercept[IllegalArgumentException] { t.changeFeed(0L, withRowIds = true) }
    t.enableRowLineage()
    val idOf = t.readLineage().select("id", "_row_id")
      .as[(Long, Long)].collect().toMap
    val s1 = t.currentSnapshotId.get
    // UPDATE: pre/post images pair by the PRESERVED row id
    val u = t.updateWhere(col("id") <= 3, Map("price" -> (col("price") + 1)))
    val fu = t.changeFeed(s1, u.snapshotId, withRowIds = true)
      .select("_change_type", "id", "_row_id")
      .as[(String, Long, Long)].collect()
    val pre = fu.filter(_._1 == "update_preimage").map(r => r._2 -> r._3).toMap
    val post = fu.filter(_._1 == "update_postimage").map(r => r._2 -> r._3).toMap
    assert(pre.keySet === Set(1L, 2L, 3L) && pre === post,
      s"pre/post must share ids: $pre vs $post")
    assert((1L to 3L).forall(k => pre(k) == idOf(k)),
      "update changed the feed-reported identity")
    // MOR kills carry the victim's id
    val k1 = t.deleteKeysMor(Seq(5L).toDF("id"))
    val k2 = t.deletePosMor(col("id") === 6L)
    val kills = t.changeFeed(u.snapshotId, k2.snapshotId, withRowIds = true)
      .select("_change_type", "id", "_row_id")
      .as[(String, Long, Long)].collect()
    assert(kills.toSet === Set(("delete", 5L, idOf(5L)), ("delete", 6L, idOf(6L))),
      s"MOR kills wrong: ${kills.toSeq}; keysnap=${k1.snapshotId}")
    // MERGE preserves matched identity: the identity feed pairs the
    // matched update by the SAME id, reports the genuine insert as an
    // insert, and survivor rows of the rewritten file cancel out
    t.compact() // materialize tombstones so the merge probe is clean
    val idBefore = t.readLineage().select("id", "_row_id")
      .as[(Long, Long)].collect().toMap
    val s2 = t.currentSnapshotId.get
    t.merge(Seq((2L, 999L), (11L, 110L)).toDF("id", "price"), Seq("id"),
      whenMatchedDelete = org.apache.spark.sql.functions.lit(false))
    val mf = t.changeFeed(s2, withRowIds = true)
      .select("_change_type", "id", "_row_id")
      .as[(String, Long, Long)].collect()
    val mPre = mf.filter(_._1 == "update_preimage").map(r => r._2 -> r._3).toMap
    val mPost = mf.filter(_._1 == "update_postimage").map(r => r._2 -> r._3).toMap
    assert(mPre === Map(2L -> idBefore(2L)) && mPost === mPre,
      s"merge update must pair by the preserved id: $mPre vs $mPost")
    val mIns = mf.filter(_._1 == "insert")
    assert(mIns.map(_._2).toSeq === Seq(11L),
      s"survivors must cancel; only the insert remains: ${mf.toSeq}")
    assert(mIns.head._3 > idBefore.values.max,
      "insert id must be freshly minted")
    assert(!mf.exists(_._1 == "delete"),
      s"no identity died in this merge: ${mf.toSeq}")
  }

  test("changeFeed attributes per-commit inserts/deletes/updates across DML and MOR deletes") {
    val dir = Files.createTempDirectory("graft-cf-")
    val t = GraftTable.create(spark, dir, "t",
      (1L to 10L).map(i => (i, i * 10)).toDF("id", "price")).get // s1
    t.append(Seq((11L, 110L), (12L, 120L)).toDF("id", "price"))  // s2
    t.merge( // s3: updates 1..3 (+1), inserts 13
      Seq((1L, 11L), (2L, 21L), (3L, 31L), (13L, 131L)).toDF("id", "price"),
      Seq("id"), whenMatchedDelete = org.apache.spark.sql.functions.lit(false))
    t.deleteWhere($"id" === 4L)          // s4: CoW delete
    t.deleteKeysMor(Seq(5L, 6L).toDF("id"))  // s5: key tombstone
    t.deleteWhereMor($"id" === 7L)       // s6: predicate tombstone
    t.deletePosMor($"id" === 8L)         // s7: position tombstone
    t.compact()                          // s8: maintenance — no rows
    val feed = t.changeFeed(0L)
    assert(feed.columns.toSeq ==
      Seq("id", "price", "_change_type", "_commit_snapshot_id",
        "_commit_timestamp"))
    val got = feed.select("_commit_snapshot_id", "_change_type", "id", "price")
      .as[(Long, String, Long, Long)].collect().toSet
    val expected: Set[(Long, String, Long, Long)] =
      (1L to 10L).map(i => (1L, "insert", i, i * 10)).toSet ++
        Set((2L, "insert", 11L, 110L), (2L, "insert", 12L, 120L)) ++
        (1L to 3L).flatMap(i => Seq(
          (3L, "update_preimage", i, i * 10),
          (3L, "update_postimage", i, i * 10 + 1))).toSet ++
        Set((3L, "insert", 13L, 131L),
          (4L, "delete", 4L, 40L),
          (5L, "delete", 5L, 50L), (5L, "delete", 6L, 60L),
          (6L, "delete", 7L, 70L),
          (7L, "delete", 8L, 80L))
    assert(got == expected)
    // subwindow: only the commits inside (2, 6] report
    val sub = t.changeFeed(2L, 6L)
      .select("_commit_snapshot_id").distinct()
      .as[Long].collect().toSet
    assert(sub == Set(3L, 4L, 5L, 6L))
    // window after the compact: the maintenance commit itself is silent
    assert(t.changeFeed(7L).limit(1).count() == 0)
    t.append(Seq((14L, 140L)).toDF("id", "price")) // s9
    val tail = t.changeFeed(8L)
      .select("_commit_snapshot_id", "_change_type", "id")
      .as[(Long, String, Long)].collect().toSeq
    assert(tail == Seq((9L, "insert", 14L)))
    // net-change cross-check: feed inserts minus feed deletes (with
    // update images folded) must equal the visible table — recompute
    // the feed so it covers the s9 append (feed plans pin the log
    // view captured at call time)
    import org.apache.spark.sql.functions.col
    val feedNow = t.changeFeed(0L)
    val ins = feedNow.filter(col("_change_type").isin("insert", "update_postimage"))
      .select("id", "price")
    val dels = feedNow.filter(col("_change_type").isin("delete", "update_preimage"))
      .select("id", "price")
    val net = ins.exceptAll(dels).as[(Long, Long)].collect().toSet
    val visible = t.read().as[(Long, Long)].collect().toSet
    assert(net == visible)
  }

  test("changeFeed: tombstoned-key re-insert via merge reports insert, not update") {
    val dir = Files.createTempDirectory("graft-cf2-")
    val t = GraftTable.create(spark, dir, "t",
      (1L to 6L).map(i => (i, i * 10)).toDF("id", "price")).get // s1
    t.deleteKeysMor(Seq(2L).toDF("id"))                         // s2
    // merge re-inserts the tombstoned key: it was INVISIBLE at s2, so
    // the feed must report a plain insert (no phantom preimage), and
    // the rewrite must not resurface other dead rows as deletes
    t.merge(Seq((2L, 99L)).toDF("id", "price"), Seq("id"),
      whenMatchedDelete = org.apache.spark.sql.functions.lit(false)) // s3
    val got = t.changeFeed(1L)
      .select("_commit_snapshot_id", "_change_type", "id", "price")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got == Set((2L, "delete", 2L, 20L), (3L, "insert", 2L, 99L)))
    // feed survives (reports across) a later materializing compact
    t.compact()
    assert(t.changeFeed(1L, 3L)
      .select("_change_type").as[String].collect().toSet ==
      Set("delete", "insert"))
  }

  test("changeFeed(0) after history expiry bootstraps from the severing checkpoint") {
    val dir = Files.createTempDirectory("graft-cfexp-")
    val t = GraftTable.create(spark, dir, "t",
      Seq((1L, 10L), (2L, 20L)).toDF("id", "price")).get   // s1
    t.append(Seq((3L, 30L)).toDF("id", "price"))            // s2
    t.deleteWhere($"id" === 2L)                             // s3
    val ck = t.checkpoint()                                 // s4 (compact)
    t.expireSnapshots(ck.snapshotId)
    t.append(Seq((4L, 40L)).toDF("id", "price"))            // s5
    // the expired baseline (rows 1, 3) must NOT vanish: it bootstraps
    // as inserts attributed to the severing checkpoint, then the walk
    // continues per-commit — matching diff(0, …)'s empty before-set
    val got = t.changeFeed(0L)
      .select("_commit_snapshot_id", "_change_type", "id", "price")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got == Set(
      (ck.snapshotId, "insert", 1L, 10L),
      (ck.snapshotId, "insert", 3L, 30L),
      (ck.snapshotId + 1, "insert", 4L, 40L)), s"got $got")
    // a window opening AT a retained cut is unaffected by the bootstrap
    assert(t.changeFeed(ck.snapshotId)
      .select("id").as[Long].collect().toSeq == Seq(4L))
    // net-change invariant holds across the expiry horizon
    val feed = t.changeFeed(0L)
    val net = feed.filter($"_change_type".isin("insert", "update_postimage"))
      .select("id", "price")
      .exceptAll(feed.filter($"_change_type".isin("delete", "update_preimage"))
        .select("id", "price"))
      .as[(Long, Long)].collect().toSet
    assert(net == t.read().as[(Long, Long)].collect().toSet)
  }

  test("changeFeed coalesces append runs with exact attribution, including row ids") {
    val dir = Files.createTempDirectory("graft-cfrun-")
    val t = GraftTable.create(spark, dir, "t",
      Seq((1L, 10L)).toDF("id", "price")).get              // s1
    t.enableRowLineage()                                    // s2
    t.append(Seq((2L, 20L)).toDF("id", "price"))            // s3
    t.append(Seq((3L, 30L), (4L, 40L)).toDF("id", "price")) // s4
    t.append(Seq((5L, 50L)).toDF("id", "price"))            // s5
    // three consecutive appends coalesce into one scan; attribution
    // must still be per-commit and row ids must match the live table
    val idOf = t.readLineage().select("id", "_row_id")
      .as[(Long, Long)].collect().toMap
    val got = t.changeFeed(2L, withRowIds = true)
      .select("_commit_snapshot_id", "_change_type", "id", "_row_id")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got == Set(
      (3L, "insert", 2L, idOf(2L)),
      (4L, "insert", 3L, idOf(3L)), (4L, "insert", 4L, idOf(4L)),
      (5L, "insert", 5L, idOf(5L))), s"got $got")
    // commit timestamps attribute per-commit too (monotone non-strict)
    val ts = t.changeFeed(2L)
      .select("_commit_snapshot_id", "_commit_timestamp")
      .distinct().as[(Long, java.sql.Timestamp)].collect()
      .sortBy(_._1).map(_._2)
    assert(ts.length == 3 &&
      ts.sliding(2).forall(p => !p(0).after(p(1))), s"ts $ts")
  }

  test("Connector.sql routes UPDATE/DELETE/MERGE text to the table verbs") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v"))
    // UPDATE (alias-qualified SET and WHERE) returns the commit it made
    val r1 = c.sql("UPDATE t SET v = t.v + 1 WHERE t.id >= 2")
    assert(r1.columns.toSeq == Seq("snapshot_id"))
    val sid1 = r1.as[Long].collect().head
    assert(c.getCurrentSnapshotId("t").contains(sid1))
    assert(c.sql("SELECT * FROM t").as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 21L), (3L, 31L)))
    c.sql("DELETE FROM t WHERE id = 1")
    Seq((2L, 99L), (4L, 44L), (3L, -1L)).toDF("id", "v")
      .createOrReplaceTempView("sdml_test_src")
    c.sql("MERGE INTO t USING sdml_test_src s ON t.id = s.id " +
      "WHEN MATCHED AND s.v < 0 THEN DELETE " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(c.sql("SELECT * FROM t").as[(Long, Long)].collect().toSet ==
      Set((2L, 99L), (4L, 44L)))
    // unsupported merge shapes refuse loudly instead of approximating
    intercept[IllegalArgumentException] {
      c.sql("MERGE INTO t USING sdml_test_src s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED THEN INSERT *")
    }
    // a TARGET-qualified matched-delete condition refuses: the arm is
    // evaluated against the incoming row, so silently stripping the
    // qualifier would rebind it to the wrong relation
    intercept[IllegalArgumentException] {
      c.sql("MERGE INTO t USING sdml_test_src s ON t.id = s.id " +
        "WHEN MATCHED AND t.v < 0 THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
    }
    // DML on a non-warehouse relation falls through to Spark's own error
    intercept[Exception] { c.sql("DELETE FROM sdml_test_src WHERE id = 1") }
    // INSERT INTO routes to append (positional VALUES, cast to schema)
    c.sql("INSERT INTO t VALUES (5, 55), (6, 66)")
    assert(c.sql("SELECT * FROM t").as[(Long, Long)].collect().toSet ==
      Set((2L, 99L), (4L, 44L), (5L, 55L), (6L, 66L)))
    assert(c.loadTable("t").log.snapshots.last.operation == "append")
    // INSERT OVERWRITE replaces the visible set in one commit
    c.sql("INSERT OVERWRITE t VALUES (9, 90)")
    assert(c.sql("SELECT * FROM t").as[(Long, Long)].collect().toSet ==
      Set((9L, 90L)))
    assert(c.loadTable("t").log.snapshots.last.operation == "replace")
    // full-table DELETE (no WHERE) routes too
    c.sql("DELETE FROM t")
    assert(c.count("t") == 0)
    // DDL: CTAS lands a warehouse table, OR REPLACE swaps it, DROP ends it
    c.sql("CREATE TABLE t2 AS SELECT id * 10 AS id2 FROM sdml_test_src")
    assert(c.tables.contains("t2") && c.count("t2") == 3)
    intercept[IllegalArgumentException] {
      c.sql("CREATE TABLE t2 AS SELECT 1 AS one")
    }
    c.sql("CREATE OR REPLACE TABLE t2 AS SELECT 1 AS one")
    assert(c.sql("SELECT * FROM t2").as[Int].collect().toSeq == Seq(1))
    assert(c.loadTable("t2").log.snapshots.last.operation == "replace")
    // r17 uniform contract: DROP reports CALL-style with the final head
    val dr = c.sql("DROP TABLE t2").collect().head
    assert(dr.getString(0) == "drop_table" && dr.getString(1) == "t2")
    assert(!c.tableExists("t2"))
    c.sql("DROP TABLE IF EXISTS t2") // no-op, no error
    intercept[Exception] { c.sql("DROP TABLE t2").collect() } // unknown → Spark's error
    // schema evolution as SQL: add (with a default), rename, drop
    c.sql("CREATE TABLE t3 AS SELECT 1 AS a")
    c.sql("ALTER TABLE t3 ADD COLUMN b BIGINT DEFAULT 7")
    assert(c.sql("SELECT * FROM t3").as[(Int, Long)].collect().toSeq ==
      Seq((1, 7L)), "pre-add rows must read the declared default")
    c.sql("ALTER TABLE t3 RENAME COLUMN b TO c")
    assert(c.sql("SELECT c FROM t3").as[Long].collect().toSeq == Seq(7L))
    c.sql("ALTER TABLE t3 DROP COLUMN c")
    assert(c.sql("SELECT * FROM t3").columns.toSeq == Seq("a"))
    // metadata tables compose as SQL relations (backquoted $-names)
    val nSnaps = c.sql("SELECT count(*) AS n FROM `t3$snapshots`")
      .collect().head.getLong(0)
    assert(nSnaps == c.loadTable("t3").log.snapshots.size.toLong)
    assert(c.sql("SELECT * FROM `t3$files`").columns.contains("file"))
    // unknown kind refuses with the inspect error, unknown table falls
    // through to Spark's missing-relation error
    intercept[IllegalArgumentException] {
      c.sql("SELECT * FROM `t3$bogus`")
    }
    intercept[Exception] { c.sql("SELECT * FROM `nope$files`").collect() }
  }

  test("_last_updated_sequence_number: appends stamp, changes bump, carriers preserve") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-seq-")
    val t = GraftTable.create(spark, dir, "t",
      (1L to 4L).map(i => (i, i * 10L)).toDF("id", "price")).get // s1
    t.enableRowLineage()                                          // s2
    t.append(Seq((5L, 50L)).toDF("id", "price"))                  // s3
    def seqMap() = t.readLineage()
      .select("id", "_last_updated_sequence_number")
      .as[(Long, Long)].collect().toMap
    def idMap() = t.readLineage().select("id", "_row_id")
      .as[(Long, Long)].collect().toMap
    // virtual seq = the adding commit
    assert(seqMap() == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 3L))
    val ids0 = idMap()
    // an UPDATE bumps ONLY the hit row's seq; ids never move
    t.updateWhere(col("id") === 2L, Map("price" -> (col("price") + 1))) // s4
    assert(seqMap() == Map(1L -> 1L, 2L -> 4L, 3L -> 1L, 4L -> 1L, 5L -> 3L))
    assert(idMap() == ids0, "update must not renumber")
    // maintenance carries BOTH columns (materializing rewrite)
    t.compact()                                                   // s5
    assert(seqMap() == Map(1L -> 1L, 2L -> 4L, 3L -> 1L, 4L -> 1L, 5L -> 3L))
    assert(idMap() == ids0)
    // checkpoint + expiry carry the bookkeeping across the horizon
    val ck = t.checkpoint()                                       // s6
    t.expireSnapshots(ck.snapshotId)
    assert(seqMap() == Map(1L -> 1L, 2L -> 4L, 3L -> 1L, 4L -> 1L, 5L -> 3L))
    // a MERGE bumps matched rows and stamps minted inserts with its commit
    t.merge(Seq((3L, 999L), (6L, 60L)).toDF("id", "price"), Seq("id"),
      whenMatchedDelete = org.apache.spark.sql.functions.lit(false)) // s7
    val s7 = t.currentSnapshotId.get
    assert(seqMap() == Map(1L -> 1L, 2L -> 4L, 3L -> s7, 4L -> 1L,
      5L -> 3L, 6L -> s7))
    assert(idMap().filterKeys(_ <= 5L).toMap == ids0,
      "merge must preserve matched/survivor identity")
    // the identity feed reports the seq: pre-image carries the OLD seq,
    // post-image the committing snapshot's
    t.updateWhere(col("id") === 1L, Map("price" -> (col("price") + 5))) // s8
    val s8 = t.currentSnapshotId.get
    val fu = t.changeFeed(s7, s8, withRowIds = true)
      .select("_change_type", "id", "_last_updated_sequence_number")
      .as[(String, Long, Long)].collect().toSet
    assert(fu == Set(("update_preimage", 1L, 1L),
      ("update_postimage", 1L, s8)), s"feed seq wrong: $fu")
    // clone carries the virtual seqs re-keyed to its file names
    val c = t.cloneTo(Files.createTempDirectory("graft-seq-clone-"), "tc")
    assert(c.readLineage().select("id", "_last_updated_sequence_number")
      .as[(Long, Long)].collect().toMap == seqMap())
  }

  test("Connector.sql time travel: VERSION AS OF / TIMESTAMP AS OF pin warehouse reads") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", Seq((1L, 10L)).toDF("id", "v"))  // s1
    Thread.sleep(10)
    c.insert("t", Seq((2L, 20L)).toDF("id", "v"))       // s2
    val ts2 = c.loadTable("t").log.snapshots.last.timestampMs
    Thread.sleep(10)
    c.sql("UPDATE t SET v = 99 WHERE id = 1")           // s3
    assert(c.sql("SELECT * FROM t VERSION AS OF 1")
      .as[(Long, Long)].collect().toSet == Set((1L, 10L)))
    assert(c.sql("SELECT * FROM t VERSION AS OF 2")
      .as[(Long, Long)].collect().toSet == Set((1L, 10L), (2L, 20L)))
    assert(c.sql(s"SELECT * FROM t TIMESTAMP AS OF timestamp_millis($ts2)")
      .as[(Long, Long)].collect().toSet == Set((1L, 10L), (2L, 20L)))
    // head reads are unaffected and time travel composes inside a
    // bigger statement next to the live view
    assert(c.sql("SELECT * FROM t").as[(Long, Long)].collect().toSet ==
      Set((1L, 99L), (2L, 20L)))
    val joined = c.sql("SELECT count(*) AS n FROM " +
      "(SELECT * FROM t VERSION AS OF 1) a JOIN t b ON a.id = b.id")
      .collect().head.getLong(0)
    assert(joined == 1L)
    // an unknown cut refuses through the table's own guard
    intercept[Exception] {
      c.sql("SELECT * FROM t VERSION AS OF 99").collect()
    }
  }

  test("updateWhere and deleteWhere refuse nondeterministic predicates") {
    val dir = Files.createTempDirectory("graft-det-")
    val t = GraftTable.create(spark, dir, "t",
      Seq((1L, 10L)).toDF("id", "price")).get
    val nd = org.apache.spark.sql.functions.rand() < 0.5
    intercept[IllegalArgumentException] {
      t.updateWhere(nd, Map("price" -> org.apache.spark.sql.functions.lit(0L)))
    }
    intercept[IllegalArgumentException] { t.deleteWhere(nd) }
    // deterministic predicates still pass
    t.updateWhere($"id" === 1L, Map("price" -> org.apache.spark.sql.functions.lit(11L)))
    assert(t.read().as[(Long, Long)].collect().toSet == Set((1L, 11L)))
  }

  test("SQL plain CREATE TABLE: column list, DEFAULT, PARTITIONED BY transforms") {
    val c = new Connector(spark, freshWarehouse())
    // column-list DDL lands as a WAREHOUSE table (previously it fell
    // through to Spark's catalog silently — a correctness trap)
    c.sql("CREATE TABLE ct (id BIGINT, v STRING, tier STRING DEFAULT 'std')")
    assert(c.tableExists("ct"))
    assert(c.count("ct") == 0)
    assert(c.loadTable("ct").schema.fieldNames.toSeq == Seq("id", "v", "tier"))
    // an INSERT omitting the defaulted column fills the write-default
    c.sql("INSERT INTO ct (id, v) VALUES (1, 'a')")
    c.sql("INSERT INTO ct VALUES (2, 'b', 'gold')")
    assert(c.sql("SELECT id, v, tier FROM ct ORDER BY id")
      .as[(Long, String, String)].collect().toSeq ==
      Seq((1L, "a", "std"), (2L, "b", "gold")))
    // duplicate create refuses; IF NOT EXISTS no-ops
    intercept[IllegalArgumentException] { c.sql("CREATE TABLE ct (x INT)") }
    c.sql("CREATE TABLE IF NOT EXISTS ct (x INT)")
    assert(c.loadTable("ct").schema.fieldNames.length == 3)
    // PARTITIONED BY transforms route to hidden partitioning
    c.sql("CREATE TABLE pt (k BIGINT, ts TIMESTAMP, name STRING) " +
      "PARTITIONED BY (days(ts), bucket(4, k), truncate(2, name))")
    val spec = c.loadTable("pt").partitionSpec
    assert(spec.map(f => (f.kind, f.column, f.param)) ==
      Seq(("day", "ts", 0), ("bucket", "k", 4), ("truncate", "name", 2)))
    // writes land transform-clustered with per-file partition stats
    c.sql("INSERT INTO pt VALUES " +
      "(1, TIMESTAMP '2024-01-01 00:00:00', 'aa'), " +
      "(2, TIMESTAMP '2024-03-05 00:00:00', 'bb')")
    val statCols = c.sql("SELECT stat_columns FROM `pt$files`")
      .as[Seq[String]].collect().flatten.toSet
    assert(statCols.contains("p_day_ts") && statCols.contains("p_b4_k"),
      s"partition stats missing: $statCols")
    assert(c.sql("SELECT k FROM pt ORDER BY k").as[Long].collect().toSeq
      == Seq(1L, 2L))
    // an unsupported transform refuses loudly
    val e = intercept[Exception] {
      c.sql("CREATE TABLE bad (k BIGINT) PARTITIONED BY (weird(k))") }
    assert(e.getMessage.contains("unsupported partition transform"))
    // clauses this surface cannot honor refuse instead of silently
    // dropping (the statement used to reach Spark's catalog)
    intercept[IllegalArgumentException] {
      c.sql("CREATE TABLE ext (x INT) LOCATION '/tmp/elsewhere'") }
    intercept[IllegalArgumentException] {
      c.sql("CREATE TABLE ext (x INT) USING json") }
    assert(!c.tableExists("ext"))
    // TBLPROPERTIES is HONORED since r17 (user table properties)
    c.sql("CREATE TABLE extp (x INT) TBLPROPERTIES ('a'='b')")
    assert(c.loadTable("extp").userProperties() == Map("a" -> "b"))
    c.sql("CREATE TABLE up (x INT) USING parquet") // parquet IS the format
    assert(c.tableExists("up"))
  }

  test("SQL CTAS/RTAS with PARTITIONED BY lands the payload transform-clustered") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("src",
      (1L to 100L).toDF("k").withColumn("g", $"k" % 10))
    c.sql("CREATE TABLE pc PARTITIONED BY (bucket(4, g)) " +
      "AS SELECT k, g FROM src")
    val t = c.loadTable("pc")
    assert(c.count("pc") == 100)
    assert(t.partitionSpec.map(f => (f.kind, f.column, f.param)) ==
      Seq(("bucket", "g", 4)))
    // ONE create commit, payload already clustered under the spec
    assert(t.log.snapshots.map(_.operation) == Seq("create"))
    // every data file records the bucket stat (the prunable layout)
    val stats = c.sql("SELECT stat_columns FROM `pc$files`")
      .as[Seq[String]].collect()
    assert(stats.nonEmpty && stats.forall(_.contains("p_b4_g")))
    // a point probe reads a strict subset of files through the buckets
    val all = t.read().inputFiles.length
    val pruned = t.readWhereIn("g", Seq(3L)).inputFiles.length
    assert(pruned < all, s"bucket probe read $pruned/$all files")
    // RTAS over an existing table redeclares the spec for the payload
    c.sql("REPLACE TABLE pc PARTITIONED BY (bucket(2, g)) " +
      "AS SELECT k, g FROM src WHERE k <= 50")
    assert(c.count("pc") == 50)
    assert(c.loadTable("pc").partitionSpec.map(_.param) == Seq(2))
  }

  test("SQL VERSION AS OF resolves tags and branches; unknown ref refuses clearly") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", Seq((1L, 10L)).toDF("id", "v"))  // s1
    c.insert("t", Seq((2L, 20L)).toDF("id", "v"))       // s2
    val t = c.loadTable("t")
    t.tagSnapshot("v1.0", 1L)
    t.createBranch("audit")
    t.appendBranch("audit", Seq((3L, 30L)).toDF("id", "v"))
    assert(c.sql("SELECT * FROM t VERSION AS OF 'v1.0'")
      .as[(Long, Long)].collect().toSet == Set((1L, 10L)))
    // a branch name reads the audit view: main at the fork + staged
    assert(c.sql("SELECT * FROM t VERSION AS OF 'audit'")
      .as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 20L), (3L, 30L)))
    // head unaffected by the staged branch
    assert(c.sql("SELECT * FROM t").as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 20L)))
    val e = intercept[IllegalArgumentException] {
      c.sql("SELECT * FROM t VERSION AS OF 'nope'").collect() }
    assert(e.getMessage.contains("no such ref"), e.getMessage)
    // an all-digit TAG resolves through the ref fallback when no
    // retained snapshot has that id
    t.tagSnapshot("2024", 1L)
    assert(c.sql("SELECT * FROM t VERSION AS OF '2024'")
      .as[(Long, Long)].collect().toSet == Set((1L, 10L)))
    // a spelling that is BOTH a retained id and a ref refuses as
    // ambiguous — resolving the id would silently flip to the ref
    // once the id expires
    t.tagSnapshot("1", 2L)
    val amb = intercept[IllegalArgumentException] {
      c.sql("SELECT * FROM t VERSION AS OF 1").collect() }
    assert(amb.getMessage.contains("AMBIGUOUS"), amb.getMessage)
  }

  test("SQL surfaces compose: time travel and meta tables inside DML/DDL statements") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", Seq((1L, 10L)).toDF("id", "v"))  // s1
    c.insert("t", Seq((2L, 20L)).toDF("id", "v"))       // s2
    c.sql("DELETE FROM t WHERE id = 1")                 // s3
    // INSERT whose source is an earlier cut of the SAME table
    c.sql("INSERT INTO t SELECT id + 100, v FROM t VERSION AS OF 1")
    assert(c.sql("SELECT * FROM t").as[(Long, Long)].collect().toSet ==
      Set((2L, 20L), (101L, 10L)))
    // CTAS from a metadata table
    c.sql("CREATE TABLE ops AS SELECT operation FROM `t$snapshots`")
    assert(c.count("ops") == c.loadTable("t").log.snapshots.size)
    // meta table AND time travel in ONE statement
    val r = c.sql("SELECT (SELECT count(*) FROM `t$files`) AS f, " +
      "(SELECT count(*) FROM t VERSION AS OF 1) AS r").collect().head
    assert(r.getLong(1) == 1L)
    assert(r.getLong(0) > 0L)
    // non-routed statements execute from the same single parse
    c.sql("CREATE OR REPLACE TEMP VIEW tmpv AS SELECT 7 AS x")
    assert(c.sql("SELECT x FROM tmpv").collect().head.getInt(0) == 7)
  }

  test("SQL CALL maintenance procedures: binpack, expire, vacuum, zorder") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", Seq((1L, "a")).toDF("id", "v"))
    (2L to 9L).foreach(i => c.insert("t", Seq((i, "x")).toDF("id", "v")))
    val t = c.loadTable("t")
    val files0 = t.filesDf().count()
    val r = c.sql("CALL graft.binpack('t')").collect().head
    // uniform result contract across every procedure
    assert(r.schema.fieldNames.toSeq ==
      Seq("procedure", "table", "snapshot_id", "detail"))
    assert(r.getString(0) == "binpack" && r.getString(1) == "t")
    assert(r.getString(3).startsWith("binpacked"), r.getString(3))
    assert(t.filesDf().count() < files0)
    assert(t.read().count() == 9)
    val snaps0 = t.log.snapshots.size
    // named args + system prefix; default keep-point is a checkpoint
    c.sql("CALL system.expire_snapshots(table => 't')")
    assert(t.log.snapshots.size < snaps0)
    assert(t.read().count() == 9)
    val v = c.sql("CALL vacuum('t', 0)").collect().head.getString(3)
    assert(v.startsWith("removed"), v)
    assert(t.read().count() == 9)
    // zorder: a full clustered rewrite
    c.createTable("z", (1L to 100L).toDF("a").withColumn("b", $"a" % 7))
    c.sql("CALL zorder('z', 'a', 'b')")
    assert(c.loadTable("z").log.snapshots.last.operation == "compact")
    assert(c.count("z") == 100)
    // an unknown name under OUR prefix refuses with the supported list;
    // an unknown bare name is NOT ours — it falls through to Catalyst,
    // which reports its own procedure resolution; a known procedure on
    // a non-warehouse table refuses from loadTable
    val e = intercept[IllegalArgumentException] {
      c.sql("CALL graft.frobnicate('t')") }
    assert(e.getMessage.contains("unknown procedure"))
    intercept[Exception] { c.sql("CALL frobnicate('t')") }
    intercept[NoSuchElementException] { c.sql("CALL binpack('missing')") }
    // positional args fill the next UNCLAIMED slot around named ones
    c.createTable("t2", Seq((1L, "a")).toDF("id", "v"))
    c.sql("CALL create_tag(name => 'v1', 't2', 1)")
    assert(c.loadTable("t2").tags == Map("v1" -> 1L))
    intercept[IllegalArgumentException] {
      c.sql("CALL create_tag('t2', name => 'a', name => 'b')") }
    // NULL arguments refuse with the router's message, not an NPE
    val nn = intercept[IllegalArgumentException] {
      c.sql("CALL binpack('t', NULL)") }
    assert(nn.getMessage.contains("is NULL"), nn.getMessage)
  }

  test("SQL CALL ref procedures: the WAP workflow and rollback as pure SQL text") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", Seq((1L, 10L)).toDF("id", "v"))    // s1
    c.sql("INSERT INTO t VALUES (2, 20)")                 // s2
    // tag + read back through VERSION AS OF
    val rt = c.sql("CALL create_tag('t', 'v1', 1)").collect().head
    assert(rt.getString(3).contains("pins snapshot 1"))
    assert(c.sql("SELECT * FROM t VERSION AS OF 'v1'")
      .as[(Long, Long)].collect().toSet == Set((1L, 10L)))
    // WAP: fork, stage (Scala append — sinks/appendBranch stage here),
    // audit via the branch ref, publish fast-forwards main
    c.sql("CALL create_branch('t', 'wap')")
    c.loadTable("t").appendBranch("wap", Seq((3L, 30L)).toDF("id", "v"))
    assert(c.sql("SELECT count(*) AS n FROM t VERSION AS OF 'wap'")
      .collect().head.getLong(0) == 3L)
    assert(c.sql("SELECT count(*) AS n FROM t").collect().head.getLong(0)
      == 2L, "staged rows must be invisible on main before publish")
    c.sql("CALL publish_branch('t', 'wap')")              // s3
    assert(c.sql("SELECT count(*) AS n FROM t").collect().head.getLong(0)
      == 3L)
    // rollback: history-preserving undo of the publish
    val rb = c.sql("CALL rollback_to_snapshot('t', 2)").collect().head
    assert(rb.getString(3).startsWith("rolled back to 2"))
    assert(c.sql("SELECT * FROM t").as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 20L)))
    // checkpoint + drop_tag round out the lifecycle
    assert(c.sql("CALL checkpoint('t')").collect().head
      .getString(3).startsWith("checkpointed"))
    c.sql("CALL drop_tag('t', 'v1')")
    intercept[Exception] {
      c.sql("SELECT * FROM t VERSION AS OF 'v1'").collect() }
    // TRUNCATE TABLE: one transactional commit empties the table
    c.sql("TRUNCATE TABLE t")
    assert(c.sql("SELECT count(*) AS n FROM t").collect().head.getLong(0)
      == 0L)
    assert(c.loadTable("t").log.snapshots.last.operation == "delete")
  }

  test("partitioned append hash-distributes: one file per partition value per commit") {
    val c = new Connector(spark, freshWarehouse())
    val df = spark.range(0, 10000, 1, 8).select($"id".as("k"))
      .withColumn("g", $"k" % 5)
    // spec declared at create: the empty partitioned create writes NO
    // data file (vs one empty file for an unpartitioned empty create)
    c.createTable("hd", df.limit(0),
      spec = Seq(graft.warehouse.PartitionField("identity", "g")))
    val t = c.loadTable("hd")
    assert(t.filesDf().count() == 0)
    // 8 input partitions × 5 values would be up to 40 files unshuffled;
    // the hash write distribution lands exactly one file per value
    t.append(df)
    assert(t.filesDf().count() == 5,
      s"expected one file per partition value, got ${t.filesDf().count()}")
    assert(t.read().count() == 10000)
    val pruned = t.readWhereIn("g", Seq(2L)).inputFiles.length
    assert(pruned == 1, s"point probe read $pruned files")
    // an explicit clusterBy overrides the distribution (intra-value
    // parallelism stays available for hot values): 4 range tasks each
    // spanning the g values → more than one file per value
    t.append(df, clusterBy = Seq("k"), clusterParts = 4)
    assert(t.filesDf().count() >= 5 + 4)
  }

  test("ALTER COLUMN SET/DROP DEFAULT: mutable write-default, frozen initial default") {
    val c = new Connector(spark, freshWarehouse())
    c.sql("CREATE TABLE d (id BIGINT, tier STRING DEFAULT 'std')")
    c.sql("INSERT INTO d (id) VALUES (1)")
    c.sql("ALTER TABLE d ALTER COLUMN tier SET DEFAULT 'gold'")
    c.sql("INSERT INTO d (id) VALUES (2)")
    assert(c.sql("SELECT id, tier FROM d ORDER BY id")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "std"), (2L, "gold")),
      "each insert takes the write-default in force at ITS commit")
    // DROP DEFAULT: an omitting insert now fills a typed NULL (ANSI —
    // DuckDB/Postgres semantics; the reference's whole user surface is
    // DuckDB SQL). NOT NULL columns without a default refuse by name.
    c.sql("ALTER TABLE d ALTER COLUMN tier DROP DEFAULT")
    c.sql("INSERT INTO d (id) VALUES (3)")
    assert(c.sql("SELECT tier FROM d WHERE id = 3")
      .collect().head.isNullAt(0))
    // the INITIAL default stays frozen: rows in files that PREDATE an
    // added column keep reading the value it was added with, even
    // after the write half moves
    c.sql("ALTER TABLE d ADD COLUMN r STRING DEFAULT 'a'")
    c.sql("ALTER TABLE d ALTER COLUMN r SET DEFAULT 'b'")
    c.sql("INSERT INTO d (id, tier) VALUES (4, 'x')")
    assert(c.sql("SELECT id, r FROM d ORDER BY id")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b")))
    // a NOT NULL column with no default must be assigned — named refusal
    c.sql("CREATE TABLE dnn (id BIGINT NOT NULL, v STRING)")
    val e = intercept[IllegalArgumentException] {
      c.sql("INSERT INTO dnn (v) VALUES ('a')") }
    assert(e.getMessage.contains("NOT NULL and has no DEFAULT"))
    // unsupported alters refuse loudly
    intercept[IllegalArgumentException] {
      c.sql("ALTER TABLE d ALTER COLUMN tier COMMENT 'nope'") }
  }

  test("$history and $manifests metadata tables") {
    val c = new Connector(spark, freshWarehouse())
    c.createTable("t", Seq((1L, "a")).toDF("id", "v"))
    c.insert("t", Seq((2L, "b")).toDF("id", "v"))
    val h = c.sql("SELECT * FROM `t$history` ORDER BY snapshot_id").collect()
    assert(h.map(_.getLong(1)).toSeq == Seq(1L, 2L))
    assert(h.head.isNullAt(2) && h(1).getLong(2) == 1L,
      "parent chain must follow the linear log")
    assert(h.forall(_.getBoolean(3)))
    val m = c.sql("SELECT * FROM `t$manifests` ORDER BY added_snapshot_id")
      .collect()
    assert(m.length == 2)
    assert(m.forall(_.getLong(1) > 0), "manifest files must exist on disk")
    assert(m.map(r => r.getInt(3)).toSeq == Seq(1, 1))
  }

  test("fork-free local file system: Hadoop's modes, .crc side files, symlinked warehouse") {
    import scala.jdk.CollectionConverters._
    import java.nio.file.attribute.PosixFilePermissions
    import org.apache.hadoop.fs.{FileContext, FileSystem}
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val hconf = spark.sparkContext.hadoopConfiguration
    val fileUri = new java.net.URI("file:///")
    assert(FileSystem.get(fileUri, hconf).getClass == classOf[ForkFreeLocalFileSystem])
    assert(FileContext.getFileContext(fileUri, hconf).getDefaultFileSystem.getClass ==
      classOf[ForkFreeLocalFs])

    val base = Files.createTempDirectory("graft-fs-")
    val c = new Connector(spark, base.resolve("wh").toString)
    c.createTable("t", (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v"))
    c.insert("t", (51L to 100L).map(i => (i, s"v$i")).toDF("id", "v"))
    c.delete("t", $"id" <= 10L) // copy-on-write
    // one GraftTableSink micro-batch with its streaming checkpoint
    val in = base.resolve("in").toString
    (1L to 5L).toDF("id").coalesce(1).write.parquet(in)
    spark.readStream.schema(StructType(Seq(StructField("id", LongType))))
      .parquet(in).writeStream
      .format(classOf[graft.streaming.GraftTableSinkProvider].getName)
      .option("path", base.resolve("sink").toString)
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    assert(GraftTable.load(spark, base.resolve("sink"), "s").get.read().count() == 5)

    // the modes Hadoop's chmod path produced under the default 022 umask
    val walk = Files.walk(base)
    val entries = try walk.iterator().asScala.filter(_ != base).toList finally walk.close()
    def mode(p: java.nio.file.Path) =
      PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    val (dirs, files) = entries.partition(Files.isDirectory(_))
    // every file Hadoop wrote: data files, checkpoint files, their .crc;
    // and graft's own snapshot manifests, written through java.nio, which
    // must be as readable as the data files beside them
    val sharedFiles = files.filter { f =>
      val n = f.getFileName.toString
      n.endsWith(".parquet") || n.endsWith(".crc") || f.startsWith(base.resolve("ckpt")) ||
        f.getParent.getFileName.toString == "_snapshots"
    }
    val names = sharedFiles.map(_.getFileName.toString)
    assert(names.exists(_.endsWith(".parquet")) && names.exists(_.endsWith(".parquet.crc")),
      s"data files and their .crc side files: $names")
    val manifests = sharedFiles.filter(_.getParent.getFileName.toString == "_snapshots")
    assert(manifests.exists(_.startsWith(base.resolve("wh"))) &&
      manifests.exists(_.startsWith(base.resolve("sink"))),
      s"snapshot manifests of both tables: $manifests")
    assert(base.resolve("ckpt").toFile.list().toSeq.contains("commits"))
    sharedFiles.foreach(f => assert(mode(f) == "rw-r--r--", s"$f is ${mode(f)}"))
    dirs.foreach(d => assert(mode(d) == "rwxr-xr-x", s"$d is ${mode(d)}"))

    // a table reached through a symlinked warehouse directory
    val link = Files.createSymbolicLink(base.resolve("link"), base.resolve("wh"))
    val viaLink = new Connector(spark, link.toString)
    assert(viaLink.count("t") == 90)
    assert(viaLink.query("t").where($"id" === 11L).select("v").as[String].collect()
      .toSeq == Seq("v11"))
  }
}

/** Forces one lost head race from inside an operation's own input:
  * `passLong` is an identity UDF (deterministic, as declared) whose
  * first call runs the armed callback — a rival commit — while the
  * operation is between reading the head and committing. It lives in
  * an object so the UDF closure serialises without the suite. */
object LostRaceHook {
  @volatile private var onFirstCall: () => Unit = () => ()
  private val fired = new java.util.concurrent.atomic.AtomicBoolean(true)

  def arm(f: () => Unit): Unit = { onFirstCall = f; fired.set(false) }

  val passLong: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (x: Long) =>
      if (fired.compareAndSet(false, true)) onFirstCall()
      x
    }
}
