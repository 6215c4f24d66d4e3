package graft

import java.nio.file.Files

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.service.{FlightClient, SyncState}
import graft.warehouse.{SnapshotLog, Staged}

/** Property-based coverage for the pure-logic components (SURVEY.md
  * §5.4): snapshot-log conservation laws, commit-race safety, hash
  * portability, URL parsing, and sync-state round-trips. Uses
  * scalacheck generators with a fixed seed walk (no scalatestplus
  * bridge on the offline classpath).
  */
class PropertySpec extends AnyFunSuite {

  /** Deterministic sample stream from a Gen. */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(0xC0FFEE + i)))

  /** One metadata-only commit of `files` through the log's commit loop. */
  private def commitFiles(log: SnapshotLog, op: String, files: Seq[String]) =
    log.publish(op, SnapshotLog.RelinkLimit)(_ => Right(Staged(op, files, "{}")))

  private val fileName: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(cs => s"data/${cs.mkString.take(12)}.parquet")

  test("property: GridSelfJoin scores every unordered pair exactly once") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    // random corpora: sparse/dense ids (incl. negatives), varied sizes
    val corpusGen = for {
      n <- Gen.choose(0, 60)
      ids <- Gen.listOfN(n, Gen.choose(-1000L, 1000L)).map(_.distinct)
      vals <- Gen.listOfN(ids.size, Gen.choose(-5.0, 5.0))
    } yield ids.zip(vals)
    // sweep fixed block counts AND the adaptive sizes the operators
    // actually pick (small/wide/huge corpora hit the cap, the
    // replication guard, and the memory floor respectively)
    val adaptive = Seq(
      graft.operators.GridSelfJoin.adaptiveBlocks(spark, 5000L, 64L),
      graft.operators.GridSelfJoin.adaptiveBlocks(spark, 65536L, 8224L),
      graft.operators.GridSelfJoin.adaptiveBlocks(spark, 4L << 20, 536L))
    for ((corpus, blocks) <- samples(corpusGen, 12).zip(
        LazyList.continually(Seq(2, 3, 5, 16) ++ adaptive).flatten)) {
      val rows = spark.createDataset(corpus).map { case (id, v) => (id, v) }
      val got = graft.operators.GridSelfJoin.pairs(rows, blocks, Double.MinValue) {
        (a, b) => a + b // symmetric score; threshold keeps every pair
      }.collect().toSeq
      val expect = (for {
        (ia, va) <- corpus; (ib, vb) <- corpus if ia < ib
      } yield (ia, ib, va + vb)).toSeq
      assert(got.sorted === expect.sorted,
        s"blocks=$blocks n=${corpus.size}")
    }
  }

  test("property: adaptiveBlocks honors the parallelism cap, replication guard, and memory floor") {
    val spark = SparkTestSession.spark
    import graft.operators.GridSelfJoin.{adaptiveBlocks, defaultBlocks}
    val cap = defaultBlocks(spark)
    val g = for {
      n <- Gen.choose(0L, 8L << 20)
      bytes <- Gen.choose(1L, 16384L)
    } yield (n, bytes)
    for ((n, bytes) <- samples(g, 200)) {
      val b = adaptiveBlocks(spark, n, bytes)
      assert(b >= 2 && b <= 4096, s"n=$n bytes=$bytes b=$b")
      val cellBytes = if (b == 0) 0.0 else 2.0 * n * bytes / b
      // memory floor: a cell fits the budget (unless the 4096 hard cap bit)
      assert(b == 4096 || cellBytes <= (256L << 20).toDouble, s"n=$n bytes=$bytes b=$b")
      // small corpora ride the parallelism-derived default (cap, not floor)
      if (n * bytes * (cap + 1) <= (4L << 30) && 2.0 * n * bytes / cap <= (256L << 20).toDouble)
        assert(b == cap, s"small corpus must take the default: n=$n bytes=$bytes b=$b cap=$cap")
      // replication guard: above budget, the tagged shuffle stays bounded
      // unless the memory floor forced it higher
      val shipped = n * bytes * (b + 1)
      if (shipped > (4L << 30))
        assert(2.0 * n * bytes / math.max(1, b - 1) > (256L << 20).toDouble || b == 2,
          s"oversize shuffle without a memory reason: n=$n bytes=$bytes b=$b")
    }
  }

  test("property: components matches a local union-find on random graphs") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val graphGen = for {
      n <- Gen.choose(1, 80)
      m <- Gen.choose(0, 120)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong); b <- Gen.choose(0L, n.toLong)
      } yield (math.min(a, b), math.max(a, b)))
    } yield (n.toLong, edges.filter(e => e._1 != e._2).distinct)
    for ((n, edges) <- samples(graphGen, 8)) {
      // local union-find reference
      val parent = scala.collection.mutable.Map((0L to n).map(i => i -> i): _*)
      def find(x: Long): Long = {
        var r = x; while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = (0L to n).map(i => i -> {
        // canonical = min of component = root under min-merge union
        find(i)
      }).toMap
      val df = (0L to n).toDF("id")
      val pairs = edges.toDF("id_a", "id_b")
      // default cap routes these small graphs through the driver
      // union-find fast path
      val got = graft.operators.Dedup.components(df, "id", pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expect, s"n=$n edges=${edges.size}")
      // force the distributed RDD propagation loop (the 100 TB path) on
      // the same graph — both paths must agree with the local reference
      val prevCap = graft.operators.Dedup.smallGraphEdgeCap
      graft.operators.Dedup.smallGraphEdgeCap = -1L
      try {
        val gotRdd = graft.operators.Dedup.components(df, "id", pairs)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(gotRdd === expect, s"RDD path: n=$n edges=${edges.size}")
      } finally graft.operators.Dedup.smallGraphEdgeCap = prevCap
    }
  }

  test("property: snapshot ids contiguous; files partition across every changesSince cut") {
    val commitsGen = Gen.nonEmptyListOf(
      Gen.nonEmptyListOf(fileName).map(_.distinct))
    for (commits0 <- samples(commitsGen, 25)) {
      // file paths are globally unique in a real table (each commit owns
      // a UUID directory) — prefix with the commit index to match, since
      // dataFiles resolves a SET (a repeated path would double-read)
      val commits = commits0.zipWithIndex.map { case (files, i) =>
        files.map(f => s"c$i/$f")
      }
      val log = new SnapshotLog(Files.createTempDirectory("graft-prop"))
      commits.zipWithIndex.foreach { case (files, i) =>
        commitFiles(log, if (i == 0) "create" else "append", files)
      }
      assert(log.snapshots.map(_.snapshotId) == (1L to commits.length).toSeq)
      val total = commits.map(_.size).sum
      (0L to commits.length.toLong).foreach { cut =>
        val upTo = log.dataFiles(Some(cut)).size
        val after = log.changedFiles(cut).size
        assert(upTo + after == total, s"cut=$cut")
      }
    }
  }

  test("property: racing committers never lose or duplicate a commit") {
    val log = new SnapshotLog(Files.createTempDirectory("graft-race"))
    val threads = (1 to 8).map { i =>
      new Thread(() => (1 to 5).foreach { j =>
        commitFiles(log, "append", Seq(s"data/t$i-$j.parquet"))
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val snaps = log.snapshots
    assert(snaps.map(_.snapshotId) == (1L to 40L))
    assert(snaps.flatMap(_.addedFiles).distinct.size == 40)
  }

  test("property: polyHash matches an independent BigInt formulation") {
    val ref = (s: String) =>
      s.foldLeft(BigInt(7)) { (a, c) => (a * 131 + c.toInt) mod BigInt(2147483647L) }.toLong
    for (s <- samples(Gen.asciiPrintableStr, 300))
      assert(graft.operators.Dedup.polyHash31(s) == ref(s), s"input: $s")
  }

  test("property: flight url parsing recovers host/port/table") {
    val g = for {
      host <- Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString.take(20))
      port <- Gen.chooseNum(1, 65535)
      table <- Gen.option(Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString.take(20)))
    } yield (host, port, table)
    for ((host, port, table) <- samples(g, 60)) {
      val url = s"grpc://$host:$port" + table.map("/" + _).getOrElse("")
      assert(FlightClient.parseUrl(url) == ((host, port, table)))
    }
  }

  test("property: sync state round-trips arbitrary counters and awkward statuses") {
    val state = SyncState(Files.createTempDirectory("graft-ss-prop").toString)
    val g = for {
      t <- Gen.chooseNum(0L, Long.MaxValue / 2)
      src <- Gen.option(Gen.chooseNum(0L, 1000L))
      tgt <- Gen.option(Gen.chooseNum(0L, 1000L))
      rows <- Gen.chooseNum(0L, 1000000L)
      status <- Gen.oneOf("success", "error: \"quoted\"\nnewline\ttab", "never", "日本語")
    } yield SyncState.State(t, src, tgt, rows, status)
    for (s <- samples(g, 40)) {
      state.save("grpc://h:1/t", "tgt", s)
      assert(state.load("grpc://h:1/t", "tgt").norm == s.norm)
    }
  }

  test("property: UTF-8 byte comparison diverges from String.compareTo exactly above the BMP") {
    import graft.warehouse.FileStat
    // supplementary char U+10000 (surrogate pair) vs U+FF61: UTF-16 code
    // units order them opposite to UTF-8 bytes — stats comparisons must
    // use the UTF-8 order Spark's min/max used
    val supp = new String(Character.toChars(0x10000))
    val bmp = "｡"
    assert(bmp.compareTo(supp) > 0) // UTF-16: 0xFF61 > 0xD800
    assert(FileStat.cmpUtf8(bmp, supp) < 0) // UTF-8: EF BD A1 < F0 90 80 80
    // agreement on ASCII
    for (a <- Seq("", "a", "abc", "zz"); b <- Seq("", "a", "abd", "z"))
      assert(Integer.signum(FileStat.cmpUtf8(a, b)) ==
        Integer.signum(a.compareTo(b)), s"($a,$b)")
  }

  test("property: two-phase packing with one sub-shard reduces to single-phase packBins") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(1, 120)
      toks <- Gen.listOfN(n, Gen.choose(1L, 400L))
      shards <- Gen.choose(1, 3)
    } yield (toks, shards)
    samples(gen, 20).foreach { case (toks, shards) =>
      val df = toks.zipWithIndex
        .map { case (t, i) => (i.toLong, s"s${i % shards}", t) }
        .toDF("doc_id", "shard", "n_tokens")
      val single = graft.operators.Packing
        .packBins(df, "n_tokens", "doc_id", 300L, Seq("shard"))
        .select("doc_id", "bin").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val scaled = graft.operators.Packing
        .packBinsScaled(df, "n_tokens", "doc_id", 300L, Seq("shard"), 1)
        .select("doc_id", "bin").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(scaled === single)
    }
  }

  test("property: tokenBudget two-phase equals single-window for any sub-shard count") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sum => fsum}
    val gen = for {
      n <- Gen.choose(1, 120)
      toks <- Gen.listOfN(n, Gen.choose(1L, 400L))
      groups <- Gen.choose(1, 3)
      budget <- Gen.choose(50L, 2000L)
      k <- Gen.oneOf(1, 2, 5, 16)
    } yield (toks, groups, budget, k)
    samples(gen, 15).foreach { case (toks, groups, budget, k) =>
      val df = toks.zipWithIndex
        .map { case (t, i) => (i.toLong, s"g${i % groups}", t) }
        .toDF("doc_id", "grp", "n")
      // reference: one window per group in (hash, key) order
      val w = org.apache.spark.sql.expressions.Window.partitionBy("grp")
        .orderBy(graft.operators.Sampling.keyHash(col("doc_id")), col("doc_id"))
      val expect = df.withColumn("__cum", fsum(col("n")).over(w))
        .filter(col("__cum") - col("n") < budget)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val got = graft.operators.Sampling
        .tokenBudget(df, "doc_id", "n", Seq("grp"), budget, k)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got === expect, s"n=${toks.size} groups=$groups budget=$budget k=$k")
    }
  }

  test("property: era projection matches a row model across random evolution histories") {
    // Random sequences of append / rename / drop / widen / addColumns /
    // compact / binpack, checked after EVERY op against an in-memory
    // model keyed by stable column identity — probes the era-projection
    // matrix (legacy bindings, multi-rename chains, re-adds under fresh
    // names, widened decodes, era merges) a hand-written case can't.
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(0xE70)
    val dir = Files.createTempDirectory("graft-evoprop-")
    // model state, indexed by stable column IDENTITY
    var names = Vector("c0", "c1") // current visible name
    var wide = Vector(false, false) // widened to long yet?
    var live = Vector(true, true)
    var rows = Vector.empty[Map[Int, Long]] // identity -> value
    var nextRow = 1L
    var nextCol = 2
    val t = graft.warehouse.GraftTable.create(spark, dir, "t",
      Seq((0, 0)).toDF("c0", "c1")).get
    rows = rows :+ Map(0 -> 0L, 1 -> 0L)
    def liveIdx = live.indices.filter(live)
    def check(tag: String): Unit = {
      val idx = liveIdx
      val want = rows.map(r => idx.map(i =>
        r.get(i).map(v => v: Any).orNull).toVector).toSet
      val got = t.read().select(idx.map(i =>
          org.apache.spark.sql.functions.col(names(i)).cast("long")): _*)
        .collect().map(r => idx.indices.map(k =>
          if (r.isNullAt(k)) null else (r.getLong(k): Any)).toVector).toSet
      assert(got == want, s"$tag: got $got\nwant $want\n" +
        s"(names=${idx.map(names)}, ops=${t.log.snapshots.map(_.operation)})")
      assert(t.read().columns.toSeq == idx.map(names),
        s"$tag: schema ${t.read().columns.toSeq} != ${idx.map(names)}")
    }
    (1 to 24).foreach { step =>
      rnd.nextInt(8) match {
        case 0 | 1 => // append two rows under the current schema
          val idx = liveIdx
          val newRows = (0 until 2).map { _ =>
            val r = idx.map(i => i -> (nextRow * 100 + i +
              (if (wide(i)) 3000000000L else 0L))).toMap
            nextRow += 1; r
          }
          val sch = StructType(idx.map(i => StructField(names(i),
            if (wide(i)) LongType else IntegerType)).toSeq)
          val jrows = new java.util.ArrayList[org.apache.spark.sql.Row]()
          newRows.foreach(r => jrows.add(org.apache.spark.sql.Row.fromSeq(
            idx.map(i => if (wide(i)) r(i) else r(i).toInt))))
          t.append(spark.createDataFrame(jrows, sch))
          rows = rows ++ newRows
        case 2 => // rename a live column
          val idx = liveIdx
          val i = idx(rnd.nextInt(idx.size))
          val nn = s"n$nextCol"; nextCol += 1
          t.renameColumn(names(i), nn)
          names = names.updated(i, nn)
        case 3 if liveIdx.size > 1 => // drop a live column
          val idx = liveIdx
          val i = idx(rnd.nextInt(idx.size))
          t.dropColumn(names(i))
          live = live.updated(i, false)
        case 4 => // add a fresh nullable column
          val nn = s"n$nextCol"; nextCol += 1
          t.addColumns(StructType(Seq(StructField(nn, IntegerType))))
          names = names :+ nn; wide = wide :+ false; live = live :+ true
        case 5 => // widen a narrow live column to long
          val narrow = liveIdx.filter(i => !wide(i))
          if (narrow.nonEmpty) {
            val i = narrow(rnd.nextInt(narrow.size))
            t.widenColumn(names(i), LongType)
            wide = wide.updated(i, true)
          }
        case 6 => t.compact(targetFiles = 2)
        case 7 =>
          t.compactSmall(smallBytes = 1L << 30, targetBytes = 1L << 20)
          ()
        case _ => ()
      }
      check(s"step $step")
    }
  }

  test("property: diff conservation law holds across random append/upsert/delete/compact/rollback histories") {
    // For ANY snapshot pair i < j:  read(i) ⊎ inserts(i→j) ∖ deletes(i→j)
    // must equal read(j) as a multiset. Random operation sequences probe
    // the manifest resolution paths (compact baselines, rewrite
    // removals, rollback re-adds) that a hand-written case might miss.
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(0xD1FF)
    val c = new graft.warehouse.Connector(spark,
      Files.createTempDirectory("graft-diffprop").toString)
    c.createTable("tp", (0L until 300L).map(i => (i, i * 3)).toDF("id", "v"))
    val t = c.loadTable("tp")
    var nextId = 1000L
    (1 to 8).foreach { _ =>
      rnd.nextInt(4) match {
        case 0 =>
          val ids = (nextId until nextId + 40L); nextId += 40
          t.append(ids.map(i => (i, i)).toDF("id", "v"))
        case 1 =>
          val lo = rnd.nextInt(250).toLong
          t.upsert((lo until lo + 30L).map(i => (i, rnd.nextLong(1000000))).toDF("id", "v"), Seq("id"))
        case 2 => t.deleteWhere(col("id") % 7 === rnd.nextInt(7).toLong)
        case 3 => t.compact(targetFiles = 3)
      }
    }
    t.rollbackTo(t.currentSnapshotId.get - 3) // exercise the rollback path too
    val snaps = t.log.snapshots.map(_.snapshotId)
    val pairs = Seq((snaps.head, snaps.last), (snaps(2), snaps(snaps.length - 2)),
      (snaps(1), snaps(4)), (snaps(3), snaps(3)))
    pairs.foreach { case (i, j) =>
      val d = t.diff(i, j)
      val ins = d.filter(col("_change_type") === "insert").drop("_change_type")
      val del = d.filter(col("_change_type") === "delete").drop("_change_type")
      val rebuilt = t.read(Some(i)).unionByName(ins).exceptAll(del)
      val want = t.read(Some(j))
      assert(rebuilt.exceptAll(want).isEmpty && want.exceptAll(rebuilt).isEmpty,
        s"diff conservation broke for ($i, $j); ops=${t.log.snapshots.map(_.operation)}")
    }
  }

  test("property: MOR reads equal an in-memory era model across random append/eqdelete/compact histories") {
    // Model: each surviving row is (id, v, addStep); an equality delete
    // at step t removes rows with matching id and addStep < t; compact
    // re-stamps every survivor at the compact step. The table's read()
    // must equal the model's multiset after every mutation — this walks
    // the era-grouping/anti-join logic across delete-after-delete,
    // re-insert-after-delete, and materialize-then-delete-again orders
    // a hand case can't cover.
    val spark = SparkTestSession.spark
    import spark.implicits._
    val rnd = new scala.util.Random(0x30A)
    val c = new graft.warehouse.Connector(spark,
      Files.createTempDirectory("graft-morprop").toString)
    var model = scala.collection.mutable.ArrayBuffer[(Long, Long, Int)]()
    val init = (0L until 30L).map(i => (i, i * 7))
    c.createTable("tm", init.toDF("id", "v"))
    model ++= init.map { case (i, v) => (i, v, 0) }
    val t = c.loadTable("tm")
    def check(step: Int): Unit = {
      val got = t.read().select("id", "v").as[(Long, Long)]
        .collect().sorted.toSeq
      val want = model.map { case (i, v, _) => (i, v) }.sorted.toSeq
      assert(got == want, s"diverged at step $step: " +
        s"ops=${t.log.snapshots.map(_.operation)}")
    }
    // changeFeed conservation law: state at the first retained cut,
    // plus the feed's net changes over (first, head], must equal the
    // visible table — across every op mix, including expiry windows
    // (the feed starts at the first retained snapshot; the carried
    // tombstones are already folded into the base read). Sampled every
    // few steps: the feed plan grows with history length.
    def checkFeed(step: Int): Unit = {
      import org.apache.spark.sql.functions.col
      val first = t.firstSnapshotId.get
      val head = t.currentSnapshotId.get
      if (first >= head) return
      val base = t.read(Some(first)).select("id", "v")
      val feed = t.changeFeed(first, head)
      val plus = feed.filter(col("_change_type")
        .isin("insert", "update_postimage")).select("id", "v")
      val minus = feed.filter(col("_change_type")
        .isin("delete", "update_preimage")).select("id", "v")
      val got = base.unionByName(plus).exceptAll(minus)
        .as[(Long, Long)].collect().sorted.toSeq
      val want = model.map { case (i, v, _) => (i, v) }.sorted.toSeq
      assert(got == want, s"feed conservation broke at step $step " +
        s"(window ($first, $head]): ops=${t.log.snapshots.map(_.operation)}")
    }
    // CoW DML (cases 4/5) runs WITH live tombstones since r13: its
    // rewrite re-lands affected-file survivors at the DML step, but the
    // model needn't track file membership — every future delete at step
    // t scopes addStep < t, which old and re-stamped survivors satisfy
    // alike, so the model is insensitive to the re-stamp.
    (1 to 24).foreach { step =>
      rnd.nextInt(11) match {
        case 0 | 1 => // append, reusing ids ~half the time (re-inserts)
          val rows = (0 until 8).map { _ =>
            val id = rnd.nextInt(40).toLong
            (id, rnd.nextInt(1000).toLong)
          }
          t.append(rows.toDF("id", "v"))
          model ++= rows.map { case (i, v) => (i, v, step) }
        case 2 => // equality delete of a random id set
          val ids = (0 until 6).map(_ => rnd.nextInt(40).toLong).distinct
          t.deleteKeysMor(ids.toDF("id"))
          model = model.filterNot { case (i, _, s) =>
            ids.contains(i) && s < step }
        case 3 =>
          t.compact(targetFiles = 2)
          model = model.map { case (i, v, _) => (i, v, step) }
        case 4 => // CoW predicate delete, tombstones folded into the rewrite
          val lo = rnd.nextInt(35).toLong
          t.deleteWhere($"id" >= lo && $"id" < lo + 5)
          model = model.filterNot { case (i, _, _) => i >= lo && i < lo + 5 }
        case 5 => // keyed upsert under whatever tombstones are live
          val rows = (0 until 4).map(_ =>
              (rnd.nextInt(40).toLong, rnd.nextInt(1000).toLong))
            .distinctBy(_._1)
          t.upsert(rows.toDF("id", "v"), Seq("id"))
          val ks = rows.map(_._1).toSet
          model = model.filterNot { case (i, _, _) => ks.contains(i) }
          model ++= rows.map { case (i, v) => (i, v, step) }
        case 6 => // binpack with tombstones live: era-grouped rewrite,
          // NO model change at all — rows keep their inherited
          // tombstone scoping (addSteps unchanged)
          t.compactSmall(smallBytes = 1L << 30)
        case 7 => // checkpoint + expire: live tombstones CARRY across
          // the horizon with their era scoping — content invariant,
          // so no model change (future deletes still see addSteps)
          val ck = t.checkpoint()
          t.expireSnapshots(ck.snapshotId)
        case 8 => // position delete: a ONE-TIME selection over the
          // current visible rows — the model drops matching rows NOW,
          // addStep-independent (positions bind files, not eras)
          val lo = rnd.nextInt(35).toLong
          t.deletePosMor($"id" >= lo && $"id" < lo + 4)
          model = model.filterNot { case (i, _, _) => i >= lo && i < lo + 4 }
        case 9 => // position-tombstone compaction: merged+pruned
          // re-expression, NO logical change — model invariant
          t.compactDeletes()
        case 10 => // predicate-scoped atomic overwrite: replace the
          // region with fresh rows (all satisfying the predicate)
          val lo = rnd.nextInt(35).toLong
          val rows = (0 until 3).map(_ =>
            (lo + rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong))
          t.overwriteWhere($"id" >= lo && $"id" < lo + 5,
            rows.toDF("id", "v"))
          model = model.filterNot { case (i, _, _) => i >= lo && i < lo + 5 }
          model ++= rows.map { case (i, v) => (i, v, step) }
      }
      check(step)
      if (step % 6 == 0 || step == 24) checkFeed(step)
    }
  }

  test("property: get_diff's one-pass net equals per-commit netting and read(head) − read(since)") {
    // Random DML/MOR/maintenance/evolution histories over two schemas
    // (a nullable single key; a two-column key with NULLs in both), keys
    // drawn from a small range so batches hit stored rows in many files.
    // For sampled windows (since, to], netChanges must equal (a) the
    // per-commit-netted feed get_diff served before and (b) the multiset
    // difference of the two reads, and applied to read(since) it must
    // give read(to).
    val spark = SparkTestSession.spark
    import org.apache.spark.sql.{Column, DataFrame, Row}
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    import org.apache.spark.sql.types._
    import graft.warehouse.GraftTable
    final case class Shape(schema: StructType, keys: Seq[String],
        delArm: Column, pred: Int => Column, set: Map[String, Column])
    val shapes = Seq(
      Shape(StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
        Seq("id"), col("v") === "a", r => col("id") % 7 === r.toLong,
        Map("v" -> concat(col("v"), lit("u")))),
      Shape(StructType(Seq(StructField("k1", IntegerType), StructField("k2", StringType),
          StructField("amt", LongType))),
        Seq("k1", "k2"), col("amt") % 3 === 0L, r => col("k1") === r % 5,
        Map("amt" -> (col("amt") + 1L))))
    val rnd = new scala.util.Random(0xD1F5)
    def value(dt: DataType, key: Boolean): Any =
      if (rnd.nextInt(10) == 0) null
      else dt match {
        case LongType => if (key) rnd.nextInt(40).toLong else rnd.nextInt(1000).toLong
        case IntegerType => rnd.nextInt(5)
        case _ => Seq("a", "b", "c", "d")(rnd.nextInt(4))
      }
    def canon(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.mkString("|")).sorted
    for ((shape, si) <- shapes.zipWithIndex) {
      def frame(sch: StructType, n: Int, distinctKeys: Boolean = false): DataFrame = {
        val rows = Seq.fill(n)(Row.fromSeq(sch.fields.toSeq.map(f =>
          value(f.dataType, shape.keys.contains(f.name)))))
        val kept =
          if (!distinctKeys) rows
          else rows.distinctBy(r => shape.keys.map(k => r.get(sch.fieldIndex(k))))
        spark.createDataFrame(java.util.Arrays.asList(kept: _*), sch).repartition(2)
      }
      val t = GraftTable.create(spark, Files.createTempDirectory("graft-netprop-"),
        s"n$si", frame(shape.schema, 40)).get
      // every operation at least once, in a random order, plus six more
      val schedule = rnd.shuffle((0 to 9) ++ Seq.fill(6)(rnd.nextInt(10)))
      schedule.foreach {
        case 0 => t.append(frame(t.schema, 8))
        case 1 => t.upsert(frame(t.schema, 6, distinctKeys = true), shape.keys)
        case 2 => t.merge(frame(t.schema, 6, distinctKeys = true), shape.keys, shape.delArm)
        case 3 => t.deleteWhere(shape.pred(rnd.nextInt(7)))
        case 4 => t.updateWhere(shape.pred(rnd.nextInt(7)), shape.set)
        case 5 => t.deleteWhereMor(shape.pred(rnd.nextInt(7)))
        case 6 => t.deleteKeysMor(frame(t.schema, 4).select(shape.keys.map(col): _*))
        case 7 => t.compact(targetFiles = 2)
        case 8 if !t.schema.fieldNames.contains("extra") =>
          t.addColumns(StructType(Seq(StructField("extra", LongType))))
        case _ => t.append(frame(t.schema, 5))
      }
      val ops = t.log.snapshots.map(_.operation)
      assert(Seq("delete", "update", "eqdelete", "merge", "evolve").forall(ops.contains),
        s"history misses an operation kind: $ops")
      val ids = t.log.snapshots.map(_.snapshotId)
      val windows = Seq((ids.head, ids.last), (ids(ids.size / 2), ids.last),
        (ids(2), ids(ids.size - 3)), (ids.last, ids.last))
      windows.foreach { case (since, to) =>
        val sch = t.read(Some(to)).schema
        val cols = sch.fieldNames.toSeq
        def readAt(id: Long): Seq[Row] = {
          val df = t.read(Some(id))
          df.select(cols.map(c =>
            if (df.columns.contains(c)) col(c) else lit(null).cast(sch(c).dataType).as(c)): _*)
            .collect().toSeq
        }
        val before = readAt(since); val after = readAt(to)
        def minus(a: Seq[Row], b: Seq[Row]): Seq[Row] = {
          val left = scala.collection.mutable.Map(b.groupBy(identity)
            .map { case (r, rs) => r -> rs.size }.toSeq: _*)
          a.filter(r => left.get(r) match {
            case Some(n) if n > 0 => left(r) = n - 1; false
            case _ => true
          })
        }
        val want = canon(minus(after, before).map(r => Row.fromSeq(r.toSeq :+ "insert")) ++
          minus(before, after).map(r => Row.fromSeq(r.toSeq :+ "delete")))
        val net = t.netChanges(since, to).collect().toSeq
        val feed = t.changeFeed(since, to)
        val perCommit = GraftTable.multisetNet(
          feed.withColumn("__s", when(col("_change_type")
            .isin("insert", "update_postimage"), 1L).otherwise(-1L))
            .select((cols :+ "__s").map(col): _*), cols, "__s")
          .withColumn("_change_type", when(col("__s") === 1L, lit("insert"))
            .otherwise(lit("delete"))).drop("__s").collect().toSeq
        assert(canon(net) === want, s"net != read diff over ($since, $to]: $ops")
        assert(canon(perCommit) === want, s"per-commit net differs over ($since, $to]: $ops")
        val (ins, del) = net.partition(_.getString(cols.size) == "insert")
        val applied = minus(before, del.map(r => Row.fromSeq(r.toSeq.init))) ++
          ins.map(r => Row.fromSeq(r.toSeq.init))
        assert(canon(applied) === canon(after), s"apply over ($since, $to] != read($to): $ops")
      }
    }
  }

  test("property: row identity is preserved/minted exactly as declared across random histories") {
    // Unique-key regime (one row per id) so identity is decidable per
    // key. Each op declares its identity contract: PRESERVE (update,
    // matched upsert, every maintenance rewrite), MINT (append,
    // unmatched upsert, overwrite region), REMOVE (deletes). After
    // every step the observed id→_row_id binding must (a) equal the
    // previous binding for preserved keys, (b) be globally unique,
    // (c) never recycle an id that any earlier step observed.
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(0x1D5)
    val c = new graft.warehouse.Connector(spark,
      Files.createTempDirectory("graft-rlprop").toString)
    val init = (0L until 24L).map(i => (i, i * 3))
    c.createTable("tr", init.toDF("id", "v"))
    val t = c.loadTable("tr")
    t.enableRowLineage()
    // model: id -> (v, last observed _row_id, expected
    // _last_updated_sequence_number). Seq contract: every op that
    // CREATES OR CHANGES the row stamps its committing snapshot
    // (append/minted upsert/matched-replace upsert/update hit/
    // overwrite region); preservation — untouched rows, every
    // maintenance rewrite, checkpoint+expiry — must leave it alone.
    val model = scala.collection.mutable.Map[Long, (Long, Option[Long], Long)](
      init.map { case (i, v) => i -> ((v, None: Option[Long], 1L)) }: _*)
    val seen = scala.collection.mutable.Set[Long]()
    var nextFresh = 100L // ids for guaranteed-new appends
    def observe(step: Int, minted: Set[Long]): Unit = {
      val obs = t.readLineage()
        .select("id", "v", "_row_id", "_last_updated_sequence_number")
        .as[(Long, Long, Long, Long)].collect()
      assert(obs.map(_._3).distinct.length == obs.length,
        s"step $step: row ids not unique")
      assert(obs.map(_._1).sorted.toSeq == model.keys.toSeq.sorted,
        s"step $step: key set diverged")
      obs.foreach { case (id, v, rid, seq) =>
        val (mv, prev, mseq) = model(id)
        assert(v == mv, s"step $step: value diverged for id $id")
        assert(seq == mseq, s"step $step: id $id seq $seq != expected " +
          s"$mseq (ops=${t.log.snapshots.map(_.operation)})")
        if (minted.contains(id))
          assert(!seen.contains(rid),
            s"step $step: minted id $id recycled row id $rid")
        else prev.foreach(p => assert(p == rid,
          s"step $step: id $id changed identity $p -> $rid " +
            s"(ops=${t.log.snapshots.map(_.operation)})"))
        model(id) = (v, Some(rid), mseq)
      }
      seen ++= obs.map(_._3)
    }
    observe(0, minted = model.keySet.toSet) // retro-assignment
    (1 to 20).foreach { step =>
      var minted = Set.empty[Long]
      rnd.nextInt(9) match {
        case 0 => // append of guaranteed-new keys → minted
          val rows = (0 until 4).map { k => (nextFresh + k, rnd.nextInt(999).toLong) }
          nextFresh += 4
          val sn = t.append(rows.toDF("id", "v"))
          rows.foreach { case (i, v) => model(i) = (v, None, sn.snapshotId) }
          minted = rows.map(_._1).toSet
        case 1 => // UPDATE → identity preserved, hit rows' seq bumps
          val lo = rnd.nextInt(30).toLong
          val sn = t.updateWhere(col("id") >= lo && col("id") < lo + 6,
            Map("v" -> (col("v") + 1)))
          model.keys.filter(i => i >= lo && i < lo + 6)
            .foreach(i => model(i) =
              (model(i)._1 + 1, model(i)._2, sn.snapshotId))
        case 2 => // CoW delete → removed
          val lo = rnd.nextInt(30).toLong
          t.deleteWhere(col("id") >= lo && col("id") < lo + 4)
          model.keys.filter(i => i >= lo && i < lo + 4).toSeq
            .foreach(model.remove)
        case 3 => // MOR key delete → removed, nothing else moves
          val ids = (0 until 4).map(_ => rnd.nextInt(30).toLong).distinct
          t.deleteKeysMor(ids.toDF("id"))
          ids.foreach(model.remove)
        case 4 => // upsert: matched keys PRESERVE identity, all bump seq
          val rows = (0 until 4).map(_ =>
              (rnd.nextInt(40).toLong, rnd.nextInt(999).toLong))
            .distinctBy(_._1)
          val sn = t.upsert(rows.toDF("id", "v"), Seq("id"))
          rows.foreach { case (i, v) =>
            if (model.contains(i)) model(i) = (v, model(i)._2, sn.snapshotId)
            else { model(i) = (v, None, sn.snapshotId); minted += i }
          }
        case 5 => // overwrite region → region identity dies, rows mint
          val lo = rnd.nextInt(30).toLong
          val rows = (0 until 3).map(k => (lo + k, rnd.nextInt(999).toLong))
          val sn = t.overwriteWhere(col("id") >= lo && col("id") < lo + 3,
            rows.toDF("id", "v"))
          rows.foreach { case (i, v) => model(i) = (v, None, sn.snapshotId) }
          minted = rows.map(_._1).toSet
        case 6 => t.compact(targetFiles = 2) // preserved
        case 7 => t.compactSmall(smallBytes = 1L << 30): Unit // preserved
        case 8 => // checkpoint + expire: the carry keeps identities
          val ck = t.checkpoint()
          t.expireSnapshots(ck.snapshotId)
      }
      observe(step, minted)
    }
  }

  test("property: BoundedLru fires exactly one onEvict per displaced value under concurrent puts/gets/clear") {
    // Conservation law (the OpUtil.scala scaladoc claim): after a final
    // clear() flushes residents, the evict log must contain EVERY value
    // ever put EXACTLY once — a missed callback (leak) shows as absence,
    // a doubled one (e.g. replacement + eviction both firing for the
    // same value, or clear racing put) shows as a duplicate. Values are
    // globally unique so the multiset comparison is exact. The keyspace
    // (32) is 4× the cap (8), so capacity eviction, same-key
    // replacement, and mid-run clear() all fire constantly.
    val evicted = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val lru = new graft.operators.BoundedLru[Int, Long](8,
      (_, v) => { evicted.add(v); () })
    val nThreads = 8; val perThread = 500
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until nThreads).map { t =>
      new Thread(() => {
        try {
          val rnd = new scala.util.Random(0xBEEF + t)
          var i = 0
          while (i < perThread) {
            lru.put(rnd.nextInt(32), t * 1000000L + i)
            if (i % 7 == 0) lru.get(rnd.nextInt(32)) // churn access order
            if (t == 0 && i % 101 == 100) lru.clear() // clear vs put race
            i += 1
          }
        } catch { case e: Throwable => failures.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(failures.isEmpty, s"worker threw: ${failures.peek()}")
    lru.clear() // flush survivors — winners must evict HERE, once
    val log = {
      import scala.jdk.CollectionConverters._
      evicted.iterator().asScala.toVector
    }
    val all = for {
      t <- 0 until nThreads; i <- 0 until perThread
    } yield t * 1000000L + i
    val dup = log.groupBy(identity).filter(_._2.size > 1).keys.take(5)
    assert(dup.isEmpty, s"values evicted more than once: $dup")
    assert(log.sorted == all.sorted.toVector,
      s"evict log ${log.size} values vs ${all.size} put — leak or double-fire")
  }

  test("property: CROSS-PROCESS commit race — one winner per id, every commit durable") {
    // The link(2) EEXIST CAS is a FILESYSTEM primitive; in-JVM races
    // (the existing commit-race specs) can never prove it holds across
    // address spaces. Three real child JVMs (no Spark — SnapshotLog is
    // pure NIO) hammer one table dir concurrently; afterwards the ids
    // must be exactly contiguous (no gap = no lost manifest, no dup =
    // no overwritten winner) and every writer's every commit must be
    // present exactly once — rename(2)-based publishing passes in-JVM
    // tests and fails exactly this one.
    val dir = Files.createTempDirectory("graft-xproc-race")
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val writers = Seq("w1", "w2", "w3")
    val n = 40
    val procs = writers.map { w =>
      new ProcessBuilder(javaBin, "-cp", cp, "graft.CommitRaceChild",
        dir.toString, w, n.toString).redirectErrorStream(true).start()
    }
    val results = procs.map { p =>
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      (p.waitFor(), out)
    }
    results.foreach { case (rc, out) =>
      assert(rc === 0, s"child JVM failed:\n$out")
    }
    val snaps = new SnapshotLog(dir).snapshots
    assert(snaps.map(_.snapshotId) === (1L to (writers.size * n).toLong),
      "snapshot ids must be contiguous: a gap is a lost manifest, a dup an overwrite")
    val files = snaps.flatMap(_.addedFiles)
    val expected = for { w <- writers; i <- 1 to n } yield s"data/$w-$i.parquet"
    assert(files.sorted === expected.sorted,
      "every writer's every commit must be durable exactly once")
  }

  test("property: minhash estimate stays in [0,1] and self-similarity is 1") {
    val spark = SparkTestSession.spark
    val docs = T.documents(spark, "/root/testdata/sf0.001").limit(50)
    val est = graft.operators.Dedup
      .minhashCandidatesPoly(docs, "doc_id", "text", threshold = 0.0)
      .collect()
    assert(est.forall { r =>
      val e = r.getAs[Double]("est_jaccard"); e >= 0.0 && e <= 1.0
    })
    // identical docs (self-union trick) must estimate 1.0
    val dup = docs.limit(3)
    val both = dup.union(dup.withColumn("doc_id",
      org.apache.spark.sql.functions.col("doc_id") + 1000000))
    val pairs = graft.operators.Dedup
      .minhashCandidatesPoly(both, "doc_id", "text", threshold = 0.99)
      .filter(org.apache.spark.sql.functions.expr("id_b = id_a + 1000000"))
    assert(pairs.count() === 3)
  }

  test("property: intervalJoin equals brute-force containment on random axes and widths") {
    import org.apache.spark.sql.functions.col
    val spark = SparkTestSession.spark
    import spark.implicits._
    for (round <- 0 until 3) {
      val pts = samples(Gen.choose(-500L, 500L), 80 + round * 40).distinct
      val ivs = samples(Gen.zip(Gen.choose(-520L, 480L), Gen.choose(-5L, 60L)),
        25 + round * 10).zipWithIndex
        .map { case ((s, len), i) => (i.toLong, s, s + len) } // len<0 ⇒ empty
      val width = Seq(3L, 10L, 64L)(round)
      val pdf = spark.createDataset(pts).toDF("p")
      val idf = spark.createDataset(ivs).toDF("iid", "lo", "hi")
      val got = graft.operators.RangeJoin.intervalJoin(
          pdf, col("p"), idf, col("lo"), col("hi"), bucketWidth = width)
        .select("p", "iid").as[(Long, Long)].collect().toSet
      val want = (for {
        p <- pts; (iid, lo, hi) <- ivs if p >= lo && p <= hi
      } yield (p, iid)).toSet
      assert(got == want,
        s"width=$width missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
      // left join: every point appears; unmatched exactly once with null
      val left = graft.operators.RangeJoin.intervalJoin(
          pdf, col("p"), idf, col("lo"), col("hi"),
          bucketWidth = width, joinType = "left")
        .select("p", "iid").collect()
      val matchedPts = want.map(_._1)
      assert(left.count(r => r.isNullAt(1)) == pts.count(!matchedPts.contains(_)))
      assert(left.length == want.size + pts.count(!matchedPts.contains(_)))
    }
  }

  test("property: partition transforms — driver apply == engine expr on random inputs") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val spark = SparkTestSession.spark
    import spark.implicits._
    import graft.warehouse.PartitionField
    // random LONGS (full-range + small) through bucket and truncate;
    // one engine pass over the whole sample, no per-value jobs
    val longs = (samples(Gen.long, 150) ++
      samples(Gen.choose(-1000L, 1000L), 100))
      .filter(_ != Long.MinValue).distinct
    for (f <- Seq(PartitionField("bucket", "x", 32),
                  PartitionField("truncate", "x", 7))) {
      val engine = spark.createDataset(longs).toDF("x")
        .select(col("x"), f.expr(LongType).cast("long").as("t"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      longs.foreach { v =>
        assert(engine(v) == f.apply(v, LongType).asInstanceOf[Number].longValue,
          s"${f.kind} mismatch for long $v")
      }
    }
    // random INTS must hash as ints (width bug would shift every bucket)
    val ints = samples(Gen.choose(Int.MinValue, Int.MaxValue), 150).distinct
    val fbI = PartitionField("bucket", "x", 16)
    val engineI = spark.createDataset(ints).toDF("x")
      .select(col("x"), fbI.expr(IntegerType).as("t"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    ints.foreach(v => assert(engineI(v) == fbI.apply(v, IntegerType)))
    // random unicode STRINGS through bucket and prefix-truncate
    val strs = samples(Gen.listOfN(6, Gen.choose(32, 0x2FFF).map(_.toChar))
      .map(_.mkString), 120).distinct
    val fbS = PartitionField("bucket", "x", 16)
    val ftS = PartitionField("truncate", "x", 3)
    val engineS = spark.createDataset(strs).toDF("x")
      .select(col("x"), fbS.expr(StringType).as("b"), ftS.expr(StringType).as("t"))
      .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getString(2)))).toMap
    strs.foreach { v =>
      val (b, t) = engineS(v)
      assert(b == fbS.apply(v, StringType), s"bucket mismatch for string '$v'")
      assert(t == ftS.apply(v, StringType), s"truncate mismatch for string '$v'")
    }
    // random NTZ timestamps through every temporal transform — day,
    // and the r13 month/year/hour Iceberg encodings (sample range
    // spans pre-1970, so the negative-date edge is exercised: 1969-12
    // must be month −1, year −1, and hours floor toward −∞)
    val ldts = samples(Gen.choose(-2000000000L, 4000000000L), 100).distinct
      .map(s => java.time.LocalDateTime.ofEpochSecond(s, 0, java.time.ZoneOffset.UTC))
    val fd = PartitionField("day", "x")
    val fm = PartitionField("month", "x")
    val fy = PartitionField("year", "x")
    val fh = PartitionField("hour", "x")
    val engineD = spark.createDataset(ldts).toDF("x")
      .select(col("x"), fd.expr(TimestampNTZType).as("d"),
        fm.expr(TimestampNTZType).as("m"), fy.expr(TimestampNTZType).as("y"),
        fh.expr(TimestampNTZType).as("h"))
      .collect().map(r => r.getAs[java.time.LocalDateTime](0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))).toMap
    ldts.foreach { v =>
      val (d, m, y, h) = engineD(v)
      assert(d == fd.apply(v, TimestampNTZType), s"day mismatch for $v")
      assert(m == fm.apply(v, TimestampNTZType), s"month mismatch for $v")
      assert(y == fy.apply(v, TimestampNTZType), s"year mismatch for $v")
      assert(h == fh.apply(v, TimestampNTZType), s"hour mismatch for $v")
    }
  }

  test("property: random SQL DDL/DML/CALL sequences match a driver-side model") {
    sqlWalk(20260815L, steps = 140, requireCoverage = true)
  }

  test("property: the SQL walk holds under fresh seeds (coverage-free replays)") {
    // shorter replays under different seeds: every MODEL check still
    // gates (rows, views, partitions, widen eras, MV refresh, time
    // travel); only the per-verb coverage asserts are seed-tuned and
    // skip here
    Seq(7L, 4242L).foreach(sqlWalk(_, steps = 90, requireCoverage = false))
  }

  private def sqlWalk(seed: Long, steps: Int,
      requireCoverage: Boolean): Unit = {
    // Model-based check of the SQL-only surface: a seeded random walk
    // over INSERT / UPDATE / DELETE / TRUNCATE / ADD COLUMN DEFAULT /
    // RENAME COLUMN / SET-DROP DEFAULT / CALL binpack / CALL checkpoint
    // / SET-UNSET TBLPROPERTIES / ALTER TABLE RENAME TO (r17)
    // against one warehouse table, mirrored in a plain driver-side map.
    // Catches CROSS-FEATURE interactions (a rename after a default, a
    // truncate under live history, maintenance between DML) no single
    // scenario test pins. The model:
    //  - rows: id -> (v, extras: colName -> String)
    //  - on ADD COLUMN c DEFAULT k: existing rows read k (initial
    //    default fills pre-add files), and the write-default starts at k
    //  - on INSERT (id, v): extras fill from each column's CURRENT
    //    write-default (inserts always omit the extra columns)
    //  - on SET DEFAULT: only future inserts change; after DROP
    //    DEFAULT an omitting insert fills NULL (ANSI, r17) — the walk
    //    pairs a DROP with an immediate re-SET to keep the model's
    //    extras non-null (the DROP×SET pair still exercises the
    //    remove-metadata path against every other op)
    import graft.warehouse.Connector
    val c = new Connector(SparkTestSession.spark,
      Files.createTempDirectory("graft-psql-").toString)
    val rnd = new scala.util.Random(seed)
    c.sql("CREATE TABLE pt (id BIGINT, v BIGINT)")
    // r18: a PARTITIONED sibling walks TRUNCATE…PARTITION + SHOW
    // PARTITIONS against its own model (identity yr; the main table
    // stays unpartitioned so the two surfaces interleave freely)
    c.sql("CREATE TABLE pp (id BIGINT, yr INT) PARTITIONED BY (yr)")
    var ppRows = Map.empty[Long, Int]
    var tpN = 0
    def checkPP(): Unit = {
      val got = c.sql("SELECT id, yr FROM pp").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == ppRows, s"pp model diverged: engine ${got.size}, " +
        s"model ${ppRows.size}")
      val parts = c.sql("SHOW PARTITIONS pp")
        .collect().map(_.getString(0)).toSeq
      assert(parts ==
        ppRows.values.toSeq.distinct.sorted.map(y => s"yr=$y"),
        s"pp partitions diverged: $parts vs ${ppRows.values.toSeq.distinct}")
    }
    // r18: a persistent VIEW over the walk table — late-bound BY NAME,
    // so a TABLE rename must flip its reads to the named refusal until
    // the walk re-creates it over the new name. r19: the walk also
    // RENAMES the view itself (the definition moves, behavior travels).
    var viewOver: Option[String] = None
    var viewName = "ptv"
    var viewN = 0; var likeN = 0; var commentN = 0; var vrenN = 0
    // r19: a widen sibling — ALTER COLUMN TYPE mid-walk, then inserts
    // of values only the WIDE type holds; the era-projecting read must
    // serve both eras (exactly what random interleaving stresses)
    c.sql("CREATE TABLE pw (id BIGINT, q INT)")
    var pwRows = Map.empty[Long, Long]
    var pwWide = false; var widenN = 0
    def checkPW(): Unit = {
      val got = c.sql("SELECT id, q FROM pw").collect()
        .map(r => r.getLong(0) ->
          r.get(1).asInstanceOf[Number].longValue).toMap
      assert(got == pwRows, s"pw model diverged: engine ${got.size}, " +
        s"model ${pwRows.size}")
    }
    // r19: a MATERIALIZED VIEW over the partitioned sibling — REFRESH
    // ticks interleave with inserts, partition truncates, and the
    // column-list REPLACE reset; after every tick the stored aggregate
    // must equal the model's (the feed nets whatever the walk did).
    // r20: the walk also RENAMES the MV, re-issues its definition via
    // same-shape CREATE OR REPLACE (backing state must survive), and
    // maintains an EXPRESSION-shaped sibling (derived group key
    // `yr % 2` + derived measure `sum(id * id)`).
    var mvMade = false; var mvRefreshN = 0
    var mvName = "ppm"
    var mvRenN = 0; var mvReplN = 0; var mveChkN = 0
    val mvSelect = "SELECT yr, count(*) AS n, sum(id) AS s FROM pp " +
      "WHERE id % 5 != 4 GROUP BY yr"
    def checkMv(): Unit = if (mvMade) {
      c.sql(s"REFRESH MATERIALIZED VIEW $mvName")
      mvRefreshN += 1
      val got = c.sql(s"SELECT yr, n, s FROM $mvName").collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      val want = ppRows.toSeq.filter(_._1 % 5 != 4)
        .groupBy(_._2).map { case (yr, xs) =>
          yr -> ((xs.size.toLong, xs.map(_._1).sum)) }
      assert(got == want,
        s"materialized view diverged after refresh: $got vs $want")
    }
    def checkMve(): Unit = {
      c.sql("REFRESH MATERIALIZED VIEW ppme")
      mveChkN += 1
      val got = c.sql("SELECT par, n, s2 FROM ppme").collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val want = ppRows.toSeq.groupBy(_._2 % 2).map { case (p, xs) =>
        p -> ((xs.size.toLong, xs.map(x => x._1 * x._1).sum)) }
      assert(got == want,
        s"expression MV diverged after refresh: $got vs $want")
    }
    var analyzeN = 0; var replN = 0
    // the table's CURRENT sql name — ALTER TABLE … RENAME TO moves it
    // mid-walk; every later statement AND every time-travel cut must
    // resolve under the new name (history travels with the table)
    var tbl = "pt"
    var renameN = 0
    var owN = 0
    // user TBLPROPERTIES model: effective map at head
    var props = Map.empty[String, String]
    var propN = 0
    var rows = Map.empty[Long, (Long, Map[String, String])]
    // (sql name, write-default, initial default) per extra column
    var extras = Vector.empty[(String, Option[String], String)]
    var nextId = 0L
    var colN = 0
    def insert(n: Int): Unit = {
      require(extras.forall(_._2.nonEmpty)) // walk keeps defaults SET
      val ids = (0 until n).map(_ => { nextId += 1; nextId })
      val vals = ids.map(i => s"($i, ${i * 10})").mkString(", ")
      c.sql(s"INSERT INTO $tbl (id, v) VALUES $vals")
      ids.foreach { i =>
        rows += i -> (i * 10, extras.map(e => e._1 -> e._2.get).toMap)
      }
    }
    def check(): Unit = {
      val cols = Seq("id", "v") ++ extras.map(_._1)
      val got = c.sql(s"SELECT ${cols.mkString(", ")} FROM $tbl")
        .collect().map { r =>
          r.getLong(0) -> (r.getLong(1),
            extras.indices.map(j => extras(j)._1 -> r.getString(2 + j)).toMap)
        }.toMap
      assert(got == rows,
        s"model diverged: engine ${got.size} rows, model ${rows.size}; " +
          s"sample diff: ${(got.toSet -- rows.toSet).take(3)} | " +
          s"${(rows.toSet -- got.toSet).take(3)}")
    }
    def checkView(): Unit = viewOver.foreach { over =>
      if (over == tbl) {
        val got = c.sql(s"SELECT id, v FROM $viewName").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val want = rows.collect { case (i, (v, _)) if i % 2 == 0 => i -> v }
        assert(got == want,
          s"view model diverged: ${got.size} vs ${want.size}")
      } else {
        val e = intercept[Exception] {
          c.sql(s"SELECT id, v FROM $viewName").collect() }
        assert(e.getMessage.contains(viewName),
          s"renamed-table view read failed WITHOUT naming the view: " +
            e.getMessage)
      }
    }
    // TIME TRAVEL against the model: record (snapshot id → column
    // names + rows AS OF THEN); a later VERSION AS OF must reproduce
    // that exact state under that era's COLUMN NAMES — pre-rename cuts
    // read the old name, pre-add cuts lack the column, pre-truncate
    // cuts resurrect the rows. This is where era projection × rename ×
    // default interact and where a model check earns its keep.
    var cuts = Map.empty[Long, (Vector[String], Map[Long, (Long, Map[String, String])], Map[String, String])]
    def recordCut(): Unit =
      c.getCurrentSnapshotId(tbl).foreach { sid =>
        cuts += sid -> (extras.map(_._1), rows, props)
      }
    def checkCut(): Unit = if (cuts.nonEmpty) {
      val (sid, (cols, want, wantProps)) = cuts.toSeq(rnd.nextInt(cuts.size))
      val sel = (Seq("id", "v") ++ cols).mkString(", ")
      val got = c.sql(s"SELECT $sel FROM $tbl VERSION AS OF $sid")
        .collect().map { r =>
          r.getLong(0) -> (r.getLong(1),
            cols.indices.map(j => cols(j) -> r.getString(2 + j)).toMap)
        }.toMap
      assert(got == want,
        s"time travel to $sid diverged: engine ${got.size} rows, " +
          s"model ${want.size}; sample: ${(got.toSet -- want.toSet).take(3)}" +
          s" | ${(want.toSet -- got.toSet).take(3)}")
      // the $properties metadata table must fold the delta commits to
      // exactly the model's map AS OF that cut (and at head)
      val gotProps = c.sql(
        s"SELECT key, value FROM `$tbl$$properties` VERSION AS OF $sid")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(gotProps == wantProps,
        s"$$properties at $sid diverged: engine $gotProps, model $wantProps")
    }
    insert(30)
    recordCut()
    for (step <- 1 to steps) {
      rnd.nextInt(20) match {
        case 0 => insert(1 + rnd.nextInt(5))
        case 1 => // UPDATE a residue class
          val m = 2 + rnd.nextInt(4); val r = rnd.nextInt(m)
          c.sql(s"UPDATE $tbl SET v = v + 7 WHERE id % $m = $r")
          rows = rows.map { case (i, (v, e)) =>
            i -> (if (i % m == r) (v + 7, e) else (v, e)) }
        case 2 => // DELETE a residue class
          val m = 3 + rnd.nextInt(4); val r = rnd.nextInt(m)
          c.sql(s"DELETE FROM $tbl WHERE id % $m = $r")
          rows = rows.filter { case (i, _) => i % m != r }
        case 3 if extras.size < 4 => // ADD COLUMN with a default
          colN += 1; val cn = s"c$colN"; val d = s"d$colN"
          c.sql(s"ALTER TABLE $tbl ADD COLUMN $cn STRING DEFAULT '$d'")
          rows = rows.map { case (i, (v, e)) => i -> (v, e + (cn -> d)) }
          extras :+= ((cn, Some(d), d))
        case 4 if extras.nonEmpty => // RENAME the newest extra column
          val (old, wd, init) = extras.last
          val nn = old + "r"
          c.sql(s"ALTER TABLE $tbl RENAME COLUMN $old TO $nn")
          rows = rows.map { case (i, (v, e)) =>
            i -> (v, (e - old) + (nn -> e(old))) }
          extras = extras.init :+ ((nn, wd, init))
        case 5 if extras.nonEmpty => // move a write-default (half the
          // time through an explicit DROP first — the walk's inserts
          // always omit extras, so the default must be re-SET before
          // the next insert; the DROP×SET pair still exercises the
          // remove-metadata path against every other op)
          val j = rnd.nextInt(extras.size)
          val (cn, _, init) = extras(j)
          if (rnd.nextBoolean())
            c.sql(s"ALTER TABLE $tbl ALTER COLUMN $cn DROP DEFAULT")
          val nd = s"w$step"
          c.sql(s"ALTER TABLE $tbl ALTER COLUMN $cn SET DEFAULT '$nd'")
          extras = extras.updated(j, (cn, Some(nd), init))
        case 6 if rnd.nextInt(6) == 0 => // rare TRUNCATE
          c.sql(s"TRUNCATE TABLE $tbl")
          rows = Map.empty
        case 7 => // maintenance between DML must never change content
          c.sql(s"CALL binpack('$tbl', 1048576)")
        case 8 if rnd.nextInt(3) == 0 =>
          c.sql(s"CALL checkpoint('$tbl')")
        case 9 => // SET TBLPROPERTIES: new key or overwrite, a
          // metadata-only commit invisible to rows
          propN += 1
          val ks = props.keys.toSeq.sorted
          val k = if (ks.nonEmpty && rnd.nextBoolean())
            ks(rnd.nextInt(ks.size))
          else s"k$propN"
          c.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES ('$k'='v$step')")
          props += k -> s"v$step"
        case 10 if props.nonEmpty => // UNSET an existing property
          val ks = props.keys.toSeq.sorted
          val k = ks(rnd.nextInt(ks.size))
          c.sql(s"ALTER TABLE $tbl UNSET TBLPROPERTIES ('$k')")
          props -= k
        case 11 if rnd.nextInt(3) == 0 => // rare: rename the TABLE
          // itself — history, cuts, defaults, and props must all
          // resolve under the new name from here on
          renameN += 1
          val nn = s"pt_r$renameN"
          c.sql(s"ALTER TABLE $tbl RENAME TO $nn")
          tbl = nn
        case 12 => // partitioned sibling: insert rows across years
          val ids = (0 until 1 + rnd.nextInt(4)).map(_ => {
            nextId += 1; nextId })
          val vals = ids.map(i =>
            s"($i, ${1995 + (i % 3).toInt})").mkString(", ")
          c.sql(s"INSERT INTO pp VALUES $vals")
          ids.foreach(i => ppRows += i -> (1995 + (i % 3).toInt))
        case 13 if ppRows.nonEmpty && rnd.nextBoolean() => // r18:
          // partition-scoped TRUNCATE — removes exactly one year
          val yr = ppRows.values.toSeq(rnd.nextInt(ppRows.size))
          c.sql(s"TRUNCATE TABLE pp PARTITION (yr = $yr)")
          tpN += 1
          ppRows = ppRows.filter(_._2 != yr)
        case 14 => // COMMENT ON: rides the user-property model (so
          // the $properties time-travel cuts check it too)
          commentN += 1
          if (props.contains("comment") && rnd.nextInt(4) == 0) {
            c.sql(s"COMMENT ON TABLE $tbl IS NULL")
            props -= "comment"
          } else {
            c.sql(s"COMMENT ON TABLE $tbl IS 'cm$step'")
            props += "comment" -> s"cm$step"
          }
        case 15 => // r18: CREATE TABLE LIKE (declared surface copies,
          // zero rows, dropped again), the persistent VIEW, or (r19)
          // an ALTER VIEW RENAME of the walk's view
          rnd.nextInt(3) match {
            case 0 =>
              likeN += 1
              c.sql(s"CREATE TABLE lk_$step LIKE $tbl")
              val lk = c.loadTable(s"lk_$step")
              assert(lk.schema.fieldNames.toSeq ==
                Seq("id", "v") ++ extras.map(_._1),
                s"LIKE copied the wrong columns: ${lk.schema.fieldNames.toSeq}")
              assert(c.count(s"lk_$step") == 0L)
              c.sql(s"DROP TABLE lk_$step")
            case 1 =>
              viewN += 1
              c.sql(s"CREATE OR REPLACE VIEW $viewName AS " +
                s"SELECT id, v FROM $tbl WHERE id % 2 = 0")
              viewOver = Some(tbl)
            case _ if viewOver.nonEmpty => // rename the VIEW: one
              // atomic definition move; reads keep behaving (or keep
              // refusing with the NEW name when the table moved away)
              vrenN += 1
              val nn = s"ptv_r$vrenN"
              c.sql(s"ALTER VIEW $viewName RENAME TO $nn")
              viewName = nn
            case _ =>
              viewN += 1
              c.sql(s"CREATE OR REPLACE VIEW $viewName AS " +
                s"SELECT id, v FROM $tbl WHERE id % 2 = 0")
              viewOver = Some(tbl)
          }
        case 16 => // r19: widen sibling — one-time ALTER COLUMN TYPE,
          // then inserts sized to the CURRENT era (wide values only a
          // BIGINT holds after the widen). The gate self-forces past
          // 2/3 of the walk: coverage must not depend on the exact
          // draw sequence (r20's extra MV draws shifted it once)
          if (!pwWide &&
              (rnd.nextInt(3) == 0 || step > steps * 2 / 3)) {
            widenN += 1
            c.sql("ALTER TABLE pw ALTER COLUMN q TYPE BIGINT")
            pwWide = true
          } else {
            val ids = (0 until 1 + rnd.nextInt(3)).map(_ => {
              nextId += 1; nextId })
            val vals = ids.map { i =>
              val q = if (pwWide) 3000000000L + i else i
              s"($i, $q)"
            }.mkString(", ")
            c.sql(s"INSERT INTO pw VALUES $vals")
            ids.foreach(i =>
              pwRows += i -> (if (pwWide) 3000000000L + i else i))
          }
        case 17 => // r19: ANALYZE as a CHECK verb — stats must match
          // the model and the verb must commit NOTHING
          analyzeN += 1
          val headBefore = c.getCurrentSnapshotId(tbl)
          val noscan = if (rnd.nextBoolean()) " NOSCAN" else ""
          val det = c.sql(
            s"ANALYZE TABLE $tbl COMPUTE STATISTICS$noscan")
            .collect().head.getAs[String]("detail")
          assert(det.contains(s"rows=${rows.size}"),
            s"ANALYZE rows diverged from model: $det vs ${rows.size}")
          if (rows.nonEmpty) {
            val r2 = c.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS " +
              "FOR COLUMNS id").collect().head
            assert(r2.getAs[Long]("row_count") == rows.size &&
              r2.getAs[String]("min").toLong == rows.keys.min &&
              r2.getAs[String]("max").toLong == rows.keys.max,
              s"ANALYZE FOR COLUMNS diverged: $r2")
          }
          assert(c.getCurrentSnapshotId(tbl) == headBefore,
            "ANALYZE committed a snapshot")
        case 18 if rnd.nextInt(4) == 0 => // r19: column-list REPLACE
          // TABLE — the schema-reset arm empties the partitioned
          // sibling atomically (same declared shape + spec)
          replN += 1
          c.sql("REPLACE TABLE pp (id BIGINT, yr INT) " +
            "PARTITIONED BY (yr)")
          ppRows = Map.empty
        case 19 => // r19/r20: MATERIALIZED VIEWS over the partitioned
          // sibling — create once (the filtered rollup AND the
          // expression-shaped sibling), then interleave REFRESH checks
          // with ALTER MATERIALIZED VIEW RENAME and same-text CREATE OR
          // REPLACE; after every tick the stored aggregates must equal
          // the model no matter what interleaved (inserts, partition
          // truncates, the REPLACE reset)
          if (!mvMade) {
            // FILTERED (r19): the WHERE must gate every tick no
            // matter what interleaves
            c.sql(s"CREATE MATERIALIZED VIEW $mvName AS $mvSelect")
            // EXPRESSION-shaped (r20): derived group key + measure
            c.sql("CREATE MATERIALIZED VIEW ppme AS SELECT yr % 2 " +
              "AS par, count(*) AS n, sum(id * id) AS s2 FROM pp " +
              "GROUP BY yr % 2")
            mvMade = true
          } else rnd.nextInt(5) match {
            case 0 => // rename: definition + state + WAL travel; the
              // next tick under the NEW name must still net the model
              mvRenN += 1
              val nn = s"ppm_r$mvRenN"
              c.sql(s"ALTER MATERIALIZED VIEW $mvName RENAME TO $nn")
              mvName = nn
              checkMv()
            case 1 => // same-text OR REPLACE: the shape matches, so
              // the backing state survives (unless an interleaved
              // REPLACE TABLE reset pp's lineage — then it re-creates);
              // either way the next tick must net the model
              mvReplN += 1
              c.sql(s"CREATE OR REPLACE MATERIALIZED VIEW $mvName " +
                s"AS $mvSelect")
              checkMv()
            case 2 => checkMve()
            case _ => checkMv()
          }
        case 6 | 8 if rnd.nextInt(6) == 0 => // rare INSERT OVERWRITE:
          // full replace (static mode, unpartitioned) — new rows only,
          // extras fill from the CURRENT write-defaults; pre-overwrite
          // cuts must still travel
          require(extras.forall(_._2.nonEmpty))
          val ids = (0 until 1 + rnd.nextInt(3)).map(_ => { nextId += 1; nextId })
          val vals = ids.map(i => s"($i, ${i * 10})").mkString(", ")
          c.sql(s"INSERT OVERWRITE $tbl (id, v) VALUES $vals")
          owN += 1
          rows = ids.map(i =>
            i -> (i * 10L, extras.map(e => e._1 -> e._2.get).toMap)).toMap
        case _ => insert(1)
      }
      if (rnd.nextInt(3) == 0) recordCut()
      if (step % 10 == 0) {
        check(); checkCut(); checkPP(); checkView(); checkPW()
      }
    }
    check()
    checkCut(); checkCut()
    // force-cover the wide era if the draws widened late and never
    // inserted into it (same draw-shift robustness as the MV pass)
    if (pwWide && !pwRows.values.exists(_ >= 3000000000L)) {
      nextId += 1
      val i = nextId
      c.sql(s"INSERT INTO pw VALUES ($i, ${3000000000L + i})")
      pwRows += i -> (3000000000L + i)
    }
    checkPP(); checkView(); checkPW()
    // r20: the MV verb set is exercised DETERMINISTICALLY at walk end
    // too (the in-walk arms depend on the seed's draws): one rename,
    // one same-text OR REPLACE, and both refresh checks — whatever
    // state the walk left behind, these must hold
    if (mvMade) {
      mvRenN += 1
      val nn = s"ppm_r$mvRenN"
      c.sql(s"ALTER MATERIALIZED VIEW $mvName RENAME TO $nn")
      mvName = nn
      checkMv()
      mvReplN += 1
      c.sql(s"CREATE OR REPLACE MATERIALIZED VIEW $mvName AS $mvSelect")
      checkMv()
      checkMve()
    }
    // the PRIMARY seed must actually exercise every walked verb — a
    // walk that never renamed or set a property proves nothing about
    // them (replay seeds skip these; their step budget is smaller and
    // the model checks are what they contribute)
    if (requireCoverage) {
      assert(renameN >= 1, s"seed never hit ALTER TABLE RENAME TO")
      assert(propN >= 2, s"seed set only $propN properties")
      assert(owN >= 1, s"seed never hit INSERT OVERWRITE")
      assert(tpN >= 1, s"seed never hit TRUNCATE TABLE … PARTITION")
      assert(commentN >= 1, s"seed never hit COMMENT ON TABLE")
      assert(likeN >= 1, s"seed never hit CREATE TABLE LIKE")
      assert(viewN >= 1, s"seed never created the persistent view")
      // r19 verbs must actually fire too
      assert(widenN >= 1, s"seed never hit ALTER COLUMN TYPE")
      assert(pwWide && pwRows.values.exists(_ >= 3000000000L),
        "walk never inserted a wide-era value after the widen")
      assert(analyzeN >= 2, s"seed ran ANALYZE only $analyzeN time(s)")
      assert(replN >= 1, s"seed never hit column-list REPLACE TABLE")
      assert(vrenN >= 1, s"seed never hit ALTER VIEW RENAME")
      assert(mvRefreshN >= 2,
        s"seed refreshed the materialized view only $mvRefreshN time(s)")
      // r20 MV verbs: the deterministic walk-end pass guarantees ≥1 of
      // each; the asserts pin that the walk actually kept the MVs alive
      // to the end (a silently-dropped MV would skip them)
      assert(mvRenN >= 1, "walk never renamed the materialized view")
      assert(mvReplN >= 1,
        "walk never re-issued the MV via CREATE OR REPLACE")
      assert(mveChkN >= 1,
        s"walk never checked the expression-shaped MV")
    }
    assert(c.loadTable(tbl).userProperties() == props)
    assert(c.loadTable(tbl).validate().isEmpty)
    assert(c.loadTable("pp").validate().isEmpty)
    assert(c.loadTable("pw").validate().isEmpty)
  }
}
