package graft

import java.nio.file.Files

import graft.warehouse.{Connector, GraftTable, PartitionField}
import org.scalatest.funsuite.AnyFunSuite

/** Round-17 DDL-surface contract: every common DDL verb over a
  * warehouse-table name either ROUTES (result carries a snapshot_id
  * column) or REFUSES loudly — never a silent temp-view operation (the
  * trap class: r16's column-list CREATE TABLE fell through to Spark's
  * catalog; r17's probe found ALTER TABLE RENAME TO renaming only the
  * reflected view). Plus the new verbs themselves: real warehouse
  * RENAME, SET/UNSET/SHOW TBLPROPERTIES + `$properties` (+ time
  * travel + expiry carry), TRUNCATE … PARTITION, CREATE TABLE LIKE,
  * and the uniform routed-DDL result contract. */
class DdlSurfaceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshConn(): Connector =
    new Connector(spark, Files.createTempDirectory("graft-ddl-").toString)

  // ---------------------------------------------------------- rename

  test("ALTER TABLE RENAME TO is a real warehouse rename") {
    val c = freshConn()
    c.createTable("rn_src", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    c.sql("INSERT INTO rn_src VALUES (3, 'c')")
    val r = c.sql("ALTER TABLE rn_src RENAME TO rn_dst").collect().head
    // uniform CALL-style result: the verb reports the surviving head
    assert(r.getString(0) == "rename_table" && r.getString(1) == "rn_dst")
    assert(r.getLong(2) == 2L)
    // the WAREHOUSE table moved — not just the view
    assert(c.tables == Seq("rn_dst"))
    assert(!c.tableExists("rn_src") && c.tableExists("rn_dst"))
    // full history and time travel survive under the new name
    val t = c.loadTable("rn_dst")
    assert(t.log.snapshots.map(_.operation) == Seq("create", "append"))
    assert(c.sql("SELECT count(*) AS n FROM rn_dst VERSION AS OF 1")
      .collect().head.getLong(0) == 2L)
    // DML keeps working under the new name
    c.sql("INSERT INTO rn_dst VALUES (4, 'd')")
    assert(c.sql("SELECT count(*) AS n FROM rn_dst")
      .collect().head.getLong(0) == 4L)
    // the OLD name is gone from SQL — and is NOT a stale orphan view
    // frozen at rename time (the trap the fall-through produced)
    assert(intercept[Exception] {
      c.sql("SELECT * FROM rn_src").collect()
    }.getMessage.toLowerCase.contains("not"))
    assert(!spark.catalog.tableExists("rn_src"))
  }

  test("rename refuses: existing destination, ALTER VIEW, bad names") {
    val c = freshConn()
    c.createTable("rn_a", Seq(1L).toDF("id"))
    c.createTable("rn_b", Seq(2L).toDF("id"))
    val e1 = intercept[IllegalArgumentException] {
      c.sql("ALTER TABLE rn_a RENAME TO rn_b") }
    assert(e1.getMessage.contains("already exists"))
    val e2 = intercept[IllegalArgumentException] {
      c.sql("ALTER VIEW rn_a RENAME TO rn_c") }
    assert(e2.getMessage.contains("warehouse TABLE"))
    // nothing moved on a refusal
    assert(c.tables == Seq("rn_a", "rn_b"))
    assert(c.sql("SELECT count(*) AS n FROM rn_a")
      .collect().head.getLong(0) == 1L)
  }

  test("rename survives a later create at the OLD name (cache purge)") {
    val c = freshConn()
    c.createTable("rn_old", Seq((1L, "x")).toDF("id", "v"))
    c.sql("ALTER TABLE rn_old RENAME TO rn_new")
    // a fresh table at the old path restarts the manifest sequence —
    // the parse cache must not serve the renamed table's manifests
    c.sql("CREATE TABLE rn_old AS SELECT 9 AS k")
    assert(c.sql("SELECT k FROM rn_old").collect().map(_.getInt(0)).toSeq
      == Seq(9))
    assert(c.sql("SELECT id FROM rn_new").collect().map(_.getLong(0)).toSeq
      == Seq(1L))
  }

  // ---------------------------------------------- result contract

  test("every routed verb's result carries snapshot_id (uniform contract)") {
    val c = freshConn()
    def snapCol(sqlText: String): Unit = {
      val df = c.sql(sqlText)
      assert(df.schema.fieldNames.contains("snapshot_id"),
        s"no snapshot_id column from: $sqlText — got " +
          df.schema.fieldNames.mkString(","))
      df.collect()
      ()
    }
    snapCol("CREATE TABLE uc (id BIGINT, v STRING)")
    snapCol("INSERT INTO uc VALUES (1, 'a'), (2, 'b')")
    snapCol("ALTER TABLE uc ADD COLUMN w INT DEFAULT 7")
    snapCol("ALTER TABLE uc ALTER COLUMN w SET DEFAULT 8")
    snapCol("ALTER TABLE uc RENAME COLUMN w TO w2")
    snapCol("ALTER TABLE uc DROP COLUMN w2")
    snapCol("ALTER TABLE uc SET TBLPROPERTIES ('k'='v')")
    snapCol("ALTER TABLE uc UNSET TBLPROPERTIES ('k')")
    snapCol("UPDATE uc SET v = 'z' WHERE id = 1")
    snapCol("DELETE FROM uc WHERE id = 2")
    snapCol("TRUNCATE TABLE uc")
    snapCol("CREATE TABLE uc2 LIKE uc")
    snapCol("CREATE OR REPLACE TABLE uc2 AS SELECT 1 AS one")
    snapCol("ALTER TABLE uc2 RENAME TO uc3")
    snapCol("CALL checkpoint('uc3')")
    snapCol("DROP TABLE uc3")
    snapCol("DROP TABLE uc")
  }

  // ------------------------------------------------- tblproperties

  test("SET/UNSET/SHOW TBLPROPERTIES + $properties + time travel") {
    val c = freshConn()
    c.createTable("tp", Seq((1L, "a")).toDF("id", "v"))
    c.sql("ALTER TABLE tp SET TBLPROPERTIES " +
      "('team'='data-eng', 'retention.days'='30')")          // s2
    val s2 = c.getCurrentSnapshotId("tp").get
    c.sql("ALTER TABLE tp SET TBLPROPERTIES ('team'='ml')")   // s3
    c.sql("ALTER TABLE tp UNSET TBLPROPERTIES ('retention.days')") // s4
    // effective map at head
    assert(c.loadTable("tp").userProperties() == Map("team" -> "ml"))
    // $properties metadata table composes in SQL
    assert(c.sql("SELECT key, value FROM `tp$properties` ORDER BY key")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("team", "ml")))
    // time travel shows the OLD values (deltas fold from the log)
    assert(c.sql(s"SELECT key, value FROM `tp$$properties` " +
      s"VERSION AS OF $s2 ORDER BY key")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("retention.days", "30"), ("team", "data-eng")))
    // SHOW TBLPROPERTIES routes to the warehouse map (Spark's own
    // would refuse on the reflected temp view)
    assert(c.sql("SHOW TBLPROPERTIES tp")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("team", "ml")))
    assert(c.sql("SHOW TBLPROPERTIES tp ('team')")
      .collect().head.getString(1) == "ml")
    val e = intercept[IllegalArgumentException] {
      c.sql("SHOW TBLPROPERTIES tp ('nope')") }
    assert(e.getMessage.contains("no property"))
    // UNSET of a never-set key refuses without IF EXISTS
    val e2 = intercept[IllegalArgumentException] {
      c.sql("ALTER TABLE tp UNSET TBLPROPERTIES ('ghost')") }
    assert(e2.getMessage.contains("no such"))
    c.sql("ALTER TABLE tp UNSET TBLPROPERTIES IF EXISTS ('ghost')")
    // a properties commit is a logical no-op for the change feed
    val feed = c.loadTable("tp").changesSince(1L)
    assert(feed.count() == 0L)
  }

  test("CREATE TABLE … TBLPROPERTIES honors the clause; carry survives expiry") {
    val c = freshConn()
    c.sql("CREATE TABLE tpc (id BIGINT) TBLPROPERTIES ('fmt'='v1')")
    assert(c.loadTable("tpc").userProperties() == Map("fmt" -> "v1"))
    c.sql("INSERT INTO tpc VALUES (1)")
    c.sql("ALTER TABLE tpc SET TBLPROPERTIES ('stage'='gold')")
    // expire history behind a fresh checkpoint: the set/unset delta
    // commits are dropped, the checkpoint's re-stated map survives
    c.sql("CALL expire_snapshots(table => 'tpc')")
    assert(c.loadTable("tpc").log.snapshots.size == 1)
    assert(c.loadTable("tpc").userProperties() ==
      Map("fmt" -> "v1", "stage" -> "gold"))
    // CTAS + LIKE also thread TBLPROPERTIES
    c.sql("CREATE TABLE tpd TBLPROPERTIES ('src'='tpc') AS SELECT 1 AS k")
    assert(c.loadTable("tpd").userProperties() == Map("src" -> "tpc"))
    c.sql("CREATE TABLE tpe LIKE tpd TBLPROPERTIES ('copy'='y')")
    assert(c.loadTable("tpe").userProperties() == Map("copy" -> "y"))
    assert(c.loadTable("tpe").schema.fieldNames.toSeq == Seq("k"))
  }

  // -------------------------------------------- truncate partition

  test("TRUNCATE TABLE … PARTITION prunes to the named partition") {
    val c = freshConn()
    c.sql("CREATE TABLE trp (id BIGINT, yr INT, v STRING) " +
      "PARTITIONED BY (yr)")
    c.sql("INSERT INTO trp SELECT id, 1995 + CAST(id % 3 AS INT), 'x' " +
      "FROM range(300)")
    val t = c.loadTable("trp")
    val before = t.filesDf().select("file").as[String].collect().toSet
    val keepBefore = c.sql(
      "SELECT count(*) AS n FROM trp WHERE yr <> 1996")
      .collect().head.getLong(0)
    c.sql("TRUNCATE TABLE trp PARTITION (yr = 1996)")
    assert(c.sql("SELECT count(*) AS n FROM trp WHERE yr = 1996")
      .collect().head.getLong(0) == 0L)
    assert(c.sql("SELECT count(*) AS n FROM trp")
      .collect().head.getLong(0) == keepBefore)
    // OTHER partitions' files are untouched — the CoW delete rewrote
    // only files that could contain yr=1996 rows (file-pruned probe)
    val after = t.filesDf().select("file").as[String].collect().toSet
    assert(after.subsetOf(before),
      "partition truncate must only REMOVE files, never rewrite " +
        s"survivors: new files ${(after -- before).mkString(", ")}")
    // probe witness: the delete's stat probe read a strict subset
    // refusals: non-identity transform column, non-partition column
    c.sql("CREATE TABLE trb (id BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts), bucket(4, id))")
    val e1 = intercept[IllegalArgumentException] {
      c.sql("TRUNCATE TABLE trb PARTITION (id = 5)") }
    assert(e1.getMessage.contains("IDENTITY partition column"))
    val e2 = intercept[IllegalArgumentException] {
      c.sql("TRUNCATE TABLE trp PARTITION (v = 'x')") }
    assert(e2.getMessage.contains("IDENTITY partition column"))
  }

  // ------------------------------------------------ route-or-refuse

  test("DDL sweep: every verb over a warehouse table routes or refuses") {
    val c = freshConn()
    c.createTable("sw", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    c.createTable("sw_part", Seq((1L, 1995)).toDF("id", "yr"))
    c.loadTable("sw_part").setPartitionSpec(
      Seq(PartitionField("identity", "yr", 0)))

    // verbs that must ROUTE: graft result shape (snapshot_id column)
    val routed = Seq(
      "INSERT INTO sw VALUES (3, 'c')",
      "INSERT OVERWRITE sw VALUES (1, 'a'), (2, 'b'), (3, 'c')",
      "UPDATE sw SET v = 'q' WHERE id = 3",
      "DELETE FROM sw WHERE id = 3",
      "MERGE INTO sw USING (SELECT CAST(3 AS BIGINT) AS id, 'c' AS v) s " +
        "ON sw.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
      "ALTER TABLE sw ADD COLUMN z INT",
      "ALTER TABLE sw ALTER COLUMN z TYPE BIGINT", // widen routes (r18)
      "ALTER TABLE sw ALTER COLUMN z SET DEFAULT 1",
      "ALTER TABLE sw ALTER COLUMN z DROP DEFAULT",
      "ALTER TABLE sw RENAME COLUMN z TO z2",
      "ALTER TABLE sw DROP COLUMN z2",
      "ALTER TABLE sw SET TBLPROPERTIES ('a'='1')",
      "ALTER TABLE sw UNSET TBLPROPERTIES ('a')",
      "TRUNCATE TABLE sw_part PARTITION (yr = 1995)",
      "COMMENT ON TABLE sw IS 'swept'",
      "COMMENT ON TABLE sw IS NULL",
      "ANALYZE TABLE sw COMPUTE STATISTICS",
      "ANALYZE TABLE sw COMPUTE STATISTICS NOSCAN",
      "ALTER TABLE sw RENAME TO sw9",
      "ALTER TABLE sw9 RENAME TO sw",
      // persistent views route (r18): full lifecycle, CALL-style rows
      "CREATE VIEW sw_v AS SELECT id FROM sw",
      "CREATE OR REPLACE VIEW sw_v AS SELECT id, v FROM sw",
      "ALTER VIEW sw_v AS SELECT id FROM sw",
      "ALTER VIEW sw_v RENAME TO sw_v2",
      "DROP VIEW sw_v2",
      // materialized views route (r19): full lifecycle, CALL-style rows
      "CREATE MATERIALIZED VIEW sw_mv AS SELECT v, count(*) AS n, " +
        "sum(id) AS s FROM sw GROUP BY v",
      "REFRESH MATERIALIZED VIEW sw_mv",
      "CREATE OR REPLACE MATERIALIZED VIEW sw_mv AS SELECT v, " +
        "count(*) AS n FROM sw GROUP BY v",
      "DROP MATERIALIZED VIEW sw_mv",
      // column-list replace routes (r18); same declared shape, so the
      // end-of-sweep invariants hold (sw_part stays empty+partitioned)
      "REPLACE TABLE sw_part (id BIGINT, yr INT) PARTITIONED BY (yr)")
    routed.foreach { stmt =>
      val df = c.sql(stmt)
      assert(df.schema.fieldNames.contains("snapshot_id"),
        s"expected routed graft result from: $stmt")
      df.collect()
    }

    // verbs that must REFUSE (ours or Spark's own loud error — the
    // invariant is NO silent temp-view mutation)
    val refused = Seq(
      "ALTER TABLE sw ALTER COLUMN id TYPE STRING",
      "ALTER VIEW sw RENAME TO swv",
      "DROP VIEW sw",
      "ALTER TABLE sw ADD PARTITION (id = 1)",
      "ALTER TABLE sw DROP PARTITION (id = 1)",
      "ALTER TABLE sw RECOVER PARTITIONS",
      "ALTER TABLE sw SET LOCATION '/tmp/nowhere'",
      "MSCK REPAIR TABLE sw",
      "TRUNCATE TABLE sw PARTITION (id = 1)", // not an identity part col
      "SHOW PARTITIONS sw", // not partitioned
      "ANALYZE TABLE sw PARTITION (id = 1) COMPUTE STATISTICS",
      "ANALYZE TABLE sw COMPUTE STATISTICS FOR COLUMNS nope",
      "ALTER TABLE sw SET SERDE 'org.nope.Serde'",
      "ALTER VIEW sw AS SELECT 1", // table name: no silent temp-view edit
      "CREATE VIEW sw AS SELECT 1", // collides with the table name
      "CREATE INDEX swi ON sw (id)")
    refused.foreach { stmt =>
      val thrown =
        try { c.sql(stmt).collect(); false }
        catch { case _: Exception => true }
      assert(thrown, s"expected a refusal from: $stmt")
    }

    // tolerated reads (harmless on the reflected view)
    Seq("DESCRIBE TABLE sw", "SHOW COLUMNS IN sw",
      "SHOW TBLPROPERTIES sw", "REFRESH TABLE sw",
      "CACHE TABLE sw", "UNCACHE TABLE sw",
      "CREATE TEMP VIEW sw_tv AS SELECT * FROM sw", "DROP VIEW sw_tv"
    ).foreach(s => c.sql(s).collect())
    // routed reads: OUR result shapes, not Spark's temp-view refusals
    assert(c.sql("SHOW CREATE TABLE sw").schema.fieldNames.toSeq ==
      Seq("createtab_stmt"))
    assert(c.sql("SHOW PARTITIONS sw_part").schema.fieldNames.toSeq ==
      Seq("partition"))
    assert(c.sql("ANALYZE TABLE sw COMPUTE STATISTICS FOR COLUMNS id")
      .schema.fieldNames.toSeq == Seq("column", "min", "max",
        "null_count", "distinct_count", "row_count"))

    // the warehouse is INTACT after the whole sweep: both tables
    // present, readable through SQL, no orphan views accumulated
    assert(c.tables == Seq("sw", "sw_part"))
    assert(c.sql("SELECT count(*) AS n FROM sw")
      .collect().head.getLong(0) == 3L)
    assert(c.sql("SELECT count(*) AS n FROM sw_part")
      .collect().head.getLong(0) == 0L)
    assert(!spark.catalog.tableExists("sw9") &&
      !spark.catalog.tableExists("swv"))
  }

  test("DROP VIEW / DROP TABLE contracts") {
    val c = freshConn()
    c.createTable("dv", Seq(1L).toDF("id"))
    val e = intercept[IllegalArgumentException] { c.sql("DROP VIEW dv") }
    assert(e.getMessage.contains("DROP TABLE"))
    // the refusal left the view serving
    assert(c.sql("SELECT count(*) AS n FROM dv")
      .collect().head.getLong(0) == 1L)
    val r = c.sql("DROP TABLE dv").collect().head
    assert(r.getString(0) == "drop_table" && r.getString(1) == "dv" &&
      r.getLong(2) == 1L)
    assert(c.tables.isEmpty)
    // IF EXISTS on a non-warehouse name still falls through to Spark
    c.sql("DROP TABLE IF EXISTS no_such_graft_table")
    // plain DROP VIEW on a real user temp view still works
    spark.range(1).createOrReplaceTempView("user_view_x")
    c.sql("DROP VIEW user_view_x")
    assert(!spark.catalog.tableExists("user_view_x"))
  }

  // --------------------------------------------------- CREATE LIKE

  test("CREATE TABLE LIKE copies schema + partition spec, no data") {
    val c = freshConn()
    c.sql("CREATE TABLE lk_src (id BIGINT, yr INT) PARTITIONED BY (yr)")
    c.sql("INSERT INTO lk_src VALUES (1, 1995)")
    c.sql("CREATE TABLE lk_dst LIKE lk_src")
    val d = c.loadTable("lk_dst")
    assert(d.schema == c.loadTable("lk_src").schema)
    assert(d.partitionSpec.map(f => (f.kind, f.column)) ==
      Seq(("identity", "yr")))
    assert(c.count("lk_dst") == 0L)
    // IF NOT EXISTS is honored; plain re-create refuses
    c.sql("CREATE TABLE IF NOT EXISTS lk_dst LIKE lk_src")
    val e = intercept[IllegalArgumentException] {
      c.sql("CREATE TABLE lk_dst LIKE lk_src") }
    assert(e.getMessage.contains("already exists"))
  }

  // ------------------------------------------------ advice items

  test("$history reports the TRUE parent after expiry, not log position") {
    val c = freshConn()
    c.createTable("hp2", Seq(1L).toDF("id"))                    // s1
    c.insert("hp2", Seq(2L).toDF("id"))                         // s2
    c.insert("hp2", Seq(3L).toDF("id"))                         // s3
    val t = c.loadTable("hp2")
    val rows0 = t.historyDf.orderBy("snapshot_id").collect()
    assert(rows0.map(r => if (r.isNullAt(2)) -1L else r.getLong(2)).toSeq
      == Seq(-1L, 1L, 2L))
    val ck = t.checkpoint().snapshotId                          // s4
    t.expireSnapshots(ck)                                       // drops 1-3
    c.insert("hp2", Seq(4L).toDF("id"))                         // s5
    val rows = c.loadTable("hp2").historyDf
      .orderBy("snapshot_id").collect()
    // the checkpoint's recorded parent (s3) is reported even though
    // expired — it IS the true parent; s5's parent is the checkpoint
    assert(rows.map(_.getLong(1)).toSeq == Seq(ck, ck + 1))
    assert(rows.map(r => if (r.isNullAt(2)) -1L else r.getLong(2)).toSeq
      == Seq(3L, ck))
  }

  test("CALL maintain refuses a non-boolean expire with its own message") {
    val c = freshConn()
    c.createTable("mb", Seq(1L).toDF("id"))
    val e = intercept[IllegalArgumentException] {
      c.sql("CALL maintain('mb', 1)") }
    assert(e.getMessage.contains("expire must be boolean"))
    c.sql("CALL maintain('mb', true)").collect() // boolean literal works
    c.sql("CALL maintain('mb', 'false')").collect() // string form works
  }

  test("VERSION AS OF refuses a name that is both a tag and a branch") {
    val c = freshConn()
    c.createTable("tb", Seq((1L, "a")).toDF("id", "v"))
    val t = c.loadTable("tb")
    t.tagSnapshot("dual", 1L)
    t.createBranch("dual")
    val e = intercept[IllegalArgumentException] {
      c.sql("SELECT * FROM tb VERSION AS OF 'dual'").collect() }
    assert(e.getMessage.contains("both a tag and a branch"))
    // the METADATA-table path must refuse the same collision, not
    // silently prefer the tag
    val e2 = intercept[IllegalArgumentException] {
      c.sql("SELECT * FROM `tb$files` VERSION AS OF 'dual'").collect() }
    assert(e2.getMessage.contains("both a tag and a branch"))
    t.dropBranch("dual")
    // unambiguous again: the tag resolves (data and metadata paths)
    assert(c.sql("SELECT count(*) AS n FROM tb VERSION AS OF 'dual'")
      .collect().head.getLong(0) == 1L)
    assert(c.sql("SELECT count(*) AS n FROM `tb$files` " +
      "VERSION AS OF 'dual'").collect().head.getLong(0) >= 1L)
  }

  test("CREATE OR REPLACE TABLE resets user properties to the declared set") {
    val c = freshConn()
    c.sql("CREATE TABLE pr TBLPROPERTIES ('quality.floor'='9', " +
      "'team'='data-eng') AS SELECT 1 AS k")
    c.sql("COMMENT ON TABLE pr IS 'old'")
    // the replacement declares a DIFFERENT property set — stale keys
    // of the replaced table must not survive the fold
    c.sql("CREATE OR REPLACE TABLE pr TBLPROPERTIES ('team'='ml') " +
      "AS SELECT 2 AS k")
    assert(c.loadTable("pr").userProperties() == Map("team" -> "ml"))
    // time travel still shows the PRE-replace map at its cut
    assert(c.sql("SELECT value FROM `pr$properties` VERSION AS OF 1 " +
      "WHERE key = 'quality.floor'").collect().head.getString(0) == "9")
    // a replacement with NO clause clears everything
    c.sql("CREATE OR REPLACE TABLE pr AS SELECT 3 AS k")
    assert(c.loadTable("pr").userProperties().isEmpty)
  }

  test("INSERT OVERWRITE: static PARTITION clause and dynamic mode replace scoped regions") {
    val c = freshConn()
    c.sql("CREATE TABLE ow (id BIGINT, yr INT) PARTITIONED BY (yr)")
    c.sql("INSERT INTO ow SELECT id, 1995 + CAST(id % 3 AS INT) " +
      "FROM range(30)")
    val t = c.loadTable("ow")
    // static PARTITION insert: the clause's value fills the column
    c.sql("INSERT INTO ow PARTITION (yr = 1995) VALUES (100), (101)")
    assert(c.sql("SELECT count(*) AS n FROM ow WHERE yr = 1995 AND " +
      "id >= 100").collect().head.getLong(0) == 2L)
    // static PARTITION OVERWRITE: one atomic commit replaces EXACTLY
    // the named partition; others untouched (file-level witness)
    val n96 = c.sql("SELECT count(*) AS n FROM ow WHERE yr = 1996")
      .collect().head.getLong(0)
    val files96Before =
      t.readWhere("yr", Some(1996), Some(1996)).inputFiles.toSet
    c.sql("INSERT OVERWRITE ow PARTITION (yr = 1995) VALUES (7)")
    assert(c.sql("SELECT id FROM ow WHERE yr = 1995")
      .collect().map(_.getLong(0)).toSeq == Seq(7L))
    assert(c.sql("SELECT count(*) AS n FROM ow WHERE yr = 1996")
      .collect().head.getLong(0) == n96)
    assert(t.log.snapshots.last.operation == "overwrite",
      s"expected ONE overwrite commit, got ${t.log.snapshots.last.operation}")
    // untouched partitions keep their PHYSICAL files — the overwrite
    // was partition-aligned, not a table rewrite
    assert(t.readWhere("yr", Some(1996), Some(1996)).inputFiles.toSet
      == files96Before,
      "files of an untouched partition were rewritten")
    // dynamic mode: no clause, payload touches only 1997 — other
    // partitions survive
    val n95 = 1L
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      c.sql("INSERT OVERWRITE ow SELECT id + 200, 1997 FROM range(3)")
      assert(c.sql("SELECT count(*) AS n FROM ow WHERE yr = 1997")
        .collect().head.getLong(0) == 3L)
      assert(c.sql("SELECT count(*) AS n FROM ow WHERE yr = 1995")
        .collect().head.getLong(0) == n95)
      assert(c.sql("SELECT count(*) AS n FROM ow WHERE yr = 1996")
        .collect().head.getLong(0) == n96)
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    // static mode (default): no clause still replaces the WHOLE table
    c.sql("INSERT OVERWRITE ow VALUES (1, 2000)")
    assert(c.sql("SELECT count(*) AS n FROM ow")
      .collect().head.getLong(0) == 1L)
    // refusals: dynamic clause entry, non-identity column, payload
    // naming the statically-set column
    val e1 = intercept[IllegalArgumentException] {
      c.sql("INSERT INTO ow PARTITION (yr) VALUES (1)") }
    assert(e1.getMessage.contains("dynamic partition columns"))
    val e2 = intercept[IllegalArgumentException] {
      c.sql("INSERT INTO ow PARTITION (id = 5) VALUES (2000)") }
    assert(e2.getMessage.contains("IDENTITY partition column"))
    val e3 = intercept[IllegalArgumentException] {
      c.sql("INSERT INTO ow PARTITION (yr = 2000) (id, yr) " +
        "VALUES (1, 2000)") }
    assert(e3.getMessage.contains("set by the PARTITION clause"))
    assert(t.validate().isEmpty)
    // a PARTIAL static clause on a multi-identity spec must refuse
    // under OVERWRITE — the predicate would silently replace
    // sub-partitions the payload never touched
    c.sql("CREATE TABLE ow2 (id BIGINT, yr INT, mo INT) " +
      "PARTITIONED BY (yr, mo)")
    c.sql("INSERT INTO ow2 VALUES (1, 2024, 1), (2, 2024, 2)")
    val e4 = intercept[IllegalArgumentException] {
      c.sql("INSERT OVERWRITE ow2 PARTITION (yr = 2024) " +
        "SELECT 9, CAST(1 AS INT)") }
    assert(e4.getMessage.contains("must name every identity partition"))
    assert(c.sql("SELECT count(*) AS n FROM ow2")
      .collect().head.getLong(0) == 2L)
    // the FULL clause works, replacing exactly (2024, 1)
    c.sql("INSERT OVERWRITE ow2 PARTITION (yr = 2024, mo = 1) " +
      "VALUES (9)")
    assert(c.sql("SELECT id FROM ow2 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(2L, 9L))
    // a partial clause on plain INSERT is just a value fill — fine
    c.sql("INSERT INTO ow2 PARTITION (yr = 2025) VALUES (3, 7)")
    assert(c.sql("SELECT mo FROM ow2 WHERE yr = 2025")
      .collect().head.getInt(0) == 7)
    // EMPTY dynamic overwrite is a no-op at the current head, not a
    // crash (the nightly-backfill-over-an-empty-day shape)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val head0 = c.getCurrentSnapshotId("ow2").get
      val r = c.sql("INSERT OVERWRITE ow2 SELECT id, yr, mo FROM ow2 " +
        "WHERE yr = 1900").collect().head
      assert(r.getLong(r.fieldIndex("snapshot_id")) == head0)
      assert(c.getCurrentSnapshotId("ow2").get == head0)
      assert(c.sql("SELECT count(*) AS n FROM ow2")
        .collect().head.getLong(0) == 3L)
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
  }

  test("INSERT OVERWRITE preserves the table's declared schema (defaults, nullability)") {
    val c = freshConn()
    c.sql("CREATE TABLE ks (id BIGINT, v STRING, " +
      "tier STRING DEFAULT 'std')")
    c.sql("INSERT INTO ks (id) VALUES (1)")
    // the whole-table overwrite's VALUES payload is metadata-stripped
    // and non-nullable — committing ITS schema would erase the column
    // default and tighten v to NOT NULL (caught by the random walk)
    c.sql("INSERT OVERWRITE ks (id, v) VALUES (2, 'x')")
    // the default still applies to later omitting inserts
    c.sql("INSERT INTO ks (id) VALUES (3)")
    assert(c.sql("SELECT tier FROM ks WHERE id = 3")
      .collect().head.getString(0) == "std")
    // nullability survived: a NULL v is still accepted
    c.sql("INSERT INTO ks (id, v) VALUES (4, NULL)")
    assert(c.sql("SELECT count(*) AS n FROM ks")
      .collect().head.getLong(0) == 3L)
    val t = c.loadTable("ks")
    assert(t.schema.forall(_.nullable), "overwrite tightened nullability")
    assert(t.schema("tier").metadata
      .contains(GraftTable.CurrentDefaultKey),
      "overwrite erased the column default metadata")
    assert(t.validate().isEmpty)
  }

  test("`t$partitions` composes with VERSION AS OF") {
    val c = freshConn()
    c.sql("CREATE TABLE pp (id BIGINT, yr INT) PARTITIONED BY (yr)")
    c.sql("INSERT INTO pp VALUES (1, 1995)")                     // s2
    val s2 = c.getCurrentSnapshotId("pp").get
    c.sql("INSERT INTO pp VALUES (2, 1996)")                     // s3
    def vals(q: String): Seq[String] =
      c.sql(q).collect().map(_.getString(0)).toSeq.sorted
    assert(vals("SELECT value FROM `pp$partitions` WHERE rows > 0")
      == Seq("1995", "1996"))
    assert(vals(s"SELECT value FROM `pp$$partitions` VERSION AS OF $s2 " +
      "WHERE rows > 0") == Seq("1995"))
  }

  test("failed RTAS leaves the partition spec unchanged") {
    val c = freshConn()
    c.sql("CREATE TABLE rs (id BIGINT, yr INT) PARTITIONED BY (yr)")
    c.sql("INSERT INTO rs VALUES (1, 1995)")
    val specBefore = c.loadTable("rs").partitionSpec
    intercept[Exception] {
      c.sql("CREATE OR REPLACE TABLE rs PARTITIONED BY (bucket(4, id)) " +
        "AS SELECT id, yr, raise_error('boom') AS x FROM rs")
    }
    assert(c.loadTable("rs").partitionSpec == specBefore,
      "a failed replacement payload must not durably change the spec")
    assert(c.sql("SELECT count(*) AS n FROM rs")
      .collect().head.getLong(0) == 1L)
    // and a SUCCESSFUL redeclaring RTAS does change it
    c.sql("CREATE OR REPLACE TABLE rs PARTITIONED BY (bucket(4, id)) " +
      "AS SELECT id FROM rs")
    assert(c.loadTable("rs").partitionSpec.map(_.kind) == Seq("bucket"))
  }

  // ---------------------------------------------- show create table

  test("SHOW CREATE TABLE emits re-executable DDL (roundtrip)") {
    val c = freshConn()
    c.sql("CREATE TABLE sc_src (id BIGINT NOT NULL, v STRING, " +
      "tier STRING DEFAULT 'std', odate DATE, " +
      "CONSTRAINT pos_id CHECK (id > 0)) " +
      "PARTITIONED BY (years(odate), bucket(4, id)) " +
      "TBLPROPERTIES ('team'='data-eng')")
    c.sql("COMMENT ON TABLE sc_src IS 'orders-ish'")
    val ddl = c.sql("SHOW CREATE TABLE sc_src")
      .collect().head.getString(0)
    assert(ddl.startsWith("CREATE TABLE `sc_src`"))
    // the emitted statement RE-EXECUTES on this engine and reproduces
    // the declared surface exactly: schema + nullability + defaults +
    // partition spec + user properties (including the comment)
    val c2 = freshConn()
    c2.sql(ddl).collect()
    val a = c.loadTable("sc_src"); val b = c2.loadTable("sc_src")
    assert(b.schema.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq
      == a.schema.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq)
    assert(b.partitionSpec == a.partitionSpec)
    assert(b.userProperties() == a.userProperties())
    assert(b.userProperties()("comment") == "orders-ish")
    // the ACTIVE CHECK constraints survived the roundtrip and enforce
    assert(b.checkConstraints == a.checkConstraints &&
      b.checkConstraints.contains("pos_id"))
    intercept[Exception] {
      c2.sql("INSERT INTO sc_src (id, odate) VALUES (-1, DATE'1995-06-01')")
    }
    // the write-default survived the roundtrip: an omitting insert
    // reads the default on BOTH tables
    Seq(c, c2).foreach(_.sql("INSERT INTO sc_src (id, odate) " +
      "VALUES (1, DATE'1995-06-01')"))
    Seq(c, c2).foreach(cn =>
      assert(cn.sql("SELECT tier FROM sc_src").collect()
        .head.getString(0) == "std"))
    // AS SERDE refuses with our message
    val e = intercept[IllegalArgumentException] {
      c.sql("SHOW CREATE TABLE sc_src AS SERDE") }
    assert(e.getMessage.contains("no Hive serde form"))
  }

  test("CREATE-time CHECK constraints land active; non-CHECK refuses") {
    val c = freshConn()
    // column-list CREATE with a table-level CHECK (the one constraint
    // shape Spark's parser admits at CREATE time): lands ACTIVE in the
    // same store addCheckConstraint uses, enforced from the first row
    c.sql("CREATE TABLE cc3 (k BIGINT, CONSTRAINT pos CHECK (k > 0))")
    assert(c.loadTable("cc3").checkConstraints == Map("pos" -> "k > 0"))
    intercept[Exception] { c.sql("INSERT INTO cc3 VALUES (-5)") }
    c.sql("INSERT INTO cc3 VALUES (5)")
    assert(c.sql("SELECT count(*) AS n FROM cc3")
      .collect().head.getLong(0) == 1L)
    // non-CHECK constraint flavors refuse loudly (ours by name when
    // the parser accepts the flavor, the parser's own error otherwise)
    val e2 = intercept[Exception] {
      c.sql("CREATE TABLE cc4 (k BIGINT, CONSTRAINT pk PRIMARY KEY (k))")
        .collect() }
    assert(e2.getMessage.contains("only CHECK constraints") ||
      e2.isInstanceOf[org.apache.spark.sql.catalyst.parser.ParseException])
    assert(!c.tableExists("cc4"))
  }

  // -------------------------------------------------- show partitions

  test("SHOW PARTITIONS lists tuples from manifest stats; fallback covers pre-spec files") {
    val c = freshConn()
    c.sql("CREATE TABLE spt (id BIGINT, yr INT, b BIGINT) " +
      "PARTITIONED BY (yr, bucket(2, b))")
    c.sql("INSERT INTO spt SELECT id, 1995 + CAST(id % 2 AS INT), id " +
      "FROM range(40)")
    val got = c.sql("SHOW PARTITIONS spt")
      .collect().map(_.getString(0)).toSeq
    // every tuple is yr=<y>/bucket(2, b)=<0|1>, all four combos present
    assert(got.size == 4 && got == got.sorted)
    assert(got.forall(_.matches("yr=199[56]/bucket\\(2, b\\)=[01]")))
    // PARTITION filter on an identity column
    val f = c.sql("SHOW PARTITIONS spt PARTITION (yr = 1995)")
      .collect().map(_.getString(0)).toSeq
    assert(f.size == 2 && f.forall(_.startsWith("yr=1995/")))
    // filter on a transform column refuses with a named message
    val e = intercept[IllegalArgumentException] {
      c.sql("SHOW PARTITIONS spt PARTITION (b = 3)") }
    assert(e.getMessage.contains("IDENTITY partition column"))
    // the filter value canonicalizes through the column type + the
    // tuple formatter: alternate spellings of the same value match
    // (a literal-text compare would silently return zero rows)
    Seq("1995.0", "'01995'", "'1995'").foreach { v =>
      assert(c.sql(s"SHOW PARTITIONS spt PARTITION (yr = $v)")
        .collect().map(_.getString(0)).toSeq == f,
        s"spelling $v did not canonicalize")
    }
    // an un-castable value refuses (same rule as TRUNCATE/INSERT
    // PARTITION), never a silent empty result
    val e2 = intercept[IllegalArgumentException] {
      c.sql("SHOW PARTITIONS spt PARTITION (yr = 'abc')") }
    assert(e2.getMessage.contains("does not cast"))
    // pre-spec files have no transform stats → the bounded read
    // fallback classifies them; post-spec files answer from stats
    c.sql("CREATE TABLE spl AS SELECT id, CAST(1990 + id % 2 AS INT) " +
      "AS yr FROM range(10)")
    c.loadTable("spl").setPartitionSpec(
      Seq(PartitionField("identity", "yr", 0)))
    c.sql("INSERT INTO spl SELECT id, CAST(1992 AS INT) FROM range(5)")
    assert(c.sql("SHOW PARTITIONS spl")
      .collect().map(_.getString(0)).toSeq ==
      Seq("yr=1990", "yr=1991", "yr=1992"))
  }

  // ---------------------------------------------- rewrites in CTEs

  test("meta tables and time travel rewrite inside CTE bodies") {
    // CTE definitions are innerChildren of UnresolvedWith — no plan
    // transform walks them, so the rewrites recurse explicitly; these
    // pin that `WITH x AS (…rewritten relation…)` works end to end
    val c = freshConn()
    c.createTable("cte_t", Seq((1L, "a")).toDF("id", "v"))
    val s1 = c.getCurrentSnapshotId("cte_t").get
    c.sql("INSERT INTO cte_t VALUES (2, 'b')")
    assert(c.sql("WITH h AS (SELECT snapshot_id FROM `cte_t$snapshots`) " +
      "SELECT count(*) AS n FROM h").collect().head.getLong(0) == 2L)
    assert(c.sql(s"WITH o AS (SELECT id FROM cte_t VERSION AS OF $s1) " +
      "SELECT count(*) AS n FROM o").collect().head.getLong(0) == 1L)
    // every kind in ONE plan: a default.-qualified time-travel relation
    // in a scalar subquery in a CTE body, joined to a view and to a
    // metadata table
    c.sql("CREATE VIEW cte_v AS SELECT id FROM cte_t")
    val mixed = c.sql(
      s"""WITH o AS (SELECT id, (SELECT count(*) FROM default.cte_t
         |  VERSION AS OF $s1) AS n1 FROM cte_t)
         |SELECT o.id, o.n1, s.snapshot_id FROM o
         |JOIN cte_v v ON o.id = v.id
         |JOIN `cte_t$$snapshots` s ON o.id = s.snapshot_id
         |ORDER BY o.id""".stripMargin)
      .as[(Long, Long, Long)].collect().toSeq
    assert(mixed == Seq((1L, 1L, 1L), (2L, 1L, 2L)), mixed.toString)
  }

  // ------------------------------------------------ replace (cols)

  test("REPLACE TABLE (cols) atomically re-declares a populated table") {
    val c = freshConn()
    c.createTable("rp", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    c.sql("ALTER TABLE rp SET TBLPROPERTIES ('keep'='no')")
    val pre = c.getCurrentSnapshotId("rp").get
    val r = c.sql("REPLACE TABLE rp (k INT, d DOUBLE DEFAULT 1.5, " +
      "yr INT) PARTITIONED BY (yr) TBLPROPERTIES ('team'='x')")
      .collect().head
    assert(r.schema.fieldNames.contains("snapshot_id"))
    val t = c.loadTable("rp")
    assert(t.schema.fieldNames.toSeq == Seq("k", "d", "yr"))
    assert(c.count("rp") == 0L)
    // declared DEFAULT is live (write-default fills the omitted col)
    c.sql("INSERT INTO rp (k, yr) VALUES (1, 1995)")
    assert(c.sql("SELECT d FROM rp").collect().head.getDouble(0) == 1.5)
    // user properties RESET to the declared TBLPROPERTIES
    assert(t.userProperties() == Map("team" -> "x"))
    // the redeclared spec governs the new payload
    assert(t.partitionSpec.map(f => (f.kind, f.column)) ==
      Seq(("identity", "yr")))
    // pre-replace rows stay travelable
    assert(c.sql(s"SELECT count(*) AS n FROM rp VERSION AS OF $pre")
      .collect().head.getLong(0) == 2L)
    // plain REPLACE refuses on a missing table; OR CREATE creates
    val e = intercept[IllegalArgumentException] {
      c.sql("REPLACE TABLE nope (id BIGINT)") }
    assert(e.getMessage.contains("not found"))
    c.sql("CREATE OR REPLACE TABLE rp2 (id BIGINT)")
    assert(c.tableExists("rp2") && c.count("rp2") == 0L)
    assert(t.validate().isEmpty)
  }

  // ------------------------------------------------------ analyze

  test("ANALYZE TABLE: manifest-only table stats; column stats match direct aggregates") {
    val c = freshConn()
    c.createTable("an", Seq((1L, Some("a")), (2L, None), (3L, Some("c")),
      (4L, Some("a"))).toDF("id", "s"))
    // table-level: answered from manifests (metaCount), no scan
    val r = c.sql("ANALYZE TABLE an COMPUTE STATISTICS").collect().head
    assert(r.getAs[String]("procedure") == "analyze_table")
    val detail = r.getAs[String]("detail")
    assert(detail.contains("rows=4") && detail.contains("source=manifest"),
      detail)
    // column-level: min/max/null_count/row_count equal the direct
    // aggregates (the advisor's readback contract); ndv is approx but
    // exact at this cardinality
    val rows = c.sql(
      "ANALYZE TABLE an COMPUTE STATISTICS FOR COLUMNS id, s")
      .collect().map(x => (x.getString(0), x.getString(1), x.getString(2),
        x.getLong(3), x.getLong(4), x.getLong(5))).toSeq
    assert(rows == Seq(
      ("id", "1", "4", 0L, 4L, 4L),
      ("s", "a", "c", 1L, 2L, 4L)), rows.toString)
    // FOR ALL COLUMNS covers every atomic column
    assert(c.sql("ANALYZE TABLE an COMPUTE STATISTICS FOR ALL COLUMNS")
      .collect().map(_.getString(0)).toSeq == Seq("id", "s"))
    // stats respect MOR tombstones / DML (the scan path reads the
    // LIVE relation, not raw files)
    c.sql("DELETE FROM an WHERE id = 4")
    val r2 = c.sql("ANALYZE TABLE an COMPUTE STATISTICS FOR COLUMNS id")
      .collect().head
    assert(r2.getString(2) == "3" && r2.getLong(5) == 3L)
  }

  // ------------------------------------------------ comment on table

  test("COMMENT ON TABLE sets/unsets the comment property") {
    val c = freshConn()
    c.createTable("cmt", Seq(1L).toDF("id"))
    val r = c.sql("COMMENT ON TABLE cmt IS 'hello'").collect().head
    assert(r.schema.fieldNames.contains("snapshot_id"))
    assert(c.sql("SHOW TBLPROPERTIES cmt ('comment')")
      .collect().head.getString(1) == "hello")
    c.sql("COMMENT ON TABLE cmt IS NULL")
    assert(c.loadTable("cmt").userProperties().isEmpty)
    // IS NULL on a never-commented table is a no-op commit, not an error
    c.sql("COMMENT ON TABLE cmt IS NULL").collect()
  }

  // ------------------------------------------- qualified names (r19)

  test("default.-qualified names denote warehouse entities (r19)") {
    val c = freshConn()
    c.createTable("qn", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))

    // reads: bare, qualified, meta table, time travel, subquery
    assert(c.sql("SELECT count(*) AS n FROM default.qn")
      .collect().head.getLong(0) == 2L)
    assert(c.sql("SELECT count(*) AS n FROM DEFAULT.qn")
      .collect().head.getLong(0) == 2L)
    assert(c.sql("SELECT count(*) AS n FROM default.`qn$snapshots`")
      .collect().head.getLong(0) == 1L)
    val s1 = c.getCurrentSnapshotId("qn").get
    c.sql("INSERT INTO default.qn VALUES (3, 'c')")
    assert(c.sql(s"SELECT count(*) AS n FROM default.qn " +
      s"VERSION AS OF $s1").collect().head.getLong(0) == 2L)
    assert(c.sql("SELECT (SELECT count(*) FROM default.qn) AS n")
      .collect().head.getLong(0) == 3L)
    assert(c.sql("WITH w AS (SELECT * FROM default.qn) " +
      "SELECT count(*) AS n FROM w").collect().head.getLong(0) == 3L)

    // DML + DDL: qualified spellings route (snapshot_id shape)
    Seq(
      "UPDATE default.qn SET v = 'q' WHERE id = 3",
      "DELETE FROM default.qn WHERE id = 3",
      "ALTER TABLE default.qn ADD COLUMN z INT",
      "ALTER TABLE default.qn DROP COLUMN z",
      "ALTER TABLE default.qn SET TBLPROPERTIES ('a'='1')",
      "COMMENT ON TABLE default.qn IS 'x'"
    ).foreach { stmt =>
      assert(c.sql(stmt).schema.fieldNames.contains("snapshot_id"),
        s"expected routed result from: $stmt")
    }
    // CTAS/CREATE with the qualifier create WAREHOUSE tables
    c.sql("CREATE TABLE default.qn2 AS SELECT * FROM default.qn")
    assert(c.tableExists("qn2") && c.count("qn2") == 2L)
    c.sql("CREATE TABLE default.qn3 (id BIGINT, v STRING)")
    assert(c.tableExists("qn3"))
    c.sql("DROP TABLE default.qn3")
    assert(!c.tableExists("qn3"))
    c.sql("ALTER TABLE default.qn2 RENAME TO default.qn4")
    assert(c.tableExists("qn4") && !c.tableExists("qn2"))
    // CALL spells it too
    assert(c.sql("CALL checkpoint('default.qn4')").collect()
      .head.getString(1) == "qn4")

    // views: create/read/drop under the qualifier
    c.sql("CREATE VIEW default.qv AS SELECT id FROM default.qn")
    assert(c.views.contains("qv"))
    assert(c.sql("SELECT count(*) AS n FROM default.qv")
      .collect().head.getLong(0) == 2L)
    assert(intercept[IllegalArgumentException] {
      c.sql("INSERT INTO default.qv VALUES (9)") }
      .getMessage.contains("VIEW"))
    c.sql("DROP VIEW default.qv")
    assert(!c.views.contains("qv"))

    // any OTHER qualifier refuses loudly through Spark's own
    // resolution — never a silent bind to something else
    assert(intercept[Exception] {
      c.sql("SELECT * FROM nope.qn").collect() } != null)
    assert(intercept[Exception] {
      c.sql("DELETE FROM nope.qn") } != null)
    // a default.x that is NOT ours keeps Spark's loud not-found too
    assert(intercept[Exception] {
      c.sql("SELECT * FROM default.absent").collect() } != null)
  }
}
