package graft

import java.nio.file.Files

import graft.warehouse.Connector
import org.scalatest.funsuite.AnyFunSuite

/** Persistent SQL views (r18): CREATE/DROP/ALTER VIEW over warehouse
  * tables as warehouse-persisted artifacts — late-bound SQL text plus
  * a creation-time schema pin (SCHEMA COMPENSATION by default). */
class ViewSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshWh(): String =
    Files.createTempDirectory("graft-view-").toString

  test("CREATE VIEW: reads through, late-bound, survives a NEW Connector") {
    val wh = freshWh()
    val c = new Connector(spark, wh)
    c.createTable("t", Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0))
      .toDF("id", "k", "x"))
    val r = c.sql("CREATE VIEW big AS SELECT id, x FROM t WHERE x >= 20")
      .collect().head
    assert(r.getAs[String]("procedure") == "create_view")
    assert(c.views == Seq("big"))
    assert(c.sql("SELECT id FROM big ORDER BY id")
      .as[Long].collect().toSeq == Seq(2L, 3L))
    // LATE-BOUND: a commit under the view is visible immediately
    c.sql("INSERT INTO t VALUES (4, 'c', 40.0)")
    assert(c.sql("SELECT count(*) AS n FROM big")
      .collect().head.getLong(0) == 3L)
    // PERSISTENCE: a brand-new Connector on the same warehouse serves
    // the same view (the reference's DuckDB session views die with
    // the process)
    val c2 = new Connector(spark, wh)
    assert(c2.views == Seq("big"))
    assert(c2.sql("SELECT count(*) AS n FROM big")
      .collect().head.getLong(0) == 3L)
    // views compose: in a join, a subquery, and as a DML source
    assert(c2.sql("SELECT count(*) AS n FROM big b JOIN t ON b.id = t.id")
      .collect().head.getLong(0) == 3L)
    c2.sql("CREATE TABLE t2 AS SELECT * FROM big")
    assert(c2.count("t2") == 3L)
    c2.sql("INSERT INTO t2 SELECT * FROM big WHERE id = 2")
    assert(c2.count("t2") == 4L)
  }

  test("CREATE VIEW lifecycle: OR REPLACE, IF NOT EXISTS, duplicate, drop") {
    val c = new Connector(spark, freshWh())
    c.createTable("t", Seq((1L, 5.0)).toDF("id", "x"))
    c.sql("CREATE VIEW v AS SELECT id FROM t")
    // duplicate refuses with a named message
    val e = intercept[IllegalArgumentException] {
      c.sql("CREATE VIEW v AS SELECT x FROM t") }
    assert(e.getMessage.contains("already exists"))
    // IF NOT EXISTS no-ops
    assert(c.sql("CREATE VIEW IF NOT EXISTS v AS SELECT x FROM t")
      .collect().head.getAs[String]("detail").contains("no-op"))
    assert(c.sql("SELECT * FROM v").columns.toSeq == Seq("id"))
    // OR REPLACE redefines
    c.sql("CREATE OR REPLACE VIEW v AS SELECT x FROM t")
    assert(c.sql("SELECT * FROM v").columns.toSeq == Seq("x"))
    // ALTER VIEW … AS redefines too
    c.sql("ALTER VIEW v AS SELECT id, x FROM t")
    assert(c.sql("SELECT * FROM v").columns.toSeq == Seq("id", "x"))
    // DROP VIEW removes the definition; the name refuses afterwards
    c.sql("DROP VIEW v")
    assert(c.views.isEmpty)
    assert(intercept[Exception] {
      c.sql("SELECT * FROM v").collect() } != null)
    // a definition that does not resolve refuses AT CREATE, and
    // nothing is stored
    intercept[Exception] { c.sql("CREATE VIEW bad AS SELECT nope FROM t") }
    assert(c.views.isEmpty)
  }

  test("schema compensation pins the creation-time output shape") {
    val c = new Connector(spark, freshWh())
    c.createTable("t", Seq((1, "a")).toDF("id", "k"))
    c.sql("CREATE VIEW vstar AS SELECT * FROM t")
    // the table gains a column: the SELECT * view keeps its recorded
    // two-column shape (Spark/Postgres view semantics)
    c.sql("ALTER TABLE t ADD COLUMN z INT DEFAULT 7")
    assert(c.sql("SELECT * FROM vstar").columns.toSeq == Seq("id", "k"))
    // the underlying type widens: the view casts back to its recorded
    // INT (compensation), so downstream consumers keep their contract
    c.loadTable("t").widenColumn("id",
      org.apache.spark.sql.types.LongType)
    assert(c.sql("SELECT * FROM vstar").schema("id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // WITH SCHEMA EVOLUTION opts out: the view adopts the live shape
    c.sql("CREATE OR REPLACE VIEW vevo WITH SCHEMA EVOLUTION AS " +
      "SELECT * FROM t")
    assert(c.sql("SELECT * FROM vevo").columns.toSeq ==
      Seq("id", "k", "z"))
    c.sql("ALTER TABLE t ADD COLUMN w INT")
    assert(c.sql("SELECT * FROM vevo").columns.toSeq ==
      Seq("id", "k", "z", "w"))
    // a recorded column going missing refuses with a drift message
    // naming the view, never a silently different shape
    c.sql("ALTER TABLE t DROP COLUMN k")
    val e = intercept[Exception] { c.sql("SELECT * FROM vstar").collect() }
    assert(e.getMessage.contains("vstar") &&
      e.getMessage.contains("drift"), e.getMessage)
  }

  test("column list, nested views, cycle refusal") {
    val c = new Connector(spark, freshWh())
    c.createTable("t", Seq((1L, 2.0), (2L, 4.0)).toDF("id", "x"))
    c.sql("CREATE VIEW v1 (key, doubled) AS SELECT id, x * 2 FROM t")
    assert(c.sql("SELECT * FROM v1").columns.toSeq ==
      Seq("key", "doubled"))
    // nested: a view over a view
    c.sql("CREATE VIEW v2 AS SELECT key FROM v1 WHERE doubled > 4")
    assert(c.sql("SELECT * FROM v2").as[Long].collect().toSeq == Seq(2L))
    // arity mismatch refuses at create
    val e = intercept[IllegalArgumentException] {
      c.sql("CREATE VIEW v3 (a, b, c) AS SELECT id FROM t") }
    assert(e.getMessage.contains("column name"))
    // duplicate output names refuse at create (the compensation
    // projection would be ambiguous at every later read)
    val ed = intercept[IllegalArgumentException] {
      c.sql("CREATE VIEW v3 AS SELECT id, x AS id FROM t") }
    assert(ed.getMessage.contains("duplicate"))
    // self-reference refuses at create (OR REPLACE would make v1
    // recursive through its stored definition)
    val e2 = intercept[IllegalArgumentException] {
      c.sql("CREATE OR REPLACE VIEW v1 AS SELECT key FROM v1") }
    assert(e2.getMessage.contains("circular"))
    // a two-step cycle refuses too: v2 reads v1, so redefining v1
    // over v2 closes a loop
    val e3 = intercept[IllegalArgumentException] {
      c.sql("CREATE OR REPLACE VIEW v1 AS SELECT key AS id, " +
        "1.0 AS x FROM v2") }
    assert(e3.getMessage.contains("circular"))
  }

  test("a CTE shadows a same-named persistent view (SQL scoping)") {
    val c = new Connector(spark, freshWh())
    c.createTable("t", Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x"))
    c.sql("CREATE VIEW v AS SELECT id FROM t WHERE x > 15")
    // the statement's OWN CTE named v wins over the stored view
    assert(c.sql("WITH v AS (SELECT id FROM t) SELECT count(*) AS n " +
      "FROM v").collect().head.getLong(0) == 2L)
    // case-insensitively, like Catalyst's CTE resolution
    assert(c.sql("WITH V AS (SELECT id FROM t) SELECT count(*) AS n " +
      "FROM v").collect().head.getLong(0) == 2L)
    // without the CTE the view still serves
    assert(c.sql("SELECT count(*) AS n FROM v")
      .collect().head.getLong(0) == 1L)
    // and a CTE can READ the view under a different name
    assert(c.sql("WITH w AS (SELECT * FROM v) SELECT count(*) AS n " +
      "FROM w").collect().head.getLong(0) == 1L)
    // the shadow covers every warehouse spelling of a TABLE name too:
    // time travel over the CTE is Spark's to refuse (it never pins the
    // warehouse table), and a CTE spelled `t$snapshots` is read as-is
    val s1 = c.getCurrentSnapshotId("t").get
    val tt = intercept[Exception] {
      c.sql(s"WITH t AS (SELECT 1 AS id) SELECT * FROM t VERSION AS OF $s1")
        .collect() }
    assert(tt.getMessage.toLowerCase.contains("time travel"), tt.getMessage)
    assert(c.sql("WITH `t$snapshots` AS (SELECT 7L AS snapshot_id) " +
      "SELECT snapshot_id FROM `t$snapshots`").as[Long].collect().toSeq ==
      Seq(7L))
  }

  test("time travel composes INSIDE a view and refuses OVER a view") {
    val c = new Connector(spark, freshWh())
    c.createTable("t", Seq((1L, "a")).toDF("id", "v"))
    val s1 = c.getCurrentSnapshotId("t").get
    c.sql("INSERT INTO t VALUES (2, 'b')")
    // the pinned cut lives INSIDE the view's stored text
    c.sql(s"CREATE VIEW asof AS SELECT id FROM t VERSION AS OF $s1")
    assert(c.sql("SELECT count(*) AS n FROM asof")
      .collect().head.getLong(0) == 1L)
    // ... and stays pinned as the table keeps moving
    c.sql("INSERT INTO t VALUES (3, 'c')")
    assert(c.sql("SELECT count(*) AS n FROM asof")
      .collect().head.getLong(0) == 1L)
    // a view is not a snapshot object: travel OVER it refuses
    val e = intercept[IllegalArgumentException] {
      c.sql("SELECT * FROM asof VERSION AS OF 1").collect() }
    assert(e.getMessage.contains("VIEW"))
    // a view over a METADATA table works (the rewrites compose)
    c.sql("CREATE VIEW hist AS SELECT snapshot_id FROM `t$snapshots`")
    assert(c.sql("SELECT count(*) AS n FROM hist")
      .collect().head.getLong(0) == 3L)
  }

  test("views are not DML/DDL-table targets; namespaces stay disjoint") {
    val wh = freshWh()
    val c = new Connector(spark, wh)
    c.createTable("t", Seq((1L, "a")).toDF("id", "v"))
    c.sql("CREATE VIEW v AS SELECT id FROM t")
    def refusal(stmt: String, frag: String): Unit = {
      val e = intercept[IllegalArgumentException] { c.sql(stmt).collect() }
      assert(e.getMessage.contains(frag), s"$stmt → ${e.getMessage}")
    }
    refusal("INSERT INTO v VALUES (9)", "VIEW")
    refusal("UPDATE v SET id = 9", "VIEW")
    refusal("DELETE FROM v", "VIEW")
    refusal("TRUNCATE TABLE v", "VIEW")
    refusal("DROP TABLE v", "DROP VIEW")
    refusal("CREATE TABLE v (id BIGINT)", "view already spells")
    refusal("CREATE TABLE v AS SELECT 1 AS x", "view already spells")
    refusal("ALTER VIEW t AS SELECT 1", "warehouse TABLE")
    // API-side collisions
    assert(intercept[IllegalArgumentException] {
      c.createTable("v", Seq(1L).toDF("id"))
    }.getMessage.contains("VIEW"))
    // leading-underscore table names are reserved (the `_views` store
    // lives in the same namespace directory)
    assert(intercept[IllegalArgumentException] {
      c.createTable("_views", Seq(1L).toDF("id"))
    }.getMessage.contains("reserved"))
    c.createTable("u", Seq(1L).toDF("id"))
    assert(intercept[IllegalArgumentException] {
      c.renameTable("u", "v")
    }.getMessage.contains("VIEW"))
    // rename of the VIEW itself
    c.sql("ALTER VIEW v RENAME TO v9")
    assert(c.views == Seq("v9") &&
      c.sql("SELECT count(*) AS n FROM v9").collect().head.getLong(0) == 1L)
    // DROP VIEW on a table name still refuses; DROP TABLE intact
    refusal("DROP VIEW t", "warehouse TABLE")
    c.sql("DROP TABLE u")
    assert(c.tables == Seq("t"))
  }

  test("SHOW VIEWS lists persistent views; SHOW CREATE TABLE round-trips one") {
    val wh = freshWh()
    val c = new Connector(spark, wh)
    c.createTable("t", Seq((1L, 2.0)).toDF("id", "x"))
    c.sql("CREATE VIEW va AS SELECT id FROM t")
    c.sql("CREATE VIEW vb (key) AS SELECT id FROM t WHERE x > 1")
    val shown = c.sql("SHOW VIEWS").collect()
      .filter(!_.getAs[Boolean]("isTemporary"))
      .map(_.getAs[String]("viewName")).toSeq.sorted
    assert(shown == Seq("va", "vb"))
    assert(c.sql("SHOW VIEWS LIKE 'v*'").collect()
      .filter(!_.getAs[Boolean]("isTemporary")).length == 2)
    assert(c.sql("SHOW VIEWS LIKE 'va'").collect()
      .filter(!_.getAs[Boolean]("isTemporary")).length == 1)
    // the emitted DDL re-executes in a FRESH warehouse and reproduces
    // the view (given the same underlying table)
    val ddl = c.sql("SHOW CREATE TABLE vb").collect().head.getString(0)
    assert(ddl.startsWith("CREATE VIEW `vb` (`key`) AS "))
    val wh2 = freshWh()
    val c2 = new Connector(spark, wh2)
    c2.createTable("t", Seq((1L, 2.0), (2L, 0.5)).toDF("id", "x"))
    c2.sql(ddl)
    assert(c2.sql("SELECT * FROM vb").as[Long].collect().toSeq == Seq(1L))
    // non-default schema mode + comment survive the roundtrip text
    c.sql("CREATE VIEW vc COMMENT 'c''s view' WITH SCHEMA EVOLUTION " +
      "AS SELECT id FROM t")
    val ddl2 = c.sql("SHOW CREATE TABLE vc").collect().head.getString(0)
    assert(ddl2.contains("COMMENT 'c''s view'") &&
      ddl2.contains("WITH SCHEMA EVOLUTION"), ddl2)
    c2.sql(ddl2)
    assert(c2.sql("SELECT * FROM vc").columns.toSeq == Seq("id"))
    // DESCRIBE answers from the recorded schema; EXTENDED carries the
    // view text and mode (SELECT working while DESCRIBE said "not
    // found" would be an inconsistent surface)
    assert(c.sql("DESCRIBE vb").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("key", "bigint")))
    val ext = c.sql("DESCRIBE EXTENDED vc").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(ext.get("Type").contains("VIEW") &&
      ext.get("Schema Mode").contains("evolution") &&
      ext.get("View Text").exists(_.contains("SELECT id FROM t")))
  }

  test("view names are case-insensitive, like Spark SQL identifiers (r19)") {
    val c = new Connector(spark, freshWh())
    c.createTable("t", Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x"))
    // created under one spelling, readable under any — ONE entity
    c.sql("CREATE VIEW V_Big AS SELECT id FROM t WHERE x > 15")
    assert(c.views == Seq("v_big")) // canonical (lowercase) listing
    assert(c.sql("SELECT count(*) AS n FROM v_big")
      .collect().head.getLong(0) == 1L)
    assert(c.sql("SELECT count(*) AS n FROM V_BIG")
      .collect().head.getLong(0) == 1L)
    // a second case-variant create is a DUPLICATE, not a sibling
    val e = intercept[IllegalArgumentException] {
      c.sql("CREATE VIEW v_BIG AS SELECT x FROM t") }
    assert(e.getMessage.contains("already exists"))
    // cross-namespace guards compare case-insensitively too
    assert(intercept[IllegalArgumentException] {
      c.sql("CREATE VIEW T AS SELECT 1 AS one")
    }.getMessage.contains("TABLE"))
    assert(intercept[IllegalArgumentException] {
      c.createTable("V_big", Seq(1L).toDF("id"))
    }.getMessage.contains("VIEW"))
    c.createTable("u", Seq(1L).toDF("id"))
    assert(intercept[IllegalArgumentException] {
      c.renameTable("u", "V_BIG")
    }.getMessage.contains("VIEW"))
    // DROP under a different spelling drops the one entity
    c.sql("DROP VIEW V_biG")
    assert(c.views.isEmpty)
  }

  test("ALTER VIEW AS keeps schema mode + comment; RENAME is one move (r19)") {
    val c = new Connector(spark, freshWh())
    c.createTable("t", Seq((1, "a")).toDF("id", "k"))
    c.sql("CREATE VIEW ve COMMENT 'doc' WITH SCHEMA EVOLUTION AS " +
      "SELECT * FROM t")
    // redefinition carries the stored mode and comment — it must not
    // silently flip evolution back to compensation or drop the doc
    c.sql("ALTER VIEW ve AS SELECT * FROM t WHERE id > 0")
    val ddl = c.sql("SHOW CREATE TABLE ve").collect().head.getString(0)
    assert(ddl.contains("WITH SCHEMA EVOLUTION") &&
      ddl.contains("COMMENT 'doc'"), ddl)
    // and the redefined view still EVOLVES with the table
    c.sql("ALTER TABLE t ADD COLUMN z INT DEFAULT 7")
    assert(c.sql("SELECT * FROM ve").columns.toSeq == Seq("id", "k", "z"))
    // rename: the definition moves (atomically — one Files.move), the
    // old name is gone, behavior travels
    c.sql("ALTER VIEW ve RENAME TO we")
    assert(c.views == Seq("we"))
    assert(c.sql("SELECT * FROM we").columns.toSeq == Seq("id", "k", "z"))
    // destination guard is case-insensitive against tables
    c.sql("CREATE VIEW ve2 AS SELECT id FROM t")
    assert(intercept[IllegalArgumentException] {
      c.sql("ALTER VIEW ve2 RENAME TO T") }
      .getMessage.contains("already exists"))
    // a table cannot rename INTO a reserved metadata-store name
    c.createTable("u", Seq(1L).toDF("id"))
    assert(intercept[IllegalArgumentException] {
      c.renameTable("u", "_views") }
      .getMessage.contains("reserved"))
  }

  test("CTE shadow is scoped to its WITH subtree, not the statement (r19)") {
    val c = new Connector(spark, freshWh())
    c.createTable("t", Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x"))
    c.sql("CREATE VIEW v AS SELECT id FROM t WHERE x > 15")
    // one statement, two scopes: the scalar subquery's WITH defines
    // its own v (2 rows), while the outer FROM v still reads the
    // stored view (1 row) — whole-statement shadowing would have
    // failed the outer reference as unresolved
    val r = c.sql(
      """SELECT (WITH v AS (SELECT id FROM t) SELECT count(*) FROM v)
        |  AS cte_n, count(*) AS view_n FROM v""".stripMargin)
      .collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 1L, r.toString)
    // sibling subqueries: the CTE in one arm does not block the view
    // in the other
    val r2 = c.sql(
      """SELECT
        |  (WITH v AS (SELECT 1 AS one) SELECT count(*) FROM v) AS a,
        |  (SELECT count(*) FROM v) AS b""".stripMargin).collect().head
    assert(r2.getLong(0) == 1L && r2.getLong(1) == 1L, r2.toString)
  }

  test("a view over a dropped table refuses with the view's name") {
    val c = new Connector(spark, freshWh())
    c.createTable("t", Seq(1L).toDF("id"))
    c.sql("CREATE VIEW v AS SELECT id FROM t")
    c.sql("DROP TABLE t")
    val e = intercept[Exception] { c.sql("SELECT * FROM v").collect() }
    assert(e.getMessage.contains("view v"), e.getMessage)
    // recovery: recreate the table, the view resolves again
    c.createTable("t", Seq(7L).toDF("id"))
    assert(c.sql("SELECT * FROM v").as[Long].collect().toSeq == Seq(7L))
  }
}
