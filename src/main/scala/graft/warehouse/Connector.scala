package graft.warehouse

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Warehouse connector — the Spark-native equivalent of the reference's
  * `IceRunnerConnector` (`icerunner.py:49-259`): catalog bootstrap, table
  * create/append, full scan, count, raw SQL, snapshot ids, changes-since.
  *
  * Differences by design (SURVEY.md §4):
  *  - views are registered lazily, re-reflected only when a statement
  *    names a table whose head moved, not before every query
  *    (`icerunner.py:82-103` does O(#tables) DDL per query);
  *  - `sql()` goes through Catalyst, which supplies the whole §2B
  *    relational surface;
  *  - changes-since reads only the files committed after the snapshot
  *    (no join, no duplicates — fixes `icerunner.py:243-252`).
  *
  * One namespace ("default"), like the reference (`icerunner.py:44`).
  */
final class Connector(val spark: SparkSession, warehousePath: String) {
  private val root: Path = Paths.get(warehousePath).resolve("default")
  Files.createDirectories(root)

  private def tableDir(name: String): Path = root.resolve(name)
  private val viewsDir: Path = root.resolve("_views")

  /** Persistent SQL view names (r18; definitions re-plan per query —
    * see [[ViewDef]]). The `_views` store directory carries no
    * `_snapshots`, so [[tables]] never lists it. */
  def views: Seq[String] = ViewStore.list(viewsDir)

  def viewExists(name: String): Boolean = ViewStore.exists(viewsDir, name)

  private val matViewsDir: Path = root.resolve("_matviews")
  private def mvTableDir(name: String): Path =
    matViewsDir.resolve(MatViewStore.canon(name))

  /** Persistent MATERIALIZED VIEW names (r19; stored STATE maintained
    * incrementally — see [[MatViewDef]]). */
  def matViews: Seq[String] = MatViewStore.list(matViewsDir)

  def matViewExists(name: String): Boolean =
    MatViewStore.exists(matViewsDir, name)

  /** List table names in the namespace (reference: `tables`,
    * `icerunner.py:105-110`). */
  def tables: Seq[String] = {
    if (!Files.isDirectory(root)) return Seq.empty
    val listing = Files.list(root) // close: fd leak otherwise
    try listing.iterator().asScala
      .filter(p => Files.isDirectory(p.resolve("_snapshots")))
      .map(_.getFileName.toString).toSeq.sorted
    finally listing.close()
  }

  def tableExists(name: String): Boolean =
    GraftTable.load(spark, tableDir(name), name).isDefined

  /** Case-insensitive table existence — the CROSS-NAMESPACE guards
    * (view/table name collisions) compare the way Spark SQL resolves
    * identifiers, not the way the filesystem spells directories. One
    * directory listing; used only on DDL paths. */
  private def tableExistsCI(name: String): Boolean =
    tableExists(name) || tables.exists(_.equalsIgnoreCase(name))

  def loadTable(name: String): GraftTable =
    GraftTable.load(spark, tableDir(name), name)
      .getOrElse(throw new NoSuchElementException(s"table not found: $name"))

  /** Idempotent create-with-data (reference: `create_table`,
    * `icerunner.py:133-161`). Returns false if it already existed.
    * `properties` land in the create snapshot's summary (txn markers
    * for exactly-once streaming sinks — see GraftTable.lastTxnBatch). */
  def createTable(name: String, data: DataFrame,
      properties: Map[String, String] = Map.empty,
      spec: Seq[PartitionField] = Nil): Boolean = {
    // tables and views share the SQL namespace: a table landing under
    // a view's name would shadow it in some statements and not others
    require(!viewExists(name),
      s"create table $name: a persistent VIEW already spells this " +
        "name — DROP VIEW it first (tables and views share the SQL " +
        "namespace)")
    require(!matViewExists(name),
      s"create table $name: a MATERIALIZED VIEW already spells this " +
        "name — DROP MATERIALIZED VIEW it first (the SQL namespace " +
        "is shared)")
    // leading-underscore names are RESERVED for warehouse-internal
    // stores (`_views` today): a table directory there would collide
    // with them
    require(!name.startsWith("_"),
      s"create table $name: leading-underscore table names are " +
        "reserved for warehouse metadata stores")
    GraftTable.create(spark, tableDir(name), name, data, properties, spec)
      .isDefined
  }

  /** Transactional append (reference: `insert`, `icerunner.py:163-178`). */
  def insert(name: String, data: DataFrame,
      properties: Map[String, String] = Map.empty): Boolean = {
    loadTable(name).append(data, properties = properties)
    true
  }

  /** Copy-on-write MERGE INTO by key (parity-plus: the reference is
    * insert-only). Matching rows replace, new keys insert; see
    * [[GraftTable.upsert]] for the file-targeted rewrite contract. */
  def upsert(name: String, data: DataFrame, keyCols: Seq[String],
      statsCols: Seq[String] = Nil): Boolean = {
    // default the rewrite's stats to the key columns: a rewritten file
    // with no stats would be unprunable for every future readWhere —
    // the silent regression the compact path also guards against
    loadTable(name).upsert(data, keyCols,
      if (statsCols.nonEmpty) statsCols else keyCols)
    true
  }

  /** Full conditional MERGE (parity-plus): [[upsert]] plus a
    * when-matched-DELETE arm evaluated against the incoming row —
    * the one-commit CDC apply (see [[GraftTable.merge]]). */
  def merge(name: String, data: DataFrame, keyCols: Seq[String],
      whenMatchedDelete: org.apache.spark.sql.Column,
      statsCols: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty,
      whenNotMatchedBySourceDelete: Option[org.apache.spark.sql.Column] = None)
      : Boolean = {
    loadTable(name).merge(data, keyCols, whenMatchedDelete,
      if (statsCols.nonEmpty) statsCols else keyCols, properties,
      whenNotMatchedBySourceDelete)
    true
  }

  /** Copy-on-write DELETE of rows matching `cond` (parity-plus). */
  def delete(name: String, cond: org.apache.spark.sql.Column): Boolean = {
    loadTable(name).deleteWhere(cond)
    true
  }

  /** Atomic full-content replacement (see [[GraftTable.replace]]) — the
    * transactional alternative to drop+create when a table must be
    * rebuilt in place (mirror changelog apply): one CAS commit swaps
    * the visible set, readers never observe a missing table. */
  def replaceTable(name: String, data: DataFrame): Boolean = {
    loadTable(name).replace(data)
    true
  }

  /** Full scan (reference: `query`, `icerunner.py:180-188`). */
  def query(name: String): DataFrame = loadTable(name).read()

  /** Metadata inspection (parity-plus over the reference's PyIceberg
    * `table.snapshots()` walks): `inspect(t, "snapshots")` — commit
    * history; `inspect(t, "files")` — visible files with row counts
    * and recorded skipping indexes. Manifest-only; no data read. */
  def inspect(name: String, kind: String): DataFrame = kind match {
    case "snapshots"  => loadTable(name).snapshotsDf
    case "history"    => loadTable(name).historyDf
    case "manifests"  => loadTable(name).manifestsDf
    case "files"      => loadTable(name).filesDf()
    case "partitions" => loadTable(name).partitionsDf()
    case "refs"       => loadTable(name).refsDf
    case "deletes"     => loadTable(name).deletesDf()
    case "constraints" => loadTable(name).constraintsDf
    case "properties"  => loadTable(name).propertiesDf()
    case other => throw new IllegalArgumentException(
      s"unknown metadata table '$other' — use 'snapshots', 'history', " +
        "'manifests', 'files', 'partitions', 'refs', 'deletes', " +
        "'constraints', or 'properties'")
  }

  /** Row count (reference: `count`, `icerunner.py:190-198`): answered
    * from manifest row counts when every visible file recorded one
    * ([[GraftTable.metaCount]] — zero data files opened, no Spark job;
    * the reference pays a full DuckDB scan here), scan fallback
    * otherwise (pre-upgrade manifests). */
  def count(name: String): Long = {
    val t = loadTable(name)
    t.metaCount().getOrElse(t.read().count())
  }

  // ------------------------------------------------------------------
  // MATERIALIZED VIEW statements (r19). Spark's grammar has no
  // MATERIALIZED VIEW verb (and neither does DuckDB's — this is
  // parity-plus), so these three statements are recognized textually;
  // everything INSIDE them — the AS SELECT — parses through Spark's
  // own parser and pattern-matches to the maintainable aggregate
  // shape. This is the ONLY hand-recognized SQL on the surface.
  private val MvCreateRe =
    """(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?MATERIALIZED\s+VIEW\s+(IF\s+NOT\s+EXISTS\s+)?(`[^`]+`|[\w.]+)\s+AS\s+(.+?)\s*;?\s*$""".r
  private val MvRefreshRe =
    """(?is)^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+(`[^`]+`|[\w.]+)\s*;?\s*$""".r
  private val MvDropRe =
    """(?is)^\s*DROP\s+MATERIALIZED\s+VIEW\s+(IF\s+EXISTS\s+)?(`[^`]+`|[\w.]+)\s*;?\s*$""".r
  private val MvShowRe =
    """(?is)^\s*SHOW\s+MATERIALIZED\s+VIEWS\s*;?\s*$""".r
  private val MvRenameRe =
    """(?is)^\s*ALTER\s+MATERIALIZED\s+VIEW\s+(`[^`]+`|[\w.]+)\s+RENAME\s+TO\s+(`[^`]+`|[\w.]+)\s*;?\s*$""".r

  /** Normalize a textual MV name token: strip backquotes, accept the
    * one namespace qualifier, canonicalize case. */
  private def mvNameOf(tok: String): String = {
    val raw = if (tok.startsWith("`")) tok.stripPrefix("`").stripSuffix("`")
      else tok
    val n = stripNs(raw.split("\\.").toSeq).getOrElse(
      throw new IllegalArgumentException(
        s"materialized view name '$raw' is not supported (one " +
          "warehouse namespace, 'default')"))
    ViewStore.requireValidName(n)
    MatViewStore.canon(n)
  }

  private def routeMatView(cmd: String): Option[DataFrame] = cmd match {
    case MvCreateRe(orReplace, ifNotExists, tok, text) =>
      Some(defineMatView(mvNameOf(tok), text.trim,
        replace = orReplace != null, ifNotExists = ifNotExists != null))
    case MvRefreshRe(tok) => Some(refreshMatView(mvNameOf(tok)))
    case MvDropRe(ifExists, tok) =>
      Some(dropMatView(mvNameOf(tok), ifExists = ifExists != null))
    case MvRenameRe(fromTok, toTok) =>
      Some(renameMatView(mvNameOf(fromTok), mvNameOf(toTok)))
    case MvShowRe() =>
      import spark.implicits._
      // staleness from metadata alone: the applied base snapshot vs
      // the base's current head (no tick, no data read); a base that
      // no longer exists (or was recreated — uuid mismatch) reads
      // stale too, since REFRESH would rebuild
      Some(matViews.map { n =>
        val d = MatViewStore.load(matViewsDir, n)
        val applied = scala.util.Try(
          loadMatView(n)._2.appliedSnapshot).getOrElse(0L)
        val head = getCurrentSnapshotId(d.base).getOrElse(0L)
        val fresh = applied != 0L && applied == head &&
          scala.util.Try(loadTable(d.base).tableUuid == d.baseUuid)
            .getOrElse(false)
        (n, d.base, applied, head, !fresh, d.sql)
      }.toDF("mv_name", "base_table", "applied_snapshot",
        "base_head", "is_stale", "definition"))
    case _ => None
  }

  /** Extract the maintainable aggregate shape from the AS SELECT text:
    * ONE warehouse base table, GROUP BY keys (bare columns OR
    * deterministic row-local expressions — r20: the time-bucketed
    * rollup `GROUP BY date_trunc('day', ts)` is the most common real
    * MV), and aliased count(*)/count(c)/sum/min/max/avg select items
    * whose argument is a bare column or such an expression
    * (`sum(qty * price)`). Expressions materialize as DERIVED columns
    * in the backing state and every delta — same abelian algebra.
    * Anything else refuses NOW, naming the shape — a definition the
    * refresh machinery cannot maintain incrementally must never be
    * accepted. Column references resolve case-insensitively and
    * canonicalize to the base schema's spelling (Spark SQL identifier
    * semantics). Returns (base, groupCols, sumCols, minMaxCols,
    * avgCols, nnCols, out alias→canonical pairs, whereSql, derived). */
  private def parseMvShape(name: String, text: String)
      : (String, Seq[String], Seq[String], Seq[String], Seq[String],
         Seq[String], Seq[(String, String)], Option[String],
         Seq[(String, String)], Option[String]) = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias,
      UnresolvedAttribute, UnresolvedFunction, UnresolvedHaving,
      UnresolvedStar}
    import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"CREATE MATERIALIZED VIEW $name: $why — the incrementally " +
        "maintainable shape is SELECT <group keys>, count(*) / " +
        "count(c) / sum(c) / min(c) / max(c) / avg(c) AS <alias> … " +
        "FROM <one warehouse table> [WHERE <row-local predicate>] " +
        "GROUP BY <group keys>, where c and each group key is a bare " +
        "column or a deterministic row-local expression (no JOIN/" +
        "HAVING/DISTINCT/subqueries; use a plain VIEW for those)")
    val p0 = org.apache.spark.sql.GraftSqlBridge.parsePlan(spark, text)
    // HAVING (r20) wraps the aggregate in UnresolvedHaving — peel it
    // here and rewrite its condition AFTER the select items are known
    val (havingCond, p1) = p0 match {
      case UnresolvedHaving(cond, child) => (Some(cond), child)
      case other => (None, other)
    }
    p1 match {
      case Aggregate(groupExprs, aggExprs, rel0, _) =>
        val (rel, whereCond) = rel0 match {
          case f: Filter => (f.child, Some(f.condition))
          case other => (other, None)
        }
        val base = relNameOf(rel).getOrElse(
          fail("FROM must name exactly one warehouse table"))
        if (viewExists(base) || matViewExists(base))
          fail(s"'$base' is a ${if (viewExists(base)) "view"
            else "materialized view"}; materialize over the base TABLE")
        require(tableExists(base),
          s"CREATE MATERIALIZED VIEW $name: base table not found: $base")
        val baseSchema = loadTable(base).schema
        // case-insensitive resolution, canonicalized to the schema's
        // spelling (r20 — Spark resolves identifiers case-insensitively,
        // so `SELECT ST … GROUP BY st` must work)
        def resolveCol(c: String): Option[String] =
          baseSchema.fieldNames.find(_.equalsIgnoreCase(c))
        // Row-local + DETERMINISTIC vetting for expressions the
        // maintainer will re-evaluate per changelog row at every
        // REFRESH (r20, advice): a subquery reads relations whose
        // changes the base's feed never sees; a nondeterministic or
        // current-time expression evaluates differently per tick, so
        // the maintained state would silently diverge from a rebuild
        // of the same definition (a time-window WHERE never expires
        // already-admitted rows).
        def vetRowLocal(e: Expression, what: String): Unit = e.foreach {
          case _: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
            fail(s"$what must be row-local (no subqueries — their " +
              "relations' changes are invisible to the base table's " +
              "change feed)")
          case a: UnresolvedAttribute =>
            if (a.nameParts.length != 1) fail(s"$what must reference " +
              s"base columns unqualified, got '${a.sql}'")
            // this parser leaves bare CURRENT_DATE/CURRENT_TIMESTAMP
            // as column references — a user writing one means the time
            // function, so refuse it as time-dependent (not "no such
            // column") unless the base genuinely has a column so named
            if (resolveCol(a.nameParts.head).isEmpty) {
              if (MvBannedFns(a.nameParts.head.toLowerCase))
                fail(s"$what must be deterministic and " +
                  s"time-independent — '${a.nameParts.head.toLowerCase}' " +
                  "is re-evaluated per changelog row at every REFRESH " +
                  "and would diverge from a rebuild")
              throw new IllegalArgumentException(s"CREATE MATERIALIZED " +
                s"VIEW $name: no column '${a.nameParts.head}' in $base")
            }
          case f: UnresolvedFunction
              if MvBannedFns(f.nameParts.last.toLowerCase) =>
            fail(s"$what must be deterministic and time-independent — " +
              s"'${f.nameParts.last.toLowerCase}' is re-evaluated per " +
              "changelog row at every REFRESH and would diverge from " +
              "a rebuild")
          case _: org.apache.spark.sql.catalyst.expressions.CurrentDate |
               _: org.apache.spark.sql.catalyst.expressions.CurrentTimestamp |
               _: org.apache.spark.sql.catalyst.expressions.Now |
               _: org.apache.spark.sql.catalyst.expressions.LocalTimestamp =>
            fail(s"$what must be time-independent")
          case x if !x.deterministic =>
            fail(s"$what must be deterministic, got '${x.sql}'")
          case _ => ()
        }
        val whereSql = whereCond.map { c =>
          vetRowLocal(c, "the WHERE predicate"); c.sql
        }
        val derivedBuf =
          scala.collection.mutable.ListBuffer.empty[(String, String)]
        // group keys: bare base columns pass through; anything else is
        // a derived-expression key materialized under a stable name
        val groupKeys: Seq[(Expression, String)] =
          groupExprs.zipWithIndex.map {
            case (a: UnresolvedAttribute, _)
                if a.nameParts.length == 1 &&
                  resolveCol(a.nameParts.head).isDefined =>
              (a: Expression, resolveCol(a.nameParts.head).get)
            // GROUP BY ordinals parse to UnresolvedOrdinal (their
            // substitution is an analyzer rule this plan never runs) —
            // and a bare literal would group by a CONSTANT
            case (o: org.apache.spark.sql.catalyst.analysis.UnresolvedOrdinal, _) =>
              fail(s"GROUP BY ordinals ('${o.ordinal}') are not " +
                "supported — spell the group key expression out")
            case (l: Literal, _) =>
              fail(s"GROUP BY ordinals/literals ('${l.sql}') are not " +
                "supported — spell the group key expression out")
            case (e, i) =>
              vetRowLocal(e, "a GROUP BY expression")
              val n = s"gexpr$i"
              derivedBuf += ((n, e.sql))
              (e, n)
          }
        val groupCols = groupKeys.map(_._2)
        if (groupCols.isEmpty) fail("GROUP BY is required")
        val sums = scala.collection.mutable.ListBuffer.empty[String]
        val mms = scala.collection.mutable.ListBuffer.empty[String]
        val avgs = scala.collection.mutable.ListBuffer.empty[String]
        val nns = scala.collection.mutable.ListBuffer.empty[String]
        // an aggregate's argument: a bare column stays itself; an
        // expression becomes a derived measure column (deduped by its
        // canonical SQL text, so sum(x*y) and avg(x*y) share one)
        def measureArg(arg: Expression, what: String): String = arg match {
          case a: UnresolvedAttribute if a.nameParts.length == 1 &&
              resolveCol(a.nameParts.head).isDefined =>
            resolveCol(a.nameParts.head).get
          case e =>
            vetRowLocal(e, what)
            val sqlTxt = e.sql
            derivedBuf.collectFirst {
              case (n, s2) if n.startsWith("mexpr") && s2 == sqlTxt => n
            }.getOrElse {
              val n = s"mexpr${derivedBuf.count(_._1.startsWith("mexpr"))}"
              derivedBuf += ((n, sqlTxt))
              n
            }
        }
        def canonOf(e: Expression): String = e match {
          case a: UnresolvedAttribute if a.nameParts.length == 1 &&
              resolveCol(a.nameParts.head).exists(groupCols.contains) =>
            resolveCol(a.nameParts.head).get
          // ONLY the maintainable aggregate names claim this arm — any
          // other function (date_trunc, …) falls through to the
          // group-key-expression match below
          case f: UnresolvedFunction if f.nameParts.length == 1 &&
              !f.isDistinct && f.filter.isEmpty &&
              Set("count", "sum", "min", "max", "avg", "mean")(
                f.nameParts.head.toLowerCase) =>
            (f.nameParts.head.toLowerCase, f.arguments) match {
              case ("count", Seq(_: UnresolvedStar)) => "cnt"
              case ("count", Seq(Literal(v, _))) if v != null => "cnt"
              case ("count", Seq(arg)) =>
                // count(c): the NON-NULL count — its own abelian
                // column (works on any type; avg shares it)
                val c = measureArg(arg, "count's argument")
                nns += c; s"nncnt_$c"
              case (fn @ ("sum" | "min" | "max" | "avg" | "mean"),
                  Seq(arg)) =>
                val c = measureArg(arg, s"$fn's argument")
                fn match {
                  case "sum" => sums += c; s"sum_$c"
                  case "avg" | "mean" =>
                    // abelian pair (sum, non-null count); readers
                    // divide — the `avg:` marker tells mvPlan to
                    avgs += c; s"avg:$c"
                  case _ => mms += c; s"${fn}_$c"
                }
              case _ => fail(s"unsupported aggregate '${e.sql}'")
            }
          case other =>
            // a non-aggregate expression select item must BE one of
            // the group-key expressions (matched on canonical SQL
            // text — both came from the same parse)
            groupKeys.collectFirst {
              case (ge, n) if ge.sql == other.sql => n
            }.getOrElse(fail(s"unsupported select item '${other.sql}' " +
              "(a non-aggregate item must be a GROUP BY column or " +
              "expression)"))
        }
        val out = aggExprs.map {
          // a bare column reference IS a NamedExpression — no wrapper
          case a: UnresolvedAttribute => (a.nameParts.last, canonOf(a))
          case Alias(child, aname) => (aname, canonOf(child))
          case ua: UnresolvedAlias => ua.child match {
            case a: UnresolvedAttribute => (a.nameParts.last, canonOf(a))
            case other => fail(s"alias every aggregate and expression " +
              s"select item (got bare '${other.sql}')")
          }
          case other => fail(s"unsupported select item '${other.sql}'")
        }
        require(out.map(_._1.toLowerCase).distinct.length == out.length,
          s"CREATE MATERIALIZED VIEW $name: duplicate output column " +
            "name — alias the select items uniquely")
        // HAVING (r20): rewritten to reference the view's OUTPUT
        // aliases and applied at READ time over the served projection —
        // the backing state stays UNFILTERED, so a group dipping below
        // the threshold keeps its totals and resurfaces exactly when
        // it re-crosses. Every aggregate/group expression the
        // condition names must therefore appear in the SELECT list
        // (its served column IS the filter input); largest-expression-
        // first matching so `sum(v) > n * 2` rewrites both sides.
        val selBySql: Map[String, String] = aggExprs.flatMap {
          case a: UnresolvedAttribute =>
            Seq(a.sql.toLowerCase -> a.nameParts.last)
          case Alias(child, aname) => Seq(child.sql.toLowerCase -> aname)
          case ua: UnresolvedAlias => ua.child match {
            case a: UnresolvedAttribute =>
              Seq(a.sql.toLowerCase -> a.nameParts.last)
            case _ => Nil
          }
          case _ => Nil
        }.toMap
        val havingSql = havingCond.map { cond =>
          val rewritten = cond.transformDown {
            case e if selBySql.contains(e.sql.toLowerCase) =>
              UnresolvedAttribute(Seq(selBySql(e.sql.toLowerCase)))
          }
          rewritten.foreach {
            case _: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
              fail("HAVING must not contain subqueries")
            case f: UnresolvedFunction
                if Set("count", "sum", "min", "max", "avg", "mean",
                  "stddev", "variance")(f.nameParts.last.toLowerCase) =>
              fail(s"HAVING references aggregate '${f.sql}' that is " +
                "not in the SELECT list — select and alias the measure " +
                "you filter on (the stored column is the filter input)")
            case f: UnresolvedFunction
                if MvBannedFns(f.nameParts.last.toLowerCase) =>
              fail(s"the HAVING predicate must be deterministic and " +
                s"time-independent — '${f.nameParts.last.toLowerCase}'")
            case a: UnresolvedAttribute
                if a.nameParts.length != 1 ||
                  !out.exists(_._1.equalsIgnoreCase(a.nameParts.head)) =>
              fail(s"HAVING references '${a.sql}', which is not a " +
                "selected output column")
            case x if !x.deterministic =>
              fail(s"the HAVING predicate must be deterministic, " +
                s"got '${x.sql}'")
            case _ => ()
          }
          rewritten.sql
        }
        (base, groupCols, sums.distinct.toSeq, mms.distinct.toSeq,
          avgs.distinct.toSeq, nns.distinct.toSeq, out, whereSql,
          derivedBuf.toSeq, havingSql)
      case _ => fail("the query is not a single GROUP BY aggregate")
    }
  }

  /** Function names refused inside MV definitions (WHERE predicates,
    * derived group keys, measure expressions): nondeterministic or
    * time-dependent — re-evaluated per changelog row at every REFRESH,
    * they would silently diverge from a rebuild of the same text. */
  private val MvBannedFns: Set[String] = Set(
    "rand", "randn", "random", "uuid", "shuffle",
    "current_date", "current_timestamp", "now", "localtimestamp",
    "current_timezone", "curdate",
    "monotonically_increasing_id", "spark_partition_id",
    "input_file_name", "current_database", "current_catalog",
    "current_user", "session_user", "user")

  private def mvResult(proc: String, name: String, detail: String)
      : DataFrame = {
    import spark.implicits._
    val head = GraftTable.load(spark, mvTableDir(name), name)
      .flatMap(_.currentSnapshotId).getOrElse(0L)
    Seq((proc, name, head, detail))
      .toDF("procedure", "table", "snapshot_id", "detail")
  }

  private def defineMatView(name: String, text: String,
      replace: Boolean, ifNotExists: Boolean): DataFrame = {
    require(!(replace && ifNotExists),
      s"CREATE MATERIALIZED VIEW $name: OR REPLACE and IF NOT EXISTS " +
        "combine ambiguously")
    if (matViewExists(name) && ifNotExists)
      return mvResult("create_materialized_view", name,
        "materialized view already exists (IF NOT EXISTS no-op)")
    if (matViewExists(name) && !replace)
      throw new IllegalArgumentException(
        s"CREATE MATERIALIZED VIEW $name: already exists (use CREATE " +
          "OR REPLACE MATERIALIZED VIEW or DROP MATERIALIZED VIEW)")
    require(!tableExistsCI(name) && !viewExists(name),
      s"CREATE MATERIALIZED VIEW $name: '$name' already names a " +
        "warehouse table or view — the SQL namespace is shared")
    val (base, groupCols, sumCols, mmCols, avgCols, nnCols, out,
      whereSql, derived, havingSql) = parseMvShape(name, text)
    val baseT = loadTable(base)
    // r20 (advice): the FULL definition analyzes BEFORE any destructive
    // step — shape extraction alone never bound the WHERE predicate's
    // or a derived expression's references, so OR REPLACE used to drop
    // the old view and THEN fail at create, destroying it for nothing.
    // The serve shape (projection + HAVING types) analyzes here too.
    val init = MaterializedAgg.validate(baseT, groupCols, sumCols,
      mmCols, whereSql, avgCols, nnCols, derived)
    mvServe(init, out, havingSql)
    if (matViewExists(name)) {
      // OR REPLACE with the SAME maintainable shape keeps the backing
      // state — no re-materialization, no staleness reset. HAVING and
      // the output projection are READ-time concerns, so changing only
      // them always keeps state.
      val old = MatViewStore.load(matViewsDir, name)
      if (old.base == base && old.baseUuid == baseT.tableUuid &&
          old.groupCols == groupCols && old.sumCols == sumCols &&
          old.minMaxCols == mmCols && old.avgCols == avgCols &&
          old.nnCols == nnCols && old.where == whereSql &&
          old.derived == derived) {
        MatViewStore.save(matViewsDir,
          old.copy(sql = text, out = out, having = havingSql))
        return mvResult("create_materialized_view", name,
          s"replaced definition over $base (${out.size} column(s)); " +
            "same maintainable shape — backing state kept")
      }
      dropMatView(name, ifExists = false)
    }
    // a CRASH between a prior create's backing write and its
    // definition save leaves an ORPHANED backing directory (no
    // definition → matViewExists false → DROP says not found) that
    // would block this create forever — an orphan is provably debris,
    // clear it
    if (Files.isDirectory(mvTableDir(name)))
      deleteDirTree(mvTableDir(name))
    try MaterializedAgg.create(baseT, mvTableDir(name), name,
      groupCols, sumCols, mmCols, whereSql, avgCols, nnCols, derived)
    catch {
      case e: Throwable =>
        // never leave a half-written backing directory: matViewExists
        // would stay false (no definition saved) while the directory
        // blocked every recreate
        deleteDirTree(mvTableDir(name))
        throw e
    }
    MatViewStore.save(matViewsDir, MatViewDef(name, text, base,
      baseT.tableUuid, groupCols, sumCols, mmCols, avgCols, nnCols,
      out, whereSql, System.currentTimeMillis(), derived, havingSql))
    mvResult("create_materialized_view", name,
      s"materialized over $base (${out.size} column(s)); " +
        "REFRESH MATERIALIZED VIEW to catch up after base commits")
  }

  /** Re-attach the maintainer from the stored definition. */
  private def loadMatView(name: String): (MatViewDef, MaterializedAgg) = {
    require(matViewExists(name),
      s"materialized view not found: $name")
    val d = MatViewStore.load(matViewsDir, name)
    val baseT =
      try loadTable(d.base)
      catch {
        case _: NoSuchElementException => throw new IllegalStateException(
          s"materialized view $name: base table ${d.base} no longer " +
            "exists — DROP MATERIALIZED VIEW it (reads of the stored " +
            "state still work)")
      }
    (d, MaterializedAgg.load(baseT, mvTableDir(name), name,
      d.groupCols, d.sumCols, d.minMaxCols, d.where, d.avgCols,
      d.nnCols, d.derived))
  }

  private def refreshMatView(name: String): DataFrame = {
    val (d, mva) = loadMatView(name)
    // a recreated base restarted its snapshot-id sequence: the
    // incremental feed is unknowable — rebuild and adopt the lineage
    val mode =
      if (mva.base.tableUuid != d.baseUuid) {
        val m = mva.rebuild()
        MatViewStore.save(matViewsDir,
          d.copy(baseUuid = mva.base.tableUuid))
        m + " (base lineage changed)"
      } else mva.refresh()
    val feedTxt = mva.lastFeedScan
      .map { case (f, t) => s" feed_files=$f base_files=$t" }
      .filter(_ => mode == "incremental").getOrElse("")
    val redoTxt = mva.lastRedoScan
      .map { case (f, t) => s" redo_files=$f/$t" }.getOrElse("")
    mvResult("refresh_materialized_view", name,
      s"mode=$mode$feedTxt$redoTxt")
  }

  private def dropMatView(name: String, ifExists: Boolean): DataFrame = {
    if (!matViewExists(name)) {
      if (ifExists)
        return mvResult("drop_materialized_view", name,
          "not found (IF EXISTS no-op)")
      throw new IllegalArgumentException(
        s"DROP MATERIALIZED VIEW $name: not found")
    }
    MatViewStore.delete(matViewsDir, name)
    deleteDirTree(mvTableDir(name))
    import spark.implicits._
    Seq(("drop_materialized_view", name, 0L, "materialized view dropped"))
      .toDF("procedure", "table", "snapshot_id", "detail")
  }

  private def deleteDirTree(dir: Path): Unit =
    if (Files.isDirectory(dir)) {
      SnapshotLog.deleteTree(dir)
      // a recreate at this path would otherwise serve stale cached
      // manifests — same reuse hazard as dropTable
      SnapshotLog.invalidateUnder(dir)
    }

  /** ALTER MATERIALIZED VIEW … RENAME TO … (r20 — parity with the
    * plain-view and table rename surface): ONE directory move carries
    * the backing table (manifests store table-relative paths, so the
    * full snapshot history and the maintainer's WAL state survive),
    * then the definition file renames in one atomic move (its content
    * is name-independent). A crash between the two moves leaves the
    * OLD definition pointing at a missing backing dir — recognizable
    * and DROP-able, never two live views. */
  private def renameMatView(oldName: String, newName: String): DataFrame = {
    require(matViewExists(oldName),
      s"ALTER MATERIALIZED VIEW $oldName: not found")
    if (MatViewStore.canon(oldName) == MatViewStore.canon(newName))
      return mvResult("alter_materialized_view", oldName,
        "rename to the same name (no-op)")
    require(!tableExistsCI(newName) && !viewExists(newName) &&
        !matViewExists(newName),
      s"ALTER MATERIALIZED VIEW $oldName: '$newName' already names a " +
        "warehouse table, view, or materialized view — the SQL " +
        "namespace is shared")
    val (from, to) = (mvTableDir(oldName), mvTableDir(newName))
    require(!Files.exists(to),
      s"ALTER MATERIALIZED VIEW $oldName: destination path '$to' " +
        "already exists")
    Files.move(from, to)
    SnapshotLog.invalidateUnder(from)
    SnapshotLog.invalidateUnder(to)
    // ONE atomic rename of the definition file (content is
    // name-independent): no crash window with two live definitions
    MatViewStore.rename(matViewsDir, oldName, newName)
    mvResult("alter_materialized_view", newName,
      s"renamed from $oldName (definition and backing state moved; " +
        "history and refresh state intact)")
  }

  /** A materialized view READS as its backing table projected to the
    * user's declared output columns — stored state, fresh as of the
    * last REFRESH (that staleness is the contract; a plain VIEW is
    * the always-live alternative). */
  /** The SERVE shape shared by reads and create-time validation: the
    * stored state projected to the user's output aliases, then the
    * optional HAVING applied over them (read-time group filter — the
    * state itself is never HAVING-filtered, see [[MatViewDef]]). */
  private def mvServe(stored: DataFrame, out: Seq[(String, String)],
      having: Option[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, lit, when}
    val fields = stored.schema.fieldNames.toSet
    val proj = stored.select(out.map {
      // avg reads as the maintained abelian pair's division; an
      // all-NULL group divides by zero → SQL avg's NULL, never an
      // ANSI arithmetic error
      case (alias, canonCol) if canonCol.startsWith("avg:") =>
        val c = canonCol.stripPrefix("avg:")
        when(col(s"nncnt_$c") === 0L, lit(null))
          .otherwise(col(s"sum_$c") / col(s"nncnt_$c")).as(alias)
      // sum(c) over zero non-null values is NULL in SQL, but the
      // STORED running sum is kept NULL-free (r20 — an all-NULL delta
      // used to NULL-poison it); reconstruct the NULL from the
      // column's maintained non-null count. Guarded on the backing
      // schema so pre-r20 state (no nncnt for sum columns) still reads.
      case (alias, canonCol) if canonCol.startsWith("sum_") &&
          fields.contains("nncnt_" + canonCol.stripPrefix("sum_")) =>
        val c = canonCol.stripPrefix("sum_")
        when(col(s"nncnt_$c") === 0L, lit(null))
          .otherwise(col(canonCol)).as(alias)
      case (alias, canonCol) => col(canonCol).as(alias)
    }: _*)
    having.map(h => proj.filter(expr(h))).getOrElse(proj)
  }

  private def mvPlan(name0: String)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val name = MatViewStore.canon(name0)
    val d = MatViewStore.load(matViewsDir, name)
    val t = GraftTable.load(spark, mvTableDir(name), name).getOrElse(
      throw new IllegalStateException(
        s"materialized view $name: backing table missing at ${
          mvTableDir(name)} — DROP MATERIALIZED VIEW and recreate"))
    val df = mvServe(t.read(), d.out, d.having)
    org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(
      name, df.queryExecution.analyzed)
  }

  /** Raw SQL over all warehouse tables (reference: `sql`,
    * `icerunner.py:200-207`) — the full relational surface via Catalyst.
    *
    * Reflection is lazy: commits register nothing, and each statement
    * head-probes only the tables it names ([[probeTable]]),
    * re-reflecting those whose snapshot head moved since their last
    * reflection — by this connector's commits or an EXTERNAL
    * committer's on the shared warehouse alike — detected from manifest
    * filenames alone: one directory listing per named table, no
    * manifest reads, no plan rebuilds for unchanged tables. The
    * reference instead re-reflects every table with DDL before every
    * query (`icerunner.py:82-103`).
    *
    * DML and DDL verbs are SQL-addressable too: `CREATE [OR REPLACE]
    * TABLE t AS SELECT …`, plain column-list `CREATE TABLE t (col
    * type [DEFAULT k], …)` (r16 — an EMPTY warehouse table; defaults
    * land as the same v3 initial/write-default metadata ALTER…ADD
    * COLUMN writes), `PARTITIONED BY (years/months/days/hours(c),
    * bucket(n, c), truncate(w, c), c)` on any create form (r16 —
    * routes to hidden partitioning, declared before the payload lands
    * so a partitioned CTAS clusters its create commit),
    * `DROP TABLE [IF EXISTS] t`, `INSERT INTO t [cols] VALUES
    * …/SELECT …` (OVERWRITE ⇒ [[GraftTable.replace]]),
    * `UPDATE t SET … [WHERE …]`,
    * `DELETE FROM t [WHERE …]` and `MERGE INTO t USING s ON … WHEN …`
    * over a warehouse table route to the transactional
    * [[GraftTable.updateWhere]]/[[GraftTable.deleteWhere]]/
    * [[GraftTable.merge]] verbs — SQL text is the reference's ENTIRE
    * user surface (`icerunner.py:200-207`), and `spark.sql` alone
    * cannot run DML against a temp view. Statements are parsed by
    * Spark's OWN parser (no hand-rolled SQL): the unresolved DML plan
    * is pattern-matched and its expressions rebound as Columns. A DML
    * statement naming a non-warehouse relation (and every non-DML
    * statement) falls through to Catalyst untouched — executed from
    * the SAME parse, never re-parsed. DML returns a one-row
    * `[snapshot_id]` frame — the commit it produced. Maintenance verbs
    * route as `CALL` procedures ([[routeCall]], r16).
    *
    * SQL TIME TRAVEL composes in any statement — including DML/DDL
    * sub-queries and subquery expressions: `FROM t VERSION AS OF 5`
    * (or `VERSION AS OF 'tag-or-branch'`, r16) / `FROM t TIMESTAMP AS
    * OF <expr>` over a warehouse table resolves the parsed
    * [[org.apache.spark.sql.catalyst.analysis.RelationTimeTravel]]
    * node into the pinned [[GraftTable.read]] plan in
    * [[resolveRelations]] — expired cuts refuse in [[travelCut]]. */
  def sql(cmd: String): DataFrame = routeMatView(cmd).getOrElse {
    // ONE parse feeds every router AND the fallback (the primary user
    // surface pays one ANTLR pass per statement); a statement that
    // doesn't parse falls through so spark.sql reports its own syntax
    // error.
    val plan =
      try Some(org.apache.spark.sql.GraftSqlBridge.parsePlan(spark, cmd))
      catch { case _: Exception => None }
    plan match {
      case None => spark.sql(cmd)
      case Some(p0) =>
        // view-target refusals run BEFORE the resolver inlines the
        // relation — afterwards the statement would fail with a
        // "cannot write to a query" style error that never names the
        // view
        refuseViewTargets(p0)
        // one walk resolves every relation the statement names, so
        // time travel, meta tables and views compose inside DML/DDL
        // sub-queries (INSERT INTO t SELECT … FROM t VERSION AS OF 1,
        // CTAS from `t$snapshots`) and with each other
        val p = resolveRelations(p0, Set.empty)
        routeCall(p).orElse(routeDml(p)).getOrElse(
          org.apache.spark.sql.GraftSqlBridge.ofRows(spark, p))
    }
  }

  /** The ONE relation resolver behind [[sql]], [[viewPlan]] and
    * [[defineView]]: a single top-down walk through children,
    * subquery expressions and CTE bodies that decides what each leaf
    * relation name means in the warehouse, exactly once:
    *
    *  - `default.n` is the one namespace spelled out (r19): it loses
    *    the qualifier when `n` is warehouse-served; any other qualifier
    *    (and an unserved `default.x`) stays Spark's to resolve or
    *    refuse;
    *  - a name an enclosing CTE defines is the CTE's, under every
    *    warehouse spelling (plain, time travel, `t$kind`);
    *  - a persistent VIEW inlines its analyzed, schema-compensated plan
    *    (nested views recurse with a cycle refusal via `seen`); a
    *    MATERIALIZED view reads as its backing state; `t$kind` reads as
    *    the [[inspect]] frame; time travel pins a table read or a
    *    metadata cut, and refuses over (materialized) views;
    *  - a TABLE is head-probed ([[probeTable]]: the per-statement
    *    external-committer freshness check, O(referenced tables)
    *    listings, not O(#tables)) and left for its temp view; the
    *    catalog-enumerating SHOW TABLES / SHOW VIEWS sweep every table.
    *
    * Top-down, so a time-travel or view refusal sees the still-
    * unresolved relation; every inlined plan is already resolved, so
    * the walk matches nothing inside it. */
  private def resolveRelations(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      seen: Set[String],
      shadow: Set[String] = Set.empty)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel,
      UnresolvedIdentifier, UnresolvedRelation, UnresolvedTable,
      UnresolvedTableOrView, UnresolvedView}
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan,
      ShowTables, ShowViews, SubqueryAlias, UnresolvedWith}
    def shadowed(r: Rel): Boolean = shadow.contains(r.name.toLowerCase)
    def probeRel(r: Rel): Unit = r match {
      case TableRel(n) => probeTable(n)
      case MetaRel(_, base, _) => probeTable(base)
      case _ => ()
    }
    plan match {
      // CTE names SHADOW warehouse relations (SQL scoping): `WITH v AS
      // (…) SELECT … FROM v` must read the CTE even when a stored view
      // or table spells v — but ONLY inside this WITH's subtree (r19: a
      // statement-wide shadow set blocked the view v in a SIBLING
      // subquery that never saw the CTE). All of the WITH's names
      // shadow both the bodies (a body may reference an earlier — or
      // recursively its own — CTE) and the main child; CTE resolution
      // is case-insensitive, so the comparison is too. CTE DEFINITIONS
      // are innerChildren — no transform walks them — hence the
      // explicit recursion.
      case w: UnresolvedWith =>
        val s2 = shadow ++ w.cteRelations.map(_._1.toLowerCase)
        w.copy(
          child = resolveRelations(w.child, seen, s2),
          cteRelations = w.cteRelations.map { case (n, sa, mx) =>
            (n, resolveRelations(sa, seen, s2).asInstanceOf[SubqueryAlias],
              mx)
          })
      case tt @ RelationTimeTravel(r: UnresolvedRelation, _, _) =>
        denotes(r.multipartIdentifier).filterNot(shadowed) match {
          case Some(ViewRel(n)) =>
            throw new IllegalArgumentException(
              s"time travel over VIEW $n is not supported — a view is " +
                "stored SQL text, not a snapshot object; put VERSION AS " +
                "OF on the underlying table inside the view's query")
          case Some(MatViewRel(n)) =>
            throw new IllegalArgumentException(
              s"time travel over MATERIALIZED VIEW $n is not supported " +
                "— its history is refresh ticks, not base-table " +
                "snapshots; travel the base table instead")
          case Some(MetaRel(_, base, kind)) => metaTravel(base, kind, tt)
          case Some(TableRel(n)) =>
            GraftTable.load(spark, tableDir(n), n).fold(tt: LogicalPlan) {
              t => travelCut(t, n, tt)
                .fold(id => t.read(Some(id)), t.readBranch)
                .queryExecution.analyzed
            }
          case None => tt
        }
      case r: UnresolvedRelation =>
        denotes(r.multipartIdentifier) match {
          case None => r
          case Some(rel) if shadowed(rel) =>
            r.copy(multipartIdentifier = Seq(rel.name))
          case Some(ViewRel(n)) => viewPlan(n, seen)
          // MATERIALIZED views read as their backing state (r19) — a
          // plain view CAN read a materialized one
          case Some(MatViewRel(n)) => mvPlan(n)
          case Some(MetaRel(_, base, kind)) =>
            inspect(base, kind).queryExecution.analyzed
          case Some(TableRel(n)) =>
            probeTable(n)
            r.copy(multipartIdentifier = Seq(n))
        }
      // DDL targets keep their node (the routers match on it) with the
      // qualifier stripped — RENAME/SHOW TBLPROPERTIES parse theirs as
      // table-OR-view, DROP VIEW as a view node; left qualified they
      // would miss the reflected temp view
      case t: UnresolvedTable =>
        denotes(t.multipartIdentifier).fold(t) { rel =>
          probeRel(rel); t.copy(multipartIdentifier = Seq(rel.name)) }
      case tv: UnresolvedTableOrView =>
        denotes(tv.multipartIdentifier).fold(tv) { rel =>
          probeRel(rel); tv.copy(multipartIdentifier = Seq(rel.name)) }
      case v: UnresolvedView =>
        denotes(v.multipartIdentifier).fold(v) { rel =>
          probeRel(rel); v.copy(multipartIdentifier = Seq(rel.name)) }
      case id: UnresolvedIdentifier =>
        stripNs(id.nameParts).foreach(probeTable)
        id
      // SHOW TABLES / SHOW VIEWS list the session's temp views, so
      // every table must be fresh
      case _: ShowTables | _: ShowViews =>
        tables.foreach(probeTable)
        plan
      // manual recursion (not transformDownWithSubqueries) so the
      // shadow set stays SCOPED: children inherit this scope's shadow,
      // and subquery-expression plans recurse with it too
      case other =>
        other.mapChildren(resolveRelations(_, seen, shadow))
          .transformExpressionsDown {
            case se: SubqueryExpression =>
              se.withNewPlan(resolveRelations(se.plan, seen, shadow))
          }
    }
  }

  /** What a leaf relation name denotes in the warehouse (see
    * [[resolveRelations]]); `name` is its single-part spelling. */
  private sealed trait Rel { def name: String }
  private case class ViewRel(name: String) extends Rel
  private case class MatViewRel(name: String) extends Rel
  /** Iceberg-style metadata table `` `t$kind` `` (backquoted — `$`
    * needs quoting in Spark identifiers) over warehouse table `t`. */
  private case class MetaRel(name: String, base: String, kind: String)
    extends Rel
  /** A single-part name no other kind claims is a table or Spark's own
    * relation; the freshness probe tells them apart for free. */
  private case class TableRel(name: String) extends Rel

  /** Decide a leaf's [[Rel]] once: single-part, or `default.`-qualified
    * when the warehouse serves the name; None leaves it to Spark. */
  private def denotes(parts: Seq[String]): Option[Rel] =
    stripNs(parts).flatMap { n =>
      if (viewExists(n)) Some(ViewRel(n))
      else if (matViewExists(n)) Some(MatViewRel(n))
      else n.split("\\$", 2) match {
        case Array(base, kind) if tableExists(base) =>
          Some(MetaRel(n, base, kind))
        case _ if parts.length == 1 || tableExists(n) => Some(TableRel(n))
        case _ => None
      }
    }

  /** Build one view's plan from its stored definition: re-parse the
    * TEXT through [[resolveRelations]] (late-bound — the view
    * sees the live tables and composes with time travel and meta
    * tables inside its own query), re-apply the user column list,
    * then pin the recorded output schema per the view's schema mode
    * (see [[ViewDef]]). */
  private def viewPlan(vname0: String, seen: Set[String])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    // the seen-set, the store, and the output alias all speak the
    // CANONICAL (lowercase) name — a cycle spelled v -> V -> v must
    // still refuse
    val vname = ViewStore.canon(vname0)
    // explicit throw, not `require`: the "requirement failed:" prefix
    // would defeat the nested pass-through match in the catch below
    if (seen.contains(vname)) throw new IllegalArgumentException(
      s"view $vname: circular view reference " +
        s"(${(seen + vname).toSeq.sorted.mkString(", ")})")
    val vd = ViewStore.load(viewsDir, vname)
    val df = try {
      var d = viewFrame(vd.sql, seen + vname)
      vd.cols.foreach { names => d = d.toDF(names: _*) }
      d
    } catch {
      // a nested view's own refusal (cycle, drift) keeps its message
      case e: IllegalArgumentException
        if e.getMessage != null && e.getMessage.startsWith("view ") =>
        throw e
      case scala.util.control.NonFatal(e) =>
        throw new IllegalStateException(
          s"view $vname no longer resolves against the warehouse " +
            "(underlying table dropped/renamed, or its columns " +
            s"changed?): ${e.getMessage} — CREATE OR REPLACE VIEW to " +
            "redefine it, or DROP VIEW", e)
    }
    val out = vd.mode match {
      case "evolution" => df
      case m =>
        val rec = org.apache.spark.sql.types.DataType.fromJson(vd.schemaJson)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        val missing = rec.fieldNames.filterNot(df.columns.contains)
        if (missing.nonEmpty) throw new IllegalArgumentException(
          s"view $vname: schema drift — recorded column(s) " +
            s"${missing.mkString(", ")} no longer resolve underneath; " +
            "CREATE OR REPLACE VIEW to adopt the new shape")
        // SCHEMA COMPENSATION (the default): project the recorded
        // columns BY NAME and cast back to creation-time types — a
        // `SELECT *` view keeps its declared output when the table
        // underneath gains columns or widens types. TYPE EVOLUTION
        // pins names only.
        if (m == "typeevolution")
          df.select(rec.fieldNames.toSeq
            .map(org.apache.spark.sql.functions.col): _*)
        else
          df.select(rec.fields.toSeq.map(f =>
            org.apache.spark.sql.functions.col(f.name)
              .cast(f.dataType).as(f.name)): _*)
    }
    org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(
      vname, out.queryExecution.analyzed)
  }

  /** A view definition's text, parsed and resolved (`seen`: the views
    * being expanded, for the cycle refusal). */
  private def viewFrame(text: String, seen: Set[String]): DataFrame =
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark, resolveRelations(
      org.apache.spark.sql.GraftSqlBridge.parsePlan(spark, text), seen))

  /** Validate + persist one view definition (CREATE [OR REPLACE] VIEW
    * and ALTER VIEW … AS share this): the text must parse and resolve
    * against the current warehouse NOW — a definition that only fails
    * at first read would be a delayed trap — and self-reference
    * (direct or through stored views) refuses via the seen-set. */
  private def defineView(vname: String, text: String,
      userCols: Option[Seq[String]], mode: String,
      comment: Option[String]): DataFrame = {
    ViewStore.requireValidName(vname)
    require(!tableExistsCI(vname),
      s"CREATE VIEW $vname: '$vname' is a warehouse TABLE — tables " +
        "and views share the SQL namespace")
    require(!matViewExists(vname),
      s"CREATE VIEW $vname: '$vname' is a MATERIALIZED VIEW — DROP " +
        "MATERIALIZED VIEW it first (the SQL namespace is shared)")
    var d = viewFrame(text, Set(ViewStore.canon(vname)))
    userCols.foreach { names =>
      require(names.length == d.columns.length,
        s"CREATE VIEW $vname: ${names.length} column name(s) declared " +
          s"for ${d.columns.length} output column(s)")
      require(names.map(_.toLowerCase).distinct.length == names.length,
        s"CREATE VIEW $vname: duplicate column name in the view's " +
          "column list")
      d = d.toDF(names: _*)
    }
    // a duplicate OUTPUT name would make the recorded-schema
    // compensation projection ambiguous at every later read — refuse
    // at create, where the fix (alias the selects) is obvious
    require(d.columns.map(_.toLowerCase).distinct.length ==
        d.columns.length,
      s"CREATE VIEW $vname: the query produces duplicate column " +
        s"name(s) ${d.columns.groupBy(_.toLowerCase).collect {
          case (_, vs) if vs.length > 1 => vs.head }.mkString(", ")} — " +
        "alias them uniquely")
    ViewStore.save(viewsDir, ViewDef(vname, text, userCols, d.schema.json,
      mode, comment, System.currentTimeMillis()))
    import spark.implicits._
    Seq(("create_view", vname, 0L,
      s"view defined over ${d.columns.length} column(s)"))
      .toDF("procedure", "table", "snapshot_id", "detail")
  }

  /** A VIEW is never a DML/DDL-table target. Runs on the RAW parsed
    * plan (top-level statement shapes only — SQL nests no DML). */
  private def refuseViewTargets(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def idOf(p: LogicalPlan): Option[String] = p match {
      case id: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier =>
        stripNs(id.nameParts)
      case _ => relNameOf(p)
    }
    def viewOf(p: LogicalPlan): Option[String] = idOf(p).filter(viewExists)
    def refuse(verb: String, n: String,
        hint: String = "a view is stored SQL text over tables — " +
          "target the underlying table"): Nothing =
      throw new IllegalArgumentException(
        s"$verb $n: '$n' is a persistent VIEW — $hint")
    // a MATERIALIZED view's backing state has exactly ONE writer, the
    // refresh maintainer — every DML/DDL verb targeting one refuses
    // (r19); same silent-trap rationale as the view refusals
    idOf(plan match {
      case i: InsertIntoStatement => i.table
      case u: UpdateTable => u.table
      case d: DeleteFromTable => d.table
      case m: MergeIntoTable => m.targetTable
      case tr: TruncateTable => tr.table
      case tp: TruncatePartition => tp.table
      case dt: DropTable => dt.child
      case cts: CreateTableAsSelect => cts.name
      case ct: CreateTable => ct.name
      case rts: ReplaceTableAsSelect => rts.name
      case rt: ReplaceTable => rt.name
      case rn: RenameTable => rn.child
      case av: AlterViewAs => av.child
      case dv: DropView => dv.child
      case _ => plan // no table target — idOf yields None
    }).filter(matViewExists).foreach { n =>
      throw new IllegalArgumentException(
        s"'$n' is a MATERIALIZED VIEW — it is maintained by REFRESH " +
          "MATERIALIZED VIEW and dropped by DROP MATERIALIZED VIEW; " +
          "write to the base table instead")
    }
    plan match {
      case i: InsertIntoStatement =>
        viewOf(i.table).foreach(refuse("INSERT INTO", _))
      case u: UpdateTable => viewOf(u.table).foreach(refuse("UPDATE", _))
      case d: DeleteFromTable =>
        viewOf(d.table).foreach(refuse("DELETE FROM", _))
      case m: MergeIntoTable =>
        viewOf(m.targetTable).foreach(refuse("MERGE INTO", _))
      case tr: TruncateTable =>
        viewOf(tr.table).foreach(refuse("TRUNCATE TABLE", _))
      case tp: TruncatePartition =>
        viewOf(tp.table).foreach(refuse("TRUNCATE TABLE", _))
      case dt: DropTable =>
        viewOf(dt.child).foreach(refuse("DROP TABLE", _,
          s"use DROP VIEW"))
      case cts: CreateTableAsSelect =>
        viewOf(cts.name).foreach(refuse("CREATE TABLE", _,
          "a persistent view already spells this name — DROP VIEW it " +
            "first (tables and views share the SQL namespace)"))
      case ct: CreateTable =>
        viewOf(ct.name).foreach(refuse("CREATE TABLE", _,
          "a persistent view already spells this name — DROP VIEW it " +
            "first (tables and views share the SQL namespace)"))
      case rts: ReplaceTableAsSelect =>
        viewOf(rts.name).foreach(refuse("CREATE OR REPLACE TABLE", _,
          "a persistent view already spells this name — DROP VIEW it " +
            "first (tables and views share the SQL namespace)"))
      case rt: ReplaceTable =>
        viewOf(rt.name).foreach(refuse("REPLACE TABLE", _,
          "a persistent view already spells this name — DROP VIEW it " +
            "first (tables and views share the SQL namespace)"))
      case _ => ()
    }
  }

  /** Evaluate a foldable SQL expression to ONE driver-side constant
    * (optionally cast first) — the shared evaluator behind TIMESTAMP AS
    * OF, column DEFAULTs (CREATE / ADD COLUMN / SET DEFAULT), and CALL
    * arguments: one tiny local job, session-timezone semantics
    * included; a non-foldable expression fails in Spark's own
    * evaluation with its own message. */
  private def evalConst(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      castTo: Option[org.apache.spark.sql.types.DataType] = None): Any = {
    val c0 = org.apache.spark.sql.GraftColumnBridge.column(e)
    val c = castTo.map(dt => c0.cast(dt)).getOrElse(c0)
    spark.range(1).select(c).collect().head.get(0)
  }

  /** The SQL-spelled partition predicate: `(c1 = v1 AND …)` over
    * IDENTITY partition columns of `t`'s CURRENT spec — shared by the
    * TRUNCATE … PARTITION and INSERT [OVERWRITE] … PARTITION routes so
    * the addressability rule and its refusal live exactly once. A
    * non-identity name refuses (hidden transform partitions have no
    * SQL-spellable value). */
  private def identityPartitionPredicate(t: GraftTable,
      spec: Map[String, String], verb: String)
      : org.apache.spark.sql.Column = {
    val idCols = t.partitionSpec
      .filter(_.kind == "identity").map(_.column).toSet
    val sch = t.schema
    spec.map { case (k, v) =>
      require(idCols.contains(k),
        s"$verb: '$k' is not an IDENTITY partition column of the " +
          s"current spec (identity columns: ${
            if (idCols.isEmpty) "none" else idCols.toSeq.sorted.mkString(", ")
          }) — hidden transform partitions are not addressable by value")
      val cv = org.apache.spark.sql.functions.lit(v).cast(sch(k).dataType)
      // an un-castable value (typo'd number, stray space) casts to
      // NULL, and `col === NULL` matches NOTHING — the statement would
      // "succeed" without touching a row; refuse like Hive/Spark do
      require(spark.range(1).select(cv).collect().head.get(0) != null,
        s"$verb: value '$v' does not cast to ${sch(k).dataType
          .simpleString} for partition column '$k'")
      org.apache.spark.sql.functions.col(k) === cv
    }.reduce(_ && _)
  }

  /** The warehouse's ONE namespace, accepted as an explicit qualifier
    * (r19): `default.t` denotes warehouse entity `t` — the reference's
    * namespace is literally `default` (`icerunner.py:44, 67-70`) and
    * DuckDB accepts qualified spellings, so ported SQL names it on day
    * one. Any OTHER qualifier returns None here and falls through to
    * Spark, which refuses with its own resolution error. */
  private def stripNs(parts: Seq[String]): Option[String] = parts match {
    case Seq(n) => Some(n)
    case Seq(ns, n) if ns.equalsIgnoreCase("default") => Some(n)
    case _ => None
  }

  /** Single-part (or `default.`-qualified, r19) relation name of a
    * plan node, through aliases — shared by every router (a resolution
    * fix must land exactly once). */
  private def relNameOf(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[String] = p match {
    case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
      stripNs(r.multipartIdentifier)
    case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
      stripNs(t.multipartIdentifier)
    // RENAME/SHOW TBLPROPERTIES parse their target as table-OR-view;
    // DROP VIEW as a view node — all must resolve here, or those verbs
    // would silently bind to the reflected TEMP VIEW (the r16 trap)
    case tv: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView =>
      stripNs(tv.multipartIdentifier)
    case v: org.apache.spark.sql.catalyst.analysis.UnresolvedView =>
      stripNs(v.multipartIdentifier)
    case a: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
      relNameOf(a.child)
    case _ => None
  }

  /** The ONE time-travel cut resolver, shared by data and metadata
    * relations (`what` names the relation in refusals). `VERSION AS
    * OF v` resolves a RETAINED snapshot id, else a TAG (Left: the cut's
    * snapshot id), else an open BRANCH (Right: its name — Iceberg's SQL
    * accepts ref names here); `TIMESTAMP AS OF <expr>` evaluates once
    * and resolves the latest retained snapshot at-or-before it. Expired
    * or unknown cuts refuse here, not as a silent head read. */
  private def travelCut(t: GraftTable, what: String,
      tt: org.apache.spark.sql.catalyst.analysis.RelationTimeTravel)
      : Either[Long, String] = (tt.version, tt.timestamp) match {
    case (Some(v), _) =>
      // the parser erases the quote distinction (version is a bare
      // string either way), so resolution is: RETAINED snapshot id,
      // else tag, else branch. A spelling that is BOTH a retained id
      // and a ref name refuses as ambiguous — resolving the id would
      // silently FLIP to the ref once that id expires (same query text,
      // different cut); an error now is deterministic forever.
      val (tags, branches) = (t.tags, t.branches)
      val idHit = v.toLongOption.filter(id =>
        t.log.snapshots.exists(_.snapshotId == id))
      require(idHit.isEmpty || !(tags.contains(v) || branches.contains(v)),
        s"VERSION AS OF '$v' on $what is AMBIGUOUS: both a retained " +
          "snapshot id and a tag/branch spell this — rename the ref or " +
          "expire the snapshot")
      // tags and branches live in SEPARATE stores, so one name can
      // denote both — silently preferring the tag would make a WAP
      // audit of branch 'x' read tag 'x' instead of the staged rows
      require(!(tags.contains(v) && branches.contains(v)),
        s"VERSION AS OF '$v' on $what is AMBIGUOUS: both a tag and a " +
          "branch spell this name — drop or rename one of them")
      idHit.orElse(tags.get(v)).map(Left(_))
        .orElse(if (branches.contains(v)) Some(Right(v)) else None)
        .getOrElse(throw new IllegalArgumentException(
          s"VERSION AS OF '$v' on $what: no such ref — expects a " +
            "retained snapshot id, tag, or branch name (head " +
            s"${t.currentSnapshotId.getOrElse(0L)}, tags: " +
            s"${tags.keys.toSeq.sorted.mkString(", ")}; branches: " +
            s"${branches.mkString(", ")})"))
    case (_, Some(ts)) =>
      val inst = evalConst(ts, Some(org.apache.spark.sql.types.TimestampType))
        .asInstanceOf[java.sql.Timestamp]
      require(inst != null, s"TIMESTAMP AS OF on $what evaluated to NULL")
      Left(t.snapshotIdAsOfTime(inst.getTime).getOrElse(
        throw new IllegalArgumentException(
          s"TIMESTAMP AS OF on $what: no retained snapshot at or before " +
            s"$inst — earliest retained is id ${t.firstSnapshotId.orNull}")))
    case _ => Left(t.currentSnapshotId.getOrElse(0L))
  }

  /** A METADATA table pinned to a historical cut (`$properties`,
    * `$files`, `$partitions` — the kinds whose builders take an
    * `asOf`). Branch heads live in a SEPARATE id sequence and cannot
    * cut the main log, so they refuse. */
  private def metaTravel(base: String, kind: String,
      tt: org.apache.spark.sql.catalyst.analysis.RelationTimeTravel)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val t = loadTable(base)
    val what = s"`$base$$$kind`"
    val cut = travelCut(t, what, tt).fold(identity, b =>
      throw new IllegalArgumentException(
        s"VERSION AS OF '$b' on $what: a branch head cannot cut a " +
          "metadata table — expects a retained snapshot id or tag name"))
    val df = kind match {
      case "properties" => t.propertiesDf(Some(cut))
      case "files" => t.filesDf(Some(cut))
      case "partitions" => t.partitionsDf(Some(cut))
      case other => throw new IllegalArgumentException(
        s"time travel over metadata table '$$$other' is not supported " +
          "— supported: $properties, $files, $partitions (the others " +
          "are already history-shaped)")
    }
    df.queryExecution.analyzed
  }

  /** Pattern-match a parsed UPDATE/DELETE/MERGE on a warehouse table;
    * None ⇒ not DML (or not ours) — run through `spark.sql`. */
  private def routeDml(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[DataFrame] = {
    import org.apache.spark.sql.GraftColumnBridge.column
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression}
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.functions.lit
    def nameOf(p: LogicalPlan): Option[String] = relNameOf(p)
    // a DML condition/assignment binds against ONE relation, so
    // stripping alias qualifiers (`t.price` → `price`) is unambiguous
    def unqual(e: Expression): Expression = e.transform {
      case a: UnresolvedAttribute if a.nameParts.length > 1 =>
        UnresolvedAttribute(Seq(a.nameParts.last))
    }
    def asCol(e: Expression): org.apache.spark.sql.Column = column(unqual(e))
    def done(snap: Snapshot): DataFrame = {
      import spark.implicits._
      Seq(snap.snapshotId).toDF("snapshot_id")
    }
    def identOf(p: LogicalPlan): Option[String] = p match {
      case id: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier =>
        stripNs(id.nameParts)
      case _ => None
    }
    plan match {
      // DDL: single-part CREATE TABLE … AS SELECT lands as a warehouse
      // table (this surface IS the warehouse; Spark's own catalogs stay
      // reachable via qualified names, which fall through). PARTITIONED
      // BY transforms declare the table's HIDDEN partitioning
      // (setPartitionSpec) before any data lands, so the CTAS payload
      // itself is transform-clustered.
      case cts: CreateTableAsSelect =>
        identOf(cts.name).map { name =>
          val (tprops, checks) = requirePlainTableSpec(name, cts.tableSpec)
          val spec = partitionFieldsOf(name, cts.partitioning)
          val df = org.apache.spark.sql.GraftSqlBridge.ofRows(spark, cts.query)
          val existed = tableExists(name)
          require(!existed || cts.ignoreIfExists,
            s"CREATE TABLE $name: table already exists " +
              "(use IF NOT EXISTS or CREATE OR REPLACE)")
          // the spec declares INSIDE create: the CTAS payload itself
          // lands transform-clustered in the one create commit
          // (checks is empty on CTAS today — Spark's parser admits
          // constraints only on column-list CREATE — but if a future
          // parser carries them here, addCheckConstraint's own
          // validate-then-publish handles the payload)
          if (!existed) {
            createTable(name, df, properties = tprops, spec = spec)
            checks.foreach { case (n, sql) =>
              loadTable(name).addCheckConstraint(n, sql) }
          }
          import spark.implicits._
          Seq(getCurrentSnapshotId(name).getOrElse(0L)).toDF("snapshot_id")
        }
      // plain column-list CREATE TABLE: an EMPTY warehouse table with
      // the declared schema (and optional hidden partitioning +
      // column DEFAULTs) — previously this fell through to Spark's
      // catalog, silently creating a non-warehouse table
      case ct: CreateTable =>
        identOf(ct.name).map { name =>
          val (tprops, checks) = requirePlainTableSpec(name, ct.tableSpec)
          val spec = partitionFieldsOf(name, ct.partitioning)
          val fields = columnDefsToFields(name, ct.columns)
          val existed = tableExists(name)
          require(!existed || ct.ignoreIfExists,
            s"CREATE TABLE $name: table already exists " +
              "(use IF NOT EXISTS)")
          if (!existed) {
            val empty = spark.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              org.apache.spark.sql.types.StructType(fields))
            createTable(name, empty, properties = tprops, spec = spec)
            checks.foreach { case (n, sql) =>
              loadTable(name).addCheckConstraint(n, sql) }
          }
          import spark.implicits._
          Seq(getCurrentSnapshotId(name).getOrElse(0L)).toDF("snapshot_id")
        }
      case rts: ReplaceTableAsSelect =>
        identOf(rts.name).map { name =>
          val (tprops, checks) = requirePlainTableSpec(name, rts.tableSpec)
          val spec = partitionFieldsOf(name, rts.partitioning)
          val df = org.apache.spark.sql.GraftSqlBridge.ofRows(spark, rts.query)
          if (tableExists(name)) {
            // redefining the CONSTRAINT set through a replace is
            // ambiguous (old constraints gate the replacement payload
            // via enforceConstraints) — refuse rather than guess
            require(checks.isEmpty,
              s"CREATE OR REPLACE TABLE $name: CHECK constraints on a " +
                "replacement are not supported — drop/add them on the " +
                "existing table (GraftTable.addCheckConstraint)")
            // CREATE OR REPLACE is the atomic drop-and-recreate: user
            // properties RESET to the declared TBLPROPERTIES — every
            // current key not re-declared gets an unset delta in the
            // SAME replace commit (the fold otherwise carries stale
            // keys of the replaced table forever)
            val declared = tprops.keys
              .map(_.stripPrefix(GraftTable.UserPropSetPrefix)).toSet
            val clears = loadTable(name).userProperties().keys
              .filterNot(declared)
              .map(k => (GraftTable.UserPropUnsetPrefix + k) -> "").toMap
            // a redeclared spec governs the replacement payload's
            // layout (metadata-only; earlier eras keep pruning) but
            // commits only after the payload materializes — a failed
            // RTAS leaves the spec unchanged (see GraftTable.replace)
            loadTable(name).replace(df, properties = tprops ++ clears,
              declareSpec = if (spec.nonEmpty) Some(spec) else None)
          } else {
            createTable(name, df, properties = tprops, spec = spec)
            checks.foreach { case (n, sql) =>
              loadTable(name).addCheckConstraint(n, sql) }
          }
          import spark.implicits._
          Seq(getCurrentSnapshotId(name).getOrElse(0L)).toDF("snapshot_id")
        }
      // REPLACE TABLE t (cols…) [PARTITIONED BY …] (r18): the
      // column-list replacement — an EMPTY declared-schema payload
      // through the same atomic replace as RTAS (the redeclared spec
      // commits only after the payload materializes; user properties
      // RESET to the declared TBLPROPERTIES). `CREATE OR REPLACE
      // TABLE t (cols…)` parses here too (orCreate): an absent table
      // is a plain create.
      case rpt: ReplaceTable =>
        identOf(rpt.name).map { name =>
          val (tprops, checks) = requirePlainTableSpec(name, rpt.tableSpec)
          val spec = partitionFieldsOf(name, rpt.partitioning)
          val fields = columnDefsToFields(name, rpt.columns)
          val empty = spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            org.apache.spark.sql.types.StructType(fields))
          if (tableExists(name)) {
            // same constraint-redefinition refusal as RTAS: old CHECKs
            // gate the (empty) replacement; redefining them through a
            // replace is ambiguous
            require(checks.isEmpty,
              s"REPLACE TABLE $name: CHECK constraints on a " +
                "replacement are not supported — drop/add them on the " +
                "existing table (GraftTable.addCheckConstraint)")
            val declared = tprops.keys
              .map(_.stripPrefix(GraftTable.UserPropSetPrefix)).toSet
            val clears = loadTable(name).userProperties().keys
              .filterNot(declared)
              .map(k => (GraftTable.UserPropUnsetPrefix + k) -> "").toMap
            loadTable(name).replace(empty, properties = tprops ++ clears,
              declareSpec = if (spec.nonEmpty) Some(spec) else None)
          } else {
            require(rpt.orCreate,
              s"REPLACE TABLE $name: table not found " +
                "(use CREATE OR REPLACE TABLE to create-if-absent)")
            createTable(name, empty, properties = tprops, spec = spec)
            checks.foreach { case (n, sql) =>
              loadTable(name).addCheckConstraint(n, sql) }
          }
          import spark.implicits._
          Seq(getCurrentSnapshotId(name).getOrElse(0L)).toDF("snapshot_id")
        }
      case dt: DropTable =>
        // route ONLY names that exist as warehouse tables: an IF EXISTS
        // on a non-warehouse name must still fall through, or a real
        // Spark-catalog table/temp view of that name silently survives
        identOf(dt.child).filter(tableExists).map { name =>
          // uniform routed-DDL contract: every routed verb's result
          // carries a snapshot_id column (here the FINAL head the drop
          // removed — the verb that ends a table has no after-state,
          // so it reports CALL-style with the before-state id)
          val last = getCurrentSnapshotId(name).getOrElse(0L)
          dropTable(name)
          import spark.implicits._
          Seq(("drop_table", name, last, "table dropped"))
            .toDF("procedure", "table", "snapshot_id", "detail")
        }
      // ALTER TABLE t RENAME TO u: a REAL warehouse rename (directory
      // move under the namespace + view re-reflection). Without this
      // arm the statement fell through to Spark, which silently
      // renamed only the reflected TEMP VIEW — the warehouse table
      // kept its old name, SQL on it broke until the next commit, and
      // the new name lingered as a STALE orphan view (the r16-class
      // silent-fall-through trap).
      case rt: RenameTable
        if identOf(rt.child).orElse(relNameOf(rt.child))
          .exists(viewExists) =>
        // ALTER VIEW v RENAME TO w (r18): move the stored definition.
        // References to a renamed view are BY NAME and late-bound —
        // other views that referenced the old name refuse at their
        // next read with the view-resolution message, like tables.
        Some {
          val vname = identOf(rt.child).orElse(relNameOf(rt.child)).get
          require(rt.isView,
            s"ALTER TABLE $vname RENAME: '$vname' is a persistent " +
              s"VIEW — use ALTER VIEW $vname RENAME TO …")
          val dest = stripNs(rt.newName).getOrElse(
            throw new IllegalArgumentException(
              s"ALTER VIEW $vname RENAME TO: destination " +
                s"'${rt.newName.mkString(".")}' is not supported (one " +
                "warehouse namespace, 'default')"))
          ViewStore.requireValidName(dest)
          require(!tableExistsCI(dest) && !viewExists(dest) &&
              !matViewExists(dest),
            s"ALTER VIEW $vname RENAME TO $dest: destination name " +
              "already exists")
          // ONE atomic filesystem move — a crash can never leave the
          // definition live under both names
          ViewStore.rename(viewsDir, vname, dest)
          import spark.implicits._
          Seq(("rename_view", dest, 0L, s"renamed from $vname"))
            .toDF("procedure", "table", "snapshot_id", "detail")
        }
      case rt: RenameTable =>
        identOf(rt.child).orElse(relNameOf(rt.child))
          .filter(tableExists).map { name =>
          require(!rt.isView,
            s"ALTER VIEW $name RENAME: '$name' is a warehouse TABLE " +
              s"(its SQL name is a reflected view) — use ALTER TABLE " +
              s"$name RENAME TO …")
          val dest = stripNs(rt.newName).getOrElse(
            throw new IllegalArgumentException(
              s"ALTER TABLE $name RENAME TO: destination " +
                s"'${rt.newName.mkString(".")}' is not supported (one " +
                "warehouse namespace, 'default')"))
          renameTable(name, dest)
          import spark.implicits._
          Seq(("rename_table", dest,
            getCurrentSnapshotId(dest).getOrElse(0L),
            s"renamed from $name"))
            .toDF("procedure", "table", "snapshot_id", "detail")
        }
      // CREATE [OR REPLACE] VIEW v AS SELECT … (r18): a PERSISTENT
      // warehouse view — the definition validates NOW against the
      // live tables and lands on disk ([[ViewStore]]), so a NEW
      // Connector on the same warehouse serves it. Previously the
      // statement refused through Spark (permanent view over a temp
      // view); TEMPORARY views still fall through to Spark unchanged.
      case cv: CreateView =>
        identOf(cv.child).map { vname =>
          require(cv.properties.isEmpty,
            s"CREATE VIEW $vname: TBLPROPERTIES on a view is not " +
              "supported")
          require(cv.collation.isEmpty,
            s"CREATE VIEW $vname: DEFAULT COLLATION is not supported")
          require(cv.userSpecifiedColumns.forall(_._2.isEmpty),
            s"CREATE VIEW $vname: per-column COMMENTs are not supported")
          val text = cv.originalText.getOrElse(
            throw new IllegalArgumentException(
              s"CREATE VIEW $vname: statement carries no SQL text"))
          val exists = viewExists(vname)
          if (exists && cv.allowExisting) {
            import spark.implicits._
            Seq(("create_view", vname, 0L,
              "view already exists (IF NOT EXISTS no-op)"))
              .toDF("procedure", "table", "snapshot_id", "detail")
          } else {
            require(!exists || cv.replace,
              s"CREATE VIEW $vname: view already exists " +
                "(use CREATE OR REPLACE VIEW)")
            val mode = cv.viewSchemaMode match {
              case org.apache.spark.sql.catalyst.analysis.SchemaEvolution =>
                "evolution"
              case org.apache.spark.sql.catalyst.analysis.SchemaTypeEvolution =>
                "typeevolution"
              case _ => "compensation"
            }
            defineView(vname, text,
              Some(cv.userSpecifiedColumns.map(_._1)).filter(_.nonEmpty),
              mode, cv.comment)
          }
        }
      // ALTER VIEW v AS SELECT …: redefinition of a persistent view
      // (same validation as CREATE OR REPLACE; the recorded column
      // list resets — the new text defines the output — while the
      // view's SCHEMA MODE and COMMENT carry over: redefining the
      // query must not silently flip WITH SCHEMA EVOLUTION pinning or
      // drop stored documentation). On a TABLE name it must refuse:
      // falling through would silently redefine the reflected TEMP
      // view until the next commit (the r16 trap).
      case av: AlterViewAs =>
        val nm = identOf(av.child).orElse(relNameOf(av.child))
        nm.filter(viewExists).map { vname =>
          val prev = ViewStore.load(viewsDir, vname)
          defineView(vname, av.originalText, None, prev.mode, prev.comment)
        }.orElse(nm.filter(tableExists).map { name =>
          throw new IllegalArgumentException(
            s"ALTER VIEW $name: '$name' is a warehouse TABLE (its SQL " +
              "name is a reflected view) — views are redefined with " +
              "ALTER VIEW <view> AS or CREATE OR REPLACE VIEW")
        })
      // DROP VIEW: a persistent view's definition file dies (r18). On
      // a warehouse-TABLE name: refuse — falling through would drop
      // the reflected temp view while the table survives, and SQL on
      // the table then fails until its next commit re-reflects it.
      case dv: DropView =>
        val nm = identOf(dv.child).orElse(relNameOf(dv.child))
        nm.filter(viewExists).map { vname =>
          ViewStore.delete(viewsDir, vname)
          import spark.implicits._
          Seq(("drop_view", vname, 0L, "view dropped"))
            .toDF("procedure", "table", "snapshot_id", "detail")
        }.orElse(nm.filter(tableExists).map { name =>
          throw new IllegalArgumentException(
            s"DROP VIEW $name: '$name' is a warehouse TABLE (its SQL " +
              s"name is a reflected view) — use DROP TABLE $name")
        })
      // DESCRIBE [EXTENDED] v on a persistent view (r18): answer from
      // the RECORDED schema (the compensation contract — what a read
      // returns). Without this arm the verb said "not found" while
      // SELECT on the same name worked. Tables keep their tolerated
      // temp-view describe.
      case dr: DescribeRelation
        if identOf(dr.relation).orElse(relNameOf(dr.relation))
          .exists(matViewExists) =>
        // DESCRIBE on a materialized view (r19): the user-facing
        // output columns with their STORED types (from the backing
        // table's schema through the output mapping)
        Some {
          val mvn = MatViewStore.canon(
            identOf(dr.relation).orElse(relNameOf(dr.relation)).get)
          val d = MatViewStore.load(matViewsDir, mvn)
          val sch = GraftTable.load(spark, mvTableDir(mvn), mvn)
            .map(_.schema).getOrElse(
              throw new IllegalStateException(
                s"materialized view $mvn: backing table missing"))
          import spark.implicits._
          val cols = d.out.map {
            case (alias, canonCol) if canonCol.startsWith("avg:") =>
              (alias, "double", null: String)
            case (alias, canonCol) =>
              (alias, sch(canonCol).dataType.simpleString, null: String) }
          val extended = if (!dr.isExtended) Nil else Seq(
            ("", "", null: String),
            ("# Detailed View Information", "", null: String),
            ("Type", "MATERIALIZED VIEW", null: String),
            ("Base Table", d.base, null: String),
            ("View Text", d.sql, null: String))
          (cols ++ extended).toDF("col_name", "data_type", "comment")
        }
      case dr: DescribeRelation =>
        identOf(dr.relation).orElse(relNameOf(dr.relation))
          .filter(viewExists).map { vname =>
          val vd = ViewStore.load(viewsDir, vname)
          val rec = org.apache.spark.sql.types.DataType.fromJson(vd.schemaJson)
            .asInstanceOf[org.apache.spark.sql.types.StructType]
          import spark.implicits._
          val cols = rec.fields.toSeq.map(f =>
            (f.name, f.dataType.simpleString, null: String))
          val extended = if (!dr.isExtended) Nil else Seq(
            ("", "", null: String),
            ("# Detailed View Information", "", null: String),
            ("Type", "VIEW", null: String),
            ("Schema Mode", vd.mode, null: String),
            ("View Text", vd.sql, null: String)) ++
            vd.comment.map(c => ("Comment", c, null: String))
          (cols ++ extended).toDF("col_name", "data_type", "comment")
        }
      // SHOW VIEWS: the warehouse's PERSISTENT views (isTemporary =
      // false) plus Spark's own listing of this session's temp views
      // — Spark's result shape.
      case sv: ShowViews =>
        Some {
          import spark.implicits._
          val pat = sv.pattern.map(p =>
            "(?i)" + p.split("\\|").map(seg =>
              seg.split("\\*", -1).map(java.util.regex.Pattern.quote)
                .mkString(".*")).mkString("|"))
          val ours = views
            .filter(n => pat.forall(n.matches))
            .map(n => ("default", n, false))
            .toDF("namespace", "viewName", "isTemporary")
          ours.unionByName(
            org.apache.spark.sql.GraftSqlBridge.ofRows(spark, sv)
              .toDF("namespace", "viewName", "isTemporary"))
        }
      // CREATE TABLE u LIKE t: an EMPTY warehouse table with the
      // source's schema and partition spec. Falling through would
      // CREATE a Spark-catalog table from the temp view's schema — a
      // silent non-warehouse sibling the user thinks is one.
      case ctl: org.apache.spark.sql.execution.command.CreateTableLikeCommand
        if ctl.sourceTable.database.forall(_.equalsIgnoreCase("default")) &&
          tableExists(ctl.sourceTable.table) =>
        Some {
          val src = ctl.sourceTable.table
          require(ctl.targetTable.database
              .forall(_.equalsIgnoreCase("default")),
            s"CREATE TABLE LIKE $src: qualified target " +
              s"'${ctl.targetTable}' is not supported (one warehouse " +
              "namespace, 'default')")
          require(ctl.provider.forall(_.equalsIgnoreCase("parquet")),
            s"CREATE TABLE LIKE $src: USING " +
              s"${ctl.provider.getOrElse("")} is not supported " +
              "(warehouse tables are parquet)")
          require(ctl.fileFormat.locationUri.isEmpty &&
              ctl.fileFormat.serde.isEmpty,
            s"CREATE TABLE LIKE $src: LOCATION/serde clauses are not " +
              "supported on warehouse tables")
          val dest = ctl.targetTable.table
          val existed = tableExists(dest)
          require(!existed || ctl.ifNotExists,
            s"CREATE TABLE $dest: table already exists " +
              "(use IF NOT EXISTS)")
          if (!existed) {
            val t = loadTable(src)
            val empty = spark.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              t.schema)
            createTable(dest, empty,
              properties = ctl.properties.map { case (k, v) =>
                (GraftTable.UserPropSetPrefix + k) -> v },
              spec = t.partitionSpec)
          }
          import spark.implicits._
          Seq(getCurrentSnapshotId(dest).getOrElse(0L)).toDF("snapshot_id")
        }
      // ALTER TABLE … SET/UNSET TBLPROPERTIES: user-level table
      // properties as one metadata-only commit, readable back via
      // `t$properties` / SHOW TBLPROPERTIES, historical values via
      // `` `t$properties` VERSION AS OF n `` (deltas fold from the
      // log — see GraftTable.userProperties).
      case sp: SetTableProperties =>
        nameOf(sp.table).filter(tableExists).map { name =>
          done(loadTable(name).setProperties(sp.properties))
        }
      case up: UnsetTableProperties =>
        nameOf(up.table).filter(tableExists).map { name =>
          done(loadTable(name).unsetProperties(up.propertyKeys, up.ifExists))
        }
      // SHOW TBLPROPERTIES t ['key']: read back the user properties
      // (Spark's own would refuse on the temp view).
      case st: ShowTableProperties =>
        identOf(st.table).orElse(relNameOf(st.table))
          .filter(tableExists).map { name =>
          val props = loadTable(name).userProperties()
          import spark.implicits._
          st.propertyKey match {
            case Some(k) =>
              val v = props.getOrElse(k, throw new IllegalArgumentException(
                s"SHOW TBLPROPERTIES $name: no property '$k' " +
                  s"(set: ${props.keys.toSeq.sorted.mkString(", ")})"))
              Seq((k, v)).toDF("key", "value")
            case None =>
              props.toSeq.sortBy(_._1).toDF("key", "value")
          }
        }
      // SHOW CREATE TABLE t: ONE re-executable DDL statement for THIS
      // engine — columns + NOT NULL + current write-defaults,
      // PARTITIONED BY transforms, user TBLPROPERTIES (Spark's own
      // refuses on the reflected temp view). Spark's result shape.
      case sct: ShowCreateTable =>
        val nm = identOf(sct.child).orElse(relNameOf(sct.child))
        nm.filter(tableExists).map { name =>
          require(!sct.asSerde,
            s"SHOW CREATE TABLE $name AS SERDE: warehouse tables have " +
              "no Hive serde form")
          import spark.implicits._
          Seq(loadTable(name).showCreateTableSql).toDF("createtab_stmt")
        }.orElse(nm.filter(viewExists).map { vname =>
          // a persistent view round-trips as its stored text — with
          // the comment and non-default schema mode, so re-executing
          // the emitted DDL reproduces the view's full behavior
          val vd = ViewStore.load(viewsDir, vname)
          val colsTxt = vd.cols
            .map(_.map(c => s"`$c`").mkString(" (", ", ", ")"))
            .getOrElse("")
          val commentTxt = vd.comment
            .map(c => s" COMMENT '${c.replace("'", "''")}'")
            .getOrElse("")
          val modeTxt = vd.mode match {
            case "evolution" => " WITH SCHEMA EVOLUTION"
            case "typeevolution" => " WITH SCHEMA TYPE EVOLUTION"
            case _ => ""
          }
          import spark.implicits._
          Seq(s"CREATE VIEW `$vname`$colsTxt$commentTxt$modeTxt " +
            s"AS ${vd.sql}").toDF("createtab_stmt")
        }).orElse(nm.filter(matViewExists).map { mvn =>
          val d = MatViewStore.load(matViewsDir, MatViewStore.canon(mvn))
          import spark.implicits._
          Seq(s"CREATE MATERIALIZED VIEW `${d.name}` AS ${d.sql}")
            .toDF("createtab_stmt")
        })
      // SHOW PARTITIONS t [PARTITION (c = v)]: the distinct partition
      // tuples of the current spec, manifest-stats-first (see
      // GraftTable.showPartitionsDf). The optional PARTITION filter
      // post-selects tuples on identity columns by rendered value.
      case sp: ShowPartitions =>
        identOf(sp.table).orElse(relNameOf(sp.table))
          .filter(tableExists).map { name =>
          val t = loadTable(name)
          val df = t.showPartitionsDf()
          sp.pattern match {
            case None => df
            case Some(u: org.apache.spark.sql.catalyst.analysis.UnresolvedPartitionSpec) =>
              val idCols = t.partitionSpec
                .filter(_.kind == "identity").map(_.column).toSet
              val sch = t.schema
              u.spec.foreach { case (k, _) =>
                require(idCols.contains(k),
                  s"SHOW PARTITIONS $name PARTITION: '$k' is not an " +
                    "IDENTITY partition column of the current spec")
              }
              u.spec.foldLeft(df) { case (acc, (k, v)) =>
                // canonicalize through the column type + the SAME
                // formatter the tuples render with — the user's
                // literal spelling (`yr = 01995`, `yr = 1995.0`) must
                // match the tuple, not silently return zero rows; an
                // un-castable value refuses like TRUNCATE/INSERT
                // PARTITION do. Numeric columns normalize through
                // DOUBLE with an exact round-trip check: `1995.7`
                // names no INT partition and refuses rather than
                // silently truncating to 1995's.
                import org.apache.spark.sql.functions.lit
                def refuse(): Nothing = throw new IllegalArgumentException(
                  s"SHOW PARTITIONS $name PARTITION: value '$v' does " +
                    s"not cast to ${sch(k).dataType.simpleString} for " +
                    s"partition column '$k'")
                val dt = sch(k).dataType
                val rendered: String = dt match {
                  case _: org.apache.spark.sql.types.NumericType =>
                    val d = lit(v).try_cast("double")
                    val r = spark.range(1).select(d.as("d"),
                      d.cast(dt).as("c"),
                      d.cast(dt).cast("double").as("rt")).collect().head
                    if (r.isNullAt(0) || r.isNullAt(1) ||
                      r.getDouble(0) != r.getDouble(2)) refuse()
                    Partitioning.fmtStatValue(
                      r.get(1).asInstanceOf[Number].doubleValue)
                  case _ =>
                    Option(spark.range(1).select(lit(v).try_cast(dt))
                      .collect().head.get(0))
                      .map(_.toString).getOrElse(refuse())
                }
                acc.filter(org.apache.spark.sql.functions.col("partition")
                  .rlike(s"(^|/)${
                    java.util.regex.Pattern.quote(s"$k=$rendered")}(/|$$)"))
              }
            case Some(other) => throw new IllegalArgumentException(
              s"SHOW PARTITIONS $name: unsupported partition spec " +
                s"shape '$other'")
          }
        }
      // ANALYZE TABLE t COMPUTE STATISTICS [NOSCAN] (r18): table-level
      // stats answered from MANIFESTS alone — file count, byte size,
      // and the per-file row counts every commit records (metaCount);
      // zero data files open, no Spark job, the same numbers `t$files`
      // exposes per file. Only a pre-upgrade manifest without row
      // counts scans, and NOSCAN reports unknown instead. Uniform
      // CALL-style result row.
      case at: AnalyzeTable =>
        identOf(at.child).orElse(relNameOf(at.child))
          .filter(tableExists).map { name =>
          require(at.partitionSpec.isEmpty,
            s"ANALYZE TABLE $name PARTITION: partition-scoped analyze " +
              "is not supported — stats are per-file in the manifests " +
              s"(see `$name$$partitions`)")
          val t = loadTable(name)
          val snaps = t.log.snapshots
          val statsByFile = snaps.flatMap(_.stats).toMap
          val files = t.log.filesWithSnapOf(snaps, None).map { case (abs, _) =>
            java.nio.file.Paths.get(abs) }
          val bytes = files.map { p =>
            statsByFile.get(tableDir(name).relativize(p).toString)
              .map(_.bytes).filter(_ >= 0)
              .getOrElse(scala.util.Try(Files.size(p)).getOrElse(0L))
          }.sum
          val (rowsTxt, src) = t.metaCount() match {
            case Some(n) => (n.toString, "manifest")
            case None if at.noScan => ("unknown", "manifest (NOSCAN)")
            case None => (t.read().count().toString, "scan fallback")
          }
          import spark.implicits._
          Seq(("analyze_table", name,
            getCurrentSnapshotId(name).getOrElse(0L),
            s"files=${files.size} rows=$rowsTxt bytes=$bytes " +
              s"source=$src"))
            .toDF("procedure", "table", "snapshot_id", "detail")
        }
      // ANALYZE TABLE t COMPUTE STATISTICS FOR [ALL] COLUMNS (r18):
      // per-column min / max / null_count / distinct_count / row_count
      // as a relation. This one SCANS — column-pruned, one aggregate
      // pass over exactly the named columns (ndv is approximate, HLL —
      // the 100-TB-sane choice Spark's own ANALYZE makes); the
      // metadata-only alternatives stay on `t$files` / `t$partitions`.
      case ac: AnalyzeColumn =>
        identOf(ac.child).orElse(relNameOf(ac.child))
          .filter(tableExists).map { name =>
          val t = loadTable(name)
          val sch = t.schema
          def atomic(f: org.apache.spark.sql.types.StructField): Boolean =
            f.dataType match {
              case _: org.apache.spark.sql.types.ArrayType |
                   _: org.apache.spark.sql.types.MapType |
                   _: org.apache.spark.sql.types.StructType => false
              case _ => true
            }
          val cols: Seq[String] =
            if (ac.allColumns) sch.fields.filter(atomic).map(_.name).toSeq
            else {
              val named = ac.columnNames.getOrElse(Seq.empty)
              named.foreach { c =>
                require(sch.fieldNames.contains(c),
                  s"ANALYZE TABLE $name: no column '$c'")
                require(atomic(sch(c)),
                  s"ANALYZE TABLE $name: column '$c' is " +
                    s"${sch(c).dataType.simpleString} — complex types " +
                    "have no min/max stats")
              }
              named
            }
          require(cols.nonEmpty,
            s"ANALYZE TABLE $name: no analyzable columns")
          import org.apache.spark.sql.functions.{approx_count_distinct,
            col, lit, max, min, sum, when}
          val aggs = cols.flatMap(c => Seq(
            min(col(c)).cast("string").as(s"__mn_$c"),
            max(col(c)).cast("string").as(s"__mx_$c"),
            sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nc_$c"),
            approx_count_distinct(col(c)).as(s"__dc_$c"))) :+
            org.apache.spark.sql.functions.count(lit(1)).as("__rows")
          val r = t.read().select(cols.map(col): _*)
            .agg(aggs.head, aggs.tail: _*).collect().head
          val rows = r.getAs[Long]("__rows")
          def nz(k: String): Long =
            Option(r.getAs[Any](k)).map(_.asInstanceOf[Number].longValue)
              .getOrElse(0L)
          import spark.implicits._
          cols.sorted.map { c =>
            (c, r.getAs[String](s"__mn_$c"), r.getAs[String](s"__mx_$c"),
              nz(s"__nc_$c"), nz(s"__dc_$c"), rows)
          }.toDF("column", "min", "max", "null_count", "distinct_count",
            "row_count")
        }
      // COMMENT ON TABLE t IS 'x' / IS NULL: the table comment lives
      // as the user property 'comment' (one metadata-only commit) —
      // visible via SHOW TBLPROPERTIES / `t$properties` and carried by
      // SHOW CREATE TABLE's TBLPROPERTIES clause.
      case cot: CommentOnTable =>
        nameOf(cot.table).filter(tableExists).map { name =>
          val t = loadTable(name)
          // Spark's parser maps `IS NULL` to the empty string, so ""
          // (like null) clears the comment rather than storing ''
          done(Option(cot.comment).filter(_.nonEmpty) match {
            case Some(text) => t.setProperties(Map("comment" -> text))
            case None => t.unsetProperties(Seq("comment"), ifExists = true)
          })
        }
      // schema evolution as SQL: ADD/RENAME/DROP COLUMN route to the
      // field-id-aware evolve commits (defaults included — the v3
      // initial/write-default pair rides ALTER TABLE … ADD COLUMN …
      // DEFAULT k); type changes and nested paths refuse loudly
      case ac: AddColumns =>
        nameOf(ac.table).filter(tableExists).map { name =>
          val t = loadTable(name)
          val (fields, defaults) = ac.columnsToAdd.map { q =>
            require(q.path.isEmpty,
              s"ALTER TABLE $name: nested column adds are not supported")
            require(q.position.isEmpty,
              s"ALTER TABLE $name: column POSITION is not supported " +
                "(new columns append)")
            val f = org.apache.spark.sql.types.StructField(
              q.colName, q.dataType, nullable = true)
            val d = q.default.map(dv =>
              q.colName -> evalConst(dv.child, Some(q.dataType)))
            (f, d)
          }.unzip
          done(t.addColumns(
            org.apache.spark.sql.types.StructType(fields),
            defaults.flatten.toMap))
        }
      // ALTER COLUMN … SET DEFAULT k / DROP DEFAULT: the mutable
      // write-default half ([[GraftTable.setColumnDefault]]).
      // ALTER COLUMN c TYPE <wider> (r18): routes to the metadata-only
      // Iceberg type promotion ([[GraftTable.widenColumn]] — era files
      // keep the narrow physical type, reads cast); narrowing and
      // non-promotions refuse through widenColumn's own message, as do
      // nullability, position, and comment changes. EVERY spec
      // validates (and its value evaluates) BEFORE the first commit: a
      // multi-column statement refusing on a later spec must not leave
      // earlier specs durably applied (atomic DDL).
      case ac: AlterColumns =>
        nameOf(ac.table).filter(tableExists).map { name =>
          val t = loadTable(name)
          type Action = Either[(String, org.apache.spark.sql.types.DataType),
            (String, Option[Any])]
          val actions: Seq[Action] = ac.specs.flatMap { s =>
            require(s.column.name.length == 1,
              s"ALTER TABLE $name: nested column alters are not supported")
            require(s.newNullability.isEmpty &&
                s.newPosition.isEmpty && s.newComment.isEmpty,
              s"ALTER TABLE $name ALTER COLUMN: only SET DEFAULT, " +
                "DROP DEFAULT, and TYPE <wider> are supported " +
                "(nullability/position/comment changes refuse)")
            val cn = s.column.name.head
            require(t.schema.fieldNames.contains(cn),
              s"ALTER TABLE $name: no column '$cn'")
            s.newDataType match {
              case Some(dt) =>
                require(!s.dropDefault && s.newDefaultExpression.isEmpty,
                  s"ALTER TABLE $name ALTER COLUMN $cn: TYPE and " +
                    "DEFAULT changes combine ambiguously — use " +
                    "separate statements")
                t.widenPreflight(cn, dt)
                Seq(Left(cn -> dt): Action)
              case None =>
                (if (s.dropDefault) Seq(Right(cn -> None): Action)
                 else Nil) ++
                  s.newDefaultExpression.map(dv => Right(cn ->
                    Some(evalConst(dv.child,
                      Some(t.schema(cn).dataType)))): Action)
            }
          }
          require(actions.nonEmpty,
            s"ALTER TABLE $name ALTER COLUMN: nothing to do — " +
              "only SET DEFAULT / DROP DEFAULT / TYPE <wider> are " +
              "supported")
          done(actions.map {
            case Left((cn, dt)) => t.widenColumn(cn, dt)
            case Right((cn, v)) => t.setColumnDefault(cn, v)
          }.last)
        }
      case rc: RenameColumn =>
        nameOf(rc.table).filter(tableExists).map { name =>
          require(rc.column.name.length == 1,
            s"ALTER TABLE $name: nested column renames are not supported")
          done(loadTable(name).renameColumn(rc.column.name.head, rc.newName))
        }
      case dc: DropColumns =>
        nameOf(dc.table).filter(tableExists).map { name =>
          val t = loadTable(name)
          var last: Option[Snapshot] = None
          dc.columnsToDrop.foreach { f =>
            require(f.name.length == 1,
              s"ALTER TABLE $name: nested column drops are not supported")
            if (!dc.ifExists || t.schema.fieldNames.contains(f.name.head))
              last = Some(t.dropColumn(f.name.head))
          }
          done(last.getOrElse(t.log.head.get))
        }
      case i: InsertIntoStatement =>
        nameOf(i.table).filter(tableExists).map { name =>
          require(!i.ifPartitionNotExists,
            s"INSERT INTO $name: IF NOT EXISTS on a partition is not " +
              "supported")
          val t = loadTable(name)
          val src = org.apache.spark.sql.GraftSqlBridge.ofRows(spark, i.query)
          val sch = t.schema
          // PARTITION (c = v, …): STATIC values fill the named columns
          // (Hive/Spark semantics) and, under OVERWRITE, define the
          // replaced region. Only IDENTITY partition columns of the
          // current spec are addressable (same rule as TRUNCATE …
          // PARTITION — hidden transforms have no SQL-spellable value);
          // dynamic entries (a bare column name) refuse.
          val dynCols = i.partitionSpec.collect { case (k, None) => k }
          require(dynCols.isEmpty,
            s"INSERT INTO $name PARTITION: dynamic partition columns " +
              s"(${dynCols.mkString(", ")}) are not supported — set " +
              "spark.sql.sources.partitionOverwriteMode=dynamic and " +
              "omit the clause (hidden partitioning lays out every " +
              "write), or give each column a static value")
          val staticPart: Map[String, String] =
            i.partitionSpec.collect { case (k, Some(v)) => k -> v }
          // validate addressability now (shared rule + refusal);
          // OVERWRITE reuses the predicate below
          val staticPred = if (staticPart.isEmpty) None
            else Some(identityPartitionPredicate(t, staticPart,
              s"INSERT INTO $name PARTITION"))
          if (i.overwrite && staticPart.nonEmpty) {
            // the clause DEFINES the replaced region, so it must name
            // EVERY identity partition column — a partial clause would
            // silently replace sub-partitions the payload never
            // touched (Spark's static mode refuses partial clauses
            // too; its dynamic remainder is the no-clause dynamic
            // mode below)
            val idCols = t.partitionSpec
              .filter(_.kind == "identity").map(_.column).toSet
            val missing = idCols -- staticPart.keySet
            require(missing.isEmpty,
              s"INSERT OVERWRITE $name PARTITION: the clause must name " +
                "every identity partition column (missing: " +
                s"${missing.toSeq.sorted.mkString(", ")}) — or omit the " +
                "clause with partitionOverwriteMode=dynamic to replace " +
                "exactly the payload's partitions")
          }
          // VALUES/SELECT bind positionally unless BY NAME was written;
          // an explicit column list names the positions; rename + cast
          // to the declared types so literal frames (col1, col2, …)
          // land under the table's column names
          // positional binding targets the schema MINUS the statically
          // partition-set columns (Hive/Spark: the clause's columns are
          // not in the select list)
          val posFields =
            sch.fields.filterNot(f => staticPart.contains(f.name))
          val bound0 =
            if (i.byName) src
            else if (i.userSpecifiedCols.nonEmpty) {
              require(src.columns.length == i.userSpecifiedCols.length,
                s"INSERT INTO $name: ${src.columns.length} columns " +
                  s"provided for ${i.userSpecifiedCols.length} named")
              src.toDF(i.userSpecifiedCols: _*)
            } else {
              require(src.columns.length == posFields.length,
                s"INSERT INTO $name: ${src.columns.length} columns " +
                  s"provided, table has ${posFields.length}" +
                  (if (staticPart.isEmpty) ""
                   else s" after the ${staticPart.size} static " +
                     "PARTITION column(s)"))
              src.toDF(posFields.map(_.name).toSeq: _*)
            }
          // a column not in the schema (a typo'd name) refuses loudly
          // — the reorder below would silently drop it otherwise; a
          // statically-set column in the payload would conflict
          bound0.columns.find(c => !sch.fieldNames.contains(c)).foreach(c =>
            throw new IllegalArgumentException(
              s"INSERT INTO $name: unknown column '$c' (table columns: " +
                s"${sch.fieldNames.mkString(", ")})"))
          bound0.columns.find(staticPart.contains).foreach(c =>
            throw new IllegalArgumentException(
              s"INSERT INTO $name: column '$c' is set by the PARTITION " +
                "clause and cannot also be in the payload"))
          val bound = staticPart.foldLeft(bound0) { case (d, (k, v)) =>
            d.withColumn(k, lit(v).cast(sch(k).dataType))
          }
          // ANSI omitted-column semantics for a column list / BY NAME:
          // the write-default when declared, else a typed NULL when
          // nullable; a NOT NULL column without a default must be named
          val filled = sch.fields
            .filterNot(f => bound.columns.contains(f.name))
            .foldLeft(bound) { (d, f) =>
              GraftTable.writeDefaultOf(f) match {
                case Some(dflt) => d.withColumn(f.name, dflt)
                case None =>
                  require(f.nullable,
                    s"INSERT INTO $name: column '${f.name}' is NOT " +
                      "NULL and has no DEFAULT — it must be assigned")
                  d.withColumn(f.name,
                    lit(null).cast(f.dataType))
              }
            }
          val cast = filled.select(sch.fields.toSeq.map { f =>
            org.apache.spark.sql.functions.col(f.name)
              .cast(f.dataType).as(f.name)
          }: _*)
          // OVERWRITE routing: a static PARTITION clause is Delta's
          // replaceWhere — ONE atomic commit replaces exactly the
          // named region, file-probe pruned to that partition
          // (GraftTable.overwriteWhere). With NO clause, Spark's
          // partitionOverwriteMode governs: dynamic + a partitioned
          // table ⇒ replace only the partitions the payload touches
          // (Iceberg's dynamic overwrite, the daily-backfill shape —
          // two partitions probed on a 100-TB table, not the table);
          // static (the default) ⇒ full-table replace.
          val dynamicMode = spark.conf
            .getOption("spark.sql.sources.partitionOverwriteMode")
            .exists(_.equalsIgnoreCase("dynamic"))
          done(
            if (i.overwrite && staticPred.nonEmpty)
              t.overwriteWhere(staticPred.get, cast)
            else if (i.overwrite && dynamicMode &&
                t.partitionSpec.nonEmpty) {
              // Spark/Iceberg semantics: an EMPTY dynamic overwrite
              // replaces nothing and succeeds (a nightly backfill over
              // an empty source day is a no-op, not a crash) — the
              // strict engine API keeps refusing, the SQL surface
              // no-ops at the current head
              if (cast.isEmpty) t.log.head.getOrElse(
                throw new IllegalStateException(
                  s"table $name has no snapshots"))
              else t.overwritePartitions(cast)
            } else if (i.overwrite)
              // DML-shaped whole-table overwrite: the table's declared
              // schema (field ids, defaults, nullability) survives —
              // see GraftTable.replace keepSchema
              t.replace(cast, keepSchema = true)
            else t.append(cast))
        }
      case u: UpdateTable =>
        nameOf(u.table).filter(tableExists).map { name =>
          val set = u.assignments.map { a =>
            val k = a.key match {
              case att: UnresolvedAttribute => att.nameParts.last
              case other => throw new IllegalArgumentException(
                s"UPDATE $name: unsupported SET target '$other'")
            }
            k -> asCol(a.value)
          }.toMap
          val cond = u.condition.map(asCol).getOrElse(lit(true))
          done(loadTable(name).updateWhere(cond, set))
        }
      case d: DeleteFromTable =>
        nameOf(d.table).filter(tableExists).map { name =>
          val cond = Option(d.condition).map(asCol).getOrElse(lit(true))
          done(loadTable(name).deleteWhere(cond))
        }
      // TRUNCATE TABLE ≡ the unconditional transactional delete: one
      // CoW commit empties the visible set, history stays travelable
      case tr: TruncateTable =>
        nameOf(tr.table).filter(tableExists).map { name =>
          done(loadTable(name).deleteWhere(lit(true)))
        }
      // TRUNCATE TABLE … PARTITION (c = v, …): partition-scoped
      // truncate routes to the transactional CoW delete on the
      // partition predicate. Only IDENTITY partition columns of the
      // CURRENT spec are addressable by value (a hidden transform's
      // partitions — years(ts), bucket(n, k) — have no SQL-spellable
      // value); the stats-era probe prunes to the named partition's
      // files, so other partitions' bytes are never read or rewritten.
      case tp: TruncatePartition =>
        nameOf(tp.table).filter(tableExists).map { name =>
          val t = loadTable(name)
          val spec = tp.partitionSpec match {
            case u: org.apache.spark.sql.catalyst.analysis.UnresolvedPartitionSpec =>
              u.spec
            case other => throw new IllegalArgumentException(
              s"TRUNCATE TABLE $name PARTITION: unsupported partition " +
                s"spec shape '$other'")
          }
          require(spec.nonEmpty,
            s"TRUNCATE TABLE $name PARTITION: empty partition spec")
          done(t.deleteWhere(
            identityPartitionPredicate(t, spec,
              s"TRUNCATE TABLE $name PARTITION")))
        }
      case m: MergeIntoTable =>
        nameOf(m.targetTable).filter(tableExists).map { name =>
          // arm conditions bind against ONE side each (GraftTable.merge
          // evaluates the matched-delete arm on the INCOMING row and
          // the not-matched-by-source arm on the STORED row), so a
          // reference qualified with the OTHER side's name must refuse
          // — silently stripping the qualifier would rebind it to the
          // wrong relation and commit wrong data
          def aliasOf(p: LogicalPlan): Option[String] = p match {
            case a: SubqueryAlias => Some(a.alias)
            case _ => None
          }
          val targetNames = Set(name) ++ aliasOf(m.targetTable)
          val sourceNames =
            nameOf(m.sourceTable).toSet ++ aliasOf(m.sourceTable)
          def refuseQualified(e: Expression, banned: Set[String],
              arm: String, side: String): Unit = {
            val bad = e.collect {
              case a: UnresolvedAttribute if a.nameParts.length > 1 &&
                banned.contains(a.nameParts.head) => a.nameParts.mkString(".")
            }
            require(bad.isEmpty, s"MERGE INTO $name: $arm is evaluated " +
              s"against the $side row — ${bad.mkString(", ")} cannot be " +
              "referenced there")
          }
          // ON: equality conjuncts over same-named columns = merge keys
          def keysOf(e: Expression): Seq[String] = e match {
            case And(l, r) => keysOf(l) ++ keysOf(r)
            case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
              if a.nameParts.last == b.nameParts.last => Seq(a.nameParts.last)
            case other => throw new IllegalArgumentException(
              s"MERGE INTO $name: ON must be a conjunction of equalities " +
                s"on same-named key columns, got '$other'")
          }
          val keys = keysOf(m.mergeCondition).distinct
          // arm shape = GraftTable.merge's contract: matched rows are
          // REPLACED by the incoming row (UPDATE SET * mandatory, an
          // optional DELETE [AND cond] arm wins over it), unmatched
          // incoming rows INSERT (* mandatory), and NOT MATCHED BY
          // SOURCE supports THEN DELETE [AND cond]. Anything else —
          // partial SET lists, conditional update arms — refuses
          // loudly rather than silently approximating.
          var sawUpdate = false
          var matchedDelete: org.apache.spark.sql.Column = lit(false)
          m.matchedActions.foreach {
            case UpdateStarAction(None) => sawUpdate = true
            case DeleteAction(c) =>
              c.foreach(refuseQualified(_, targetNames,
                "WHEN MATCHED … DELETE's condition", "incoming"))
              matchedDelete = c.map(asCol).getOrElse(lit(true))
            case other => throw new IllegalArgumentException(
              s"MERGE INTO $name: unsupported WHEN MATCHED action " +
                s"'$other' — supported: UPDATE SET *, DELETE [AND cond]")
          }
          require(sawUpdate, s"MERGE INTO $name needs WHEN MATCHED THEN " +
            "UPDATE SET * (matched rows are replaced by the incoming row)")
          val sawInsert = m.notMatchedActions.map {
            case InsertStarAction(None) => true
            case other => throw new IllegalArgumentException(
              s"MERGE INTO $name: unsupported WHEN NOT MATCHED action " +
                s"'$other' — supported: INSERT *")
          }
          require(sawInsert.nonEmpty, s"MERGE INTO $name needs WHEN NOT " +
            "MATCHED THEN INSERT * (unmatched incoming rows insert)")
          val bySource = m.notMatchedBySourceActions.map {
            case DeleteAction(c) =>
              c.foreach(refuseQualified(_, sourceNames,
                "WHEN NOT MATCHED BY SOURCE … DELETE's condition", "stored"))
              c.map(asCol).getOrElse(lit(true))
            case other => throw new IllegalArgumentException(
              s"MERGE INTO $name: unsupported WHEN NOT MATCHED BY SOURCE " +
                s"action '$other' — supported: DELETE [AND cond]")
          }
          require(bySource.size <= 1,
            s"MERGE INTO $name: at most one NOT MATCHED BY SOURCE arm")
          val incoming = org.apache.spark.sql.GraftSqlBridge
            .ofRows(spark, m.sourceTable)
          done(loadTable(name).merge(incoming, keys, matchedDelete,
            whenNotMatchedBySourceDelete = bySource.headOption))
        }
      case _ => None
    }
  }

  /** Refuse CREATE TABLE clauses this surface cannot honor — silently
    * discarding a LOCATION while still creating a warehouse table
    * would be worse than either honoring or refusing (the statement
    * used to reach Spark's catalog, which honored them). `USING
    * parquet` is accepted (warehouse tables ARE parquet); a COMMENT is
    * accepted and ignored (cosmetic). TBLPROPERTIES (r17) are HONORED:
    * returned as the create commit's user-property deltas, readable
    * back via `t$properties` / SHOW TBLPROPERTIES. */
  /** Returns (create-snapshot user-property entries, CREATE-time CHECK
    * constraints as (name, condition SQL)). CHECK constraints route to
    * [[GraftTable.addCheckConstraint]] after the create (r17 — the
    * same store SHOW CREATE TABLE emits from); every OTHER constraint
    * flavor (PK/FK/UNIQUE) and clause this surface cannot honor
    * refuses rather than silently dropping. */
  private def requirePlainTableSpec(name: String,
      spec: org.apache.spark.sql.catalyst.plans.logical.TableSpecBase)
      : (Map[String, String], Seq[(String, String)]) = spec match {
    case u: org.apache.spark.sql.catalyst.plans.logical.UnresolvedTableSpec =>
      def no(cond: Boolean, what: String): Unit = require(cond,
        s"CREATE TABLE $name: $what is not supported on warehouse " +
          "tables — this surface cannot honor it, refusing rather " +
          "than silently dropping it")
      no(u.provider.forall(_.equalsIgnoreCase("parquet")),
        s"USING ${u.provider.getOrElse("")}")
      no(u.optionExpression.options.isEmpty, "OPTIONS")
      no(u.location.isEmpty, "LOCATION (tables live in the warehouse)")
      no(u.serde.isEmpty, "a serde clause")
      no(!u.external, "EXTERNAL")
      no(u.collation.isEmpty, "DEFAULT COLLATION")
      val checks = u.constraints.map {
        case c: org.apache.spark.sql.catalyst.expressions.CheckConstraint =>
          c.name -> c.condition
        case other => throw new IllegalArgumentException(
          s"CREATE TABLE $name: only CHECK constraints are supported " +
            s"on warehouse tables, got '${other.sql}'")
      }
      (u.properties.map { case (k, v) =>
        (GraftTable.UserPropSetPrefix + k) -> v }, checks)
    case _ => (Map.empty, Nil)
  }

  /** Column-list DDL (`CREATE TABLE t (cols…)`, `REPLACE TABLE t
    * (cols…)`) → schema fields, with DEFAULTs landing as the same v3
    * initial/write-default metadata ALTER…ADD COLUMN writes
    * ([[GraftTable.withDefaultMetadata]] — the ONE default-metadata
    * discipline). */
  private def columnDefsToFields(name: String,
      columns: Seq[org.apache.spark.sql.catalyst.plans.logical.ColumnDefinition])
      : Seq[org.apache.spark.sql.types.StructField] =
    columns.map { c =>
      require(c.generationExpression.isEmpty &&
          c.identityColumnSpec.isEmpty,
        s"CREATE TABLE $name: generated/identity columns are " +
          "not supported")
      val f = org.apache.spark.sql.types.StructField(
        c.name, c.dataType, c.nullable)
      c.defaultValue match {
        case None => f
        case Some(dv) =>
          GraftTable.withDefaultMetadata(f,
            evalConst(dv.child, Some(c.dataType)))
      }
    }

  /** Map SQL `PARTITIONED BY` transforms to the warehouse's hidden-
    * partitioning [[PartitionField]]s — identity, years/months/days/
    * hours, bucket(n, col), truncate(w, col). Anything else (nested
    * references, multi-column buckets) refuses loudly. */
  private def partitionFieldsOf(name: String,
      transforms: Seq[org.apache.spark.sql.connector.expressions.Transform])
      : Seq[PartitionField] =
    transforms.map { t =>
      org.apache.spark.sql.GraftSqlBridge.decodeTransform(t) match {
        case ("?", desc, _) => throw new IllegalArgumentException(
          s"CREATE TABLE $name: unsupported partition transform " +
            s"'$desc' — supported: identity columns (single, " +
            "non-nested), years/months/days/hours, bucket(n, col), " +
            "truncate(w, col)")
        case (kind, colName, param) => PartitionField(kind, colName, param)
      }
    }

  /** SQL `CALL` PROCEDURES (the Iceberg `CALL catalog.proc` shape;
    * Spark parses CALL natively): the table-lifecycle verbs that
    * aren't statements — compaction, history expiry, orphan reclaim,
    * snapshot refs, rollback — addressable as SQL text, routing to the
    * same [[GraftTable]] composites the Scala API and CLI use. Names
    * accept an optional `graft`/`system` prefix; arguments are
    * positional or named (`table => 't'`) foldable expressions. Every
    * procedure returns the SAME one-row shape
    * `(procedure, table, snapshot_id, detail)` — snapshot_id is the
    * table head AFTER the call.
    *
    * Maintenance:
    *  - `binpack(table [, small_bytes, target_bytes])` — coalesce
    *    small files ([[GraftTable.compactSmall]]); no-op detail when
    *    nothing qualified.
    *  - `compact(table [, target_files])` — full rewrite.
    *  - `zorder(table, col, col…)` — full rewrite, Z-order clustered.
    *  - `expire_snapshots(table [, keep_from_id])` — default keeps
    *    from a fresh [[GraftTable.checkpoint]] (the maintain shape).
    *  - `vacuum(table [, grace_ms])` — remove orphan files.
    *  - `maintain(table [, expire])` — the full composite.
    *  - `checkpoint(table)` — self-contained snapshot (pre-expiry cut).
    *
    * History and refs (completing the WAP workflow as pure SQL text —
    * Iceberg spells these `rollback_to_snapshot`, `create_tag`, …):
    *  - `rollback_to_snapshot(table, snapshot_id)` — history-preserving
    *    UNDO ([[GraftTable.rollbackTo]]).
    *  - `create_tag(table, name [, snapshot_id])` / `drop_tag(table,
    *    name)` — expiry-protected named pins, readable via
    *    `VERSION AS OF 'name'`.
    *  - `create_branch(table, name)` / `publish_branch(table, name)` /
    *    `drop_branch(table, name)` — WAP staging: stage writes on the
    *    branch (sink option or `appendBranch`), audit via
    *    `VERSION AS OF 'name'`, fast-forward main or discard. */
  private val callParams: Map[String, Seq[String]] = Map(
    "binpack" -> Seq("table", "small_bytes", "target_bytes"),
    "compact" -> Seq("table", "target_files"),
    "zorder" -> Seq("table", "col1", "col2", "col3", "col4"),
    "expire_snapshots" -> Seq("table", "keep_from_id"),
    "vacuum" -> Seq("table", "grace_ms"),
    "maintain" -> Seq("table", "expire"),
    "checkpoint" -> Seq("table"),
    "rollback_to_snapshot" -> Seq("table", "snapshot_id"),
    "create_tag" -> Seq("table", "name", "snapshot_id"),
    "drop_tag" -> Seq("table", "name"),
    "create_branch" -> Seq("table", "name"),
    "publish_branch" -> Seq("table", "name"),
    "drop_branch" -> Seq("table", "name"))

  private def routeCall(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[DataFrame] = plan match {
    case c: org.apache.spark.sql.catalyst.plans.logical.Call =>
      // names WE claim: bare known names, and anything under the
      // graft/system prefix (unknown there refuses with the supported
      // list). Everything else — other catalogs, unknown bare names —
      // returns None and falls through to Catalyst, which reports its
      // own procedure resolution (the same fall-through contract as
      // every other router).
      val procOpt: Option[String] = c.procedure match {
        case p: org.apache.spark.sql.catalyst.analysis.UnresolvedProcedure =>
          p.nameParts match {
            case Seq(one) if callParams.contains(one.toLowerCase) =>
              Some(one.toLowerCase)
            case Seq(pre, two) if Set("graft", "system")(pre.toLowerCase) =>
              require(callParams.contains(two.toLowerCase),
                s"CALL $pre.$two: unknown procedure — supported: " +
                  callParams.keys.toSeq.sorted.mkString(", "))
              Some(two.toLowerCase)
            case _ => None
          }
        case _ => None
      }
      procOpt.map(proc => runCall(c, proc))
    case _ => None
  }

  private def runCall(c: org.apache.spark.sql.catalyst.plans.logical.Call,
      proc: String): DataFrame = {
      import org.apache.spark.sql.catalyst.expressions.NamedArgumentExpression
      // each procedure's declared parameter order resolves named args;
      // values evaluate driver-side as foldable expressions
      val paramNames = callParams(proc)
      // NULL arguments refuse with the surface's own message, never a
      // bare NullPointerException from a downstream .toString
      def eval(e: org.apache.spark.sql.catalyst.expressions.Expression,
          slot: String): Any = {
        val v = evalConst(e)
        require(v != null, s"CALL $proc: argument '$slot' is NULL")
        v
      }
      val byName = scala.collection.mutable.Map.empty[String, Any]
      var pos = 0
      c.args.foreach {
        case n: NamedArgumentExpression =>
          val k = n.key.toLowerCase
          require(paramNames.contains(k),
            s"CALL $proc: unknown argument '${n.key}' " +
              s"(expects ${paramNames.mkString(", ")})")
          require(!byName.contains(k),
            s"CALL $proc: duplicate argument '${n.key}'")
          byName(k) = eval(n.value, k)
        case e =>
          // a positional arg fills the next UNCLAIMED slot — a named
          // arg may already hold an earlier position (binding strictly
          // by counter would silently overwrite it)
          while (pos < paramNames.length && byName.contains(paramNames(pos)))
            pos += 1
          require(pos < paramNames.length,
            s"CALL $proc: too many arguments " +
              s"(expects ${paramNames.mkString(", ")})")
          byName(paramNames(pos)) = eval(e, paramNames(pos)); pos += 1
      }
      val tname0 = byName.getOrElse("table", throw new IllegalArgumentException(
        s"CALL $proc: 'table' argument is required")).toString
      // the one namespace is spellable here too: 'default.t' ≡ 't'
      val tname = if (tname0.toLowerCase.startsWith("default."))
        tname0.substring("default.".length) else tname0
      val t = loadTable(tname) // refuses on a non-warehouse name
      def num(k: String, d: Long): Long = byName.get(k) match {
        case Some(v: Number) => v.longValue
        case Some(v) => v.toString.toLong
        case None => d
      }
      val detail: String = proc match {
        case "binpack" =>
          val r = t.compactSmall(num("small_bytes", 32L << 20),
            num("target_bytes", 128L << 20))
          r.map(s => s"binpacked to snapshot ${s.snapshotId}")
            .getOrElse("no-op: no small-file group qualified")
        case "compact" =>
          val s = t.compact(targetFiles = num("target_files", 0L).toInt)
          s"compacted to snapshot ${s.snapshotId}"
        case "zorder" =>
          val cols = Seq("col1", "col2", "col3", "col4")
            .flatMap(byName.get).map(_.toString)
          require(cols.size >= 2,
            s"CALL zorder: at least two cluster columns")
          val s = t.compact(zOrderBy = cols, statsCols = cols)
          s"zordered on ${cols.mkString(",")} to snapshot ${s.snapshotId}"
        case "expire_snapshots" =>
          val keep = byName.get("keep_from_id") match {
            case Some(v) => v.toString.toLong
            case None => t.checkpoint().snapshotId
          }
          t.expireSnapshots(keep)
          s"expired history before snapshot $keep"
        case "vacuum" =>
          val removed = t.removeOrphans(num("grace_ms", 259200000L))
          s"removed ${removed.size} orphan file(s)"
        case "maintain" =>
          // defensive boolean parse: a non-boolean expire must refuse
          // with the router's own named-slot message, never surface a
          // raw 'For input string: "1"' from toString.toBoolean
          val expire = byName.get("expire") match {
            case None => false
            case Some(b: java.lang.Boolean) => b.booleanValue
            case Some(s: String)
              if s.equalsIgnoreCase("true") || s.equalsIgnoreCase("false") =>
              s.toBoolean
            case Some(other) => throw new IllegalArgumentException(
              s"CALL maintain: expire must be boolean, got '$other'")
          }
          val r = t.maintain(expireHistory = expire)
          s"binpacked=${r.binpacked} posMerged=${r.posMerged} " +
            s"expired=${r.expired}" +
            r.expireRefusal.map(m => s" refusal=$m").getOrElse("")
        case "checkpoint" =>
          s"checkpointed at snapshot ${t.checkpoint().snapshotId}"
        case "rollback_to_snapshot" =>
          val id = num("snapshot_id", -1L)
          require(id >= 0, "CALL rollback_to_snapshot: snapshot_id required")
          s"rolled back to $id as snapshot ${t.rollbackTo(id).snapshotId}"
        case "create_tag" =>
          val n = byName.getOrElse("name", throw new IllegalArgumentException(
            "CALL create_tag: 'name' argument is required")).toString
          val id = t.tagSnapshot(n, num("snapshot_id", -1L))
          s"tag '$n' pins snapshot $id"
        case "drop_tag" =>
          val n = byName.getOrElse("name", throw new IllegalArgumentException(
            "CALL drop_tag: 'name' argument is required")).toString
          t.dropTag(n); s"tag '$n' dropped"
        case "create_branch" =>
          val n = byName.getOrElse("name", throw new IllegalArgumentException(
            "CALL create_branch: 'name' argument is required")).toString
          s"branch '$n' forked at snapshot ${t.createBranch(n)}"
        case "publish_branch" =>
          val n = byName.getOrElse("name", throw new IllegalArgumentException(
            "CALL publish_branch: 'name' argument is required")).toString
          s"branch '$n' published as snapshot ${t.publishBranch(n).snapshotId}"
        case "drop_branch" =>
          val n = byName.getOrElse("name", throw new IllegalArgumentException(
            "CALL drop_branch: 'name' argument is required")).toString
          t.dropBranch(n); s"branch '$n' dropped"
      }
      import spark.implicits._
      Seq((proc, tname, getCurrentSnapshotId(tname).getOrElse(0L), detail))
        .toDF("procedure", "table", "snapshot_id", "detail")
  }

  /** Reference: `get_current_snapshot_id` (`icerunner.py:209-222`). */
  def getCurrentSnapshotId(name: String): Option[Long] =
    GraftTable.load(spark, tableDir(name), name).flatMap(_.currentSnapshotId)

  /** Reference: `get_changes_since_snapshot` (`icerunner.py:224-259`),
    * with the corrected incremental semantics. */
  def getChangesSinceSnapshot(name: String, snapshotId: Long): Option[DataFrame] =
    GraftTable.load(spark, tableDir(name), name).map(_.changesSince(snapshotId))

  /** Table-maintenance passthroughs (parity-plus; see GraftTable). */
  def compact(name: String, targetFiles: Int = 0,
      clusterBy: Seq[String] = Nil, statsCols: Seq[String] = Nil): Unit = {
    loadTable(name).compact(targetFiles, clusterBy, statsCols)
  }

  /** Partial binpack compaction (see [[GraftTable.compactSmall]]). */
  def compactSmall(name: String, smallBytes: Long,
      targetBytes: Long = 128L << 20): Boolean =
    loadTable(name).compactSmall(smallBytes, targetBytes).isDefined

  def expireSnapshots(name: String, keepFromId: Long): Unit =
    loadTable(name).expireSnapshots(keepFromId)

  /** Drop a table: delete its directory and unregister its view. Used by
    * the mirror's self-heal full re-sync (replica rebuild after source
    * history expiry). Returns false if the table didn't exist. */
  def dropTable(name: String): Boolean = {
    val dir = tableDir(name)
    if (!Files.isDirectory(dir)) false
    else {
      // create-lineage identity, captured BEFORE the directory dies —
      // the artifact-cascade guard below compares against it
      val corpusUuid = GraftTable.load(spark, dir, name).map(_.tableUuid)
      SnapshotLog.deleteTree(dir)
      // a recreate at this path restarts the manifest id sequence,
      // reusing v…1.json paths with new content — purge the per-JVM
      // manifest parse cache or reads would serve the dropped table
      SnapshotLog.invalidateUnder(dir)
      spark.catalog.dropTempView(name)
      reflectedAt.remove(name)
      // derived artifacts die with their corpus (same rationale as the
      // rename route moving them): the create-lineage uuid guard
      // already makes orphaned `__ivf_*` tables unadoptable, but
      // leaving them listed beside a later same-named corpus is pure
      // debris only a manual drop would remove. Cascade ONLY tables
      // PROVABLY built for this corpus (graft.ivf.* stamp + matching
      // create-lineage uuid) — a user table that merely spells the
      // artifact name survives its same-prefixed neighbor's drop.
      Seq(graft.operators.IvfIndex.centroidsTable(name),
          graft.operators.IvfIndex.assignTable(name))
        .filter(a =>
          graft.operators.IvfIndex.isArtifactOf(this, a, corpusUuid))
        .foreach(dropTable)
      true
    }
  }

  /** Rename a table: one atomic directory move under the namespace
    * (manifests store table-RELATIVE paths, so every snapshot, branch,
    * tag, spec era, and sidecar survives the move — full history and
    * time travel under the new name). The old temp view drops and the
    * new name reflects; the per-JVM manifest parse cache is purged
    * under BOTH paths (a later create at the old name would otherwise
    * serve the renamed table's cached manifests — same reuse hazard as
    * dropTable). Refuses when the destination exists. */
  def renameTable(oldName: String, newName: String): Unit = {
    require(tableExists(oldName), s"rename: table not found: $oldName")
    require(newName.nonEmpty && !newName.contains('$') &&
        !newName.contains('/') && !newName.contains(java.io.File.separator),
      s"rename: invalid destination table name '$newName'")
    // same reservation as createTable: a table landing at `_views` (or
    // any future metadata store path) would intermix with definitions
    require(!newName.startsWith("_"),
      s"rename: leading-underscore table names are reserved for " +
        "warehouse metadata stores")
    require(!tableExistsCI(newName),
      s"rename: destination table '$newName' already exists")
    require(!viewExists(newName),
      s"rename: a persistent VIEW already spells '$newName' — tables " +
        "and views share the SQL namespace")
    require(!matViewExists(newName),
      s"rename: a MATERIALIZED VIEW already spells '$newName' — the " +
        "SQL namespace is shared")
    val to = tableDir(newName)
    require(!Files.exists(to),
      s"rename: destination path '$to' already exists")
    // derived artifacts (the persisted IVF index) follow their corpus:
    // `old__ivf_*` siblings move to `new__ivf_*` so the index keeps
    // serving under the new name (its stamped create-lineage uuid
    // travels inside the corpus directory). Destination artifact
    // collisions refuse BEFORE anything moves — a half-moved pair
    // would be worse than either whole state.
    val corpusUuid = Some(loadTable(oldName).tableUuid)
    val siblings = Seq(
      graft.operators.IvfIndex.centroidsTable _,
      graft.operators.IvfIndex.assignTable _)
      .map(f => (f(oldName), f(newName)))
      // same cascade guard as dropTable: only tables PROVABLY built
      // for this corpus move with it — a user table that merely
      // spells the artifact name stays put under its own name
      .filter { case (o, _) =>
        graft.operators.IvfIndex.isArtifactOf(this, o, corpusUuid) }
    // raw-path check, same strength as the main destination's: a stray
    // non-table directory at a sibling destination would fail the move
    // MIDWAY otherwise
    siblings.foreach { case (_, n) =>
      require(!Files.exists(tableDir(n)),
        s"rename: destination index artifact path '$n' already " +
          "exists — drop it first") }
    // the CORPUS moves first: if a sibling move then fails, the index
    // is merely orphaned under the old name (unused debris — the
    // create-lineage uuid guard keeps it unadoptable) rather than a
    // renamed index pointing at an un-renamed corpus
    (((oldName, newName)) +: siblings).foreach { case (o, n) =>
      val (f, t) = (tableDir(o), tableDir(n))
      Files.move(f, t)
      SnapshotLog.invalidateUnder(f)
      SnapshotLog.invalidateUnder(t)
      spark.catalog.dropTempView(o)
      reflectedAt.remove(o)
      reflectView(n)
    }
  }

  /** Snapshot head each table's view was last reflected at, plus a
    * test-visible count of actual re-reflections. */
  private val reflectedAt = scala.collection.concurrent.TrieMap.empty[String, Long]
  private[graft] val reflections = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Test-visible count of per-statement snapshot-head PROBES (each is
    * one directory listing) — the WarehouseSpec scaling assert pins
    * that this grows with the statement's relations, not the
    * warehouse's table count. */
  private[graft] val probes = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Head-check one table and re-reflect its temp view if its head
    * moved since the last reflection — the ONE freshness path: commits
    * reflect nothing eagerly, so this connector's own commits and an
    * external committer's are seen alike, on the next statement that
    * names the table. A name that is not a warehouse table no-ops. */
  private def probeTable(name: String): Unit = {
    probes.incrementAndGet()
    val head = new SnapshotLog(tableDir(name)).headIdByName.getOrElse(0L)
    if (!reflectedAt.get(name).contains(head)) reflectView(name)
  }

  /** Register/refresh one table's temp view ([[probeTable]]'s lazy
    * re-reflection, and a rename's new name). The head is captured
    * FIRST and the view pinned to it — recording a head read after
    * building the view would let a commit land in between and be
    * treated as already-reflected forever. */
  private def reflectView(name: String): Unit =
    GraftTable.load(spark, tableDir(name), name).foreach { t =>
      val head = t.currentSnapshotId.getOrElse(0L)
      t.read(Some(head)).createOrReplaceTempView(name)
      reflectedAt(name) = head
      reflections.incrementAndGet()
    }
}
