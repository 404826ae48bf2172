package graft.catalog

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import ObjectCatalog.{ColumnDef, EnumDef, FunctionDef, SequenceDef, TableDef, ViewDef}

/** The pg-flavored catalog DDL/DML surface, regex-dispatched like the
  * search DDL ([[graft.search.Ddl]]) and wired into the session parser, so
  * `spark.sql("CREATE TABLE t (id SERIAL PRIMARY KEY, ...)")` is first-class
  * statement text (reference: server/pg/commands/ — the pg grammar the
  * ddl/txn/settings corpora drive).
  *
  * What is intercepted (everything else delegates to Spark untouched):
  *  - pg-style CREATE/DROP TABLE|VIEW|SCHEMA|SEQUENCE|FUNCTION (a CREATE
  *    TABLE carrying `USING` is Spark-native and NOT ours)
  *  - INSERT/UPDATE/DELETE/TRUNCATE targeting a CATALOG table (the same
  *    statements against Spark-native tables stay native)
  *  - ALTER TABLE ADD/DROP/RENAME COLUMN, RENAME TO on catalog tables
  *  - BEGIN/COMMIT/ROLLBACK transaction blocks ([[Txn]])
  *  - SET/SHOW/RESET of UNDOTTED variable names ([[SessionVars]]); dotted
  *    spark confs stay native
  *
  * DML on catalog tables is distributed Spark under the hood: inserts are
  * one staged parquet write (sequence DEFAULTs block-allocated, one counter
  * IO per batch), constraint checks are aggregates/anti-joins on the
  * cluster, and UPDATE/DELETE rewrite only the files whose rows matched
  * ([[TableStore.rewriteMatching]]). Nothing loops rows on the driver.
  */
object CatalogDdl {

  // ---- statement shapes ----------------------------------------------------

  private val ident = """[A-Za-z_][A-Za-z0-9_]*"""
  private val qname = s"""(?:$ident\\.)?$ident|"[^"]+"(?:\\."[^"]+")?"""

  private val createSchemaRe =
    """(?is)^\s*CREATE\s+SCHEMA\s+(IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$""".r
  private val dropSchemaRe =
    """(?is)^\s*DROP\s+SCHEMA\s+(IF\s+EXISTS\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*(CASCADE|RESTRICT)?\s*;?\s*$""".r
  private val createTableRe =
    ("""(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(""" + qname + """)\s*\((.*)\)\s*;?\s*$""").r
  private val ctasRe =
    ("""(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(""" + qname + """)\s+AS\s+(SELECT\b.*|VALUES\b.*|WITH\b.*)$""").r
  private val dropTableRe =
    ("""(?is)^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?(""" + qname + """)\s*(CASCADE|RESTRICT)?\s*;?\s*$""").r
  private val createViewRe =
    ("""(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+(""" + qname + """)\s+AS\s+(.*)$""").r
  private val dropViewRe =
    ("""(?is)^\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?(""" + qname + """)\s*(CASCADE|RESTRICT)?\s*;?\s*$""").r
  private val createSeqRe =
    ("""(?is)^\s*CREATE\s+SEQUENCE\s+(IF\s+NOT\s+EXISTS\s+)?(""" + qname + """)\s*(.*?)\s*;?\s*$""").r
  private val dropSeqRe =
    ("""(?is)^\s*DROP\s+SEQUENCE\s+(IF\s+EXISTS\s+)?(""" + qname + """)\s*(CASCADE|RESTRICT)?\s*;?\s*$""").r
  private val createTypeRe =
    ("""(?is)^\s*CREATE\s+TYPE\s+(""" + qname + """)\s+AS\s+ENUM\s*\(([^)]*)\)\s*;?\s*$""").r
  private val dropTypeRe =
    ("""(?is)^\s*DROP\s+TYPE\s+(IF\s+EXISTS\s+)?(""" + qname + """)\s*(CASCADE|RESTRICT)?\s*;?\s*$""").r
  private val createFnRe =
    ("""(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?FUNCTION\s+(""" + qname + """)\s*\(\s*\)\s+AS\s+\((.*)\)\s*;?\s*$""").r
  private val dropFnRe =
    ("""(?is)^\s*DROP\s+FUNCTION\s+(IF\s+EXISTS\s+)?(""" + qname + """)(?:\s*\(\s*\))?\s*(CASCADE|RESTRICT)?\s*;?\s*$""").r
  private val insertRe =
    ("""(?is)^\s*INSERT\s+(OR\s+REPLACE\s+|OR\s+IGNORE\s+)?INTO\s+(""" + qname +
      """)\s*(BY\s+NAME\s+|BY\s+POSITION\s+)?(\([^)]*\))?\s*(VALUES\b.*|SELECT\b.*|WITH\b.*|TABLE\b.*|\(\s*SELECT\b.*)$""").r
  /** Trailing `ON CONFLICT [(cols)] DO NOTHING | DO UPDATE SET ... [WHERE p]`
    * peeled off the insert source (the reference's insert corpus:
    * site_docs/sql/statements/insert/do_update_*, conflict_target*,
    * do_nothing*, insert_or_replace*). */
  private val onConflictRe =
    """(?is)^(.*?)\s+ON\s+CONFLICT\s*(\(([^)]*)\))?\s*DO\s+(NOTHING|UPDATE\s+SET\s+(.*?))(\s+WHERE\s+(.*?))?\s*;?\s*$""".r
  private val updateRe =
    ("""(?is)^\s*UPDATE\s+(""" + qname + """)\s+SET\s+(.*?)(?:\s+WHERE\s+(.*?))?\s*;?\s*$""").r
  private val deleteRe =
    ("""(?is)^\s*DELETE\s+FROM\s+(""" + qname + """)(?:\s+WHERE\s+(.*?))?\s*;?\s*$""").r
  // full pg grammar (sql-truncate): TRUNCATE [TABLE] [ONLY] name [*][, ...]
  //   [RESTART|CONTINUE IDENTITY] [CASCADE|RESTRICT]
  // ONLY/* are no-ops (no inheritance), CASCADE/RESTRICT are no-ops (FKs
  // not enforced), RESTART/CONTINUE IDENTITY are no-ops (no owned identity
  // sequences) — every form parses and empties the named tables
  // (simple/truncate.test:389-456)
  private val truncateRe =
    ("""(?is)^\s*TRUNCATE\s+(?:TABLE\s+)?((?:ONLY\s+)?(?:""" + qname +
      """)(?:\s*\*)?(?:\s*,\s*(?:ONLY\s+)?(?:""" + qname + """)(?:\s*\*)?)*)""" +
      """(?:\s+(?:RESTART|CONTINUE)\s+IDENTITY)?(?:\s+(?:CASCADE|RESTRICT))?\s*;?\s*$""").r
  private def truncateNames(list: String): Seq[String] =
    splitTop(list).map(_.trim.replaceAll("(?is)^ONLY\\s+", "")
      .replaceAll("\\s*\\*$", "").trim)
  private val alterAddCheckRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + qname + """)\s+ADD\s+(?:CONSTRAINT\s+([A-Za-z_][A-Za-z0-9_]*)\s+)?CHECK\s*\((.*)\)\s*;?\s*$""").r
  private val alterAddKeyRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + qname + """)\s+ADD\s+(PRIMARY\s+KEY|UNIQUE)\s*\(\s*"?([A-Za-z_][A-Za-z0-9_]*)"?\s*\)\s*;?\s*$""").r
  private val alterAddColRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + qname + """)\s+ADD\s+(?:COLUMN\s+)?(.*?)\s*;?\s*$""").r
  private val alterDropColRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + qname + """)\s+DROP\s+(?:COLUMN\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$""").r
  private val alterRenameColRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + qname + """)\s+RENAME\s+(?:COLUMN\s+)?([A-Za-z_][A-Za-z0-9_]*)\s+TO\s+([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$""").r
  private val alterRenameRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + qname + """)\s+RENAME\s+TO\s+([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$""").r
  private val alterSeqRe =
    ("""(?is)^\s*ALTER\s+SEQUENCE\s+(""" + qname + """)\s+RESTART(?:\s+WITH\s+(-?\d+))?\s*;?\s*$""").r

  private val copyQueryToRe =
    """(?is)^\s*COPY\s*\((.*)\)\s*TO\s+'([^']+)'\s*(?:\(\s*(.*?)\s*\))?\s*;?\s*$""".r
  private val copyTableToRe =
    ("""(?is)^\s*COPY\s+(""" + qname + """)\s+TO\s+'([^']+)'\s*(?:\(\s*(.*?)\s*\))?\s*;?\s*$""").r
  private val copyFromRe =
    ("""(?is)^\s*COPY\s+(""" + qname + """)\s+FROM\s+'([^']+)'\s*(?:\(\s*(.*?)\s*\))?\s*;?\s*$""").r
  private val commentRe =
    ("""(?is)^\s*COMMENT\s+ON\s+(TABLE|VIEW|COLUMN|SEQUENCE|TYPE|INDEX|SCHEMA|FUNCTION|MACRO\s+TABLE|MACRO)\s+(""" +
      qname + """(?:\.[A-Za-z_][A-Za-z0-9_]*)?)\s+IS\s+('(?:[^']|'')*'|NULL)\s*;?\s*$""").r
  private val exportDbRe =
    """(?is)^\s*EXPORT\s+DATABASE\s+'([^']+)'\s*(?:\(\s*(.*?)\s*\))?\s*;?\s*$""".r
  private val importDbRe =
    """(?is)^\s*IMPORT\s+DATABASE\s+'([^']+)'\s*;?\s*$""".r

  private val beginRe = """(?is)^\s*(BEGIN|START\s+TRANSACTION)\b(.*?)\s*;?\s*$""".r
  // SET TRANSACTION / SET SESSION CHARACTERISTICS AS TRANSACTION take the
  // same transaction_mode list as BEGIN (isolation level, READ ONLY/WRITE,
  // [NOT] DEFERRABLE — any/pg/txn/variables.test, deferrable.test)
  private val setTxnRe =
    """(?is)^\s*SET\s+TRANSACTION\s+(.+?)\s*;?\s*$""".r
  private val setSessionCharRe =
    """(?is)^\s*SET\s+SESSION\s+CHARACTERISTICS\s+AS\s+TRANSACTION\s+(.+?)\s*;?\s*$""".r
  private val isoLevelRe =
    """(?is).*\bISOLATION\s+LEVEL\s+(READ\s+UNCOMMITTED|READ\s+COMMITTED|REPEATABLE\s+READ|SERIALIZABLE)\b.*""".r
  private val commitRe =
    """(?is)^\s*(COMMIT|END)(\s+(WORK|TRANSACTION))?(\s+AND\s+(NO\s+)?CHAIN)?\s*;?\s*$""".r
  private val rollbackRe =
    """(?is)^\s*(ROLLBACK|ABORT)(\s+(WORK|TRANSACTION))?(\s+AND\s+(NO\s+)?CHAIN)?\s*;?\s*$""".r

  // undotted names only — `SET spark.sql.x=y` and `SET ROLE ...` stay out;
  // SET SESSION <name> is the pg spelling of plain SET (scopes.test)
  private val setVarRe =
    """(?is)^\s*SET\s+(LOCAL\s+|SESSION\s+)?(?!ROLE\b|CHARACTERISTICS\b|TRANSACTION\s)([A-Za-z_][A-Za-z0-9_]*)\s*(?:=|\s+TO\s+)\s*(.+?)\s*;?\s*$""".r
  private val showVarRe =
    """(?is)^\s*SHOW\s+(?!ROLE\b|DATABASES\b|TABLES\b|TABLE\b|VIEWS\b|FUNCTIONS\b|COLUMNS\b|PARTITIONS\b|CREATE\b|TBLPROPERTIES\b|SEARCH\b|ALL\b|CATALOGS\b|NAMESPACES\b|SCHEMAS\b)([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$""".r
  private val resetVarRe =
    """(?is)^\s*RESET\s+(?!ROLE\b)([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$""".r
  private val resetAllRe = """(?is)^\s*RESET\s+ALL\s*;?\s*$""".r
  // pg multi-word RESET aliases (settings/reset_aliases.test)
  private val resetTimeZoneRe = """(?is)^\s*RESET\s+TIME\s+ZONE\s*;?\s*$""".r
  private val resetSessAuthRe =
    """(?is)^\s*RESET\s+SESSION\s+AUTHORIZATION\s*;?\s*$""".r
  private val resetTxnIsoRe =
    """(?is)^\s*RESET\s+TRANSACTION\s+ISOLATION\s+LEVEL\s*;?\s*$""".r
  // DISCARD <target>: pooled drivers' between-checkout reset; with no temp
  // tables or session sequences every variant collapses to DEALLOCATE ALL
  // (settings/discard.test — the reference documents the same collapse)
  private val discardRe = """(?is)^\s*DISCARD\s+(\w+)\s*;?\s*$""".r
  // pg set_config(name, value, is_local) in its standalone SELECT form —
  // a SESSION function, so it executes driver-side at dispatch (a UDF
  // closure would not survive task serialization with its session intact)
  private val setConfigRe =
    """(?is)^\s*SELECT\s+set_config\(\s*'([^']*)'\s*,\s*'([^']*)'\s*,\s*(true|false)\s*\)(?:\s+AS\s+\w+)?\s*;?\s*$""".r

  def isTxnEnd(sql: String): Boolean = sql match {
    case commitRe(_*) | rollbackRe(_*) => true
    case _ => false
  }

  /** True when this statement is ours. Catalog-table DML is ours only when
    * the target IS a catalog table — the same text against a Spark-native
    * table stays native. */
  def handles(sql: String): Boolean =
    !ObjectCatalog.internal.value && (sql match {
      case createSchemaRe(_*) | dropSchemaRe(_*) | createSeqRe(_*) |
          dropSeqRe(_*) | alterSeqRe(_*) | createFnRe(_*) |
          createTypeRe(_*) | dropTypeRe(_*) |
          commentRe(_*) | exportDbRe(_*) | importDbRe(_*) |
          copyQueryToRe(_*) | copyTableToRe(_*) | copyFromRe(_*) |
          beginRe(_*) | commitRe(_*) | rollbackRe(_*) |
          setTxnRe(_*) | setSessionCharRe(_*) | discardRe(_*) |
          setConfigRe(_*) |
          resetAllRe(_*) | resetTimeZoneRe(_*) | resetSessAuthRe(_*) |
          resetTxnIsoRe(_*) |
          setVarRe(_*) | showVarRe(_*) | resetVarRe(_*) => true
      case createTableRe(_, _, _) =>
        // a Spark-native CREATE TABLE (USING/PARTITIONED BY/TBLPROPERTIES/
        // STORED AS after the column list) is not ours
        val up = sql.toUpperCase(Locale.ROOT)
        !up.contains(" USING ") && !up.contains("PARTITIONED BY") &&
          !up.contains("TBLPROPERTIES") && !up.contains("STORED AS")
      // ctasRe requires AS directly after the table name, so USING/
      // PARTITIONED BY can only appear inside the query text (e.g.
      // JOIN ... USING (id)) — never a Spark-native table clause
      case ctasRe(_*) => true
      // explicit CASCADE/RESTRICT is pg grammar Spark cannot parse — ours
      // even when the target does not (or no longer) exist
      case dropTableRe(_, n, mode) =>
        mode != null || ObjectCatalog.table(n).isDefined
      case createViewRe(_*) => true // TEMPORARY/TEMP spellings don't match this shape
      case dropViewRe(_, n, mode) =>
        mode != null || ObjectCatalog.get(n).exists(_.kind == "view")
      case dropFnRe(_, n, mode) =>
        mode != null || ObjectCatalog.get(n).exists(_.kind == "function")
      case insertRe(_, n, _, _, _) => ObjectCatalog.table(n).isDefined
      case updateRe(n, _, _) => ObjectCatalog.table(n).isDefined
      case deleteRe(n, _) => ObjectCatalog.table(n).isDefined
      case truncateRe(ns) => truncateNames(ns).forall(ObjectCatalog.table(_).isDefined)
      case alterAddCheckRe(n, _, _) => ObjectCatalog.table(n).isDefined
      case alterAddKeyRe(n, _, _) => ObjectCatalog.table(n).isDefined
      case alterAddColRe(n, _) => ObjectCatalog.table(n).isDefined
      case alterDropColRe(n, _) => ObjectCatalog.table(n).isDefined
      case alterRenameColRe(n, _, _) => ObjectCatalog.table(n).isDefined
      case alterRenameRe(n, _) => ObjectCatalog.table(n).isDefined
      case _ => false
    })

  /** Statements that return a count row (the sqllogic `statement count N`
    * contract). */
  def isDml(sql: String): Boolean = sql match {
    case insertRe(_*) | updateRe(_*) | deleteRe(_*) |
        copyQueryToRe(_*) | copyTableToRe(_*) | copyFromRe(_*) => true
    case _ => false
  }

  /** RETURNING column names of a DML statement, if it carries the clause —
    * the command's output schema is fixed at parse time, so the names are
    * derived textually (alias after AS, else the identifier/expression). */
  def returningCols(sql: String): Option[Seq[String]] = sql match {
    case returningRe(core, cols) =>
      // `RETURNING *` (or `t.*`) expands against the target table's column
      // list at parse time — the command schema is fixed here, and
      // execution's selectExpr("*") produces all table columns
      lazy val targetCols: Seq[String] = {
        val tgt = """(?is)^\s*(?:INSERT\s+INTO|UPDATE|DELETE\s+FROM)\s+("?[\w\.]+"?)"""
          .r.findFirstMatchIn(core).map(_.group(1).replace("\"", ""))
        tgt.flatMap(ObjectCatalog.table(_)).map(_.columns.map(_.name))
          .getOrElse(Seq("*"))
      }
      Some(splitTop(cols).flatMap { item =>
        val t = item.trim
        if (t == "*" || t.matches("""(?s)"?[\w]+"?\.\*""")) targetCols
        else {
          val asIdx = "(?i)\\s+AS\\s+".r.findAllMatchIn(t).toSeq.lastOption
          Seq(asIdx.map(m => t.substring(m.end).trim.stripPrefix("\"").stripSuffix("\""))
            .getOrElse(t.stripPrefix("\"").stripSuffix("\"")))
        }
      })
    case _ => None
  }

  /** SHOW <var> output column (the pg contract: named after the variable). */
  def showVarName(sql: String): Option[String] = sql match {
    case showVarRe(n) => Some(n.toLowerCase)
    case _ => None
  }

  // ---- execution -----------------------------------------------------------

  // `... RETURNING <col list>` tail of a DML statement. The column-list
  // charset excludes quotes so a RETURNING inside a string literal never
  // strips (pg RETURNING takes projections; complex exprs go through the
  // expression parser after the split).
  private val returningRe =
    """(?is)^(\s*(?:INSERT|UPDATE|DELETE)\b.*?)\s+RETURNING\s+([\w\s,\*\"\.\(\)\+\-]+?)\s*;?\s*$""".r

  def execute(spark: SparkSession, sql: String): DataFrame = {
    ObjectCatalog.ensureSession(spark)
    registerFunctions(spark)
    try {
      sql match {
        case returningRe(core, cols) =>
          // `t.*` → `*`: the execution projections run over the bare
          // post/pre-image frame, which has no `t` alias to qualify by
          val norm = splitTop(cols).map { c =>
            if (c.trim.matches("""(?s)"?[\w]+"?\.\*""")) "*" else c
          }.mkString(", ")
          returningCtx.withValue(Some(norm)) { executeParsed(spark, core) }
        case _ => executeParsed(spark, sql)
      }
    }
    catch { case e: Throwable => Txn.statementFailed(); throw e }
  }

  /** RETURNING projection for the DML statement currently executing
    * (pg INSERT/UPDATE/DELETE ... RETURNING; sdb/pg/dml/returning.test). */
  private val returningCtx =
    new scala.util.DynamicVariable[Option[String]](None)

  private def executeParsed(spark: SparkSession, sql: String): DataFrame = sql match {
    case beginRe(_, opts) =>
      result(spark, Txn.begin(spark, parseIsolation(opts)))
    case commitRe(_, _, _, andChain, noChain) =>
      txnEnd(spark, andChain != null && noChain == null, Txn.commit(spark))
    case rollbackRe(_, _, _, andChain, noChain) =>
      txnEnd(spark, andChain != null && noChain == null, Txn.rollback(spark))

    case createSchemaRe(ine, name) =>
      result(spark, ObjectCatalog.createSchema(spark, name, ine != null))
    case dropSchemaRe(ife, name, mode) =>
      val dropped = ObjectCatalog.dropSchema(spark, name,
        cascade = mode != null && mode.equalsIgnoreCase("CASCADE"),
        ifExists = ife != null, retireTable)
      result(spark, s"dropped schema $name (${dropped.size} objects)")

    case createTableRe(ine, name, colsRaw) =>
      createTable(spark, name, colsRaw, ine != null)
    case ctasRe(ine, name, query) =>
      createTableAs(spark, name, query, ine != null)
    case dropTableRe(ife, name, mode) =>
      val dropped = ObjectCatalog.drop(spark, name, "table",
        cascade = mode != null && mode.equalsIgnoreCase("CASCADE"),
        ifExists = ife != null, retireTable)
      result(spark, s"dropped ${dropped.mkString(", ")}")

    case createViewRe(orRepl, name, body) => createView(spark, name, body.trim, orRepl != null)
    case dropViewRe(ife, name, mode) =>
      val dropped = ObjectCatalog.drop(spark, name, "view",
        cascade = mode != null && mode.equalsIgnoreCase("CASCADE"),
        ifExists = ife != null, retireTable)
      result(spark, s"dropped ${dropped.mkString(", ")}")

    case createSeqRe(ine, name, opts) => createSequence(spark, name, opts, ine != null)
    case dropSeqRe(ife, name, mode) =>
      val dropped = ObjectCatalog.drop(spark, name, "sequence",
        cascade = mode != null && mode.equalsIgnoreCase("CASCADE"),
        ifExists = ife != null, retireTable)
      result(spark, s"dropped ${dropped.mkString(", ")}")
    case alterSeqRe(name, restartWith) =>
      val s = ObjectCatalog.sequence(name).getOrElse(throw analysisErr(
        s"""sequence "$name" does not exist"""))
      val v = Option(restartWith).map(_.toLong).getOrElse(s.start)
      SequenceOps.setval(s, v - s.inc) // next nextval returns v
      result(spark, s"sequence ${s.qname} restarted at $v")

    case createTypeRe(name, labels) => createEnum(spark, name, labels)
    case dropTypeRe(ife, name, mode) =>
      val dropped = ObjectCatalog.drop(spark, name, "type",
        cascade = mode != null && mode.equalsIgnoreCase("CASCADE"),
        ifExists = ife != null, retireTable)
      result(spark, s"dropped ${dropped.mkString(", ")}")

    case copyQueryToRe(query, path, opts) =>
      copyTo(spark, Left(query), path, Option(opts))
    case copyTableToRe(name, path, opts) =>
      copyTo(spark, Right(name), path, Option(opts))
    case copyFromRe(name, path, opts) => copyFrom(spark, name, path, Option(opts))

    case commentRe(objType, target, text) => commentOn(spark, objType, target, text)
    case exportDbRe(dir, opts) =>
      val o = Option(opts).map(parseCopyOpts).getOrElse(Map.empty)
      result(spark, ExportImport.exportDatabase(spark, dir,
        o.getOrElse("format", "parquet"), o.getOrElse("delimiter", ",")))
    case importDbRe(dir) =>
      result(spark, ExportImport.importDatabase(spark, dir))

    case createFnRe(orRepl, name, body) => createFunction(spark, name, body.trim, orRepl != null)
    case dropFnRe(ife, name, mode) =>
      val dropped = ObjectCatalog.drop(spark, name, "function",
        cascade = mode != null && mode.equalsIgnoreCase("CASCADE"),
        ifExists = ife != null, retireTable)
      result(spark, s"dropped ${dropped.mkString(", ")}")

    case insertRe(mod, name, byMode, colList, source) =>
      insert(spark, name, colList, source, Option(mod), Option(byMode))
    case updateRe(name, sets, where) => update(spark, name, sets, Option(where))
    case deleteRe(name, where) => delete(spark, name, Option(where))
    case truncateRe(names) =>
      val ts = truncateNames(names).map(tableOf)
      // pg: TRUNCATE needs only the TRUNCATE privilege, never SELECT
      ts.foreach(t => graft.search.Rbac.checkWrite(
        spark, s"${t.dir}/current", "truncate", t.qname))
      ObjectCatalog.internal.withValue(true) {
        ts.foreach { t =>
          Txn.touchTable(t.qname, t.dir)
          TableStore.overwrite(spark, t.dir,
            spark.createDataFrame(spark.sparkContext.emptyRDD[Row], sparkSchema(t)))
          refresh(spark, t)
        }
        result(spark, s"truncated ${ts.map(_.qname).mkString(", ")}")
      }

    case alterAddCheckRe(name, cname, checkExpr) =>
      alterAddCheck(spark, name, Option(cname), checkExpr)
    case alterAddKeyRe(name, kind, keyCol) =>
      alterAddKey(spark, name, kind, keyCol)
    case alterAddColRe(name, colDef) => alterAddColumn(spark, name, colDef)
    case alterDropColRe(name, colName) => alterDropColumn(spark, name, colName)
    case alterRenameColRe(name, from, to) => alterRenameColumn(spark, name, from, to)
    case alterRenameRe(name, to) => alterRenameTable(spark, name, to)

    case setTxnRe(modes) =>
      // outside a block pg warns and ignores; inside, the level freezes
      // after the first data statement (variables.test #14)
      parseIsolation(modes).foreach(Txn.setIsolation(spark, _))
      result(spark, "SET")
    case setSessionCharRe(modes) =>
      // changes the session DEFAULT (transactionally, like plain SET);
      // the open block's own level is untouched (variables.test #8)
      parseIsolation(modes).foreach { lvl =>
        val prev = SessionVars.set(spark, "default_transaction_isolation", lvl)
        Txn.sessionVarSet("default_transaction_isolation", prev)
      }
      result(spark, "SET")
    case setConfigRe(name, value, isLocal) =>
      val n = name.toLowerCase
      val local = isLocal.equalsIgnoreCase("true")
      val prev = SessionVars.set(spark, n, value)
      if (local) Txn.localVarSet(n, prev) else Txn.sessionVarSet(n, prev)
      spark.createDataFrame(
        java.util.List.of(Row(value)),
        StructType(Seq(StructField("set_config", StringType, nullable = false))))
    case discardRe(target) =>
      target.toUpperCase(Locale.ROOT) match {
        case "ALL" | "PLANS" | "SEQUENCES" | "TEMP" | "TEMPORARY" =>
          DuckStatements.runDeallocate("all")
          result(spark, s"DISCARD ${target.toUpperCase(Locale.ROOT)}")
        case other => throw analysisErr(
          s"""syntax error at or near "$other"""")
      }
    case resetAllRe() =>
      SessionVars.resetSession(spark); result(spark, "RESET")
    case resetTimeZoneRe() =>
      SessionVars.reset(spark, "timezone"); result(spark, "RESET")
    case resetSessAuthRe() =>
      SessionVars.reset(spark, "session_authorization"); result(spark, "RESET")
    case resetTxnIsoRe() => throw analysisErr(
      """parameter "transaction_isolation" cannot be reset""")
    case setVarRe(scope, name, value) =>
      val n = name.toLowerCase
      val local = scope != null && scope.trim.equalsIgnoreCase("LOCAL")
      if (local && !Txn.active) throw analysisErr(
        "SET LOCAL can only be used in transaction blocks")
      if (value.trim.equalsIgnoreCase("DEFAULT")) {
        val prev = SessionVars.get(spark, n)
        SessionVars.reset(spark, n)
        if (local) Txn.localVarSet(n, prev) else Txn.sessionVarSet(n, prev)
        return result(spark, "SET")
      }
      val v =
        if (n == "search_path") normalizeSearchPath(value.trim)
        else stripQuotes(value.trim)
      if (n == "transaction_isolation") {
        // alias of SET TRANSACTION ISOLATION LEVEL when a block is open;
        // outside one, pg silently ignores the write
        if (Txn.active) Txn.setIsolation(spark, validIsolation(v))
      } else {
        if (n == "default_transaction_isolation") validIsolation(v)
        val prev = SessionVars.set(spark, n, v)
        if (local) Txn.localVarSet(n, prev)
        else Txn.sessionVarSet(n, prev) // transactional plain SET
      }
      result(spark, "SET")
    case showVarRe(name) =>
      val n = name.toLowerCase
      val v =
        if (n == "transaction_isolation")
          Txn.isolationLevel(spark).getOrElse(
            SessionVars.get(spark, "default_transaction_isolation")
              .getOrElse("read committed"))
        else SessionVars.get(spark, n).getOrElse(
          throw analysisErr(s"""unrecognized configuration parameter "$name""""))
      spark.createDataFrame(
        java.util.List.of(Row(v)),
        StructType(Seq(StructField(n, StringType, nullable = false))))
    case resetVarRe(name) =>
      SessionVars.reset(spark, name); result(spark, "RESET")

    case other => throw new IllegalArgumentException(
      s"CatalogDdl cannot execute: ${other.take(120)}")
  }

  /** pg search_path rendering: identifiers fold to lowercase unless
    * double-quoted (quoted items keep their quotes verbatim); items join
    * with ", " (settings/show.test pins this normalization). */
  private def normalizeSearchPath(raw: String): String =
    splitTop(raw).map(_.trim).filter(_.nonEmpty).map { item =>
      if (item.startsWith("\"") && item.endsWith("\"")) item
      else stripQuotes(item).toLowerCase(Locale.ROOT)
    }.mkString(", ")

  /** Extract + validate an ISOLATION LEVEL from a transaction_mode list
    * (the rest of the list — READ ONLY/WRITE, [NOT] DEFERRABLE — is
    * accepted and ignored, as the reference's parser does). */
  private def parseIsolation(modes: String): Option[String] = modes match {
    case isoLevelRe(lvl) =>
      Some(validIsolation(lvl.toLowerCase(Locale.ROOT).replaceAll("\\s+", " ")))
    case _ => None
  }

  /** Only pg's two supported-by-the-reference levels pass (variables.test
    * #7: serializable is rejected with a HINT naming the valid values). */
  private def validIsolation(lvl: String): String = {
    val n = lvl.toLowerCase(Locale.ROOT).trim.replaceAll("\\s+", " ")
    if (n != "read committed" && n != "repeatable read") throw analysisErr(
      s"""transaction isolation level "$n" is not supported. """ +
        "HINT: Available values: repeatable read, read committed.")
    n
  }

  /** `COMMIT/ROLLBACK [AND [NO] CHAIN]` (any/pg/txn/chain.test): CHAIN ends
    * the block then immediately opens a new one; outside a block it is an
    * error (pg: no characteristics to carry over). */
  private def txnEnd(spark: SparkSession, chain: Boolean,
      doEnd: => String): DataFrame = {
    if (chain && !Txn.active) throw analysisErr(
      "COMMIT AND CHAIN can only be used in transaction blocks")
    val msg = doEnd
    if (chain) Txn.begin(spark)
    result(spark, msg)
  }

  private def retireTable(t: TableDef): Unit =
    // a REPEATABLE READ reader that already pinned this table keeps its
    // snapshot across the drop (file removal deferred; the dir is orphaned
    // and swept by maintenance — pg would have blocked the DROP on its
    // lock until that reader committed)
    if (!Txn.tableDropped(t.dir) &&
        !Txn.anyActivePin(s"tablever:${t.dir}")) TableStore.destroy(t.dir)

  private def tableOf(name: String): TableDef =
    ObjectCatalog.table(name).getOrElse(throw analysisErr(
      s"""relation "$name" does not exist"""))

  private def refresh(spark: SparkSession, t: TableDef): Unit = {
    // REFRESH TABLE alone leaves the shared path-keyed file-status cache
    // stale: a rewrite that retired files would then serve dead paths to
    // the NEXT statement's spark.read of current/ (FILE_NOT_EXIST).
    // EVERY session's caches are refreshed, not only the writer's — a
    // READ COMMITTED reader on another connection must see this commit on
    // its next statement (vector_search_isolation.test), and relation
    // caches are per-session
    ObjectCatalog.knownSessions.foreach { s =>
      // refreshTable, not refreshByPath: the relation cache is keyed by
      // identifier, and path-prefix matching misses on scheme differences
      try s.catalog.refreshTable(t.qname)
      catch { case _: Exception => () }
    }
    spark.catalog.refreshByPath(s"${t.dir}/current")
    ObjectCatalog.internalSql(spark, s"REFRESH TABLE ${t.qname}")
  }

  private def analysisErr(msg: String) =
    new org.apache.spark.sql.AnalysisException(
      "USER_RAISED_EXCEPTION", Map("errorMessage" -> msg))

  private def result(spark: SparkSession, msg: String): DataFrame =
    spark.createDataFrame(
      java.util.List.of(Row(msg)),
      StructType(Seq(StructField("result", StringType, nullable = false))))

  private def countResult(spark: SparkSession, n: Long): DataFrame =
    spark.createDataFrame(
      java.util.List.of(Row(java.lang.Long.valueOf(n))),
      StructType(Seq(StructField("count", LongType, nullable = false))))

  private def stripQuotes(s: String): String =
    if (s.length >= 2 && s.startsWith("'") && s.endsWith("'"))
      s.substring(1, s.length - 1).replace("''", "'")
    else s

  // ---- CREATE TABLE --------------------------------------------------------

  /** pg type -> (spark DDL type, serial?, enum qname?). */
  private def mapType(pgType: String): (String, Boolean, Option[String]) = {
    val t = pgType.trim.toUpperCase(Locale.ROOT).replaceAll("\\s+", " ")
    // pg array spellings: INT[], FLOAT[3] (fixed-size hints drop — Spark
    // arrays are unsized; the reference's own pg layer treats FLOAT[3] as
    // FLOAT[] plus a length check at index-validation time)
    val arrRe = """^(.*?)\s*\[\s*\d*\s*\]$""".r
    t match {
      case arrRe(base) =>
        val (el, _, _) = mapType(base)
        return (s"ARRAY<$el>", false, None)
      case _ => ()
    }
    // DuckDB tagged UNION (simple/union.test; reference wraps it for
    // clients, wrap_unsupported_types.cpp:40-45): encoded as a struct with
    // a reserved `__utag` discriminator first field (SURVEY §1.2 "UNION →
    // struct-with-tag"). The reserved name is the union marker everywhere:
    // INSERT member coercion, union_value/extract/tag, and the top-level
    // RenderUnions wrap that presents the active member as text.
    if (t.startsWith("UNION(") || t.startsWith("UNION (")) {
      val inner = pgType.trim.substring(pgType.trim.indexOf('(') + 1,
        pgType.trim.lastIndexOf(')'))
      val members = splitTop(inner).map { m =>
        val p = m.trim.split("\\s+", 2)
        if (p.length != 2) throw analysisErr(s"cannot parse union member: $m")
        val (mt, _, _) = mapType(p(1))
        s"`${p(0).toLowerCase(Locale.ROOT)}`: $mt"
      }
      return (s"STRUCT<`${UnionType.Tag}`: STRING, ${members.mkString(", ")}>",
        false, None)
    }
    // DuckDB MAP(K, V) column syntax → Spark MAP<K, V>, members mapped
    // recursively (inverted_index_map_include.test rides MAPs through the
    // INCLUDE columnstore)
    if (t.startsWith("MAP(") || t.startsWith("MAP (")) {
      val inner = pgType.trim.substring(pgType.trim.indexOf('(') + 1,
        pgType.trim.lastIndexOf(')'))
      val kv = splitTop(inner)
      if (kv.length != 2) throw analysisErr(s"cannot parse map type: $pgType")
      val (kt, _, _) = mapType(kv(0))
      val (vt, _, _) = mapType(kv(1))
      return (s"MAP<$kt, $vt>", false, None)
    }
    // DuckDB STRUCT(name TYPE, ...) column syntax → Spark STRUCT<name: T>
    // with members mapped recursively (simple/unsigned_int.test nests
    // unsigned ints inside structs)
    if (t.startsWith("STRUCT(") || t.startsWith("STRUCT (")) {
      val inner = pgType.trim.substring(pgType.trim.indexOf('(') + 1,
        pgType.trim.lastIndexOf(')'))
      val members = splitTop(inner).map { m =>
        val p = m.trim.split("\\s+", 2)
        if (p.length != 2) throw analysisErr(s"cannot parse struct member: $m")
        val (mt, _, _) = mapType(p(1))
        s"`${p(0).toLowerCase(Locale.ROOT)}`: $mt"
      }
      return (s"STRUCT<${members.mkString(", ")}>", false, None)
    }
    val (st, serial) = t match {
      case "SERIAL" => ("INT", true)
      case "BIGSERIAL" | "SERIAL8" => ("BIGINT", true)
      case "SMALLSERIAL" => ("SMALLINT", true)
      case "INT" | "INTEGER" | "INT4" => ("INT", false)
      case "BIGINT" | "INT8" => ("BIGINT", false)
      case "SMALLINT" | "INT2" => ("SMALLINT", false)
      case "TEXT" => ("STRING", false)
      case v if v.startsWith("VARCHAR") || v.startsWith("CHARACTER VARYING") => ("STRING", false)
      case v if v.startsWith("CHAR") || v.startsWith("BPCHAR") => ("STRING", false)
      case "DOUBLE PRECISION" | "FLOAT8" | "DOUBLE" => ("DOUBLE", false)
      case "REAL" | "FLOAT4" | "FLOAT" => ("FLOAT", false)
      case "BOOLEAN" | "BOOL" => ("BOOLEAN", false)
      case "DATE" => ("DATE", false)
      case v if v.startsWith("TIMESTAMP") => ("TIMESTAMP", false)
      case v if v.startsWith("NUMERIC") || v.startsWith("DECIMAL") =>
        val m = """(?:NUMERIC|DECIMAL)\s*(\(\s*\d+\s*(?:,\s*\d+\s*)?\))?""".r
          .findFirstMatchIn(v)
        (m.flatMap(x => Option(x.group(1))).map(p => s"DECIMAL$p")
          .getOrElse("DECIMAL(38,18)"), false)
      case "BYTEA" | "BINARY" => ("BINARY", false)
      // unsigned ints → next-wider signed (SURVEY §1.2); UBIGINT's top
      // half exceeds signed long, so it rides DECIMAL(20,0)
      case "UTINYINT" => ("SMALLINT", false)
      case "USMALLINT" => ("INT", false)
      case "UINTEGER" | "UINT" => ("BIGINT", false)
      case "UBIGINT" => ("DECIMAL(20,0)", false)
      case other => ObjectCatalog.enum(pgType.trim) match {
        // enum columns store the LABEL; declaration order rides the field
        // metadata into the EnumOrder optimizer rule
        case Some(_) => ("STRING", false)
        case None =>
          // any valid Spark DDL type (STRING, ARRAY<...>, ...) passes
          // through — CTAS-derived tables re-import with their own types
          try { StructType.fromDDL(s"x ${pgType.trim}"); (pgType.trim, false) }
          catch { case _: Exception => throw analysisErr(
            s"""type "${other.toLowerCase(Locale.ROOT)}" does not exist""") }
      }
    }
    val enumQ = ObjectCatalog.enum(pgType.trim).map(_.qname)
    (st, serial, enumQ)
  }

  /** Split a parenthesized body on top-level commas. */
  private[catalog] def splitTop(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var inStr = false; var start = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 => out += s.substring(start, i); start = i + 1
        case _ => ()
      }
      i += 1
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** One `name TYPE [constraints...]` column definition. Type tokens are
    * greedy up to the first constraint keyword so multi-word pg types
    * (DOUBLE PRECISION, TIMESTAMP WITH TIME ZONE) parse. */
  private def parseColumn(defn: String): ColumnDef = {
    val constraintKw = Set("NOT", "NULL", "PRIMARY", "UNIQUE", "DEFAULT",
      "REFERENCES", "CHECK", "GENERATED")
    val mName = s"""(?s)^\\s*("?[A-Za-z_][A-Za-z0-9_]*"?)\\s+(.*)$$""".r
    defn match {
      case mName(rawName, rest) =>
        val name = rawName.stripPrefix("\"").stripSuffix("\"").toLowerCase
        // greedily take type tokens until a constraint keyword
        val tokens = rest.split("\\s+").toSeq
        var typeEnd = 0
        var parenOpen = false
        while (typeEnd < tokens.length && {
          val up = tokens(typeEnd).toUpperCase(Locale.ROOT)
          val isKw = constraintKw.contains(up.takeWhile(_.isLetter)) &&
            !(typeEnd == 0) // first token is always type
          if (up.contains("(") && !up.contains(")")) parenOpen = true
          if (up.contains(")")) parenOpen = false
          !isKw || parenOpen
        }) typeEnd += 1
        val typeText = tokens.take(typeEnd).mkString(" ")
        val constraintText = tokens.drop(typeEnd).mkString(" ")
        val (sparkType, serial, enumQ) = mapType(typeText)
        // FLOAT[8]-style fixed-size hint: Spark arrays are unsized, so the
        // declared dimension rides on the ColumnDef for index-validation
        // time (pq_m divisibility on a still-empty table, ivf_pq.test §3)
        val declaredDim = """\[\s*(\d+)\s*\]\s*$""".r
          .findFirstMatchIn(typeText).map(_.group(1).toInt)
        var c = ColumnDef(name, sparkType, serial = serial, enumType = enumQ,
          dim = declaredDim)
        val up = constraintText.toUpperCase(Locale.ROOT)
        if (up.matches("(?s).*NOT\\s+NULL.*")) c = c.copy(notNull = true)
        if (up.matches("(?s).*PRIMARY\\s+KEY.*")) c = c.copy(primaryKey = true, notNull = true)
        if (up.matches("(?s).*\\bUNIQUE\\b.*")) c = c.copy(unique = true)
        // pg: multiple DEFAULT clauses on one column are an error
        if ("""(?is)\bDEFAULT\b""".r.findAllIn(constraintText).size > 1)
          throw analysisErr(
            s"""multiple default values specified for column "$name"""")
        if (up.matches("(?s).*GENERATED\\s+BY\\s+DEFAULT.*"))
          throw analysisErr(
            "for a generated column, GENERATED ALWAYS must be specified")
        val gm = """(?is)GENERATED\s+ALWAYS\s+AS\s*\((.*)\)\s*STORED""".r
        gm.findFirstMatchIn(constraintText).foreach { m =>
          c = c.copy(generated = Some(balanced(m.group(1))))
        }
        val dm = """(?is)DEFAULT\s+(.*?)(?:\s+(?:NOT|NULL|PRIMARY|UNIQUE|REFERENCES|CHECK|GENERATED)\b.*)?$""".r
        dm.findFirstMatchIn(constraintText).foreach(m => c = c.copy(default = Some(m.group(1).trim)))
        if (c.generated.isDefined && c.default.isDefined)
          throw analysisErr(
            s"""both default and generation expression specified for column "$name"""")
        c
      case _ => throw analysisErr(s"cannot parse column definition: $defn")
    }
  }

  private def sparkSchema(t: TableDef): StructType =
    StructType.fromDDL(ObjectCatalog.sparkSchemaDdl(t.columns))

  /** The tagged-union struct behind a column declared `UNION(...)`, if
    * any — identified by the reserved `__utag` first field. */
  private def unionTargetOf(c: ColumnDef): Option[StructType] =
    StructType.fromDDL(s"x ${c.sparkType}").head.dataType match {
      case s: StructType if UnionType.isUnion(s) => Some(s)
      case _ => None
    }

  /** Spark types a VALUES list up front, so rows mixing member types for a
    * union column (`union_value(num := 1)` beside `'two'` beside `4` —
    * simple/union.test) have no common type and fail analysis. DuckDB
    * coerces per-value; this rewrites each union-position VALUE TEXT into
    * the full tagged struct before analysis, which restores a single type.
    * Member choice: an explicit union_value names it; otherwise the
    * literal's shape (string / numeric / boolean), falling back to a
    * one-row schema probe for arbitrary expressions. */
  private def rewriteUnionValues(spark: SparkSession, t: TableDef,
      colList: Option[String], text: String): String = {
    if (!text.trim.toUpperCase(Locale.ROOT).startsWith("VALUES")) return text
    val body = text.trim.substring("VALUES".length)
    val rows = splitTop(body).map(_.trim)
    if (rows.isEmpty || !rows.forall(r => r.startsWith("(") && r.endsWith(")")))
      return text
    val arity = splitTop(rows.head.drop(1).dropRight(1)).length
    val target: Seq[Option[StructType]] = colList match {
      case Some(cl) =>
        splitTop(cl.trim.stripPrefix("(").stripSuffix(")")).map { cn =>
          t.columns.find(_.name == cn.trim.stripPrefix("\"").stripSuffix("\"")
            .toLowerCase(Locale.ROOT)).flatMap(unionTargetOf)
        }
      case None => t.columns.take(arity).map(unionTargetOf)
    }
    if (!target.exists(_.isDefined)) return text
    val uvRe = """(?is)^\s*union_value\s*\((.*)\)\s*$""".r
    def structText(member: Option[String], inner: Option[String],
        st: StructType): String = {
      val ms = UnionType.members(st)
      val fields = ms.map { f =>
        val v =
          if (member.contains(f.name)) s"CAST((${inner.get}) AS ${f.dataType.sql})"
          else s"CAST(NULL AS ${f.dataType.sql})"
        s"'${f.name}', $v"
      }
      val tag = member.map(m => s"'$m'").getOrElse("CAST(NULL AS STRING)")
      s"named_struct('${UnionType.Tag}', $tag, ${fields.mkString(", ")})"
    }
    def memberOfText(v: String, st: StructType): Option[String] = {
      val ms = UnionType.members(st)
      def first(p: org.apache.spark.sql.types.DataType => Boolean) =
        ms.find(f => p(f.dataType)).map(_.name)
      val s = v.trim
      if (s.equalsIgnoreCase("NULL")) None
      else if (s.startsWith("'")) first(_.isInstanceOf[StringType])
      else if (s.matches("[+-]?\\d+\\.\\d+"))
        // a FRACTIONAL literal prefers the first fractional-typed member
        // (DuckDB picks the best-fitting member; routing 1.5 into an INT
        // member would CAST-truncate it to 1 — r15 ADVICE)
        first {
          case org.apache.spark.sql.types.DoubleType |
               org.apache.spark.sql.types.FloatType => true
          case _: org.apache.spark.sql.types.DecimalType => true
          case _ => false
        }.orElse(first(_.isInstanceOf[org.apache.spark.sql.types.NumericType]))
      else if (s.matches("[+-]?\\d+"))
        first(_.isInstanceOf[org.apache.spark.sql.types.NumericType])
      else if (s.equalsIgnoreCase("TRUE") || s.equalsIgnoreCase("FALSE"))
        first(_.isInstanceOf[org.apache.spark.sql.types.BooleanType])
      else {
        // arbitrary expression: one driver-side schema probe
        val dt = spark.sql(s"SELECT $s").schema.head.dataType
        UnionType.memberFor(dt, st).map(_.name)
      }
    }
    val newRows = rows.map { r =>
      val items = splitTop(r.drop(1).dropRight(1))
      val rewritten = items.zipWithIndex.map { case (v, i) =>
        target.lift(i).flatten match {
          case Some(st) => v.trim match {
            case uvRe(args) =>
              val parts = splitTop(args).map(_.trim)
              val m = parts.head.stripPrefix("'").stripSuffix("'")
                .toLowerCase(Locale.ROOT)
              if (!UnionType.members(st).exists(_.name == m)) throw analysisErr(
                s"""union has no member named "$m"""")
              structText(Some(m), Some(parts.tail.mkString(", ")), st)
            case other =>
              memberOfText(other, st) match {
                case Some(m) => structText(Some(m), Some(other), st)
                case None => structText(None, None, st)
              }
          }
          case None => v
        }
      }
      rewritten.mkString("(", ", ", ")")
    }
    "VALUES " + newRows.mkString(", ")
  }

  /** The balanced-paren prefix of a greedy `CHECK \((.*)\)` capture — cuts
    * where the opening paren's match closes, so trailing constraint text
    * with its own parens cannot leak into the expression. */
  private def balanced(s: String): String = {
    var depth = 0; var i = 0; var inStr = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => if (depth == 0) return s.substring(0, i) else depth -= 1
        case _ => ()
      }
      i += 1
    }
    s
  }

  /** pg auto-name: `<table>_<first referenced column>_check`. */
  private def autoCheckName(tname: String, colNames: Seq[String],
      checkExpr: String): String = {
    val ids = """[A-Za-z_][A-Za-z0-9_]*""".r.findAllIn(checkExpr)
      .map(_.toLowerCase).toSeq
    ids.find(colNames.contains) match {
      case Some(c) => s"${tname}_${c}_check"
      case None => s"${tname}_check"
    }
  }

  /** Rows violating a CHECK: pg passes TRUE and NULL, fails only FALSE. */
  private def checkViolations(df: DataFrame, checkExpr: String): Long =
    df.filter(expr(checkExpr) <=> lit(false)).limit(1).count()

  private def enforceChecks(t: TableDef, df: DataFrame): Unit =
    t.checks.foreach { case (cname, e) =>
      if (checkViolations(df, e) > 0) throw analysisErr(
        s"""new row for relation "${t.qname}" violates check constraint "$cname"""")
    }

  private def alterAddCheck(spark: SparkSession, name: String,
      cname: Option[String], checkRaw: String): DataFrame = {
    val t = tableOf(name)
    val e = balanced(checkRaw)
    val autoName = cname.map(_.toLowerCase)
      .getOrElse(autoCheckName(t.name, t.columns.map(_.name), e))
    // existing rows must satisfy the new check or nothing is added (pg)
    val cur = TableStore.read(spark, t.dir, sparkSchema(t))
    if (checkViolations(cur, e) > 0) throw analysisErr(
      s"""check constraint "$autoName" of relation "${t.qname}" is violated by some row""")
    ObjectCatalog.updateTable(spark, t.copy(checks = t.checks :+ ((autoName, e))))
    result(spark, s"added check $autoName to ${t.qname}")
  }

  /** `ALTER TABLE t ADD PRIMARY KEY (c) | ADD UNIQUE (c)`
    * (alter_add_pk_unique.test): existing rows must already be unique
    * (and non-null for a PK) or nothing is added. */
  private def alterAddKey(spark: SparkSession, name: String, kind: String,
      keyCol: String): DataFrame = {
    val t = tableOf(name)
    val cn = keyCol.toLowerCase
    val cd = t.columns.find(_.name == cn).getOrElse(throw analysisErr(
      s"""column "$cn" of relation "${t.qname}" does not exist"""))
    val isPk = kind.toUpperCase(Locale.ROOT).startsWith("PRIMARY")
    val cur = TableStore.read(spark, t.dir, sparkSchema(t))
    if (isPk && cur.filter(col(cn).isNull).limit(1).count() > 0) throw analysisErr(
      s"""column "$cn" of relation "${t.qname}" contains null values""")
    // pg: NULLs are never equal under UNIQUE — exclude them from the check
    if (cur.filter(col(cn).isNotNull)
        .groupBy(col(cn)).count().filter(col("count") > 1).limit(1).count() > 0)
      throw analysisErr(
        s"""could not create unique index "${t.name}_${cn}_key": duplicate key value""")
    val newCd =
      if (isPk) cd.copy(primaryKey = true, notNull = true) else cd.copy(unique = true)
    ObjectCatalog.updateTable(spark,
      t.copy(columns = t.columns.map(c => if (c.name == cn) newCd else c)))
    result(spark, s"added ${kind.toLowerCase} on ${t.qname}($cn)")
  }

  private def createTable(spark: SparkSession, name: String, colsRaw: String,
      ifNotExists: Boolean): DataFrame = {
    val q = ObjectCatalog.qualify(name)
    if (ObjectCatalog.get(q).isDefined) {
      if (ifNotExists) return result(spark, s"relation $q already exists, skipped")
      throw analysisErr(s"""relation "$q" already exists""")
    }
    val Array(schema, tname) = q.split("\\.", 2)
    val parts = splitTop(colsRaw)
    // table-level constraints: PRIMARY KEY (col), UNIQUE (col), CHECK (expr)
    val (tableConstraints, colDefs) = parts.partition(p =>
      p.toUpperCase(Locale.ROOT).matches("(?s)^(PRIMARY\\s+KEY|UNIQUE|CHECK|CONSTRAINT)\\b.*"))
    var cols = colDefs.map(parseColumn)
    val checks = Seq.newBuilder[(String, String)]
    // column-level CHECK (expr) rides the constraint tail of its column
    colDefs.zip(cols).foreach { case (defn, c) =>
      """(?is)\bCHECK\s*\((.*)\)""".r.findFirstMatchIn(defn).foreach { m =>
        checks += ((s"${tname}_${c.name}_check", balanced(m.group(1))))
      }
    }
    tableConstraints.foreach { tc =>
      val up = tc.toUpperCase(Locale.ROOT)
      if (up.startsWith("CHECK") || up.contains(" CHECK")) {
        val m = """(?is)CHECK\s*\((.*)\)""".r.findFirstMatchIn(tc).getOrElse(
          throw analysisErr(s"cannot parse CHECK constraint: $tc"))
        val e = balanced(m.group(1))
        val named = """(?is)^CONSTRAINT\s+([A-Za-z_][A-Za-z0-9_]*)""".r
          .findFirstMatchIn(tc).map(_.group(1).toLowerCase)
        checks += ((named.getOrElse(autoCheckName(tname, cols.map(_.name), e)), e))
      } else {
        val colM = """\(\s*"?([A-Za-z_][A-Za-z0-9_]*)"?\s*\)""".r.findFirstMatchIn(tc)
        colM.foreach { m =>
          val cn = m.group(1).toLowerCase
          cols = cols.map { c =>
            if (c.name != cn) c
            else if (up.startsWith("PRIMARY")) c.copy(primaryKey = true, notNull = true)
            else if (up.startsWith("UNIQUE")) c.copy(unique = true)
            else c
          }
        }
      }
    }
    // pg: a generated column cannot reference another generated column
    val genCols = cols.filter(_.generated.isDefined).map(_.name).toSet
    cols.foreach { c =>
      c.generated.foreach { g =>
        val refs = """[A-Za-z_][A-Za-z0-9_]*""".r.findAllIn(g)
          .map(_.toLowerCase).toSet
        (refs & genCols).headOption.foreach { bad =>
          throw analysisErr(
            s"""cannot use generated column "$bad" in column generation expression""")
        }
      }
    }
    val dir = ObjectCatalog.dataDir(schema, tname)
    val t = TableDef(schema, tname, dir, cols, checks.result())
    // SERIAL columns get an implicit owned sequence <table>_<col>_seq
    val withSeqDefaults = t.copy(columns = cols.map { c =>
      if (c.serial && c.default.isEmpty)
        c.copy(default = Some(s"nextval('$schema.${tname}_${c.name}_seq')"))
      else c
    })
    ObjectCatalog.put(spark, withSeqDefaults)
    Txn.tableCreated(dir)
    cols.filter(_.serial).foreach { c =>
      val seqName = s"${tname}_${c.name}_seq"
      ObjectCatalog.put(spark, SequenceDef(schema, seqName,
        ObjectCatalog.seqFile(schema, seqName), 1L, 1L, None, None,
        cycle = false, ownedBy = Some(t.qname)))
    }
    result(spark, s"created table ${t.qname}")
  }

  private def createTableAs(spark: SparkSession, name: String, query: String,
      ifNotExists: Boolean): DataFrame = {
    val q = ObjectCatalog.qualify(name)
    if (ObjectCatalog.get(q).isDefined) {
      if (ifNotExists) return result(spark, s"relation $q already exists, skipped")
      throw analysisErr(s"""relation "$q" already exists""")
    }
    ObjectCatalog.ensureSession(spark)
    val df = ObjectCatalog.internal.withValue(true) { spark.sql(query) }
    val Array(schema, tname) = q.split("\\.", 2)
    val cols = df.schema.fields.map(f =>
      ColumnDef(f.name.toLowerCase, f.dataType.sql)).toSeq
    val dir = ObjectCatalog.dataDir(schema, tname)
    val t = TableDef(schema, tname, dir, cols)
    TableStore.create(dir)
    TableStore.overwrite(spark, dir, df.toDF(cols.map(_.name): _*))
    ObjectCatalog.put(spark, t)
    Txn.tableCreated(dir)
    refresh(spark, t)
    result(spark, s"created table ${t.qname} (${df.count()} rows)")
  }

  // ---- sequences -----------------------------------------------------------

  /** `CREATE SEQUENCE name [START [WITH] n] [INCREMENT [BY] n]
    * [MINVALUE n | NO MINVALUE] [MAXVALUE n | NO MAXVALUE] [CYCLE|NO CYCLE]`
    * (the create_sequence docs corpus' full option surface). */
  private def createSequence(spark: SparkSession, name: String, opts: String,
      ifNotExists: Boolean): DataFrame = {
    val q = ObjectCatalog.qualify(name)
    if (ObjectCatalog.get(q).isDefined) {
      if (ifNotExists) return result(spark, s"relation $q already exists, skipped")
      throw analysisErr(s"""relation "$q" already exists""")
    }
    val Array(schema, sname) = q.split("\\.", 2)
    val up = opts.toUpperCase(Locale.ROOT)
    def num(re: String): Option[Long] =
      re.r.findFirstMatchIn(up).map(_.group(1).toLong)
    val inc = num("""INCREMENT\s+(?:BY\s+)?(-?\d+)""").getOrElse(1L)
    val minV = if (up.contains("NO MINVALUE")) None else num("""MINVALUE\s+(-?\d+)""")
    val maxV = if (up.contains("NO MAXVALUE")) None else num("""MAXVALUE\s+(-?\d+)""")
    val start = num("""START\s+(?:WITH\s+)?(-?\d+)""").getOrElse(
      if (inc > 0) minV.getOrElse(1L) else maxV.getOrElse(-1L))
    val cycle = up.matches("(?s).*(?<!NO )\\bCYCLE\\b.*")
    val s = SequenceDef(schema, sname, ObjectCatalog.seqFile(schema, sname),
      start, inc, minV, maxV, cycle, ownedBy = None)
    ObjectCatalog.put(spark, s)
    result(spark, s"created sequence $q")
  }

  /** `CREATE TYPE name AS ENUM ('a', 'b', ...)` (any/pg/ddl/enum.test):
    * duplicate labels refused, empty enums allowed, labels compare by
    * declaration order (the EnumOrder optimizer rule). */
  private def createEnum(spark: SparkSession, name: String,
      labelsRaw: String): DataFrame = {
    val q = ObjectCatalog.qualify(name)
    if (ObjectCatalog.get(q).isDefined) throw analysisErr(
      s"""type "${q.split("\\.").last}" already exists""")
    val labels = splitTop(labelsRaw).map(stripQuotes)
    val dup = labels.diff(labels.distinct).headOption
    dup.foreach(d => throw analysisErr(
      s"""enum label "$d" used more than once"""))
    val Array(schema, tn) = q.split("\\.", 2)
    ObjectCatalog.put(spark, EnumDef(schema, tn, labels))
    result(spark, s"created type $q")
  }

  /** Enum columns admit only declared labels (or NULL) — pg's
    * "invalid input value for enum" on INSERT and UPDATE alike. */
  private def enforceEnums(t: TableDef, df: DataFrame): Unit =
    t.columns.filter(_.enumType.isDefined).foreach { c =>
      ObjectCatalog.enum(c.enumType.get).foreach { en =>
        val badPred =
          if (en.labels.isEmpty) col(c.name).isNotNull
          else col(c.name).isNotNull && !col(c.name).isin(en.labels: _*)
        val bad = df.filter(badPred).select(col(c.name)).limit(1).collect()
        if (bad.nonEmpty) throw analysisErr(
          s"""invalid input value for enum ${en.name}: "${bad.head.getString(0)}"""")
      }
    }

  /** `(FORMAT csv, DELIMITER '|')`-style option lists. */
  private def parseCopyOpts(opts: String): Map[String, String] =
    splitTop(opts).map { o =>
      val parts = o.trim.split("\\s+", 2)
      val v = if (parts.length > 1) stripQuotes(parts(1).trim) else "true"
      parts(0).toLowerCase(Locale.ROOT) -> v.toLowerCase(Locale.ROOT)
    }.toMap

  private def formatOf(path: String, opts: Map[String, String]): String =
    opts.get("format").map(_.toLowerCase(Locale.ROOT)).getOrElse {
      val p = path.toLowerCase(Locale.ROOT)
      if (p.endsWith(".parquet")) "parquet"
      else if (p.endsWith(".json") || p.endsWith(".ndjson")) "json"
      else "csv"
    }

  /** `COPY (query)|table TO 'path' [(FORMAT f, HEADER, DELIMITER 'c',
    * PARTITION_BY (cols))]` (data_import_and_export corpus). A file-typed
    * target becomes exactly ONE file at that path (the DuckDB contract —
    * staged distributed write, then an atomic move of the single part);
    * PARTITION_BY writes Spark's native hive layout, which read_parquet's
    * hive_partitioning then rediscovers. */
  private def copyTo(spark: SparkSession, source: Either[String, String],
      path: String, optsRaw: Option[String]): DataFrame = {
    val o = optsRaw.map(parseCopyOpts).getOrElse(Map.empty)
    val df = ObjectCatalog.internal.withValue(true) {
      source match {
        case Left(q) => spark.sql(q)
        case Right(t) => spark.sql(s"SELECT * FROM $t")
      }
    }
    val fmt = formatOf(path, o)
    val header = o.get("header").forall(v => v == "true" || v == "1")
    val delim = o.getOrElse("delimiter", o.getOrElse("delim", ","))
    val partitionBy = o.get("partition_by").toSeq.flatMap(v =>
      splitTop(v.stripPrefix("(").stripSuffix(")")).map(_.trim.toLowerCase(Locale.ROOT)))
    val n = df.count()
    def writer(d: org.apache.spark.sql.DataFrameWriter[Row]) = fmt match {
      case "csv" =>
        var w = d.option("header", header.toString).option("delimiter", delim)
        // csv dialect params (view_params corpus): custom quote char, null
        // marker; gzip via COMPRESSION (read side auto-detects by extension)
        o.get("quote").foreach(q => w = w.option("quote", q))
        o.get("escape").foreach(e => w = w.option("escape", e))
        o.get("nullstr").foreach(n => w = w.option("nullValue", n))
        o.get("compression").foreach(c => w = w.option("compression", c))
        w
      case _ => d
    }
    if (partitionBy.nonEmpty) {
      writer(df.write.mode("overwrite").partitionBy(partitionBy: _*))
        .format(fmt).save(path)
    } else {
      val tmp = new org.apache.hadoop.fs.Path(path + s".__tmp${java.util.UUID.randomUUID().toString.take(8)}")
      writer(df.coalesce(1).write.mode("overwrite")).format(fmt).save(tmp.toString)
      val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val part = fs.listStatus(tmp).map(_.getPath)
        .find(p => p.getName.startsWith("part-")).getOrElse(
          throw new IllegalStateException(s"no part file under $tmp"))
      val target = new org.apache.hadoop.fs.Path(path)
      fs.mkdirs(target.getParent)
      if (fs.exists(target)) fs.delete(target, true)
      fs.rename(part, target)
      fs.delete(tmp, true)
    }
    countResult(spark, n)
  }

  /** `COPY table FROM 'path' [(opts)]`: the pg bulk-load verb — reads the
    * file(s) distributed, then appends through the same constraint checks
    * an INSERT takes. */
  private def copyFrom(spark: SparkSession, name: String, path: String,
      optsRaw: Option[String]): DataFrame = {
    val t = tableOf(name)
    graft.search.Rbac.checkWrite(spark, s"${t.dir}/current", "insert", t.qname)
    val o = optsRaw.map(parseCopyOpts).getOrElse(Map.empty)
    val schema = sparkSchema(t)
    val header = o.get("header").forall(v => v == "true" || v == "1")
    val delim = o.getOrElse("delimiter", o.getOrElse("delim", ","))
    val df0 = formatOf(path, o) match {
      case "parquet" => spark.read.schema(schema).parquet(path)
      case "json" => spark.read.schema(schema).json(path)
      case _ => spark.read.schema(schema)
        .option("header", header.toString).option("delimiter", delim).csv(path)
    }
    var df = df0.select(t.columns.map(c => col(c.name).cast(c.sparkType).as(c.name)): _*)
    t.columns.filter(_.generated.isDefined).foreach { c =>
      df = df.withColumn(c.name, expr(c.generated.get).cast(c.sparkType))
    }
    t.columns.filter(_.notNull).foreach { c =>
      if (df.filter(col(c.name).isNull).limit(1).count() > 0) throw analysisErr(
        s"""null value in column "${c.name}" of relation "${t.qname}" violates not-null constraint""")
    }
    enforceChecks(t, df)
    enforceEnums(t, df)
    t.columns.filter(c => c.primaryKey || c.unique).foreach { c =>
      // pg UNIQUE admits any number of NULLs (NULL <> NULL); the semi join
      // already skips null keys, the group check must too
      val dupIn = df.filter(col(c.name).isNotNull)
        .groupBy(col(c.name)).count().filter(col("count") > 1).limit(1).count()
      val clash = df.join(TableStore.read(spark, t.dir, schema), Seq(c.name), "left_semi")
        .limit(1).count()
      if (dupIn > 0 || clash > 0) throw analysisErr(
        s"""duplicate key value violates unique constraint "${t.name}_${c.name}_key"""")
    }
    Txn.touchTable(t.qname, t.dir)
    val n = df.count()
    TableStore.append(spark, t.dir, df, n)
    refresh(spark, t)
    countResult(spark, n)
  }

  /** `COMMENT ON <kind> <name> IS 'text'|NULL`
    * (site_docs/sql/statements/comment_on): text lands in pg_description;
    * IS NULL clears. COLUMN targets take `table.column`. The target must
    * exist — indexes resolve through the search-DDL catalog. */
  private def commentOn(spark: SparkSession, objType: String, target: String,
      textRaw: String): DataFrame = {
    val kind = objType.trim.toUpperCase(Locale.ROOT).replaceAll("\\s+", " ")
    val text = if (textRaw.equalsIgnoreCase("NULL")) None else Some(stripQuotes(textRaw))
    val key = kind match {
      case "COLUMN" =>
        val parts = target.split("\\.")
        val (tbl, col) = (parts.dropRight(1).mkString("."), parts.last.toLowerCase)
        val t = tableOf(tbl)
        if (!t.columns.exists(_.name == col)) throw analysisErr(
          s"""column "$col" of relation "${t.qname}" does not exist""")
        s"column:${t.qname}.$col"
      case "TABLE" => s"table:${tableOf(target).qname}"
      case "VIEW" =>
        val q = ObjectCatalog.qualify(target)
        if (!ObjectCatalog.get(q).exists(_.kind == "view")) throw analysisErr(
          s"""view "$target" does not exist""")
        s"view:$q"
      case "SEQUENCE" =>
        val q = ObjectCatalog.qualify(target)
        if (!ObjectCatalog.get(q).exists(_.kind == "sequence")) throw analysisErr(
          s"""sequence "$target" does not exist""")
        s"sequence:$q"
      case "TYPE" =>
        val q = ObjectCatalog.qualify(target)
        if (!ObjectCatalog.get(q).exists(_.kind == "type")) throw analysisErr(
          s"""type "$target" does not exist""")
        s"type:$q"
      case "SCHEMA" =>
        if (!ObjectCatalog.schemaExists(target)) throw analysisErr(
          s"""schema "$target" does not exist""")
        s"schema:${target.toLowerCase(Locale.ROOT)}"
      case "FUNCTION" | "MACRO" | "MACRO TABLE" =>
        val q = ObjectCatalog.qualify(target)
        s"function:$q" // macros may live outside the object catalog
      case "INDEX" => s"index:${target.toLowerCase(Locale.ROOT)}"
      case other => throw analysisErr(s"COMMENT ON $other is not supported")
    }
    ObjectCatalog.setComment(spark, key, text)
    result(spark, "COMMENT")
  }

  // ---- views / functions ---------------------------------------------------

  /** Catalog objects a SQL body references (dependency edges). */
  private def depsOf(spark: SparkSession, body: String): Seq[String] = {
    val plan =
      try spark.sessionState.sqlParser.parseQuery(body)
      catch { case _: Exception => spark.sessionState.sqlParser.parsePlan(body) }
    val rels = plan.collect {
      case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
        r.multipartIdentifier.mkString(".")
    }
    val seqRefs = """(?i)(?:nextval|currval|setval)\s*\(\s*'([^']+)'""".r
      .findAllMatchIn(body).map(_.group(1)).toSeq
    (rels ++ seqRefs).map(ObjectCatalog.qualify)
      .filter(ObjectCatalog.objects.contains).distinct
  }

  private def createView(spark: SparkSession, name: String, body: String,
      orReplace: Boolean): DataFrame = {
    val q = ObjectCatalog.qualify(name)
    val Array(schema, vname) = q.split("\\.", 2)
    ObjectCatalog.ensureSession(spark)
    val deps = depsOf(spark, body)
    ObjectCatalog.put(spark, ViewDef(schema, vname, body, deps), orReplace)
    result(spark, s"created view $q")
  }

  private def createFunction(spark: SparkSession, name: String, body: String,
      orReplace: Boolean): DataFrame = {
    val q = ObjectCatalog.qualify(name)
    val Array(schema, fname) = q.split("\\.", 2)
    ObjectCatalog.ensureSession(spark)
    val deps = depsOf(spark, body)
    // infer the scalar return type by analyzing the body as a subquery
    val returns = ObjectCatalog.internal.withValue(true) {
      spark.sql(s"SELECT ($body) AS v").schema.head.dataType.sql
    }
    ObjectCatalog.put(spark, FunctionDef(schema, fname, s"($body)", returns, deps), orReplace)
    result(spark, s"created function $q")
  }

  // ---- DML -----------------------------------------------------------------

  private sealed trait Conflict
  private case object DoNothing extends Conflict
  /** SET assignments (EXCLUDED.c references allowed) + optional WHERE. */
  private case class DoUpdate(sets: Seq[(ColumnDef, String)],
      where: Option[String]) extends Conflict

  /** Apply defaults + casts + constraint checks, then append — with the
    * reference insert corpus' full modifier surface: BY NAME/POSITION,
    * INSERT OR REPLACE/IGNORE, and ON CONFLICT [(target)] DO NOTHING |
    * DO UPDATE SET ... [WHERE] (EXCLUDED.* in the SET exprs). */
  private def insert(spark: SparkSession, name: String, colList: String,
      sourceRaw: String, modifier: Option[String],
      byMode: Option[String]): DataFrame = {
    val t = tableOf(name)
    graft.search.Rbac.checkWrite(spark, s"${t.dir}/current", "insert", t.qname)

    // peel a trailing ON CONFLICT clause off the source text
    val (sourceTxt, trailing, conflictTarget): (String, Option[Conflict], Option[String]) =
      sourceRaw match {
        case onConflictRe(src, _, target, action, setClause, _, wherePred) =>
          val spec =
            if (action.toUpperCase(Locale.ROOT).startsWith("NOTHING"))
              DoNothing
            else DoUpdate(parseSets(t, setClause), Option(wherePred))
          (src, Some(spec), Option(target).map(_.trim).filter(_.nonEmpty))
        case other => (other, None, None)
      }
    val conflict: Option[Conflict] = modifier.map(_.trim.toUpperCase(Locale.ROOT)) match {
      case Some(m) if m.startsWith("OR REPLACE") =>
        // replace every non-key column with the incoming value
        Some(DoUpdate(t.columns.filterNot(c => c.primaryKey || c.unique)
          .map(c => (c, s"EXCLUDED.${c.name}")), None))
      case Some(m) if m.startsWith("OR IGNORE") => Some(DoNothing)
      case _ => trailing
    }

    val src = ObjectCatalog.internal.withValue(true) {
      val s0 = sourceTxt.trim.stripSuffix(";").trim
      val text0 =
        if (s0.toUpperCase(Locale.ROOT).startsWith("TABLE"))
          s"SELECT * FROM ${s0.drop(5).trim}"
        else if (s0.startsWith("(") && s0.endsWith(")")) s0.drop(1).dropRight(1)
        else s0
      val text =
        if (t.columns.exists(unionTargetOf(_).isDefined))
          rewriteUnionValues(spark, t, Option(colList), text0)
        else text0
      spark.sql(text)
    }
    val byName = byMode.exists(_.trim.toUpperCase(Locale.ROOT).startsWith("BY NAME"))
    val targetCols: Seq[String] = Option(colList) match {
      case Some(cl) =>
        splitTop(cl.trim.stripPrefix("(").stripSuffix(")")).map(c =>
          c.stripPrefix("\"").stripSuffix("\"").toLowerCase)
      case None if byName => src.schema.fieldNames.map(_.toLowerCase).toSeq
      case None => t.columns.take(src.schema.length).map(_.name)
    }
    if (targetCols.length != src.schema.length) throw analysisErr(
      s"INSERT has ${src.schema.length} expressions but ${targetCols.length} target columns")
    val unknown = targetCols.filterNot(c => t.columns.exists(_.name == c))
    if (unknown.nonEmpty) throw analysisErr(
      s"""column "${unknown.head}" of relation "${t.qname}" does not exist""")
    targetCols.find(c => t.columns.exists(tc => tc.name == c && tc.generated.isDefined))
      .foreach(g => throw analysisErr(
        s"""cannot insert a non-DEFAULT value into column "$g" because it is a generated column"""))

    // positional rename, then add missing columns from defaults
    var df = src.toDF(targetCols: _*)
    // stable per-batch ordinal for block-allocated sequence defaults
    df = df.withColumn("__ord", monotonically_increasing_id())
    val missing = t.columns.filterNot(c => targetCols.contains(c.name))
    val needSeq = missing.filter(_.default.exists(d =>
      ObjectCatalog.defaultSequenceRef(d).isDefined))
    val nRows = if (needSeq.nonEmpty) df.count() else 0L
    missing.foreach { c =>
      c.default match {
        case Some(d) => ObjectCatalog.defaultSequenceRef(d) match {
          case Some(seqQ) =>
            ObjectCatalog.sequence(seqQ) match {
              case Some(s) if nRows > 0 =>
                val first = SequenceOps.nextBlock(s, nRows)
                df = SequenceOps.assignBlock(df, "__ord", c.name,
                  first, s.inc, c.sparkType)
              case Some(_) => df = df.withColumn(c.name, lit(null).cast(c.sparkType))
              case None => throw analysisErr(
                s"""sequence "${seqQ}" does not exist""")
            }
          case None => df = df.withColumn(c.name, expr(d).cast(c.sparkType))
        }
        case None => df = df.withColumn(c.name, lit(null).cast(c.sparkType))
      }
    }
    // generated columns compute from the row's other values (pg STORED)
    t.columns.filter(_.generated.isDefined).foreach { c =>
      df = df.withColumn(c.name, expr(c.generated.get).cast(c.sparkType))
    }
    df = df.select(t.columns.map { c =>
      unionTargetOf(c) match {
        // union member coercion: the source may carry the full struct, a
        // union_value partial struct, or a bare member-typed value
        case Some(st) =>
          UnionType.coerce(col(c.name), df.schema(c.name).dataType, st).as(c.name)
        // pg coerces an array-literal STRING by the declared column type
        // (`INSERT ... VALUES ('r0', '{1,0,0,0}')` into FLOAT[4],
        // vector_search_score_filter.test) — Spark's cast can't cross
        // string→array, so route through the pg/duck list-text parser
        case None if df.schema(c.name).dataType == org.apache.spark.sql.types.StringType &&
            c.sparkType.toUpperCase(Locale.ROOT).startsWith("ARRAY") =>
          call_function("from_pg_text", col(c.name), lit(c.sparkType)).as(c.name)
        case None => col(c.name).cast(c.sparkType).as(c.name)
      }
    }: _*)

    // one aggregate answers the row count, every NOT NULL check and, for a
    // plain insert, every in-batch duplicate-key check (count − count
    // DISTINCT: both skip NULL keys, as pg's unique check does); the errors
    // still surface in pg's order — NOT NULL, CHECK, enum, duplicate key
    val notNull = t.columns.filter(_.notNull)
    val keys =
      if (conflict.isEmpty) t.columns.filter(c => c.primaryKey || c.unique) else Nil
    val stats = df.agg(count(lit(1)),
      notNull.map(c => count(when(col(c.name).isNull, 1))) ++
        keys.map(c => count(col(c.name)) - countDistinct(col(c.name))): _*).head()
    notNull.indices.find(i => stats.getLong(1 + i) > 0).foreach { i =>
      throw analysisErr(s"""null value in column "${notNull(i).name}" of relation """ +
        s""""${t.qname}" violates not-null constraint""")
    }
    enforceChecks(t, df)
    enforceEnums(t, df)

    Txn.touchTable(t.qname, t.dir)
    val n = conflict match {
      case None =>
        // plain insert: any key clash is the pg duplicate-key error; an
        // empty table has nothing to clash with
        val hasRows = TableStore.liveFiles(t.dir).nonEmpty
        keys.indices.foreach { i =>
          val c = keys(i)
          def clash = df.join(TableStore.read(spark, t.dir, sparkSchema(t)),
            Seq(c.name), "left_semi").limit(1).count() > 0
          if (stats.getLong(1 + notNull.size + i) > 0 || (hasRows && clash)) throw analysisErr(
            s"""duplicate key value violates unique constraint "${t.name}_${c.name}_key"""")
        }
        val inserted = stats.getLong(0)
        TableStore.append(spark, t.dir, df, inserted)
        inserted
      case Some(spec) =>
        if (returningCtx.value.isDefined) throw analysisErr(
          "RETURNING with ON CONFLICT is not supported")
        resolveConflicts(spark, t, df, spec, conflictTarget)
    }
    refresh(spark, t)
    returningCtx.value match {
      case Some(cols) => df.selectExpr(splitTop(cols).map(_.trim): _*)
      case None => countResult(spark, n)
    }
  }

  private def parseSets(t: TableDef, setClause: String): Seq[(ColumnDef, String)] =
    splitTop(setClause).map { a =>
      val i = a.indexOf('=')
      if (i < 0) throw analysisErr(s"cannot parse SET clause: $a")
      val cn = a.substring(0, i).trim.stripPrefix("\"").stripSuffix("\"").toLowerCase
      val cd = t.columns.find(_.name == cn).getOrElse(throw analysisErr(
        s"""column "$cn" of relation "${t.qname}" does not exist"""))
      (cd, a.substring(i + 1).trim)
    }

  /** ON CONFLICT resolution: the conflict key's incoming values drive a
    * file-pruned rewrite of the existing side (UPDATE legs), then the
    * non-conflicting remainder appends. The incoming batch is the small
    * side — its keys broadcast as an IN-set, the pg/DuckDB upsert shape. */
  private def resolveConflicts(spark: SparkSession, t: TableDef,
      incoming: DataFrame, spec: Conflict,
      conflictTarget: Option[String]): Long = {
    val keys: Seq[String] = conflictTarget match {
      case Some(cols) => splitTop(cols).map(_.stripPrefix("\"").stripSuffix("\"").toLowerCase)
      case None =>
        val pk = t.columns.filter(_.primaryKey).map(_.name)
        val u = if (pk.nonEmpty) pk else t.columns.filter(_.unique).map(_.name)
        if (u.isEmpty) throw analysisErr(
          "there is no unique or exclusion constraint matching the ON CONFLICT specification")
        u
    }
    val schema = sparkSchema(t)
    val existing = TableStore.read(spark, t.dir, schema)
    // eager checkpoints cut lineage back to the pre-image file set: the
    // rewrite below RETIRES those files, and anything still lazily
    // referencing them (the insert remainder, a self-referencing INSERT
    // SELECT) would otherwise read dead paths after the commit
    val batch = (spec match {
      // pg: DO UPDATE cannot affect one row twice; DO NOTHING keeps the first
      case DoUpdate(_, _) =>
        // rows with a NULL key never conflict (pg), so duplicate NULL
        // groups in the batch are plain inserts, not double-updates
        if (incoming.filter(keys.map(k => col(k).isNotNull).reduce(_ && _))
            .groupBy(keys.map(col): _*).count()
            .filter(col("count") > 1).limit(1).count() > 0)
          throw analysisErr(
            "ON CONFLICT DO UPDATE command cannot affect row a second time")
        incoming
      case DoNothing => incoming.dropDuplicates(keys)
    }).localCheckpoint(true)
    val toInsert = batch.join(existing, keys, "left_anti")
      .select(t.columns.map(c => col(c.name)): _*)
      .localCheckpoint(true)
    val updated: Long = spec match {
      case DoNothing => 0L
      case DoUpdate(sets, wherePred) =>
        val conflicting = batch.join(existing, keys, "left_semi")
        val nConflicting = conflicting.count()
        val excRef0 = """(?i)\bEXCLUDED\s*\.\s*([A-Za-z_][A-Za-z0-9_]*)""".r
        // single-column keys prune to the touched files via an IN-set of
        // the batch's keys (collected: the batch is the broadcast side);
        // composite keys fall back to a full-table remap
        val pred: Column =
          if (keys.length == 1) {
            val vals = conflicting.select(keys.head).distinct().collect()
              .map(_.get(0)).toSeq
            if (vals.isEmpty) lit(false) else col(keys.head).isin(vals: _*)
          } else if (nConflicting == 0) lit(false) else lit(true)
        val exc = batch.select(
          (keys.map(col) ++
            t.columns.map(c => col(c.name).as(s"__exc_${c.name}"))): _*)
        val excRef = """(?i)\bEXCLUDED\s*\.\s*([A-Za-z_][A-Za-z0-9_]*)""".r
        // pg counts only rows the (possibly WHERE-gated) update touches —
        // computed BEFORE the rewrite (the pre-image files move on commit)
        val nUpdated = wherePred match {
          case None => nConflicting
          case Some(w) =>
            val rewritten = excRef0.replaceAllIn(w, m => s"__exc_${m.group(1).toLowerCase}")
            existing.join(broadcast(exc), keys, "inner")
              .filter(expr(rewritten)).count()
        }
        if (nConflicting > 0) TableStore.rewriteMatching(spark, t.dir, schema, pred,
          touched => {
            var out = touched.join(broadcast(exc), keys, "left")
            val isConflict = col(s"__exc_${keys.head}").isNotNull
            val gate = wherePred.map { w =>
              val rw = excRef.replaceAllIn(w, m => s"__exc_${m.group(1).toLowerCase}")
              isConflict && expr(rw)
            }.getOrElse(isConflict)
            sets.foreach { case (cd, e) =>
              val rewritten = excRef.replaceAllIn(e, m => s"__exc_${m.group(1).toLowerCase}")
              out = out.withColumn(cd.name,
                when(gate, expr(rewritten).cast(cd.sparkType)).otherwise(col(cd.name)))
            }
            out.select(t.columns.map(c => col(c.name)): _*)
          })
        nUpdated
    }
    val inserted = toInsert.count()
    TableStore.append(spark, t.dir, toInsert, inserted)
    inserted + updated
  }

  /** pg selectedCols rule (ExecCheckOneRelPerms): DELETE/UPDATE need
    * SELECT only for the columns the statement actually READS — the WHERE
    * predicate, SET right-hand sides, and the RETURNING list. A blind
    * DELETE or constant UPDATE needs only its write privilege
    * (any/pg/rbac/enf_dml_select_when_read.test). */
  private def checkReadCols(spark: SparkSession, t: TableDef,
      exprs: Seq[String]): Unit = {
    val names = t.columns.map(_.name).toSet
    // `RETURNING *` reads every column of the target (pg charges SELECT on
    // the whole row); a bare star is not parseable as an expression
    val (stars, exprs1) = exprs.map(_.trim).partition(_ == "*")
    val parsed = exprs1.map { e =>
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(e)
    }
    val read = (parsed.flatMap(_.collect {
      case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        ua.name.toLowerCase
    }).toSet ++ (if (stars.nonEmpty) names else Set.empty)).intersect(names)
    if (read.nonEmpty)
      graft.search.Rbac.check(spark, s"${t.dir}/current", t.qname, read)
    // pg charges SELECT on EVERY relation in the statement's range table —
    // a WHERE/SET/RETURNING scalar subquery reading another table needs
    // SELECT there too, even though the DML body then runs under the
    // internal (unguarded) rewrite (ExecCheckPermissions walks all RTEs)
    parsed.foreach { ex =>
      ex.foreach {
        case sq: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
          val subAttrs = sq.plan.collectWithSubqueries { case n =>
            n.expressions.flatMap(_.collect {
              case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
                ua.name.toLowerCase
            })
          }.flatten.toSet
          sq.plan.collectWithSubqueries {
            case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
              r.multipartIdentifier.mkString(".")
          }.foreach { ref =>
            ObjectCatalog.table(ref).filter(_.qname != t.qname).foreach { ft =>
              val used = subAttrs.intersect(ft.columns.map(_.name).toSet)
              graft.search.Rbac.check(spark, s"${ft.dir}/current", ft.qname, used)
            }
          }
        case _ => ()
      }
    }
  }

  private def update(spark: SparkSession, name: String, sets: String,
      where: Option[String]): DataFrame = {
    val t = tableOf(name)
    graft.search.Rbac.checkWrite(spark, s"${t.dir}/current", "update", t.qname)
    checkReadCols(spark, t,
      where.toSeq ++ splitTop(sets).map { a =>
        val i = a.indexOf('='); if (i < 0) a else a.substring(i + 1)
      } ++ returningCtx.value.toSeq.flatMap(splitTop(_)))
    // permissions are charged above (pg ExecCheckPermissions-once); the
    // rewrite's internal scans run unguarded
    ObjectCatalog.internal.withValue(true) { updateBody(spark, t, sets, where) }
  }

  private def updateBody(spark: SparkSession, t: TableDef, sets: String,
      where: Option[String]): DataFrame = {
    val pred = where.map(expr).getOrElse(lit(true))
    val assignments = splitTop(sets).map { a =>
      val i = a.indexOf('=')
      if (i < 0) throw analysisErr(s"cannot parse SET clause: $a")
      val cn = a.substring(0, i).trim.stripPrefix("\"").stripSuffix("\"").toLowerCase
      val cd = t.columns.find(_.name == cn).getOrElse(throw analysisErr(
        s"""column "$cn" of relation "${t.qname}" does not exist"""))
      if (cd.generated.isDefined) throw analysisErr(
        s"""column "$cn" can only be updated to DEFAULT because it is a generated column""")
      (cd, a.substring(i + 1).trim)
    }
    // an UPDATE that moves a key column must leave the WHOLE table unique
    // (any/pg/simple/update_pk.test) — validated on the post-image BEFORE
    // any file is rewritten, so a refused update leaves no trace
    if (assignments.exists { case (cd, _) => cd.primaryKey || cd.unique }) {
      var post = TableStore.read(spark, t.dir, sparkSchema(t))
      assignments.foreach { case (cd, e) =>
        post = post.withColumn(cd.name,
          when(pred, expr(e).cast(cd.sparkType)).otherwise(col(cd.name)))
      }
      t.columns.filter(c => c.primaryKey || c.unique).foreach { c =>
        if (post.filter(col(c.name).isNotNull).groupBy(col(c.name)).count()
            .filter(col("count") > 1).limit(1).count() > 0) throw analysisErr(
          s"""duplicate key value violates unique constraint "${t.name}_${c.name}_key"""")
      }
    }
    Txn.touchTable(t.qname, t.dir)
    // RETURNING reports the POST-image of matched rows; materialized
    // (eager checkpoint) BEFORE the rewrite retires their files
    val returned = returningCtx.value.map { cols =>
      var post = TableStore.read(spark, t.dir, sparkSchema(t)).filter(pred)
      assignments.foreach { case (cd, e) =>
        post = post.withColumn(cd.name, expr(e).cast(cd.sparkType))
      }
      t.columns.filter(_.generated.isDefined).foreach { cd =>
        post = post.withColumn(cd.name, expr(cd.generated.get).cast(cd.sparkType))
      }
      post.selectExpr(splitTop(cols).map(_.trim): _*).localCheckpoint(true)
    }
    val (affected, _) = TableStore.rewriteMatching(spark, t.dir, sparkSchema(t), pred,
      touched => {
        var out = touched
        assignments.foreach { case (cd, e) =>
          out = out.withColumn(cd.name,
            when(pred, expr(e).cast(cd.sparkType)).otherwise(col(cd.name)))
        }
        val bad = assignments.map(_._1).filter(_.notNull)
        bad.foreach { cd =>
          if (out.filter(col(cd.name).isNull).limit(1).count() > 0) throw analysisErr(
            s"""null value in column "${cd.name}" of relation "${t.qname}" violates not-null constraint""")
        }
        // generated columns recompute from the (possibly updated) inputs
        t.columns.filter(_.generated.isDefined).foreach { cd =>
          out = out.withColumn(cd.name, expr(cd.generated.get).cast(cd.sparkType))
        }
        val post = out.select(t.columns.map(c => col(c.name)): _*)
        enforceChecks(t, post)
        enforceEnums(t, post)
        post
      })
    refresh(spark, t)
    returned.getOrElse(countResult(spark, affected))
  }

  private def delete(spark: SparkSession, name: String,
      where: Option[String]): DataFrame = {
    val t = tableOf(name)
    graft.search.Rbac.checkWrite(spark, s"${t.dir}/current", "delete", t.qname)
    checkReadCols(spark, t,
      where.toSeq ++ returningCtx.value.toSeq.flatMap(splitTop(_)))
    ObjectCatalog.internal.withValue(true) {
      val pred = where.map(expr).getOrElse(lit(true))
      Txn.touchTable(t.qname, t.dir)
      // RETURNING reports the deleted rows' pre-image, materialized before
      // the rewrite retires their files
      val returned = returningCtx.value.map { cols =>
        TableStore.read(spark, t.dir, sparkSchema(t)).filter(pred)
          .selectExpr(splitTop(cols).map(_.trim): _*).localCheckpoint(true)
      }
      val (affected, _) = TableStore.rewriteMatching(spark, t.dir, sparkSchema(t), pred,
        touched => touched.filter(!pred))
      refresh(spark, t)
      returned.getOrElse(countResult(spark, affected))
    }
  }

  // ---- ALTER TABLE ---------------------------------------------------------

  private def alterAddColumn(spark: SparkSession, name: String,
      colDefRaw: String): DataFrame = {
    val t = tableOf(name)
    val c = parseColumn(colDefRaw)
    if (t.columns.exists(_.name == c.name)) throw analysisErr(
      s"""column "${c.name}" of relation "${t.qname}" already exists""")
    val cur = TableStore.read(spark, t.dir, sparkSchema(t))
    // pg fills existing rows in heap order: sequence defaults assign in
    // insertion order, keyed by (file, row) — live files are named in
    // commit-then-part order precisely so this sort IS insertion order
    // (Spark's scan otherwise orders splits by size, not name)
    var filled = cur.withColumn("__ord",
      struct(col("_metadata.file_path"), col("_metadata.row_index")))
    if (c.generated.isDefined)
      filled = filled.withColumn(c.name, expr(c.generated.get).cast(c.sparkType))
    else c.default match {
      case Some(d) => ObjectCatalog.defaultSequenceRef(d) match {
        case Some(seqQ) =>
          val s = ObjectCatalog.sequence(seqQ).getOrElse(throw analysisErr(
            s"""sequence "$seqQ" does not exist"""))
          val n = filled.count()
          if (n > 0) {
            val first = SequenceOps.nextBlock(s, n)
            filled = SequenceOps.assignBlock(filled, "__ord", c.name,
              first, s.inc, c.sparkType)
          } else filled = filled.withColumn(c.name, lit(null).cast(c.sparkType))
        case None => filled = filled.withColumn(c.name, expr(d).cast(c.sparkType))
      }
      case None => filled = filled.withColumn(c.name, lit(null).cast(c.sparkType))
    }
    val newT = t.copy(columns = t.columns :+ c)
    Txn.touchTable(t.qname, t.dir)
    TableStore.overwrite(spark, t.dir,
      filled.select(newT.columns.map(cc => col(cc.name)): _*))
    ObjectCatalog.updateTable(spark, newT)
    result(spark, s"added column ${c.name} to ${t.qname}")
  }

  private def alterDropColumn(spark: SparkSession, name: String,
      colName: String): DataFrame = {
    val t = tableOf(name)
    val cn = colName.toLowerCase
    if (!t.columns.exists(_.name == cn)) throw analysisErr(
      s"""column "$cn" of relation "${t.qname}" does not exist""")
    val newT = t.copy(columns = t.columns.filterNot(_.name == cn))
    val cur = TableStore.read(spark, t.dir, sparkSchema(t))
    Txn.touchTable(t.qname, t.dir)
    TableStore.overwrite(spark, t.dir,
      cur.select(newT.columns.map(c => col(c.name)): _*))
    ObjectCatalog.updateTable(spark, newT)
    result(spark, s"dropped column $cn from ${t.qname}")
  }

  private def alterRenameColumn(spark: SparkSession, name: String,
      from: String, to: String): DataFrame = {
    val t = tableOf(name)
    val f = from.toLowerCase; val tn = to.toLowerCase
    if (!t.columns.exists(_.name == f)) throw analysisErr(
      s"""column "$f" of relation "${t.qname}" does not exist""")
    val cur = TableStore.read(spark, t.dir, sparkSchema(t))
    val newT = t.copy(columns = t.columns.map(c =>
      if (c.name == f) c.copy(name = tn) else c))
    Txn.touchTable(t.qname, t.dir)
    TableStore.overwrite(spark, t.dir, cur.withColumnRenamed(f, tn))
    ObjectCatalog.updateTable(spark, newT)
    result(spark, s"renamed column $f to $tn")
  }

  private def alterRenameTable(spark: SparkSession, name: String,
      to: String): DataFrame = {
    val t = tableOf(name)
    val newT = t.copy(name = to.toLowerCase)
    if (ObjectCatalog.get(newT.qname).isDefined) throw analysisErr(
      s"""relation "${newT.qname}" already exists""")
    ObjectCatalog.internalSql(spark, s"DROP TABLE IF EXISTS ${t.qname}")
    ObjectCatalog.recObj(t.qname)
    ObjectCatalog.objects.remove(t.qname)
    ObjectCatalog.put(spark, newT)
    result(spark, s"renamed ${t.qname} to ${newT.qname}")
  }

  // ---- SQL functions -------------------------------------------------------

  private val fnReady =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** nextval/currval/setval as SQL text (single-row use; bulk inserts use
    * the block path). Registered once per session. */
  def registerFunctions(spark: SparkSession): Unit = if (fnReady.add(spark)) {
    def seqOf(n: String): SequenceDef =
      ObjectCatalog.sequence(n).getOrElse(throw analysisErr(
        s"""relation "$n" does not exist"""))
    spark.udf.register("nextval", (n: String) => SequenceOps.nextval(seqOf(n)))
    spark.udf.register("currval", (n: String) => SequenceOps.currval(seqOf(n)))
    spark.udf.register("setval", (n: String, v: Long) => SequenceOps.setval(seqOf(n), v))
    SysCatalog.registerFunctions(spark)
  }
}
