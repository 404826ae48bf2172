package graft.catalog

import org.apache.spark.sql.SparkSession

import graft.index.Commit

/** Session transaction blocks over the object catalog and its table data —
  * the pg semantics the reference's txn corpus pins
  * (tests/sqllogic/any/pg/txn/ *.test, recovery/ddl_in_transaction.test):
  *
  *  - BEGIN starts a block; COMMIT/END ends it; ROLLBACK/ABORT undoes it.
  *  - A failed statement ABORTS the block: every later statement except
  *    COMMIT/ROLLBACK is refused with pg's 25P02 message, and COMMIT of an
  *    aborted block is converted to a rollback (aborted_block.test).
  *  - DDL is transactional (pg!): CREATE/DROP TABLE inside a block roll
  *    back with it. Undo = the catalog pre-images of the objects the block
  *    wrote (metadata-sized) + each written table's data version at first
  *    touch: ROLLBACK publishes that version's file list as a new version
  *    ([[TableStore.restore]], metadata only). Physical data of tables
  *    DROPped inside a block is retired, not deleted, until COMMIT.
  *  - REPEATABLE READ / SERIALIZABLE blocks pin the version of each table
  *    they first scan (graft.plans.ReadTableVersions). Every version a
  *    block holds — first-touch or pinned — keeps its files on disk until
  *    the block ends ([[heldFiles]]).
  *  - Sequences are deliberately NON-transactional, as in pg: a rolled-
  *    back nextval leaves a gap.
  *  - SET LOCAL changes revert at block end, commit or abort.
  *
  * Transaction state is PER SparkSession (the pg scope is per connection,
  * server/network/pg/pg_wire_session.h): two sessions in one JVM hold
  * independent blocks with no cross-talk. State lives in a weak-keyed map
  * so a dropped session garbage-collects its block. Call sites that lack
  * an explicit session (the mutation hooks below) resolve the active
  * session Spark pins to the executing thread.
  *
  * Statement failures are observed at the SQL choke points (CatalogDdl and
  * the sqllogic runner both report into [[statementFailed]]); the
  * parser-level [[gate]] then enforces the aborted state for every
  * subsequent spark.sql text, whatever its origin.
  */
object Txn {

  sealed trait State
  case object Idle extends State
  case object Active extends State
  case object Aborted extends State

  private final class Ctx(val spark: SparkSession) {
    /** First-touch catalog pre-images (qname -> def before this txn's
      * first write; None = did not exist). Undoing ONLY these keys keeps
      * a concurrent session's committed DDL intact across our rollback. */
    val objUndo = scala.collection.mutable.LinkedHashMap.empty[String, Option[ObjectCatalog.ObjDef]]
    val schemaUndo = scala.collection.mutable.LinkedHashMap.empty[String, Option[Boolean]]
    /** table qname -> (dir, data version at first touch; None = never written) */
    val tableVersions =
      scala.collection.mutable.LinkedHashMap.empty[String, (String, Option[Commit.Version])]
    /** dirs of tables created in this txn (destroyed on rollback) */
    val createdDirs = scala.collection.mutable.ArrayBuffer.empty[String]
    /** dirs of tables dropped in this txn (deleted only on commit) */
    val droppedDirs = scala.collection.mutable.ArrayBuffer.empty[String]
    /** SET LOCAL undo: name -> previous value (None = was unset);
      * applied at block end, COMMIT or ROLLBACK (pg SET LOCAL). */
    val localVars = scala.collection.mutable.LinkedHashMap.empty[String, Option[String]]
    /** plain/SESSION SET undo: applied on ROLLBACK only (pg GUCs are
      * transactional — a rolled-back SET never happened, a committed one
      * sticks; any/pg/settings/scopes.test). */
    val sessionVars = scala.collection.mutable.LinkedHashMap.empty[String, Option[String]]
    /** REPEATABLE READ pins: resolution-time snapshots keyed by kind
      * ("tablever:<dir>" -> Option[Commit.Version], "tabledef:<qname>" ->
      * (TableDef, Option[Commit.Version]), "idxrel:<name>" ->
      * table qname String, "analyzer:<name>" -> Analyzer). First touch
      * inside an RR/SERIALIZABLE block records the live state; later
      * touches in the SAME block reuse it even after another session's
      * committed DDL/DML (pg snapshot semantics, resolved at analysis
      * time on the driver). Discarded with the ctx at block end. */
    val pins = scala.collection.mutable.HashMap.empty[String, AnyRef]
    /** This block's isolation level, resolved at BEGIN from the BEGIN
      * options or default_transaction_isolation; changeable until the
      * first data statement runs (any/pg/txn/variables.test #14). */
    var isolation: String = "read committed"
    var hasRead: Boolean = false
  }

  private final class SessState {
    @volatile var state: State = Idle
    @volatile var ctx: Ctx = _
  }

  private val states =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, SessState]())

  private def stateOf(spark: SparkSession): SessState =
    states.synchronized {
      var s = states.get(spark)
      if (s == null) { s = new SessState; states.put(spark, s) }
      s
    }

  /** The session whose statement is executing on this thread. The hooks
    * below fire inside SparkSession.sql / CatalogDdl.execute, where Spark
    * has pinned the active session to the thread. */
  private def running: Option[SessState] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(stateOf)

  def current: State = running.map(_.state).getOrElse(Idle)
  def active: Boolean = current != Idle
  def currentFor(spark: SparkSession): State = stateOf(spark).state

  def begin(spark: SparkSession,
      isolation: Option[String] = None): String = {
    val s = stateOf(spark)
    s.state match {
      case Idle =>
        s.ctx = new Ctx(spark)
        s.ctx.isolation = isolation.getOrElse(
          SessionVars.get(spark, "default_transaction_isolation")
            .getOrElse("read committed"))
        s.state = Active; "BEGIN"
      case _ =>
        // pg: WARNING, the block continues
        "WARNING: there is already a transaction in progress"
    }
  }

  /** The open block's isolation level (None outside a block). */
  def isolationLevel(spark: SparkSession): Option[String] = {
    val s = stateOf(spark)
    if (s.state == Idle) None else Some(s.ctx.isolation)
  }

  /** `SET TRANSACTION ISOLATION LEVEL` inside a block: allowed until the
    * first data statement; after one, only a no-op re-set of the same
    * level passes (the reference's must-be-called-before-any-query rule). */
  def setIsolation(spark: SparkSession, level: String): Unit = {
    val s = stateOf(spark)
    if (s.state != Idle) {
      if (s.ctx.hasRead && s.ctx.isolation != level)
        throw new org.apache.spark.sql.AnalysisException(
          "USER_RAISED_EXCEPTION",
          Map("errorMessage" ->
            "SET TRANSACTION ISOLATION LEVEL must be called before any query"))
      s.ctx.isolation = level
    } // outside a block: pg warns and ignores
  }

  private val controlStmtRe =
    """(?is)^\s*(SET|SHOW|RESET|BEGIN|START|COMMIT|END|ROLLBACK|ABORT|PREPARE|DEALLOCATE)\b.*""".r

  /** Called from the parser on every statement: data statements inside a
    * block freeze its isolation level. */
  private def noteStatement(sqlText: String): Unit =
    if (!ObjectCatalog.internal.value) running.foreach { s =>
      if (s.state == Active && !controlStmtRe.pattern.matcher(sqlText).matches())
        s.ctx.hasRead = true
    }

  /** Whether `spark` is inside an Active snapshot-isolated block
    * (REPEATABLE READ or SERIALIZABLE — pg treats both as snapshot reads
    * at this engine's granularity). */
  def snapshotActive(spark: SparkSession): Boolean = {
    val s = stateOf(spark)
    s.state == Active && (s.ctx.isolation == "repeatable read" ||
      s.ctx.isolation == "serializable")
  }

  /** First-touch snapshot pin: returns the pinned value for `key`,
    * computing and recording it on first use. Only meaningful while
    * [[snapshotActive]]; callers outside a snapshot block should not call. */
  def pinned(spark: SparkSession, key: String, compute: => AnyRef): AnyRef = {
    val s = stateOf(spark)
    s.ctx.pins.getOrElseUpdate(key, compute)
  }

  /** A pinned value if present (no compute), for lookups that must not
    * re-resolve dropped objects. */
  def pinnedGet(spark: SparkSession, key: String): Option[AnyRef] = {
    val s = stateOf(spark)
    if (s.state != Active) None else s.ctx.pins.get(key)
  }

  /** Whether ANY session's active snapshot block holds a pin under `key` —
    * DROP TABLE defers the physical destroy while a pinned reader is alive
    * (pg: the reader's snapshot keeps seeing the rows; pg's ACCESS
    * EXCLUSIVE lock would block the drop instead — here the drop commits
    * and only the file removal waits, inverted_index_isolation.test). */
  def anyActivePin(key: String): Boolean =
    states.synchronized {
      import scala.jdk.CollectionConverters._
      states.values.asScala.exists(s =>
        s.state == Active && s.ctx.pins.contains(key))
    }

  /** Record a table's data version before its FIRST mutation in this block. */
  def touchTable(qname: String, dir: String): Unit = running.foreach { s =>
    if (s.state == Active && !s.ctx.tableVersions.contains(qname))
      s.ctx.tableVersions.put(qname, (dir, TableStore.version(s.ctx.spark, dir)))
  }

  /** The data files at `dir` that open blocks still read: those of each
    * block's first-touch version (its rollback target) and of its
    * REPEATABLE READ pin. A write keeps them on disk. */
  def heldFiles(dir: String): Set[String] =
    states.synchronized {
      import scala.jdk.CollectionConverters._
      states.values.asScala.toSeq.flatMap(s => Option(s.ctx).filter(_ => s.state != Idle))
    }.flatMap { c =>
      c.tableVersions.valuesIterator.collect { case (`dir`, v) => v }.toSeq ++
        c.pins.get(s"tablever:$dir").map(_.asInstanceOf[Option[Commit.Version]])
    }.flatten.flatMap(_.files).toSet

  def tableCreated(dir: String): Unit = running.foreach { s =>
    if (s.state == Active) s.ctx.createdDirs += dir
  }

  /** A DROP inside a block defers physical deletion to COMMIT; outside a
    * block the caller deletes immediately. Returns true when deferred. */
  def tableDropped(dir: String): Boolean = running.exists { s =>
    if (s.state == Active) { s.ctx.droppedDirs += dir; true } else false
  }

  def localVarSet(name: String, previous: Option[String]): Unit =
    running.foreach(localVarSetIn(_, name, previous))

  private def localVarSetIn(s: SessState, name: String,
      previous: Option[String]): Unit =
    if (s.state == Active && !s.ctx.localVars.contains(name))
      s.ctx.localVars.put(name, previous)

  /** Plain SET inside a block: transactional (undone by ROLLBACK only). */
  def sessionVarSet(name: String, previous: Option[String]): Unit =
    running.foreach(sessionVarSetIn(_, name, previous))

  private def sessionVarSetIn(s: SessState, name: String,
      previous: Option[String]): Unit =
    if (s.state == Active && !s.ctx.sessionVars.contains(name) &&
        !s.ctx.localVars.contains(name))
      s.ctx.sessionVars.put(name, previous)

  /** Catalog pre-image hooks (called by ObjectCatalog before map writes). */
  private[catalog] def catalogObjectTouched(q: String,
      pre: Option[ObjectCatalog.ObjDef]): Unit = running.foreach { s =>
    if (s.state == Active && !s.ctx.objUndo.contains(q)) s.ctx.objUndo.put(q, pre)
  }
  private[catalog] def catalogSchemaTouched(n: String,
      pre: Option[Boolean]): Unit = running.foreach { s =>
    if (s.state == Active && !s.ctx.schemaUndo.contains(n)) s.ctx.schemaUndo.put(n, pre)
  }

  /** Mark the open block failed (25P02 until COMMIT/ROLLBACK). */
  def statementFailed(): Unit = running.foreach { s =>
    if (s.state == Active) s.state = Aborted
  }

  /** Session-explicit variant: the sqllogic runner reports a failure for
    * the session it executed on (the thread's active-session binding is
    * already unwound by the time the exception reaches it). */
  def statementFailedFor(spark: SparkSession): Unit = {
    val s = stateOf(spark)
    if (s.state == Active) s.state = Aborted
  }

  /** Refuse any statement but COMMIT/ROLLBACK while aborted — called from
    * the session parser, so it covers every spark.sql text. */
  def gate(sqlText: String): Unit = {
    noteStatement(sqlText)
    if (current == Aborted && !ObjectCatalog.internal.value &&
        !CatalogDdl.isTxnEnd(sqlText))
      throw new org.apache.spark.sql.AnalysisException(
        "USER_RAISED_EXCEPTION",
        Map("errorMessage" ->
          "current transaction is aborted, commands ignored until end of transaction block"))
  }

  def commit(spark: SparkSession): String = {
    val s = stateOf(spark)
    s.state match {
      case Idle => "WARNING: there is no transaction in progress"
      case Aborted => rollback(spark); "ROLLBACK" // pg converts COMMIT of an aborted block
      case Active =>
        val c = s.ctx
        c.droppedDirs.foreach(TableStore.destroy(spark, _)) // deferred physical deletes
        restoreLocals(spark, c)
        s.state = Idle; s.ctx = null
        "COMMIT"
    }
  }

  def rollback(spark: SparkSession): String = {
    val s = stateOf(spark)
    s.state match {
      case Idle => "WARNING: there is no transaction in progress"
      case _ =>
        val c = s.ctx
        s.state = Idle; s.ctx = null
        // data first (while the old defs still reference the dirs), then catalog
        c.tableVersions.values.foreach { case (dir, v) =>
          if (!c.createdDirs.contains(dir)) TableStore.restore(c.spark, dir, v)
        }
        c.createdDirs.foreach(TableStore.destroy(c.spark, _))
        if (c.objUndo.nonEmpty || c.schemaUndo.nonEmpty)
          ObjectCatalog.restore(c.spark,
            ObjectCatalog.overlayUndo(c.objUndo.toSeq, c.schemaUndo.toSeq))
        // undo runs inner-to-outer: SET LOCAL undo first, then the plain-SET
        // pre-images — so when a variable was plain-SET and then SET LOCAL'd
        // in the same block, the session-level pre-image wins (pg reverts
        // ALL GUC changes on rollback)
        restoreLocals(spark, c)
        c.sessionVars.foreach { case (name, prev) =>
          SessionVars.restore(spark, name, prev)
        }
        "ROLLBACK"
    }
  }

  private def restoreLocals(spark: SparkSession, c: Ctx): Unit =
    c.localVars.foreach { case (name, prev) =>
      SessionVars.restore(spark, name, prev)
    }

  /** Test hook. */
  private[graft] def reset(): Unit = running.foreach { s =>
    s.state = Idle; s.ctx = null
  }
}
