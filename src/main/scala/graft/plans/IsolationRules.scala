package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, View}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType

import graft.catalog.{ObjectCatalog, TableStore, Txn}
import graft.index.Commit

/** Cross-session resolution + the table version every catalog table scan
  * reads (reference semantics:
  * tests/sqllogic/sdb/pg/index/{vector_search,ts_offsets,inverted_index}
  * _isolation.test — a REPEATABLE READ reader keeps the catalog and data
  * state it first read, while other connections commit DDL/DML past it).
  *
  * Resolution happens on the DRIVER with the owning session active, so the
  * per-session transaction context is available at analysis time — pins
  * live in [[Txn]]'s ctx and die with the block.
  */

/** `SELECT ... FROM <index_name>` from ANY session: index relations are
  * registered as temp views only in the session that ran CREATE INDEX, but
  * the registry is JVM-shared — resolve the bare name to the indexed
  * table. Inside a REPEATABLE READ block the name→table binding pins at
  * first use, so a concurrent DROP INDEX does not break the reader's
  * later statements (pg's catalog snapshot). */
case class ResolveIndexRelation(spark: SparkSession) extends Rule[LogicalPlan] {
  /** A dropped-but-pinned table: this block scanned it before another
    * session's DROP TABLE committed, so its name keeps resolving to the
    * pinned snapshot (files deferred by retireTable's anyActivePin check). */
  private def pinnedDropped(name: String): Option[LogicalPlan] = {
    if (!Txn.snapshotActive(spark)) return None
    val qname = ObjectCatalog.qualify(name)
    if (ObjectCatalog.table(qname).isDefined) return None // live: normal path
    Txn.pinnedGet(spark, s"tabledef:${qname.toLowerCase}").map { pinned =>
      val (t, v) = pinned.asInstanceOf[(ObjectCatalog.TableDef, Option[Commit.Version])]
      val schema = StructType.fromDDL(ObjectCatalog.sparkSchemaDdl(t.columns))
      org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(name,
        TableStore.readVersion(spark, t.dir, schema, v).queryExecution.analyzed)
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case u: UnresolvedRelation if u.multipartIdentifier.length <= 2 &&
        pinnedDropped(u.multipartIdentifier.mkString(".").toLowerCase).isDefined =>
      pinnedDropped(u.multipartIdentifier.mkString(".").toLowerCase).get
    case u: UnresolvedRelation if u.multipartIdentifier.length == 1 =>
      val name = u.multipartIdentifier.head.toLowerCase
      val key = s"idxrel:$name"
      val rel: Option[(String, Option[String])] =
        if (Txn.snapshotActive(spark))
          Txn.pinnedGet(spark, key)
            .map(_.asInstanceOf[(String, Option[String])]).orElse(
              graft.search.PgIndexDdl.relationFor(name).map { t =>
                Txn.pinned(spark, key, t)
                  .asInstanceOf[(String, Option[String])]
              })
        else graft.search.PgIndexDdl.relationFor(name)
      rel.map { case (table, pred) =>
        val base: LogicalPlan = UnresolvedRelation(table.split("\\.").toSeq)
        pred.fold(base) { p =>
          // a PARTIAL index views only its predicate's rows
          org.apache.spark.sql.catalyst.plans.logical.Filter(
            org.apache.spark.sql.catalyst.parser.CatalystSqlParser
              .parseExpression(p), base)
        }
      }.getOrElse(u)
  }
}

/** Every scan of a catalog table reads the files of one published version
  * of it ([[TableStore]]): each file relation whose root is a catalog
  * table's directory gets a [[TableStore.TableFiles]] index over that
  * version's files, with the relation's output attributes and root kept,
  * so claim rules (which match columns by exprId), the index catalog, RBAC
  * paths and plan pins see the relation they would see without it. The
  * version is, inside a REPEATABLE READ or SERIALIZABLE block, the one the
  * block pinned at its first scan of the table — another session's
  * committed INSERT/UPDATE/DELETE stays invisible until COMMIT, exactly
  * like pg's snapshot — and otherwise the version current for the
  * statement (read once per statement). A temporary view made from a
  * Dataset keeps its analyzed plan, scans included; they read the
  * statement's version too. A statement resolves each table root once:
  * the analyzer's later passes find its scans reading the index chosen
  * for the statement and leave them as they are. */
case class ReadTableVersions(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case lr @ LogicalRelation(h: HadoopFsRelation, _, _, _, _)
        if !h.location.isInstanceOf[TableStore.TableFiles] => versioned(lr, h)
    case v: View if v.isTempView && v.child.analyzed =>
      val child = v.child.transformUp {
        case lr @ LogicalRelation(h: HadoopFsRelation, _, _, _, _) => versioned(lr, h)
      }
      if (child eq v.child) v else v.copy(child = child)
  }

  /** `lr` reading the statement's version of its table: `lr` itself when
    * it already does or scans no catalog table. */
  private def versioned(lr: LogicalRelation, h: HadoopFsRelation): LogicalPlan =
    h.location.rootPaths match {
      case Seq(root) => Commit.perStatement(s"tablefiles:$root")(indexOf(root))
        .filterNot(_ eq h.location)
        .fold[LogicalPlan](lr)(i => lr.copy(relation = h.copy(location = i)(h.sparkSession)))
      case _ => lr
    }

  /** The scan index of the version of the catalog table at `root` that a
    * statement reads; None when `root` is no catalog table's directory. */
  private def indexOf(root: org.apache.hadoop.fs.Path): Option[TableStore.TableFiles] =
    ObjectCatalog.tableAt(root).map { t =>
      val v =
        if (!Txn.snapshotActive(spark)) TableStore.current(spark, t.dir)
        else {
          val pin = Txn.pinned(spark, s"tablever:${t.dir}", TableStore.current(spark, t.dir))
            .asInstanceOf[Option[Commit.Version]]
          // remember the TableDef too: a concurrent DROP TABLE removes
          // the catalog object, and this block's later statements then
          // resolve the bare name from this pin (ResolveIndexRelation)
          Txn.pinned(spark, s"tabledef:${t.qname.toLowerCase}", (t, pin))
          pin
        }
      TableStore.files(root, v)
    }
}
