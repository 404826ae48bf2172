package graft.search

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.Tables

/** RBAC slice of the reference (optimizer/rbac.{h,cpp}; rbac corpus):
  * roles, SELECT grants, membership, SET ROLE — and the two contracts the
  * reference pins: deny-by-default for a set role, and enforcement that
  * survives optimizer manipulation (enf_disable_optimizer_bypass.test) —
  * here: the check fires on CLAIMED plans whose base scan was replaced by
  * index-artifact reads. */
class RbacSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  private def sql(s: String) = Ddl.execute(spark, s)

  private def denied(f: => Any): Boolean =
    try { f; false }
    catch {
      case e: Exception =>
        e.getMessage != null && e.getMessage.contains("permission denied")
    }

  private def withRole[A](role: String)(f: => A): A = {
    sql(s"SET ROLE $role")
    try f finally sql("RESET ROLE")
  }

  test("deny before grant, allow after, deny again after revoke") {
    Tables.documents(spark, TestSpark.sfDir)
      .createOrReplaceTempView("graft_documents")
    sql("CREATE ROLE reader1")
    assert(withRole("reader1")(denied(
      spark.table("graft_documents").count())), "must deny before grant")
    sql("GRANT SELECT ON graft_documents TO reader1")
    val n = withRole("reader1")(spark.table("graft_documents").count())
    assert(n > 0, "grant must open the table")
    sql("REVOKE SELECT ON graft_documents FROM reader1")
    assert(withRole("reader1")(denied(
      spark.table("graft_documents").count())), "revoke must close it again")
  }

  test("membership: a grant to a group role flows to its members") {
    Tables.orders(spark, TestSpark.sfDir).createOrReplaceTempView("graft_orders")
    sql("CREATE ROLE analysts")
    sql("CREATE ROLE bob")
    sql("GRANT SELECT ON graft_orders TO analysts")
    assert(withRole("bob")(denied(spark.table("graft_orders").count())))
    sql("GRANT analysts TO bob")
    assert(withRole("bob")(spark.table("graft_orders").count()) > 0)
  }

  test("a claimed index plan is as protected as its table (optimizer-bypass proof)") {
    SqlSurface.registerAll(spark)
    Tables.documents(spark, TestSpark.sfDir)
      .createOrReplaceTempView("graft_documents")
    sql(s"""CREATE SEARCH INDEX rbac_docs_idx ON graft_documents (text)
           |WITH (id = 'doc_id', analyzer = 'whitespace',
           |      key = '${TestSpark.sfDir}-documents')""".stripMargin)
    sql("CREATE ROLE searcher")
    // the claimed plan reads index segments, not documents.parquet — the
    // enforcement must map those artifact scans back to the table
    val q = () => spark.sql(
      """SELECT doc_id FROM graft_documents
        |WHERE ts_match(text, 'vector', 'whitespace')""".stripMargin).count()
    assert(withRole("searcher")(denied(q())),
      "claimed index reads must still be denied without a grant")
    sql("GRANT SELECT ON graft_documents TO searcher")
    assert(withRole("searcher")(q()) > 0)
    sql("REVOKE SELECT ON graft_documents FROM searcher")
  }

  test("a claimed bm25 top-k is denied to a role with no grant") {
    SqlSurface.registerAll(spark)
    Tables.documents(spark, TestSpark.sfDir)
      .createOrReplaceTempView("graft_documents")
    sql(s"""CREATE SEARCH INDEX rbac_topk_idx ON graft_documents (text)
           |WITH (id = 'doc_id', analyzer = 'whitespace',
           |      key = '${TestSpark.sfDir}-documents-rbac-topk')""".stripMargin)
    sql("CREATE ROLE ranker")
    // the index-only top-k reads the scorer leaf alone, no documents file
    val q = () => spark.sql(
      """SELECT doc_id FROM graft_documents
        |ORDER BY bm25(text, 'vector query', 'whitespace') DESC LIMIT 5""".stripMargin)
      .collect()
    try {
      assert(withRole("ranker")(denied(q())),
        "a claimed top-k must be denied without a grant")
      sql("GRANT SELECT ON graft_documents TO ranker")
      assert(withRole("ranker")(q()).nonEmpty)
      sql("REVOKE SELECT ON graft_documents FROM ranker")
    } finally sql("DROP SEARCH INDEX rbac_topk_idx")
  }

  test("column grants: only the granted columns are readable; count(*) passes") {
    Tables.documents(spark, TestSpark.sfDir)
      .createOrReplaceTempView("graft_documents")
    sql("CREATE ROLE colreader")
    sql("GRANT SELECT (lang, doc_id) ON graft_documents TO colreader")
    withRole("colreader") {
      assert(spark.sql("SELECT doc_id, lang FROM graft_documents").count() > 0,
        "granted columns must be readable")
      // .collect(), not .count(): a count over an ungranted projection
      // prunes the column away entirely — nothing is read, so it passes
      // (same reason count(*) passes). Materializing the VALUES is denied.
      assert(denied(spark.sql("SELECT text FROM graft_documents").collect()),
        "an ungranted column must be denied")
      assert(denied(spark.sql(
        "SELECT doc_id FROM graft_documents WHERE n_chars > 100").count()),
        "a filter column is a read too")
      // PG: count(*) passes with any column privilege on the table
      assert(spark.sql("SELECT count(*) FROM graft_documents").head().getLong(0) > 0)
    }
    sql("REVOKE SELECT (lang) ON graft_documents FROM colreader")
    withRole("colreader") {
      assert(denied(spark.sql("SELECT lang FROM graft_documents").collect()),
        "column revoke must close that column")
      assert(spark.sql("SELECT doc_id FROM graft_documents").collect().length > 0)
    }
  }

  test("column grants: a covered read needs only the columns its sidecar root holds") {
    SqlSurface.registerAll(spark)
    val root = sys.props("java.io.tmpdir") + "/graft-rbac-covered/docs"
    Tables.documents(spark, TestSpark.sfDir).limit(200).write.mode("overwrite").parquet(root)
    spark.read.parquet(root).createOrReplaceTempView("x_cov_docs")
    sql("""CREATE SEARCH INDEX x_cov_idx ON x_cov_docs (text)
          |WITH (id = 'doc_id', analyzer = 'whitespace', key = 'rbac-covered')
          |FIELDS (lang) INCLUDE (source)""".stripMargin)
    sql("CREATE ROLE x_cov_reader")
    // every column the covered read answers from, but not the FIELDS one
    sql("GRANT SELECT (doc_id, text, source) ON x_cov_docs TO x_cov_reader")
    try {
      val q = spark.sql(
        "SELECT doc_id, source FROM x_cov_docs WHERE ts_match(text, 'vector', 'whitespace')")
      assert(q.inputFiles.exists(_.contains("/stored-")) &&
        (q.inputFiles.toSet & spark.read.parquet(root).inputFiles.toSet).isEmpty,
        s"the read must be covered:\n${q.queryExecution.executedPlan}")
      withRole("x_cov_reader") {
        assert(q.collect().nonEmpty, "the columnstore holds no FIELDS column")
        assert(denied(spark.sql(
          "SELECT doc_id FROM x_cov_docs WHERE ts_match(text, 'vector', 'whitespace') " +
            "AND lang = 'en'").collect()), "a FIELDS column is still a read")
      }
    } finally sql("DROP SEARCH INDEX x_cov_idx")
  }

  test("GRANTED BY requires membership; granting requires the grant option") {
    Tables.orders(spark, TestSpark.sfDir).createOrReplaceTempView("graft_orders")
    sql("CREATE ROLE gb_mop"); sql("CREATE ROLE gb_ved"); sql("CREATE ROLE gb_cc")
    sql("GRANT SELECT ON graft_orders TO gb_mop WITH GRANT OPTION")
    // a non-member may not attribute a grant to gb_mop (the reference's
    // membership rule, gb_column_granted_by_membership.test — same rule
    // for table and column paths)
    withRole("gb_ved") {
      val e1 = intercept[Exception](
        sql("GRANT SELECT ON graft_orders TO gb_cc GRANTED BY gb_mop"))
      assert(e1.getMessage.contains("must be member of role"), e1.getMessage)
      val e2 = intercept[Exception](
        sql("GRANT SELECT (o_orderkey) ON graft_orders TO gb_cc GRANTED BY gb_mop"))
      assert(e2.getMessage.contains("must be member of role"), e2.getMessage)
      // and granting directly without holding the grant option is denied
      val e3 = intercept[Exception](
        sql("GRANT SELECT ON graft_orders TO gb_cc"))
      assert(e3.getMessage.contains("permission denied to grant"), e3.getMessage)
    }
    // the holder of the grant option may confer
    withRole("gb_mop") {
      sql("GRANT SELECT ON graft_orders TO gb_ved")
    }
    assert(withRole("gb_ved")(spark.table("graft_orders").count()) > 0)
  }

  test("write privileges gate the DML surface; MERGE needs each WHEN action's privilege") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.sources.IcebergTables
    val table = sys.props("java.io.tmpdir") + "/graft-rbac-dml-table"
    val docs = Tables.documents(spark, TestSpark.sfDir).limit(20)
    IcebergTables.createOrReplace(docs, table)
    sql("CREATE ROLE dml_writer")
    // the DML's SOURCE rows scan the documents table — reading it under
    // the role needs SELECT (PG: MERGE requires SELECT on the source)
    Tables.documents(spark, TestSpark.sfDir)
      .createOrReplaceTempView("graft_documents")
    sql("GRANT SELECT ON graft_documents TO dml_writer")
    // ... and the merge/delete paths read the TARGET table too
    sql(s"GRANT SELECT ON '$table' TO dml_writer")
    val newRows = docs.withColumn("doc_id", col("doc_id") + 10000)
    def deniedWrite(f: => Any): Boolean =
      try { f; false }
      catch { case e: Exception =>
        e.getMessage != null && e.getMessage.contains("permission denied") }
    withRole("dml_writer") {
      assert(deniedWrite(IcebergTables.append(newRows, table)),
        "insert must be denied without the privilege")
      assert(deniedWrite(IcebergTables.deleteWhere(spark, table, col("doc_id") < 5)),
        "delete must be denied")
      assert(deniedWrite(IcebergTables.updateWhere(spark, table,
        col("doc_id") < 5, Map("lang" -> lit("xx")))), "update must be denied")
      // MERGE with only an insert clause still needs insert
      assert(deniedWrite(IcebergTables.merge(spark, table, newRows, "doc_id")),
        "merge insert clause must be denied")
    }
    sql(s"GRANT INSERT ON '$table' TO dml_writer")
    withRole("dml_writer") {
      IcebergTables.append(newRows.limit(1), table)
      // merge with update clause: insert alone is not enough
      assert(deniedWrite(IcebergTables.merge(spark, table, newRows, "doc_id",
        updateSet = Map("lang" -> lit("yy")))),
        "merge update clause needs the update privilege")
    }
    sql(s"GRANT UPDATE, DELETE ON '$table' TO dml_writer")
    withRole("dml_writer") {
      IcebergTables.merge(spark, table, newRows.limit(2), "doc_id",
        deleteCond = Some(col("src_n_chars") < 0),
        updateSet = Map("lang" -> lit("yy")))
    }
    sql(s"REVOKE INSERT ON '$table' FROM dml_writer")
    withRole("dml_writer") {
      assert(deniedWrite(IcebergTables.append(newRows.limit(1), table)),
        "revoked insert must close the append path")
    }
  }

  test("SET ROLE on an unknown role fails; superuser (no role) unrestricted") {
    assertThrows[IllegalArgumentException](sql("SET ROLE no_such_role"))
    Tables.documents(spark, TestSpark.sfDir)
      .createOrReplaceTempView("graft_documents")
    assert(spark.table("graft_documents").count() > 0)
  }

  test("PUBLIC grants apply to every role; revoking a direct grant leaves them") {
    Tables.documents(spark, TestSpark.sfDir)
      .createOrReplaceTempView("x_pub_docs")
    sql("CREATE ROLE x_pub_a")
    sql("CREATE ROLE x_pub_b")
    assert(withRole("x_pub_a")(denied(spark.table("x_pub_docs").count())))
    sql("GRANT SELECT ON x_pub_docs TO public")
    assert(withRole("x_pub_a")(spark.table("x_pub_docs").count()) > 0)
    assert(withRole("x_pub_b")(spark.table("x_pub_docs").count()) > 0)
    // a direct grant and the PUBLIC grant are independent rows
    // (xog_f_revoke_public_vs_role.test)
    sql("GRANT SELECT ON x_pub_docs TO x_pub_a")
    sql("REVOKE SELECT ON x_pub_docs FROM x_pub_a")
    assert(withRole("x_pub_a")(spark.table("x_pub_docs").count()) > 0,
      "PUBLIC grant must survive revoking the direct grant")
    sql("REVOKE SELECT ON x_pub_docs FROM public")
    assert(withRole("x_pub_a")(denied(spark.table("x_pub_docs").count())))
    assertThrows[Exception](sql("DROP ROLE public"))
  }

  test("NOINHERIT blocks automatic privilege use; SET ROLE is the escape hatch") {
    Tables.documents(spark, TestSpark.sfDir)
      .createOrReplaceTempView("x_ni_docs")
    sql("CREATE ROLE x_ni_member NOINHERIT")
    sql("CREATE ROLE x_ni_group")
    sql("GRANT x_ni_group TO x_ni_member")
    sql("GRANT SELECT ON x_ni_docs TO x_ni_group")
    assert(withRole("x_ni_member")(denied(spark.table("x_ni_docs").count())),
      "a NOINHERIT role must not use the group's privileges automatically")
    // membership still authorizes SET ROLE — privileges then apply
    sql("SET ROLE x_ni_member")
    try {
      sql("SET ROLE x_ni_group")
      assert(spark.table("x_ni_docs").count() > 0)
    } finally sql("RESET ROLE")
    // a non-member cannot SET ROLE into the group
    sql("CREATE ROLE x_ni_outsider")
    sql("SET ROLE x_ni_outsider")
    try assertThrows[IllegalArgumentException](sql("SET ROLE x_ni_group"))
    finally sql("RESET ROLE")
  }

  test("an intermediate NOINHERIT role breaks the inheritance chain") {
    Tables.documents(spark, TestSpark.sfDir)
      .createOrReplaceTempView("x_chain_docs")
    sql("CREATE ROLE x_chain_a")           // INHERIT (default)
    sql("CREATE ROLE x_chain_b NOINHERIT") // breaks the chain
    sql("CREATE ROLE x_chain_c")
    sql("GRANT x_chain_b TO x_chain_a")
    sql("GRANT x_chain_c TO x_chain_b")
    sql("GRANT SELECT ON x_chain_docs TO x_chain_c")
    assert(withRole("x_chain_a")(denied(spark.table("x_chain_docs").count())),
      "c's privileges must not flow through the NOINHERIT middle role")
    // but a grant directly ON the middle role's level does reach a
    sql("GRANT SELECT ON x_chain_docs TO x_chain_b")
    assert(withRole("x_chain_a")(spark.table("x_chain_docs").count()) > 0,
      "a inherits b's own grants; only the chain PAST b is broken")
  }

  test("conferring membership requires the ADMIN OPTION") {
    graft.search.SqlSurface.registerAll(spark)
    sql("CREATE ROLE x_adm_group")
    sql("CREATE ROLE x_adm_bob")
    sql("CREATE ROLE x_adm_alice")
    sql("SET ROLE x_adm_bob")
    try assertThrows[Exception](sql("GRANT x_adm_group TO x_adm_alice"))
    finally sql("RESET ROLE")
    sql("GRANT x_adm_group TO x_adm_bob WITH ADMIN OPTION")
    sql("SET ROLE x_adm_bob")
    try sql("GRANT x_adm_group TO x_adm_alice") finally sql("RESET ROLE")
    assert(spark.sql(
      "SELECT pg_has_role('x_adm_alice', 'x_adm_group', 'member') AS ok")
      .head().getBoolean(0))
    // REVOKE removes the edge again
    sql("REVOKE x_adm_group FROM x_adm_alice")
    assert(!spark.sql(
      "SELECT pg_has_role('x_adm_alice', 'x_adm_group', 'member') AS ok")
      .head().getBoolean(0))
  }

  test("GRANT ALL opens select + the write triple; REVOKE ALL closes both") {
    Tables.documents(spark, TestSpark.sfDir)
      .createOrReplaceTempView("x_all_docs")
    val root = spark.table("x_all_docs").queryExecution.optimizedPlan.collectFirst {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.rootPaths.head.toString.stripPrefix("file:")
    }.get
    sql("CREATE ROLE x_all_writer")
    sql("GRANT ALL PRIVILEGES ON x_all_docs TO x_all_writer")
    withRole("x_all_writer") {
      assert(spark.table("x_all_docs").count() > 0)
      Rbac.checkWrite(spark, root, "insert")
      Rbac.checkWrite(spark, root, "update")
      Rbac.checkWrite(spark, root, "delete")
    }
    sql("REVOKE ALL ON x_all_docs FROM x_all_writer")
    withRole("x_all_writer") {
      assert(denied(spark.table("x_all_docs").count()))
      assert(denied(Rbac.checkWrite(spark, root, "insert")))
    }
  }

  test("pg_has_role distinguishes member from usage on a NOINHERIT edge") {
    graft.search.SqlSurface.registerAll(spark)
    sql("CREATE ROLE x_phr_ni NOINHERIT")
    sql("CREATE ROLE x_phr_g")
    sql("GRANT x_phr_g TO x_phr_ni")
    val r = spark.sql(
      """SELECT pg_has_role('x_phr_ni', 'x_phr_g', 'member') AS m,
        |       pg_has_role('x_phr_ni', 'x_phr_g', 'usage') AS u,
        |       pg_has_role('x_phr_g', 'x_phr_ni', 'member') AS rev""".stripMargin)
      .head()
    assert(r.getBoolean(0), "membership holds regardless of INHERIT")
    assert(!r.getBoolean(1), "usage must NOT hold for a NOINHERIT member")
    assert(!r.getBoolean(2), "membership is directional")
  }
}
