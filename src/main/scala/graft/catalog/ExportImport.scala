package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import ObjectCatalog._

/** `EXPORT DATABASE 'dir' [(FORMAT parquet|csv [, DELIMITER 'c'])]` and
  * `IMPORT DATABASE 'dir'` (reference corpus
  * site_docs/sql/statements/export_and_import_database/ — the DuckDB-style
  * dump: a `schema.sql` of CREATE statements plus one data file per
  * table, re-playable into an empty catalog).
  *
  * The dump is DDL-text-first: schema.sql carries the same statements the
  * engine accepts interactively (types -> sequences -> tables -> views ->
  * functions, dependency order), so a dump is also human-readable
  * documentation of the catalog. Sequence counters are preserved via an
  * `ALTER SEQUENCE ... RESTART` line — imported sequences continue, not
  * restart. Table data export/import are distributed Spark reads/writes.
  */
object ExportImport {

  private def fsOf(p: Path) =
    p.getFileSystem(new org.apache.hadoop.conf.Configuration())

  private def columnDdl(c: ColumnDef): String = {
    val base = c.enumType.map(e => s"${c.name} ${e.split("\\.").last}")
      .getOrElse(s"${c.name} ${c.sparkType}")
    // the serial spelling must round-trip the column's width: SERIAL is
    // INT — re-importing a BIGSERIAL as SERIAL would silently retype the
    // column to INT over INT64 parquet data
    val serialBase =
      if (c.serial) c.sparkType.toUpperCase(java.util.Locale.ROOT) match {
        case "BIGINT" => s"${c.name} BIGSERIAL"
        case "SMALLINT" => s"${c.name} SMALLSERIAL"
        case _ => s"${c.name} SERIAL"
      }
      else base
    serialBase +
      (if (c.primaryKey) " PRIMARY KEY" else "") +
      (if (c.notNull && !c.primaryKey) " NOT NULL" else "") +
      (if (c.unique && !c.primaryKey) " UNIQUE" else "") +
      c.default.filter(_ => !c.serial).map(d => s" DEFAULT $d").getOrElse("") +
      c.generated.map(g => s" GENERATED ALWAYS AS ($g) STORED").getOrElse("")
  }

  /** The CREATE statement that would recreate `o` (dependency-ordered by
    * the caller). */
  private def ddlOf(o: ObjDef): Seq[String] = o match {
    case e: EnumDef =>
      Seq(s"CREATE TYPE ${e.qname} AS ENUM (${e.labels.map(l => s"'$l'").mkString(", ")})")
    case s: SequenceDef =>
      val create = s"CREATE SEQUENCE ${s.qname}" +
        (if (s.start != 1L || s.inc < 0) s" START WITH ${s.start}" else "") +
        (if (s.inc != 1L) s" INCREMENT BY ${s.inc}" else "") +
        s.minV.map(v => s" MINVALUE $v").getOrElse("") +
        s.maxV.map(v => s" MAXVALUE $v").getOrElse("") +
        (if (s.cycle) " CYCLE" else "")
      // continue, don't restart: the dump carries the live counter
      SequenceOps.lastValue(s.file) match {
        case Some(last) => Seq(create,
          s"ALTER SEQUENCE ${s.qname} RESTART WITH ${last + s.inc}")
        case None => Seq(create)
      }
    case t: TableDef =>
      val cols = t.columns.map(columnDdl)
      val checks = t.checks.map { case (n, e) => s"CONSTRAINT $n CHECK ($e)" }
      Seq(s"CREATE TABLE ${t.qname} (${(cols ++ checks).mkString(", ")})")
    case v: ViewDef => Seq(s"CREATE VIEW ${v.qname} AS ${v.sql}")
    case f: FunctionDef =>
      Seq(s"CREATE FUNCTION ${f.qname}() AS ${f.body}")
  }

  /** SERIAL-owned sequences are re-created implicitly by CREATE TABLE, so
    * the dump must not CREATE them again — but must still RESTART them. */
  private def ordered(objs: Seq[ObjDef]): (Seq[ObjDef], Seq[SequenceDef]) = {
    val owned = objs.collect { case s: SequenceDef if s.ownedBy.isDefined => s }
    val rest = objs.filterNot(owned.contains)
    val byKind = Seq("type", "sequence", "table", "view", "function")
    (rest.sortBy(o => (byKind.indexOf(o.kind), o.qname)), owned)
  }

  def exportDatabase(spark: SparkSession, dir: String, format: String,
      delimiter: String): String = {
    ObjectCatalog.ensureSession(spark)
    val root = new Path(dir)
    val fs = fsOf(root)
    fs.mkdirs(root)
    val objs = ObjectCatalog.objects.values.toSeq.sortBy(_.qname)
    val (main, ownedSeqs) = ordered(objs)
    val schemaLines =
      ObjectCatalog.schemas.keys.toSeq.sorted.map(s => s"CREATE SCHEMA $s") ++
        main.flatMap(ddlOf) ++
        ownedSeqs.flatMap(s => SequenceOps.lastValue(s.file).map(last =>
          s"ALTER SEQUENCE ${s.qname} RESTART WITH ${last + s.inc}"))
    val out = fs.create(new Path(root, "schema.sql"), true)
    try out.write((schemaLines.mkString(";\n") + ";\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()

    val tables = objs.collect { case t: TableDef => t }
    tables.foreach { t =>
      val df = TableStore.read(spark, t.dir,
        StructType.fromDDL(ObjectCatalog.sparkSchemaDdl(t.columns)))
      val target = new Path(root, s"${t.schema}.${t.name}").toString
      format match {
        case "csv" => df.write.mode("overwrite")
          .option("header", "true").option("delimiter", delimiter).csv(target)
        case _ => df.write.mode("overwrite").parquet(target)
      }
    }
    // the manifest records the data format so IMPORT needs no options
    val mf = fs.create(new Path(root, "manifest.json"), true)
    try mf.write(
      s"""{"format":"$format","delimiter":${jstr(delimiter)},"tables":[${
        tables.map(t => jstr(s"${t.schema}.${t.name}")).mkString(",")}]}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally mf.close()
    s"exported ${tables.size} tables to $dir"
  }

  private def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def importDatabase(spark: SparkSession, dir: String): String = {
    val root = new Path(dir)
    val fs = fsOf(root)
    if (!fs.exists(new Path(root, "schema.sql"))) throw
      new org.apache.spark.sql.AnalysisException(
        "USER_RAISED_EXCEPTION",
        Map("errorMessage" -> s"""export directory "$dir" has no schema.sql"""))
    val in = fs.open(new Path(root, "schema.sql"))
    val schemaSql = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    // statements are ';'-terminated lines authored by exportDatabase —
    // split on ';\n' (view/function bodies never contain that sequence
    // because the writer joins with it)
    schemaSql.split(";\n").map(_.trim).filter(_.nonEmpty).foreach { stmt =>
      CatalogDdl.execute(spark, stmt)
    }
    val mfIn = fs.open(new Path(root, "manifest.json"))
    val node = try new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(mfIn.readAllBytes()) finally mfIn.close()
    val format = node.get("format").asText()
    val delimiter = node.get("delimiter").asText()
    val it = node.get("tables").elements()
    var n = 0
    while (it.hasNext) {
      val qname = it.next().asText()
      val t = ObjectCatalog.table(qname).getOrElse(
        throw new IllegalStateException(s"imported schema lacks table $qname"))
      val schema = StructType.fromDDL(ObjectCatalog.sparkSchemaDdl(t.columns))
      val src = new Path(root, qname).toString
      val df = format match {
        case "csv" => spark.read.schema(schema)
          .option("header", "true").option("delimiter", delimiter).csv(src)
        case _ => spark.read.schema(schema).parquet(src)
      }
      TableStore.overwrite(spark, t.dir,
        df.select(t.columns.map(c => col(c.name)): _*))
      n += 1
    }
    s"imported $n tables from $dir"
  }
}
