package graft.search

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.{Tables, TestSpark}
import graft.index.IndexStore

/** Query/index snapshot isolation under concurrent COMPACT (the reference
  * pins the iresearch segment set a query opened with until the query ends —
  * iresearch_snapshot_pinning.test, ts_offsets_isolation.test,
  * drop_table_snapshot_pinning.test). Spark's analogue: a lazy plan captured
  * over pre-compaction segments must stay executable and CORRECT after
  * COMPACT runs, because compaction retains retired segments for one full
  * compaction generation before deleting them. */
@graft.SlowTest
class SnapshotIsolationSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val dir = TestSpark.sfDir

  // with a delete, the captured plan also anti-joins the tombstone
  // generation that COMPACT folds into the merged segment
  Seq(false, true).foreach { withDelete =>
    test("plan captured before COMPACT executes correctly; prior generation is cleaned by the NEXT compact" +
        (if (withDelete) " (with a tombstoned doc)" else "")) {
      val key = s"snap-iso-${System.nanoTime()}"
      val docs = Tables.documents(spark, dir)
      docs.limit(60).createOrReplaceTempView("snap_docs")
      Ddl.execute(spark,
        s"CREATE SEARCH INDEX snap_idx ON snap_docs (text) " +
          s"WITH (id = 'doc_id', analyzer = 'whitespace', key = '$key')")
      // grow the view and REFRESH so the index holds ≥2 segments
      docs.limit(120).createOrReplaceTempView("snap_docs")
      Ddl.execute(spark, "REFRESH SEARCH INDEX snap_idx")
      if (withDelete) {
        val victim = docs.limit(120).filter(col("text").contains("vector"))
          .select("doc_id").head().getLong(0)
        docs.limit(120).filter(col("doc_id") =!= victim).createOrReplaceTempView("snap_docs")
        Ddl.execute(spark, "REFRESH SEARCH INDEX snap_idx")
      }
      val shown = Ddl.execute(spark, "SHOW SEARCH INDEXES")
      val idxDir = shown.filter(col("index_name") === "snap_idx")
        .select("location").head().getString(0)
      val segsBefore = IndexStore.listSegments(spark, idxDir)
      assert(segsBefore.size >= 2, s"need a multi-segment index, got $segsBefore")
      val gens = graft.index.Commit.latest(spark, idxDir).get.files.filter(_.startsWith("del="))
      assert(gens.size == (if (withDelete) 1 else 0), gens)

      // the "running query": a lazy plan resolved over the PRE-compact segments
      val preCompactIdx = IndexStore.load(spark, idxDir)
      val plan = preCompactIdx.term("vector")
      val expected = plan.count()
      assert(expected > 0)

      Ddl.execute(spark, "COMPACT SEARCH INDEX snap_idx")

      // retired segments are still on disk — the old plan re-executes with the
      // same (correct) result, no FileNotFoundException
      segsBefore.foreach(seg =>
        assert(new java.io.File(s"$idxDir/$seg").exists(),
          s"$seg must be retained one compaction generation"))
      val tombstones = gens.map(g => new java.io.File(s"$idxDir/$g"))
      assert(tombstones.forall(_.exists()),
        "folded tombstones must be retained one compaction generation")
      assert(plan.count() == expected)
      // and the post-compact index agrees
      assert(IndexStore.load(spark, idxDir).term("vector").count() == expected)

      // the NEXT compact is the cleanup point for the prior generation
      Ddl.execute(spark, "COMPACT SEARCH INDEX snap_idx")
      segsBefore.foreach(seg =>
        assert(!new java.io.File(s"$idxDir/$seg").exists(),
          s"$seg should be deleted one full generation after retirement"))
      assert(!tombstones.exists(_.exists()),
        "folded tombstones should be deleted one full generation after retirement")
      // the live segment set is intact and correct
      assert(IndexStore.load(spark, idxDir).term("vector").count() == expected)

      Ddl.execute(spark, "DROP SEARCH INDEX snap_idx")
    }
  }
}
