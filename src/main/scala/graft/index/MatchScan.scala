package graft.index

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graft.Frames
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, In, TableScan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.search.TsQuery

/** The text-match leaf behind [[graft.search.TsQueryExec.matching]]: one
  * Spark task evaluates an exact-term [[TsQuery]] tree (`Term`, `Phrase`,
  * `SlopPhrase`, `PhraseGap`, `And`, `Or`, `Not`, `Boost`, `All`) over the
  * index and emits the matched `doc_id`s, each once — the reference's
  * IResearch filter tree walked in one scan (search_filter_builder.cpp)
  * instead of unions, distincts and doc_id joins over postings frames. No
  * shuffle, no broadcast.
  *
  * The task reads what the tree needs and nothing else: the query terms'
  * postings (bucket-pruned, the term set pushed to the reader), their
  * `positions` only when the tree has a positional node, and the docstats
  * ids (the doc universe) only for `Not`, `All` or an `And` without a
  * positive child. It applies the generation-scoped tombstones itself, so
  * every row it keeps is live. File access and tombstones are
  * [[IndexTask]]'s, shared with [[TermBagScan]]; an index built in memory
  * has no files and its frames are read through one partition each.
  *
  * Semantics are those of the doc_id join composition this leaf replaces,
  * null ids included:
  *  - a term matches the docs with a live posting row of it;
  *  - a positional node matches a doc when some choice of its terms' live
  *    rows chains (exact phrase: each next position is the previous + 1;
  *    `PhraseGap`: within the gap's bounds; `SlopPhrase`: total
  *    displacement within the budget). Chaining over the positions of all
  *    of a term's live rows at once gives the same answer, since each step
  *    distributes over unions; a null `positions` array chains nothing;
  *  - `Or` is a union; `And` intersects its positive children and removes
  *    its `Not` children, against the universe when it has no positive
  *    child; `Not` is the universe minus its child;
  *  - a null id passes where an equi-join would keep it: in a term, a union,
  *    a lone positive `And` child and the left side of a removal, never
  *    through a positional node or an intersection of two or more.
  *
  * Count mode emits one row, the number of matched docs (a null id once) —
  * the reference's row-count-only IResearch scan
  * (inverted_index_count_variants.test). */
private[graft] object MatchScan {

  /** True when the leaf evaluates every node of `q`; trees holding an
    * expansion leaf (`Prefix`, `Wildcard`, `Regexp`, `TermRange`, `Fuzzy`,
    * `NgramSim`, `GramSim`, `PhrasePrefix`) are not. */
  def exact(q: TsQuery): Boolean = q match {
    case TsQuery.All | TsQuery.Term(_) | TsQuery.Phrase(_) | TsQuery.SlopPhrase(_, _) |
        TsQuery.PhraseGap(_, _) => true
    case TsQuery.And(qs) => qs.forall(exact)
    case TsQuery.Or(qs) => qs.forall(exact)
    case TsQuery.Not(inner) => exact(inner)
    case TsQuery.Boost(inner, _) => exact(inner)
    case _ => false
  }

  /** The matched docs of the exact tree `q`: one `doc_id` column. */
  def frame(idx: InvertedIndex, q: TsQuery): DataFrame =
    Frames.ofRows(idx.postings.sparkSession, leaf(idx, q))

  /** [[frame]] as a plan node, for claim rules that splice it into a query. */
  def leaf(idx: InvertedIndex, q: TsQuery): LogicalRelation = relation(idx, q, countOnly = false)

  /** The number of docs the exact tree `q` matches: one row, one `count`
    * column. */
  def countLeaf(idx: InvertedIndex, q: TsQuery): LogicalRelation =
    relation(idx, q, countOnly = true)

  private def relation(idx: InvertedIndex, q: TsQuery, countOnly: Boolean): LogicalRelation = {
    require(exact(q), s"not an exact-term query: $q")
    validate(q)
    val spark = idx.postings.sparkSession
    val docType = idx.postings.schema("doc_id").dataType
    LogicalRelation(Relation(idx, q, docType, countOnly)(spark.sqlContext))
  }

  /** The shape checks the positional joins made when they were built. */
  private def validate(q: TsQuery): Unit = q match {
    case TsQuery.Phrase(ts) => require(ts.nonEmpty, "empty phrase")
    case TsQuery.SlopPhrase(ts, _) => require(ts.nonEmpty, "empty phrase")
    case TsQuery.PhraseGap(ts, gaps) =>
      require(ts.size >= 2 && gaps.size == ts.size - 1, "gaps must be terms-1")
    case TsQuery.And(qs) => qs.foreach(validate)
    case TsQuery.Or(qs) => qs.foreach(validate)
    case TsQuery.Not(inner) => validate(inner)
    case TsQuery.Boost(inner, _) => validate(inner)
    case _ => ()
  }

  /** Every term of `q`'s term and positional nodes, in first-occurrence order. */
  private def terms(q: TsQuery): Seq[String] = (q match {
    case TsQuery.Term(t) => Seq(t)
    case TsQuery.Phrase(ts) => ts
    case TsQuery.SlopPhrase(ts, _) => ts
    case TsQuery.PhraseGap(ts, _) => ts
    case TsQuery.And(qs) => qs.flatMap(terms)
    case TsQuery.Or(qs) => qs.flatMap(terms)
    case TsQuery.Not(inner) => terms(inner)
    case TsQuery.Boost(inner, _) => terms(inner)
    case _ => Nil
  }).distinct

  /** Whether some node chains positions (a phrase of two or more terms). */
  private def positional(q: TsQuery): Boolean = q match {
    case TsQuery.Phrase(ts) => ts.size > 1
    case TsQuery.SlopPhrase(ts, _) => ts.size > 1
    case TsQuery.PhraseGap(_, _) => true
    case TsQuery.And(qs) => qs.exists(positional)
    case TsQuery.Or(qs) => qs.exists(positional)
    case TsQuery.Not(inner) => positional(inner)
    case TsQuery.Boost(inner, _) => positional(inner)
    case _ => false
  }

  /** Whether the doc universe is read: `Not`, `All`, or an `And` without a
    * positive child. */
  private def universe(q: TsQuery): Boolean = q match {
    case TsQuery.All | TsQuery.Not(_) => true
    case TsQuery.And(qs) => qs.forall(_.isInstanceOf[TsQuery.Not]) || qs.exists(universe)
    case TsQuery.Or(qs) => qs.exists(universe)
    case TsQuery.Boost(inner, _) => universe(inner)
    case _ => false
  }

  private final case class Relation(idx: InvertedIndex, q: TsQuery, docType: DataType,
      countOnly: Boolean)(@transient val sqlContext: SQLContext)
      extends BaseRelation with TableScan with IndexLeaf {

    override def indexDir: Option[String] = idx.files.map(_.dir)

    override val schema: StructType =
      if (countOnly) StructType(Seq(StructField("count", LongType, nullable = false)))
      else StructType(Seq(StructField("doc_id", docType, nullable = true)))

    /** At most one row per live doc. */
    override def sizeInBytes: Long =
      if (countOnly) schema.defaultSize
      else math.max(1L, idx.numDocs) * schema.defaultSize

    override def needConversion: Boolean = false

    override def toString: String = s"MatchScan(${if (countOnly) "count, " else ""}$q)"

    override def buildScan(): RDD[Row] = {
      val spark = sqlContext.sparkSession
      val ts = terms(q)
      val (withPos, withDocs) = (positional(q), universe(q))
      // locals, so the task closures never capture this relation
      val (query, dt, counting) = (q, docType, countOnly)
      val rdd: RDD[InternalRow] = idx.files match {
        case Some(files) =>
          val buckets = ts.map(IndexStore.bucketOf).toSet
          val reader = new IndexTask.Reader(spark)
          val termFilter = Seq(In("term", ts.toArray[Any]))
          val postCols = Seq("term", "doc_id") ++ (if (withPos) Seq("positions") else Nil)
          val segs = files.segments.map { s =>
            (s.segNo,
              if (ts.isEmpty) None
              else Some(reader.input(s.postingsSchema, postCols, termFilter, s.postingsIn(buckets))),
              if (withDocs) Some(reader.input(s.docStatsSchema, Seq("doc_id"), Nil, s.docStats))
              else None)
          }
          val tombs = reader.tombstones(files)
          spark.sparkContext.parallelize(Seq(0), 1).mapPartitions { _ =>
            val m = new Matcher(ts, dt, withPos)
            val dead = tombs.load(dt)
            segs.foreach { case (segNo, p, d) =>
              p.foreach(_.rows(m.posting(segNo, dead, _)))
              d.foreach(_.rows(m.doc(segNo, dead, _)))
            }
            m.emit(query, counting)
          }
        case None =>
          // an in-memory index: its frames, one coalesced partition each
          def none = spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
          val post =
            if (ts.isEmpty) none
            else IndexTask.onePartition(spark, idx.postingsForAny(ts).select(
              Seq(col("term"), col("doc_id")) ++ (if (withPos) Seq(col("positions")) else Nil): _*))
          val docs =
            if (withDocs) IndexTask.onePartition(spark, idx.docStats.select(col("doc_id")))
            else none
          val postTypes = Seq(StringType, dt) ++ (if (withPos) Seq(ArrayType(IntegerType)) else Nil)
          post.zipPartitions(docs) { (p, d) =>
            val m = new Matcher(ts, dt, withPos)
            val dead = new IndexTask.Tombstones(dt)
            val pc = new IndexTask.Cols(postTypes)
            p.foreach(r => m.posting(0, dead, pc.bind(r)))
            val dc = new IndexTask.Cols(Seq(dt))
            d.foreach(r => m.doc(0, dead, dc.bind(r)))
            m.emit(query, counting)
          }
      }
      rdd.asInstanceOf[RDD[Row]]
    }
  }

  private type Docs = java.util.HashSet[Any]

  /** A growable int list: one doc's positions of one term over its live rows. */
  private final class Positions {
    private var buf = Array.emptyIntArray
    private var n = 0
    def addAll(ps: Array[Int]): Unit = {
      if (n + ps.length > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, n + ps.length))
      System.arraycopy(ps, 0, buf, n, ps.length)
      n += ps.length
    }
    /** Sorted, on first use. */
    lazy val sorted: Array[Int] = { val a = java.util.Arrays.copyOf(buf, n); java.util.Arrays.sort(a); a }
  }

  /** The task's state: per query term, its live docs and their positions;
    * the live doc universe when the tree reads it. */
  private final class Matcher(terms: Seq[String], docType: DataType, withPos: Boolean) {
    private val slot: Map[String, Int] = terms.zipWithIndex.toMap
    private val index: Map[UTF8String, Int] =
      slot.map { case (t, i) => UTF8String.fromString(t) -> i }
    private val postings = Array.fill(terms.size)(new java.util.HashMap[Any, Positions])
    private val all = new Docs

    /** One postings row `(term, doc_id[, positions])` of segment `seg`. */
    def posting(seg: Int, dead: IndexTask.Tombstones, c: IndexTask.Cols): Unit =
      index.get(c.term(0)).foreach { i =>
        val doc = c.doc(1, docType)
        if (!dead.dead(doc, seg)) {
          var ps = postings(i).get(doc)
          if (ps == null) { ps = new Positions; postings(i).put(doc, ps) }
          if (withPos) {
            val p = c.ints(2)
            if (p != null) ps.addAll(p)
          }
        }
      }

    /** One docstats row `(doc_id)` of segment `seg`. */
    def doc(seg: Int, dead: IndexTask.Tombstones, c: IndexTask.Cols): Unit = {
      val doc = c.doc(0, docType)
      if (!dead.dead(doc, seg)) all.add(doc)
    }

    def emit(q: TsQuery, countOnly: Boolean): Iterator[InternalRow] = {
      val docs = eval(q)
      if (countOnly) Iterator.single(new GenericInternalRow(Array[Any](docs.size.toLong)))
      else {
        import scala.jdk.CollectionConverters._
        docs.iterator.asScala.map(d => new GenericInternalRow(Array[Any](d)): InternalRow)
      }
    }

    private def termDocs(t: String): Docs =
      new Docs(postings(slot(t)).keySet)

    /** `base` minus `drop`; a null id in `base` stays (an anti-join keeps
      * a null left key). */
    private def remove(base: Docs, drop: Docs): Docs = {
      val hadNull = base.contains(null)
      base.removeAll(drop)
      if (hadNull) base.add(null)
      base
    }

    private def eval(q: TsQuery): Docs = q match {
      case TsQuery.All => new Docs(all)
      case TsQuery.Term(t) => termDocs(t)
      case TsQuery.Boost(inner, _) => eval(inner)
      case TsQuery.Phrase(Seq(t)) => termDocs(t)
      case TsQuery.Phrase(ts) => chained(ts, _ => shifted)
      case TsQuery.SlopPhrase(Seq(t), _) => termDocs(t)
      case TsQuery.SlopPhrase(ts, 0) => chained(ts, _ => shifted)
      case TsQuery.SlopPhrase(ts, slop) => slopChained(ts, slop)
      case TsQuery.PhraseGap(ts, gaps) => chained(ts, i => gapStep(gaps(i)._1, gaps(i)._2))
      case TsQuery.Or(qs) =>
        val out = new Docs
        qs.foreach(c => out.addAll(eval(c)))
        out
      case TsQuery.And(qs) =>
        val (negs, poss) = qs.partition(_.isInstanceOf[TsQuery.Not])
        val base =
          if (poss.isEmpty) new Docs(all)
          else {
            val b = eval(poss.head)
            poss.tail.foreach(p => b.retainAll(eval(p)))
            // a semi-join never matches a null key
            if (poss.size > 1) b.remove(null)
            b
          }
        negs.foldLeft(base) { (acc, n) => remove(acc, eval(n.asInstanceOf[TsQuery.Not].q)) }
      case TsQuery.Not(inner) => remove(new Docs(all), eval(inner))
      case other => throw new IllegalStateException(s"not an exact-term query: $other")
    }

    // ---- positional chains: docs holding every term, null ids excluded ----

    /** Candidate docs of a positional node: docs with live rows of every term. */
    private def candidates(ts: Seq[String]): Iterator[Any] = {
      val maps = ts.distinct.map(t => postings(slot(t)))
      import scala.jdk.CollectionConverters._
      maps.minBy(_.size).keySet.iterator.asScala
        .filter(d => d != null && maps.forall(_.containsKey(d)))
    }

    private def positionsOf(t: String, doc: Any): Array[Int] =
      postings(slot(t)).get(doc).sorted

    /** Docs where `ts` chain: `step(i)` maps the sorted positions the chain
      * reached at term i and term i+1's sorted positions to the positions
      * it reaches at term i+1. */
    private def chained(ts: Seq[String],
        step: Int => (Array[Int], Array[Int]) => Array[Int]): Docs = {
      val out = new Docs
      candidates(ts).foreach { doc =>
        var chain = positionsOf(ts.head, doc)
        var i = 1
        while (chain.nonEmpty && i < ts.size) {
          val next = positionsOf(ts(i), doc)
          chain = step(i - 1)(chain, next)
          i += 1
        }
        if (chain.nonEmpty) out.add(doc)
      }
      out
    }

    /** `(chain + 1) ∩ next`, both sorted. */
    private val shifted: (Array[Int], Array[Int]) => Array[Int] = (chain, next) => {
      val out = Array.newBuilder[Int]
      var (a, b) = (0, 0)
      while (a < chain.length && b < next.length) {
        val p = chain(a).toLong + 1
        if (p < next(b)) a += 1
        else if (p > next(b)) b += 1
        else { out += next(b); a += 1; b += 1 }
      }
      out.result()
    }

    /** Positions `p` of `next` with `c + lo <= p <= c + hi` for some chain
      * position `c`: the least `c >= p - hi` is the one to check. */
    private def gapStep(lo: Int, hi: Int)(chain: Array[Int], next: Array[Int]): Array[Int] =
      next.filter { p =>
        val least = math.max(Int.MinValue.toLong, math.min(Int.MaxValue.toLong, p.toLong - hi))
        val at = java.util.Arrays.binarySearch(chain, least.toInt)
        val from = if (at >= 0) at else -at - 1
        from < chain.length && chain(from).toLong >= p.toLong - hi &&
          chain(from).toLong + lo <= p
      }

    /** Move-budget phrase: the chain holds `(position, least budget used)`
      * and term i+1 at `pp` costs `|pp - p - 1|` from a chain entry at a
      * different position `p`; entries over `slop` are dropped. */
    private def slopChained(ts: Seq[String], slop: Int): Docs = {
      val out = new Docs
      candidates(ts).foreach { doc =>
        var chain: Array[(Int, Long)] = positionsOf(ts.head, doc).map(p => (p, 0L))
        var i = 1
        while (chain.nonEmpty && i < ts.size) {
          val prev = chain
          chain = positionsOf(ts(i), doc).flatMap { pp =>
            val costs = prev.collect { case (p, c) if p != pp => c + math.abs(pp.toLong - p - 1) }
            if (costs.isEmpty) None else Some((pp, costs.min))
          }.filter(_._2 <= slop)
          i += 1
        }
        if (chain.nonEmpty) out.add(doc)
      }
      out
    }
  }
}
