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
import graft.functions.TsDistances
import graft.search.TsQuery

/** The text-match leaf behind [[graft.search.TsQueryExec.matching]]: one
  * Spark task evaluates a [[TsQuery]] tree — `Term`, `Phrase`,
  * `SlopPhrase`, `PhraseGap`, `GramSim`, the expansion leaves `Prefix`,
  * `Wildcard`, `Regexp`, `TermRange`, `Fuzzy`, `NgramSim` and
  * `PhrasePrefix`, and `And`, `Or`, `Not`, `Boost`, `All` over them — and
  * emits the matched `doc_id`s, each once: the reference's IResearch filter
  * tree walked in one scan (search_filter_builder.cpp), its prefix,
  * wildcard, regexp, range and Levenshtein automata run over the term
  * dictionary inside that walk (prefix_filter.hpp, wildcard_filter.hpp,
  * levenshtein_filter.hpp). No shuffle, no broadcast.
  *
  * The task reads what the tree needs and nothing else:
  *  - the term dictionary's `term` column of every live segment, only when
  *    the tree has an expansion leaf; each leaf keeps the terms its
  *    [[graft.search.TermPredicates]] predicate accepts;
  *  - the postings of the named and expanded terms, bucket-pruned; a tree
  *    without an expansion leaf pushes its term set to the reader;
  *  - their `positions` only when the tree has a positional node (a phrase
  *    of two or more terms, `PhraseGap`, `GramSim`, a `PhrasePrefix` with
  *    leading terms);
  *  - the docstats ids (the doc universe) only for `Not`, `All` or an `And`
  *    without a positive child.
  * It applies the generation-scoped tombstones itself, so every row it
  * keeps is live. File access, tombstones, the dictionary expansion and
  * the fuzzy cap are [[IndexTask]]'s, shared with [[TermBagScan]]; an index
  * built in memory has no files and its frames are read through one
  * partition each.
  *
  * Semantics are those of the doc_id join composition this leaf replaced,
  * null ids included:
  *  - a term matches the docs with a live posting row of it; an expansion
  *    leaf the docs with a live posting row of any of its terms. `Fuzzy`
  *    keeps, of its terms with a live posting, the `levenshteinMaxTerms`
  *    most similar ones (`spark.graft.levenshteinMaxTerms`, read when the
  *    statement is planned; 0 or less keeps all), by similarity, then term
  *    byte order;
  *  - a positional node matches a doc when some choice of its terms' live
  *    rows chains (exact phrase: each next position is the previous + 1;
  *    `PhraseGap`: within the gap's bounds; `SlopPhrase`: total
  *    displacement within the budget; `PhrasePrefix`: an exact phrase whose
  *    last step reaches any position of its expanded terms). Chaining over
  *    the positions of all of a term's live rows at once gives the same
  *    answer, since each step distributes over unions; a null `positions`
  *    array chains nothing;
  *  - `GramSim` matches a doc when the longest common subsequence of its
  *    grams and the doc's matched grams in (position, term) order reaches
  *    MinMatchCount; an empty gram list matches nothing;
  *  - `Or` is a union; `And` intersects its positive children and removes
  *    its `Not` children, against the universe when it has no positive
  *    child; `Not` is the universe minus its child;
  *  - a null id passes where an equi-join or a grouping would keep it: in a
  *    term, an expansion leaf, a `GramSim` (its rows' grams merged), a
  *    union, a lone positive `And` child and the left side of a removal,
  *    never through a chain of two or more slots or an intersection of two
  *    or more.
  *
  * Count mode emits one row, the number of matched docs (a null id once) —
  * the reference's row-count-only IResearch scan
  * (inverted_index_count_variants.test). */
private[graft] object MatchScan {

  /** The matched docs of `q`: one `doc_id` column. */
  def frame(idx: InvertedIndex, q: TsQuery): DataFrame =
    Frames.ofRows(idx.postings.sparkSession, leaf(idx, q))

  /** [[frame]] as a plan node, for claim rules that splice it into a query. */
  def leaf(idx: InvertedIndex, q: TsQuery): LogicalRelation = relation(idx, q, countOnly = false)

  /** The number of docs `q` matches: one row, one `count` column. */
  def countLeaf(idx: InvertedIndex, q: TsQuery): LogicalRelation =
    relation(idx, q, countOnly = true)

  private def relation(idx: InvertedIndex, q: TsQuery, countOnly: Boolean): LogicalRelation = {
    validate(q)
    val spark = idx.postings.sparkSession
    val docType = idx.postings.schema("doc_id").dataType
    LogicalRelation(Relation(idx, q, docType, countOnly, IndexTask.fuzzyCap())(spark.sqlContext))
  }

  /** The shape checks the positional joins made when they were built. */
  private def validate(q: TsQuery): Unit = nodes(q).foreach {
    case TsQuery.Phrase(ts) => require(ts.nonEmpty, "empty phrase")
    case TsQuery.SlopPhrase(ts, _) => require(ts.nonEmpty, "empty phrase")
    case TsQuery.PhraseGap(ts, gaps) =>
      require(ts.size >= 2 && gaps.size == ts.size - 1, "gaps must be terms-1")
    case _ => ()
  }

  /** `q` and every node below it. */
  private def nodes(q: TsQuery): Seq[TsQuery] = q +: (q match {
    case TsQuery.And(qs) => qs.flatMap(nodes)
    case TsQuery.Or(qs) => qs.flatMap(nodes)
    case TsQuery.Not(inner) => nodes(inner)
    case TsQuery.Boost(inner, _) => nodes(inner)
    case _ => Nil
  })

  /** The terms a node names. */
  private def named(q: TsQuery): Seq[String] = q match {
    case TsQuery.Term(t) => Seq(t)
    case TsQuery.Phrase(ts) => ts
    case TsQuery.SlopPhrase(ts, _) => ts
    case TsQuery.PhraseGap(ts, _) => ts
    case TsQuery.PhrasePrefix(init, _) => init
    case TsQuery.GramSim(gs, _) => gs
    case _ => Nil
  }

  /** Whether a node expands the term dictionary. */
  private def expands(q: TsQuery): Boolean = q match {
    case _: TsQuery.Prefix | _: TsQuery.Wildcard | _: TsQuery.Regexp | _: TsQuery.TermRange |
        _: TsQuery.Fuzzy | _: TsQuery.NgramSim | _: TsQuery.PhrasePrefix => true
    case _ => false
  }

  /** Whether a node reads positions. */
  private def positional(q: TsQuery): Boolean = q match {
    case TsQuery.Phrase(ts) => ts.size > 1
    case TsQuery.SlopPhrase(ts, _) => ts.size > 1
    case TsQuery.PhraseGap(_, _) | TsQuery.GramSim(_, _) => true
    case TsQuery.PhrasePrefix(init, _) => init.nonEmpty
    case _ => false
  }

  /** Whether a node reads the doc universe: `Not`, `All`, or an `And`
    * without a positive child. */
  private def universe(q: TsQuery): Boolean = q match {
    case TsQuery.All | TsQuery.Not(_) => true
    case TsQuery.And(qs) => qs.forall(_.isInstanceOf[TsQuery.Not])
    case _ => false
  }

  private final case class Relation(idx: InvertedIndex, q: TsQuery, docType: DataType,
      countOnly: Boolean, fuzzyCap: Int)(@transient val sqlContext: SQLContext)
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
      val all = nodes(q)
      val ts = all.flatMap(named).distinct
      val expansions = all.filter(expands).distinct
      val (withPos, withDocs) = (all.exists(positional), all.exists(universe))
      // locals, so the task closures never capture this relation
      val (query, dt, counting, cap) = (q, docType, countOnly, fuzzyCap)
      val postCols = Seq("term", "doc_id") ++ (if (withPos) Seq("positions") else Nil)
      val rdd: RDD[InternalRow] = idx.files match {
        case Some(files) =>
          val reader = new IndexTask.Reader(spark)
          // a tree without an expansion leaf knows its terms here, so the
          // reader skips row groups without them
          val termFilter = if (expansions.isEmpty) Seq(In("term", ts.toArray[Any])) else Nil
          val segs = files.segments.map { s =>
            (s,
              if (ts.isEmpty && expansions.isEmpty) None
              else Some(reader.input(s.postingsSchema, postCols, termFilter, Nil)),
              if (expansions.isEmpty) None
              else Some(reader.input(s.termDictSchema, Seq("term"), Nil, s.termDict)),
              if (withDocs) Some(reader.input(s.docStatsSchema, Seq("doc_id"), Nil, s.docStats))
              else None)
          }
          val tombs = reader.tombstones(files)
          spark.sparkContext.parallelize(Seq(0), 1).mapPartitions { _ =>
            val dict = new IndexTask.Dictionary
            segs.foreach { case (_, _, d, _) => d.foreach(_.rows(dict.add)) }
            val m = new Matcher(ts, expansions, dict, dt, withPos, cap)
            val buckets = m.terms.map(IndexStore.bucketOf).toSet
            val dead = tombs.load(dt)
            segs.foreach { case (s, p, _, d) =>
              if (m.terms.nonEmpty)
                p.foreach(_.over(s.postingsIn(buckets)).rows(m.posting(s.segNo, dead, _)))
              d.foreach(_.rows(m.doc(s.segNo, dead, _)))
            }
            m.emit(query, counting)
          }
        case None =>
          // an in-memory index: its frames, one coalesced partition each
          def none = spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
          def one(df: DataFrame) = IndexTask.onePartition(spark, df)
          val post =
            if (expansions.nonEmpty) one(idx.postings.select(postCols.map(col): _*))
            else if (ts.nonEmpty) one(idx.postingsForAny(ts).select(postCols.map(col): _*))
            else none
          val docs = if (withDocs) one(idx.docStats.select(col("doc_id"))) else none
          val terms = if (expansions.nonEmpty) one(idx.termDict.select(col("term"))) else none
          val postTypes = Seq(StringType, dt) ++ (if (withPos) Seq(ArrayType(IntegerType)) else Nil)
          post.zipPartitions(docs, terms) { (p, d, t) =>
            val dict = new IndexTask.Dictionary
            val tc = new IndexTask.Cols(Seq(StringType))
            t.foreach(r => dict.add(tc.bind(r)))
            val m = new Matcher(ts, expansions, dict, dt, withPos, cap)
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

  /** The task's state: each expansion leaf's dictionary terms; per named
    * or expanded term, its live docs and their positions; the live doc
    * universe when the tree reads it. */
  private final class Matcher(named: Seq[String], expansions: Seq[TsQuery],
      dict: IndexTask.Dictionary, docType: DataType, withPos: Boolean, fuzzyCap: Int) {
    private val expanded: Map[TsQuery, Seq[String]] = dict.expand(expansions)
    /** The terms whose postings the task reads. */
    val terms: Seq[String] = (named ++ expanded.values.flatten).distinct
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

    /** The docs of any of `ts`. */
    private def anyDocs(ts: Seq[String]): Docs = {
      val out = new Docs
      ts.foreach(t => out.addAll(postings(slot(t)).keySet))
      out
    }

    /** A fuzzy leaf's terms with a live posting, capped to the most
      * similar ones. */
    private def capped(f: TsQuery.Fuzzy): Seq[String] =
      IndexTask.capFuzzy(f, expanded(f).filter(t => !postings(slot(t)).isEmpty), fuzzyCap)

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
      case TsQuery.Phrase(ts) => chained(ts.map(Seq(_)), _ => shifted)
      case TsQuery.SlopPhrase(Seq(t), _) => termDocs(t)
      case TsQuery.SlopPhrase(ts, 0) => chained(ts.map(Seq(_)), _ => shifted)
      case TsQuery.SlopPhrase(ts, slop) => slopChained(ts, slop)
      case TsQuery.PhraseGap(ts, gaps) =>
        chained(ts.map(Seq(_)), i => gapStep(gaps(i)._1, gaps(i)._2))
      case f: TsQuery.Fuzzy => anyDocs(capped(f))
      case pp @ TsQuery.PhrasePrefix(init, _) =>
        if (init.isEmpty) anyDocs(expanded(pp))
        else chained(init.map(Seq(_)) :+ expanded(pp), _ => shifted)
      case TsQuery.GramSim(gs, ratio) => gramMatched(gs, ratio)
      case e if expands(e) => anyDocs(expanded(e))
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
      case other => throw new IllegalStateException(s"unhandled query node: $other")
    }

    // ---- positional chains: docs holding every slot, null ids excluded ----

    /** Candidate docs of a chain: docs with live rows of some term of every
      * slot. */
    private def candidates(slots: Seq[Seq[String]]): Iterator[Any] = {
      val sets = slots.distinct.map {
        case Seq(t) => postings(slot(t)).keySet
        case ts => anyDocs(ts)
      }
      import scala.jdk.CollectionConverters._
      sets.minBy(_.size).iterator.asScala.filter(d => d != null && sets.forall(_.contains(d)))
    }

    /** `doc`'s sorted positions over the live rows of any of `ts`. */
    private def positionsOf(ts: Seq[String], doc: Any): Array[Int] = ts match {
      case Seq(t) => postings(slot(t)).get(doc).sorted
      case _ =>
        val ps = ts.flatMap(t => Option(postings(slot(t)).get(doc)).map(_.sorted)).flatten.toArray
        java.util.Arrays.sort(ps)
        ps
    }

    /** Docs where the slots chain: `step(i)` maps the sorted positions the
      * chain reached at slot i and slot i+1's sorted positions to the
      * positions it reaches at slot i+1. */
    private def chained(slots: Seq[Seq[String]],
        step: Int => (Array[Int], Array[Int]) => Array[Int]): Docs = {
      val out = new Docs
      candidates(slots).foreach { doc =>
        var chain = positionsOf(slots.head, doc)
        var i = 1
        while (chain.nonEmpty && i < slots.size) {
          val next = positionsOf(slots(i), doc)
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
      candidates(ts.map(Seq(_))).foreach { doc =>
        var chain: Array[(Int, Long)] = positionsOf(Seq(ts.head), doc).map(p => (p, 0L))
        var i = 1
        while (chain.nonEmpty && i < ts.size) {
          val prev = chain
          chain = positionsOf(Seq(ts(i)), doc).flatMap { pp =>
            val costs = prev.collect { case (p, c) if p != pp => c + math.abs(pp.toLong - p - 1) }
            if (costs.isEmpty) None else Some((pp, costs.min))
          }.filter(_._2 <= slop)
          i += 1
        }
        if (chain.nonEmpty) out.add(doc)
      }
      out
    }

    /** `GramSim`: docs (a null id too) whose live grams, in (position,
      * term byte order) order, share a common subsequence of at least
      * MinMatchCount(|gs|, ratio) with `gs`. */
    private def gramMatched(gs: Seq[String], ratio: Double): Docs = {
      val out = new Docs
      if (gs.isEmpty) return out
      val minMatch = TsDistances.minMatchCount(gs.size, ratio)
      val query = gs.toIndexedSeq
      // each distinct gram with its rank in term byte order
      val ranked = gs.distinct.sortWith((a, b) =>
        UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b)) < 0).zipWithIndex
      anyDocs(ranked.map(_._1)).forEach { doc =>
        val seq = ranked.flatMap { case (g, rank) =>
          Option(postings(slot(g)).get(doc)).toSeq.flatMap(_.sorted.map(p => (p, rank, g)))
        }.sortBy(x => (x._1, x._2)).map(_._3)
        if (TsDistances.lcsLen(query, seq) >= minMatch) out.add(doc)
      }
      out
    }
  }
}
