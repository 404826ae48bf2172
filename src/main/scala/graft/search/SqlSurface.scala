package graft.search

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, FloatType, IntegerType, StringType}
import graft.analysis.AnalyzerRegistry
import graft.functions.VectorFunctions

/** SQL-visible registration of the search + vector surface, so
  * `spark.sql(...)` text can use the reference's function names directly —
  * the analogue of the reference registering its scalar stubs with DuckDB
  * (server/connector/functions/search.cpp:86-173, vector.h:57-71).
  *
  * `ts_match(text, query, dict)` is the row-evaluated `text @@
  * websearch_to_tsquery(query)` fallback; the index-claimed path is the
  * Scala API (TsQueryExec over IndexStore), mirroring how the reference
  * executes claimed predicates inside iresearch_scan and everything else
  * row-at-a-time. Registration is idempotent per session.
  */
object SqlSurface {
  /** The vector parameter type of the `ann_*` distances. */
  private val Vec = ArrayType(FloatType, containsNull = false)
  private val registered =
    java.util.Collections.synchronizedSet(new java.util.HashSet[SparkSession]())

  /** Registers `f` (a Scala function of the arguments' arity) as a
    * `ScalaUDF` without input encoders, as the scorer stubs are: Spark
    * resolves an encoder-typed UDF's input encoders again for every
    * statement that calls it (`ResolveEncodersInUDF`, milliseconds per
    * statement), and the search surface sits in every search statement.
    * Each argument is cast to its parameter type where the types differ,
    * as implicit casting did, and a NULL argument of a primitive parameter
    * (`DoubleType`, `IntegerType`) makes the result NULL, as Spark's null
    * handling for primitive UDF parameters does. */
  private def register(spark: SparkSession, name: String, out: DataType,
      params: DataType*)(f: AnyRef): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, If, IsNull, Literal, Or, ScalaUDF}
    def builder(args: Seq[Expression]): Expression = {
      if (args.size != params.size)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "USER_RAISED_EXCEPTION",
          messageParameters = Map("errorMessage" ->
            s"$name expects ${params.size} arguments, got ${args.size}"))
      val cast = args.zip(params).map { case (a, t) =>
        if (DataTypeUtils.sameType(a.dataType, t)) a else Cast(a, t)
      }
      val udf = ScalaUDF(f, out, cast, Nil, udfName = Some(name))
      cast.zip(params).collect {
        case (a, DoubleType | IntegerType) if a.nullable => IsNull(a): Expression
      }.reduceOption(Or(_, _)) match {
        case Some(anyNull) => If(anyNull, Literal(null, out), udf)
        case None => udf
      }
    }
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "scala_udf")
  }

  def registerAll(spark: SparkSession): Unit = if (registered.add(spark)) {
    VectorFunctions.registerSql(spark)
    // duck/ICU local-time surface (collate_timezone.test): wall-clock in
    // the session zone; TIME has no Spark type, so it renders as text
    spark.udf.register("current_localtimestamp",
      () => java.time.LocalDateTime.now(java.time.ZoneId.of(
        org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)))
    spark.udf.register("current_localtime",
      () => java.time.LocalTime.now(java.time.ZoneId.of(
        org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
        .format(java.time.format.DateTimeFormatter.ofPattern("HH:mm:ss")))
    // pg_has_role(role, target, 'member'|'usage') — PG's membership
    // introspection over the RBAC role graph (rbac corpus
    // xmb_has_role_matrix_diamond.test): member = reachable through
    // membership regardless of INHERIT, usage = privileges usable without
    // SET ROLE (inheritance path)
    spark.udf.register("pg_has_role",
      (role: String, target: String, mode: String) =>
        Rbac.hasRole(role, target, mode))
    // pg regexp_match (any/pg/simple/regexp.test): first match as an array
    // — capture groups when the pattern has them, else the full match;
    // NULL when nothing matches (PG returns NULL, not an empty array)
    spark.udf.register("regexp_match",
      (s: String, p: String) =>
        if (s == null || p == null) null
        else {
          val m = java.util.regex.Pattern.compile(p).matcher(s)
          if (!m.find()) null
          else if (m.groupCount() == 0) Seq(m.group(0))
          else (1 to m.groupCount()).map(g => m.group(g))
        })
    // ts_highlight POSTINGS overload (headline.test): offsets are the
    // [start, end) pairs ts_offsets emits; options is the PG headline
    // option string. 2-arg form = default options.
    spark.udf.register("ts_highlight",
      (text: String, offsets: Seq[Int]) => Headline.render(text, offsets, ""))
    spark.udf.register("ts_highlight_opts",
      (text: String, offsets: Seq[Int], options: String) =>
        Headline.render(text, offsets, options))
    register(spark, "ts_match", BooleanType, StringType, StringType, StringType)(
      (text: String, query: String, dict: String) =>
        // NULL on either side matches nothing — the reference's NULL
        // tsquery-parameter semantics (tsquery_params.test: EXECUTE
        // tqp_match(NULL) returns zero rows)
        if (text == null || query == null) None else {
          val a = AnalyzerRegistry.get(dict)
          // a TSQUERY-constructor value (ts_like/ts_phrase/boost/... —
          // TsQueryCodec) decodes to its leaf; plain text is websearch
          val q =
            if (TsQueryCodec.isEncoded(query)) TsQueryCodec.decode(query, a)
            else TsQueryParser.websearch(query, a)
          Some(TsQueryExec.evalTokens(TsQuery.bindDict(q, a), a.tokens(text)))
        })
    // the to_tsquery SYNTAX path (`&`/`|`/`!`, `<->`, `<N>`, `:*`,
    // `"..."~N` slop) as a SQL predicate — ts_match stays the websearch
    // dialect, mirroring the reference's two parser entry points
    // (ts_query.cpp to_tsquery vs websearch_to_tsquery)
    register(spark, "tsquery_match", BooleanType, StringType, StringType, StringType)(
      (text: String, query: String, dict: String) =>
        if (text == null || query == null) None else {
          val a = AnalyzerRegistry.get(dict)
          val q =
            if (TsQueryCodec.isEncoded(query)) TsQueryCodec.decode(query, a)
            else TsQueryParser.toTsquery(query, a)
          Some(TsQueryExec.evalTokens(TsQuery.bindDict(q, a), a.tokens(text)))
        })
    // the reference's TSQUERY-constructor functions (search.h:42-71),
    // composable as `ts_match(col, <constructor>, dict)` — the `@@` form.
    // Pure String→String encoders (TsQueryCodec); ClaimTsMatch evaluates
    // literal-argument constructor trees at PLAN time, so these claim into
    // the same index drives as the text syntaxes.
    register(spark, "ts_starts_with", StringType, StringType)(
      (p: String) => TsQueryCodec.startsWith(p))
    register(spark, "ts_like", StringType, StringType)((p: String) => TsQueryCodec.like(p))
    register(spark, "ts_regexp", StringType, StringType)((r: String) => TsQueryCodec.regexp(r))
    // ts_levenshtein is injected in GraftExtensions (variable arity: 1-4
    // args with the reference's auto-distance ladder and transpositions
    // default — a plain UDF registration is single-arity)
    // ts_ngram likewise injected in GraftExtensions (1-2 args, default 0.7)
    register(spark, "ts_phrase", StringType, StringType)(
      (text: String) => TsQueryCodec.phrase(text))
    register(spark, "ts_any", StringType, StringType)((text: String) => TsQueryCodec.any(text))
    register(spark, "ts_all", StringType, StringType)((text: String) => TsQueryCodec.all(text))
    register(spark, "ts_between", StringType, StringType, StringType)(
      (lo: String, hi: String) => TsQueryCodec.between(lo, hi))
    register(spark, "ts_ge", StringType, StringType)((b: String) => TsQueryCodec.cmp("ge", b))
    register(spark, "ts_gt", StringType, StringType)((b: String) => TsQueryCodec.cmp("gt", b))
    register(spark, "ts_le", StringType, StringType)((b: String) => TsQueryCodec.cmp("le", b))
    register(spark, "ts_lt", StringType, StringType)((b: String) => TsQueryCodec.cmp("lt", b))
    register(spark, "boost", StringType, StringType, DoubleType)(
      (q: String, w: Double) => TsQueryCodec.boost(q, w))
    register(spark, "slop", StringType, StringType, IntegerType)(
      (q: String, n: Int) => TsQueryCodec.slop(q, n))
    // GeoJSON geometry predicates — the reference's geo-index SQL surface
    // (geo_search.test: ST_Intersects(col, geojson), ST_Contains(geojson,
    // col) over a geojson dictionary). Row-eval exact kernels; the indexed
    // fast path is the cell-covering drive (geo_cell_search entries).
    spark.udf.register("st_intersects",
      (a: String, b: String) => graft.functions.Geo.geomIntersects(a, b))
    spark.udf.register("st_contains",
      (a: String, b: String) => graft.functions.Geo.geomContains(a, b))
    // TSQUERY combinators — the reference's `&&` / `||` / `!!` operators
    // over TSQUERY values (search.h:82-91)
    register(spark, "ts_or", StringType, StringType, StringType)(
      (a: String, b: String) => TsQueryCodec.or(a, b))
    register(spark, "ts_and", StringType, StringType, StringType)(
      (a: String, b: String) => TsQueryCodec.and(a, b))
    register(spark, "ts_not", StringType, StringType)((q: String) => TsQueryCodec.not(q))
    spark.udf.register("ts_tokenize_sql",
      (text: String, dict: String) => AnalyzerRegistry.get(dict).tokens(text))
    // pg's ts_lexize(dictionary, lexeme): the dictionary's output lexemes
    // for one input token (synonym replacement/expansion, stemming, ...) —
    // distinct from ts_tokenize, which segments raw text
    spark.udf.register("ts_lexize",
      (dict: String, lexeme: String) => AnalyzerRegistry.get(dict).tokens(lexeme))
    // ANN-claimable distance: row-eval fallback is EXACT squared L2; under
    // `ORDER BY ann_l2(...) LIMIT k` the ClaimAnnTopK rule swaps in the IVF
    // probe (approximate, like the reference's ANN claim of `<->` top-k,
    // iresearch_plan.cpp:546-621) — callers wanting guaranteed-exact order
    // use l2_distance instead, which is never claimed.
    register(spark, "ann_l2", DoubleType, Vec, Vec)(
      (a: collection.Seq[Float], b: collection.Seq[Float]) => {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
      s
    })
    // per-metric score mappings, all ascending-best so `ORDER BY ann_*(...)
    // LIMIT k` claims uniformly (reference metric table,
    // iresearch_plan.cpp:546-621): cosine DISTANCE (1 − cos), negative dot
    register(spark, "ann_cosine", DoubleType, Vec, Vec)(
      (a: collection.Seq[Float], b: collection.Seq[Float]) => {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      if (na == 0 || nb == 0) 1.0 else 1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
    })
    register(spark, "ann_ip", DoubleType, Vec, Vec)(
      (a: collection.Seq[Float], b: collection.Seq[Float]) => {
      var s = 0.0; var i = 0
      while (i < a.length) { s -= a(i).toDouble * b(i); i += 1 }
      s
    })
    // Manhattan — pgvector `<+>`; row-eval only (no rotation preserves L1,
    // so the reference keeps l1 on its legacy layout and this engine keeps
    // it on the exact path: no claim rule maps ann_l1)
    register(spark, "ann_l1", DoubleType, Vec, Vec)(
      (a: collection.Seq[Float], b: collection.Seq[Float]) => {
      var s = 0.0; var i = 0
      while (i < a.length) { s += math.abs(a(i).toDouble - b(i)); i += 1 }
      s
    })
    // Relevance-scorer STUBS — the reference's flagship SQL surface
    // (`SELECT ... ORDER BY bm25(...) DESC LIMIT k`, examples/demo0/
    // demo.sql:39-48). A scorer needs corpus statistics (idf, avgdl, ctf)
    // that no row-at-a-time UDF can see, so these are claim-only: the
    // ClaimScoreTopK / ClaimScoreFilter optimizer rules rewrite them into
    // the index postings drive, and an un-claimed evaluation THROWS with
    // the missing-index diagnosis — exactly the reference's SearchStubFn
    // surface (server/connector/functions/search.h:128-132; scorer misuse
    // error iresearch_plan.cpp:778-782).
    // scorers are NOT registered here: GraftExtensions injects them as
    // variable-arity builders (3-5 args: col, query, dict[, params…] — the
    // reference's optional scorer parameters, search.cpp:142-173); a runtime
    // spark.udf.register would shadow the injected multi-arity form
    // Sugar predicates — the reference rewrites these to `col @@ ts_*(...)`
    // at filter-build (search.h:95-99 phrase_matches/ngram_matches/
    // levenshtein_matches/has_all_tokens/has_any_tokens). Here each is a
    // row-eval of the equivalent TsQuery leaf; ClaimTsMatch recognizes the
    // names and drives the same leaf from the index when one is registered.
    register(spark, "has_any_tokens", BooleanType, StringType, StringType, StringType)(
      (text: String, q: String, dict: String) =>
        if (text == null) None else {
          val a = AnalyzerRegistry.get(dict)
          Some(TsQueryExec.evalTokens(
            TsQuery.Or(a.tokens(q).map(TsQuery.Term.apply)), a.tokens(text)))
        })
    register(spark, "has_all_tokens", BooleanType, StringType, StringType, StringType)(
      (text: String, q: String, dict: String) =>
        if (text == null) None else {
          val a = AnalyzerRegistry.get(dict)
          Some(TsQueryExec.evalTokens(
            TsQuery.And(a.tokens(q).map(TsQuery.Term.apply)), a.tokens(text)))
        })
    register(spark, "phrase_matches", BooleanType, StringType, StringType, StringType)(
      (text: String, q: String, dict: String) =>
        if (text == null) None else {
          val a = AnalyzerRegistry.get(dict)
          Some(TsQueryExec.evalTokens(TsQuery.Phrase(a.tokens(q)), a.tokens(text)))
        })
    // reference ts_phrase(..., slop := N): shared move budget, order
    // inversions admitted (sloppy_phrase.test) — claimable like the others
    register(spark, "phrase_slop_matches", BooleanType, StringType, StringType, IntegerType, StringType)(
      (text: String, q: String, slop: Int, dict: String) =>
        if (text == null) None else {
          val a = AnalyzerRegistry.get(dict)
          val ts = a.tokens(q)
          val tsq = if (ts.size < 2) TsQuery.Phrase(ts) else TsQuery.SlopPhrase(ts, slop)
          Some(TsQueryExec.evalTokens(tsq, a.tokens(text)))
        })
    register(spark, "levenshtein_matches", BooleanType, StringType, StringType, IntegerType, StringType)(
      (text: String, term: String, maxDist: Int, dict: String) =>
        if (text == null) None else {
          val a = AnalyzerRegistry.get(dict)
          Some(TsQueryExec.evalTokens(TsQuery.Fuzzy(term, maxDist), a.tokens(text)))
        })
    register(spark, "ngram_matches", BooleanType, StringType, StringType, DoubleType, StringType)(
      (text: String, q: String, minJaccard: Double, dict: String) =>
        if (text == null) None else {
          val a = AnalyzerRegistry.get(dict)
          Some(TsQueryExec.evalTokens(
            TsQuery.bindDict(TsQuery.NgramSim(q, minJaccard), a), a.tokens(text)))
        })
  }

  /** The scorer function names the claim rules recognize, mapping 1:1 to
    * the reference's registered scorers (search.cpp:142-173). */
  val scorerNames: Seq[String] =
    Seq("bm25", "tfidf", "lm_dirichlet", "lm_jelinek_mercer", "lm_jm",
      "indri_dirichlet", "dfi", "raw_tf", "raw_dl", "raw_boost")

  /** Claimable sugar-predicate names (strict mode flags these too when they
    * survive unclaimed — they row-eval correctly, but a strict user asked
    * to know). */
  /** TSQUERY-constructor function names (TsQueryCodec) — ClaimTsMatch
    * evaluates trees of exactly these over literals at plan time. */
  val constructorNames: Set[String] =
    Set("ts_starts_with", "ts_like", "ts_regexp", "ts_levenshtein",
      "ts_ngram", "ts_phrase", "ts_any", "ts_all", "ts_between",
      "ts_ge", "ts_gt", "ts_le", "ts_lt", "boost", "slop",
      "ts_or", "ts_and", "ts_not")

  val sugarNames: Seq[String] =
    Seq("has_any_tokens", "has_all_tokens", "phrase_matches",
      "phrase_slop_matches", "tsquery_match",
      "levenshtein_matches", "ngram_matches")

  /** The row-eval failure every scorer stub throws (scorers are claim-only,
    * like the reference's SearchStubFn). Public so the GraftExtensions
    * multi-arity builders share one message. */
  def scorerStubThrow(name: String): Nothing =
    throw new UnsupportedOperationException(
      s"$name(col, query, dict) is a search-scorer stub: it can only run " +
        "claimed against a search index over the scanned column. CREATE " +
        "SEARCH INDEX on the table (matching column and analyzer) and keep " +
        "the query shape ORDER BY ... DESC LIMIT k (optionally composed " +
        "with WHERE filters and claimable ts_match conjuncts) or a " +
        "score-threshold WHERE conjunct. Note: claimed scorers follow " +
        "search-engine semantics — only docs matching at least one query " +
        "term are returned, so a top-k can yield fewer than k rows.")
}
