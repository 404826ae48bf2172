package graft.search

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.index.{FieldStore, IndexStore}

/** Registry of expression-key indexes for claim-by-semantic-equality: maps
  * (table root path, normalized expression SQL, analyzer) → (segment dir,
  * id column). ClaimTsMatch consults it when a `ts_match` first argument is
  * an expression rather than a bare column — the reference's
  * ExpressionKeys surface (catalog/inverted_index.h:233,
  * inverted_index_expressions.test). */
object ExprIndexes {
  private[search] val reg = TrieMap.empty[(String, String, String), (String, String)]

  /** Canonical form for equality: lowercase, no backticks, no whitespace —
    * both the DDL-registered text and a resolved Catalyst expression's
    * `.sql` rendering land on the same string for the supported shapes. */
  def normalize(exprSql: String): String =
    exprSql.toLowerCase(java.util.Locale.ROOT).replace("`", "").replaceAll("\\s+", "")

  def register(tableRoot: String, exprSql: String, analyzer: String,
      segDir: String, idCol: String): Unit =
    reg.put((tableRoot, normalize(exprSql), analyzer), (segDir, idCol))

  def lookup(tableRoot: String, exprSql: String, analyzer: String): Option[(String, String)] = {
    CatalogStore.ensureLoaded()
    reg.get((tableRoot, normalize(exprSql), analyzer))
  }
}

/** The general index catalog the claim rules resolve scans through — the
  * analogue of the reference's index source factory
  * (/root/reference/server/connector/index_source_factory.h:40-46,
  * duckdb_index_scan_entry.cpp): any relation, fixture or user table, maps
  * from its scan root path to the index that covers it. `CREATE SEARCH
  * INDEX` / `CREATE VECTOR INDEX` register here; ClaimTsMatch,
  * PushdownTsDictAggregate and ClaimAnnTopK look up here — no table or
  * column name is special-cased anywhere in the optimizer rules. */
object IndexCatalog {
  /** Text index over a plain column: segment dir + the source id column.
    * `predicate` marks a PARTIAL index (reference
    * `CREATE INDEX ... WHERE <pred>`, inverted_index_partial.test): only
    * rows satisfying it are indexed, so a claim rule may use the index
    * ONLY when the query provably restricts to that subset (the claim
    * rules require the predicate verbatim among the filter's conjuncts —
    * PG-style implication, restricted to the sound syntactic case). */
  final case class TextEntry(segDir: String, idCol: String,
      predicate: Option[String] = None)

  /** ANN index: the IVF cache key (→ IvfIndex.ensure), source id/embedding
    * columns, and the metric the index was built for (`l2` raw vectors,
    * `cosine` = L2 over unit-normalized copies, `ip` = dot-bound probes).
    * `lists` is the DDL's list count — part of the artifact DIRECTORY name
    * (IvfIndex.dirFor's `-ivf<k>|auto-` tag), so it must persist with the
    * registration or a fresh JVM resolves a lists>0 index at the wrong path
    * and every claim fails availability (r17 ADVICE). `pqM` likewise
    * round-trips the pq subspace count for code-family rebuilds. */
  final case class AnnEntry(cacheKey: String, idCol: String, embCol: String,
      metric: String, quant: Option[String] = None, lists: Int = 0,
      pqM: Option[Int] = None)

  /** Secondary (point-lookup) index: the PkIndex manifest dir. */
  final case class PkEntry(dir: String)

  private[search] val text = TrieMap.empty[(String, String, String), TextEntry]

  // keyed (root, column, metric, cacheKey): several indexes may cover one
  // (column, metric) — e.g. a plain AND a quantized IVF over the same
  // column (inverted_index_multi_vector_ivf.test) — and a 3-tuple key let
  // the later registration silently evict the earlier one (its REFRESH /
  // COMPACT then failed with "no ANN registration")
  private[search] val ann = TrieMap.empty[(String, String, String, String), AnnEntry]
  private[search] val pk = TrieMap.empty[(String, String), PkEntry]

  /** The directories of the indexes over `tableRoot` that can carry a
    * composite sidecar (typed FIELDS + INCLUDE columnstore, [[FieldStore]]
    * — the reference's InvertedIndexColumnInfo typed posting lists and
    * store_values): its full text indexes, then its vector indexes. */
  def sidecarDirs(tableRoot: String): Seq[String] = {
    CatalogStore.ensureLoaded()
    text.collect { case ((r, _, _), e) if r == tableRoot && e.predicate.isEmpty => e.segDir }
      .toSeq.sorted ++
      ann.collect { case ((r, _, _, _), e) if r == tableRoot =>
        graft.index.IvfIndex.dirFor(e.cacheKey, e.lists) }.toSeq.sorted
  }

  /** `(source root, source columns the artifact materializes)` for an
    * index-artifact path: the table root whose registered text /
    * expression / PK / sidecar / IVF artifact contains `path`. RBAC maps
    * claimed plans' artifact scans back through this — an index over a
    * protected table is as protected as the table (graft.plans.RbacCheck).
    * The column set feeds RBAC's COLUMN grants: a
    * text index's postings reveal the indexed column's content, so the
    * scan counts as reading that column (plus the id it joins back on);
    * the covering sidecar's stored/field datasets carry source columns
    * verbatim. `Set("*")` marks artifacts whose provenance is an
    * arbitrary expression (expression-key indexes) — only a table-level
    * grant covers those. */
  def sourceOfArtifact(spark: SparkSession, path: String): Option[(String, Set[String])] = {
    CatalogStore.ensureLoaded()
    def owns(dir: String) = path == dir || path.startsWith(dir + "/")
    // a composite sidecar's roots sit inside the index it rides on: a
    // field dataset holds its field, the columnstore the INCLUDE columns,
    // a bare `fields-` root every field
    def side(dir: String, idCol: String): Option[Set[String]] = {
      def spec(cols: FieldStore.Spec => Seq[String]) = graft.index.Commit.current(spark, dir)
        .flatMap(FieldStore.spec).fold(Set("*"))(s => cols(s).toSet + idCol)
      path.stripPrefix(dir + "/").split("/").toSeq match {
        case r +: f +: _ if r.startsWith("fields-") => Some(Set(f, idCol))
        case r +: _ if r.startsWith("fields-") => Some(spec(_.fields))
        case r +: _ if r.startsWith("stored-") => Some(spec(_.included))
        case _ => None
      }
    }
    text.collectFirst {
      case ((root, c, _), e) if owns(e.segDir) =>
        (root, side(e.segDir, e.idCol).getOrElse(Set(c, e.idCol))) }
      .orElse(ExprIndexes.reg.collectFirst {
        case ((root, _, _), (segDir, _)) if owns(segDir) => (root, Set("*")) })
      .orElse(pk.collectFirst {
        case ((root, c), e) if owns(e.dir) => (root, Set(c)) })
      .orElse(ann.collectFirst {
        case ((root, _, _, _), e)
            if owns(graft.index.IvfIndex.dirFor(e.cacheKey)) ||
              path.contains("/" + e.cacheKey.replaceAll("[^A-Za-z0-9._-]+", "_") + "-ivf") =>
          (root, side(graft.index.IvfIndex.dirFor(e.cacheKey, e.lists), e.idCol)
            .getOrElse(Set(e.embCol, e.idCol))) })
  }

  def registerText(tableRoot: String, column: String, analyzer: String,
      segDir: String, idCol: String, predicate: Option[String] = None): Unit = {
    val k = (tableRoot, column, analyzer)
    // never DOWNGRADE the claimable surface: a FULL index on this key keeps
    // its slot when a partial one is created alongside (the full index
    // serves every query the partial could, and more). A full registration
    // always wins the slot back.
    val incoming = TextEntry(segDir, idCol, predicate)
    text.get(k) match {
      case Some(existing) if existing.predicate.isEmpty && predicate.nonEmpty
          && existing.segDir != segDir => ()
      case _ => text.put(k, incoming)
    }
  }

  def lookupText(tableRoot: String, column: String, analyzer: String): Option[TextEntry] = {
    CatalogStore.ensureLoaded()
    text.get((tableRoot, column, analyzer))
  }

  /** Every text index registered over `tableRoot` — lets the count-only
    * fast path (ClaimCountOnly) find ANY full index whose segment metadata
    * can answer `count(*)` over the bare table. */
  /** Diagnostic: the registered (root, column, analyzer) text keys. */
  def textKeys: Seq[(String, String, String)] = {
    CatalogStore.ensureLoaded(); text.keys.toSeq.sorted
  }

  def textEntriesFor(tableRoot: String): Seq[TextEntry] = {
    CatalogStore.ensureLoaded()
    text.collect { case ((r, _, _), e) if r == tableRoot => e }.toSeq
  }

  def unregisterText(segDir: String): Unit =
    text.filterInPlace((_, e) => e.segDir != segDir)

  def registerAnn(tableRoot: String, column: String, metric: String,
      entry: AnnEntry): Unit =
    ann.put((tableRoot, column, metric, entry.cacheKey), entry)

  /** Any registered index over (root, column, metric) can serve a claim
    * (all are exact through the raw rerank). Preference order: an entry
    * whose on-disk artifact is AVAILABLE first (several registrations can
    * coexist and one may have lost its artifact — picking it would bail a
    * claim a sibling could serve; availability is driver metadata IO, the
    * same check ivfFor repeats), then unquantized before quantized, then
    * lexical cacheKey — deterministic plans. */
  def lookupAnn(tableRoot: String, column: String, metric: String,
      spark: Option[SparkSession] = None): Option[AnnEntry] = {
    CatalogStore.ensureLoaded()
    val candidates = ann.collect {
      case ((r, c, m, _), e) if r == tableRoot && c == column && m == metric => e
    }.toSeq
    def unavailable(e: AnnEntry): Boolean = spark.exists(s =>
      !graft.index.IvfIndex.available(s, e.cacheKey, e.lists))
    candidates.sortBy(e => (unavailable(e), e.quant.isDefined, e.cacheKey))
      .headOption
  }

  def unregisterAnn(cacheKey: String): Unit =
    ann.filterInPlace((_, e) => e.cacheKey != cacheKey)

  def registerPk(tableRoot: String, column: String, dir: String): Unit =
    pk.put((tableRoot, column), PkEntry(dir))

  def lookupPk(tableRoot: String, column: String): Option[PkEntry] = {
    CatalogStore.ensureLoaded()
    pk.get((tableRoot, column))
  }

  def unregisterPk(dir: String): Unit =
    pk.filterInPlace((_, e) => e.dir != dir)

  /** The (vec_id, embedding) DataFrame an ANN entry's IVF index is built
    * over — re-derivable from the scan root alone, so a claim rule can
    * (re)ensure the index without any fixture knowledge. Cosine indexes
    * store unit-normalized copies: 1 − cos(q,v) = ‖q̂−v̂‖²/2 on the unit
    * sphere, so the L2 ball-bound probe stays exact for cosine order. */
  def annSource(spark: SparkSession, tableRoot: String, entry: AnnEntry): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = graft.catalog.TableStore.readRoot(spark, tableRoot)
      .getOrElse(graft.index.IndexStore.readParquet(spark, tableRoot))
      .select(col(entry.idCol).as("vec_id"), col(entry.embCol).as("embedding"))
      // NULL embeddings are never indexed (the reference's cs child stores
      // a zero-filled slot but the IVF build skips the row,
      // inverted_index_ivf_nulls.test) — otherwise they surface in top-k
      // whenever k ≥ the non-NULL count
      .filter(col("embedding").isNotNull)
    if (entry.metric != "cosine") base
    else base
      .withColumn("_n", graft.functions.VectorFunctions.l2Norm(col("embedding")))
      // zero-norm vectors have no direction: the row-eval ann_cosine scores
      // them worst-possible (distance 1.0), but storing them at the origin
      // would place them at unit-sphere distance 1 (≡ cosine distance 0.5)
      // and let them outrank real vectors near the k-th boundary — exclude
      // them from the index instead (they can never belong in a top-k that
      // any non-degenerate vector could fill)
      .filter(col("_n") > 0)
      .withColumn("embedding", transform(col("embedding"),
        x => (x.cast("double") / col("_n")).cast("float")))
      .drop("_n")
  }
}

/** Minimal DDL surface for the search index — the analogue of the
  * reference's `CREATE INDEX ... WITH (analyzer = ...)` / `DROP INDEX`
  * entry points (DDL handled in server/catalog; index build in
  * server/search). Statements operate on a registered temp view and wire
  * straight into IndexStore, so a DDL-created index is the same
  * segment-store every claimed `ts_*` query uses.
  *
  * Grammar (case-insensitive keywords, single statement per call):
  * {{{
  *   CREATE SEARCH INDEX <name> ON <view> (<textCol>)
  *     WITH (id = '<idCol>' [, analyzer = '<dict>'] [, key = '<cacheKey>'])
  *   CREATE SEARCH INDEX <name> ON <view> ((<expr>))      -- expression key
  *     WITH (id = '<idCol>' [, analyzer = '<dict>'] [, key = '<cacheKey>'])
  *   DROP SEARCH INDEX <name>
  *   SHOW SEARCH INDEXES
  * }}}
  * The double-paren form (reference ExpressionKeys,
  * inverted_index_expressions.test) indexes a COMPUTED column; the index is
  * also registered with [[ExprIndexes]] so ClaimTsMatch claims
  * `ts_match(<same expr>, ...)` predicates against it by semantic
  * equality of the expression.
  * `key` scopes the segment directory (defaults to the view name — pass a
  * dataset-specific key when the same view name is rebound to different
  * data). CREATE also registers `<name>_termdict/_postings/_docstats`
  * views, so the index is immediately SQL-queryable. Incremental refresh
  * is the library/streaming path (IndexStore.appendSegment, exercised by
  * StreamingIngest) — not a DDL statement here.
  */
object Ddl {

  /** One catalog row per index, for SHOW / DROP / REFRESH. `annKey` is set
    * for vector indexes (the IvfIndex cache key, needed to unregister);
    * `idCol` is the source id column REFRESH anti-joins on. The idempotent
    * fast paths compare on (dir, view, keySpec, analyzer) only — idCol and
    * annKey ride along. */
  private[search] final case class Entry(dir: String, view: String, keySpec: String,
      analyzer: String, annKey: Option[String] = None, idCol: String = "",
      predicate: Option[String] = None) {
    def sameSpec(o: Entry): Boolean =
      dir == o.dir && view == o.view && keySpec == o.keySpec &&
        analyzer == o.analyzer && predicate == o.predicate
  }

  private[search] val catalog = TrieMap.empty[String, Entry]

  /** Index names whose session-local SQL views were registered in THIS JVM
    * — a catalog row loaded from disk skips the build but still owes the
    * session its `<name>_termdict/_postings/_docstats` views, once. */
  private[search] val sessionReady = TrieMap.empty[String, Boolean]

  // the optional trailing WHERE makes this a PARTIAL index (reference
  // inverted_index_partial.test); the opts group is lazy so the predicate
  // stays outside the WITH parens
  // optional FIELDS (typed indexed columns → per-field posting datasets)
  // and INCLUDE (covering columnstore) clauses — the reference's
  // `USING inverted(id, body en, service, sev) INCLUDE (tag)` surface
  // (inverted_index_include_pushdown.test, indexed_vs_included.test)
  private val createRe =
    """(?is)\s*CREATE\s+SEARCH\s+INDEX\s+(\w+)\s+ON\s+(\w+(?:\.\w+)?)\s*\(\s*(\w+)\s*\)\s*WITH\s*\((.*?)\)\s*(?:FIELDS\s*\(([^)]*)\)\s*)?(?:INCLUDE\s*\(([^)]*)\)\s*)?(?:WHERE\s+(.+?))?\s*""".r
  private val createExprRe =
    """(?is)\s*CREATE\s+SEARCH\s+INDEX\s+(\w+)\s+ON\s+(\w+(?:\.\w+)?)\s*\(\(\s*(.+?)\s*\)\)\s*WITH\s*\((.*)\)\s*""".r
  // optional INCLUDE: the `ivf` opclass with store_values — covered kNN
  // (reference inverted_index_ann_include.test)
  private val createVecRe =
    """(?is)\s*CREATE\s+VECTOR\s+INDEX\s+(\w+)\s+ON\s+(\w+(?:\.\w+)?)\s*\(\s*(\w+)\s*\)\s*WITH\s*\((.*?)\)\s*(?:INCLUDE\s*\(([^)]*)\)\s*)?""".r
  private val createPkRe =
    """(?is)\s*CREATE\s+SECONDARY\s+INDEX\s+(\w+)\s+ON\s+(\w+(?:\.\w+)?)\s*\(\s*(\w+)\s*\)(?:\s*WITH\s*\((.*)\))?\s*""".r
  private val createDictRe =
    """(?is)\s*CREATE\s+TEXT\s+SEARCH\s+DICTIONARY\s+(\w+)\s*\((.*)\)\s*;?\s*""".r
  private val dropDictRe =
    """(?is)\s*DROP\s+TEXT\s+SEARCH\s+DICTIONARY\s+(\w+)\s*;?\s*""".r
  private val dropRe = """(?is)\s*DROP\s+(?:SEARCH|VECTOR|SECONDARY)\s+INDEX\s+(\w+)\s*""".r
  // DDL modifier spellings (reference ddl corpus: IF NOT EXISTS / OR
  // REPLACE / IF EXISTS on index + dictionary statements) — each rewrites
  // to the base verb after an existence check
  private val createIdxIneRe =
    """(?is)\s*CREATE\s+(SEARCH|VECTOR|SECONDARY)\s+INDEX\s+IF\s+NOT\s+EXISTS\s+(\w+)\s+(.*)""".r
  private val createIdxOrReplaceRe =
    """(?is)\s*CREATE\s+OR\s+REPLACE\s+(SEARCH|VECTOR|SECONDARY)\s+INDEX\s+(\w+)\s+(.*)""".r
  private val dropIdxIfeRe =
    """(?is)\s*DROP\s+(SEARCH|VECTOR|SECONDARY)\s+INDEX\s+IF\s+EXISTS\s+(\w+)\s*;?\s*""".r
  private val createDictIneRe =
    """(?is)\s*CREATE\s+TEXT\s+SEARCH\s+DICTIONARY\s+IF\s+NOT\s+EXISTS\s+(\w+)\s*\((.*)\)\s*;?\s*""".r
  private val createDictOrReplaceRe =
    """(?is)\s*CREATE\s+OR\s+REPLACE\s+TEXT\s+SEARCH\s+DICTIONARY\s+(\w+)\s*\((.*)\)\s*;?\s*""".r
  private val dropDictIfeRe =
    """(?is)\s*DROP\s+TEXT\s+SEARCH\s+DICTIONARY\s+IF\s+EXISTS\s+(\w+)\s*;?\s*""".r
  private val showRe = """(?is)\s*SHOW\s+SEARCH\s+INDEXES\s*""".r
  private val compactRe = """(?is)\s*COMPACT\s+SEARCH\s+INDEX\s+(\w+)\s*""".r
  private val describeRe = """(?is)\s*DESCRIBE\s+SEARCH\s+INDEX\s+(\w+)\s*""".r
  private val showMetricsRe =
    """(?is)\s*SHOW\s+SEARCH\s+METRICS\s+(\w+)\s*;?\s*""".r
  private val refreshRe = """(?is)\s*REFRESH\s+SEARCH\s+INDEX\s+(\w+)\s*""".r
  // the reference's own spelling: every sqllogic file forces index
  // visibility with `VACUUM (REFRESH_TABLE) t` — refreshes EVERY index
  // registered over that view (ts_dict.test:37, maintenance surface)
  private val vacuumRe =
    """(?is)\s*VACUUM\s*\(\s*REFRESH_TABLE\s*\)\s+(\w+(?:\.\w+)?)\s*;?\s*""".r
  // the rest of the reference's VACUUM extension-option matrix
  // (vacuum_options.test): REFRESH_/COMPACT_ × INDEX/TABLE/ALL, plus
  // RECOMPUTE_STATS_TABLE (re-derives the covering-store column statistics
  // and re-registers the CBO table stats). Two extension options in one
  // VACUUM are a parser-level rejection, as in the reference.
  private val vacuumOptRe =
    """(?is)\s*VACUUM\s*\(\s*(REFRESH_INDEX|COMPACT_INDEX|COMPACT_TABLE|RECOMPUTE_STATS_TABLE)\s*\)\s+(\w+(?:\.\w+)?)\s*;?\s*""".r
  private val vacuumAllRe =
    """(?is)\s*VACUUM\s*\(\s*(REFRESH_ALL|COMPACT_ALL)\s*\)\s*;?\s*""".r
  private val vacuumBadRe =
    """(?is)\s*VACUUM\s*\(\s*\w+\s*,\s*\w+.*?\)\s*.*""".r
  private val optRe = """(?s)(\w+)\s*=\s*'([^']*)'""".r
  // RBAC verbs (reference optimizer/rbac.{h,cpp}; rbac test corpus) —
  // roles, SELECT grants, membership, session current-role
  // role attribute list: [NO]INHERIT plus the pg attributes that parse
  // but carry no behavior here (LOGIN/PASSWORD — no wire auth layer)
  private val createRoleRe =
    """(?is)\s*CREATE\s+ROLE\s+(\w+)((?:\s+(?:NOINHERIT|INHERIT|LOGIN|NOLOGIN|SUPERUSER|NOSUPERUSER|CREATEDB|NOCREATEDB|CREATEROLE|NOCREATEROLE|PASSWORD\s+'[^']*'))*)\s*;?\s*""".r
  private val dropRoleRe = """(?is)\s*DROP\s+ROLE\s+(?:IF\s+EXISTS\s+)?(\w+)\s*;?\s*""".r
  // GRANT/REVOKE ALL [PRIVILEGES]: SELECT + the write triple in one verb
  // (reference xog_m_grant_all_revoke_all.test)
  private val grantAllRe =
    """(?is)\s*GRANT\s+ALL(?:\s+PRIVILEGES)?\s+ON\s+(\w+|'[^']+')\s+TO\s+(\w+)\s*;?\s*""".r
  private val revokeAllRe =
    """(?is)\s*REVOKE\s+ALL(?:\s+PRIVILEGES)?\s+ON\s+(\w+|'[^']+')\s+FROM\s+(\w+)\s*;?\s*""".r
  private val grantSelRe =
    """(?is)\s*GRANT\s+SELECT\s*(?:\(\s*([\w\s,]+?)\s*\))?\s+ON\s+(\w+|'[^']+')\s+TO\s+(\w+)(\s+WITH\s+GRANT\s+OPTION)?(?:\s+GRANTED\s+BY\s+(\w+))?\s*;?\s*""".r
  private val revokeSelRe =
    """(?is)\s*REVOKE\s+SELECT\s*(?:\(\s*([\w\s,]+?)\s*\))?\s+ON\s+(\w+|'[^']+')\s+FROM\s+(\w+)\s*;?\s*""".r
  // write privileges (INSERT/UPDATE/DELETE[, ...]) on a view or a quoted
  // table path — enforced by the DML surface (Rbac.checkWrite)
  private val grantWriteRe =
    """(?is)\s*GRANT\s+([\w\s,]+?)\s+ON\s+(\w+|'[^']+')\s+TO\s+(\w+)\s*;?\s*""".r
  private val revokeWriteRe =
    """(?is)\s*REVOKE\s+([\w\s,]+?)\s+ON\s+(\w+|'[^']+')\s+FROM\s+(\w+)\s*;?\s*""".r
  private val grantRoleRe =
    """(?is)\s*GRANT\s+(\w+)\s+TO\s+(\w+)(\s+WITH\s+ADMIN\s+OPTION)?\s*;?\s*""".r
  private val revokeRoleRe =
    """(?is)\s*REVOKE\s+(\w+)\s+FROM\s+(\w+)\s*;?\s*""".r
  private val setRoleRe = """(?is)\s*SET\s+ROLE\s+(\w+)\s*;?\s*""".r
  private val resetRoleRe = """(?is)\s*RESET\s+ROLE\s*;?\s*""".r

  /** Root path of the parquet scan a view wraps — the key every claim-rule
    * catalog lookup uses — iff the view is a BARE scan (modulo Projects).
    * A row-reducing view (LIMIT/Filter/Join) must never register its root:
    * the index would cover a subset of the table and a later claim against
    * the full scan would silently drop rows. Such views stay SQL-queryable
    * but unclaimed. */
  /** The scan root an index may CLAIM against — stricter than
    * [[scanRootOf]]: claims key the registry by (root, column, dict), so
    * two different views over the same file would conflate unless the view
    * is row-set-PRESERVING over the scan (no Filter/Limit — projections
    * and sorts only) AND value-preserving for the columns the claim keys
    * on (the indexed text column and the doc id; OTHER columns may be
    * transformed freely — they never enter the registry key). A view that
    * transforms the indexed column (upper(body) AS body), filters, or
    * limits gets its index built and its relation surface — but no claim
    * registration: a sibling view's ts_match over the same file must
    * never be answered from a transformed row set
    * (inverted_index_view_pruning.test cases 3/5). */
  private def claimSafeRoot(spark: SparkSession, view: String,
      keyCols: Seq[String]): Option[String] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
    @annotation.tailrec
    def walk(p: LogicalPlan, tracked: Set[String]): Option[LogicalRelation] = p match {
      case Project(list, c) =>
        // each tracked output name must be a bare attribute (or a rename
        // of one); rewrite the tracked set to the SOURCE names underneath
        val mapped = tracked.map { n =>
          list.find(_.name.equalsIgnoreCase(n)) match {
            case Some(a: AttributeReference) => Some(a.name)
            case Some(Alias(a: AttributeReference, _)) => Some(a.name)
            case Some(_) => None
            case None => Some(n) // star-expanded pass-through
          }
        }
        if (mapped.exists(_.isEmpty)) None
        else walk(c, mapped.flatten)
      case Sort(_, _, c, _) => walk(c, tracked)
      case SubqueryAlias(_, c) => walk(c, tracked)
      case v: View => walk(v.child, tracked)
      case lr: LogicalRelation => Some(lr)
      case _ => None
    }
    walk(spark.table(view).queryExecution.optimizedPlan,
      keyCols.filter(_.nonEmpty).toSet).flatMap(_.relation match {
      case h: HadoopFsRelation =>
        h.location.rootPaths.headOption.map(_.toString.stripPrefix("file:"))
      case _ => None
    })
  }

  private def scanRootOf(spark: SparkSession, view: String): Option[String] = {
    @annotation.tailrec
    def strip(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = p match {
      case org.apache.spark.sql.catalyst.plans.logical.Project(_, c) => strip(c)
      case other => other
    }
    strip(spark.table(view).queryExecution.optimizedPlan) match {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation =>
          h.location.rootPaths.headOption.map(_.toString.stripPrefix("file:"))
        case _ => None
      }
      case _ => None
    }
  }

  /** Fingerprint of an index's SOURCE data: file count, total bytes, max
    * mtime over the view's input files — one metadata listing, no data read.
    * Taken before CREATE/REFRESH reads the source and published in the
    * index's manifest with what it wrote; DESCRIBE recomputes and compares,
    * surfacing `stale: true` when the source was rewritten after the index
    * was last (re)built (the reference tracks the analogue via its
    * collection tick vs index snapshot tick). */
  private def sourceFingerprint(spark: SparkSession, view: String): Option[String] =
    try {
      val files = spark.table(view).inputFiles
      if (files.isEmpty) None
      else {
        val conf = spark.sparkContext.hadoopConfiguration
        var bytes = 0L; var mtime = 0L
        files.foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          val st = p.getFileSystem(conf).getFileStatus(p)
          bytes += st.getLen; mtime = math.max(mtime, st.getModificationTime)
        }
        Some(s"${files.length}:$bytes:$mtime")
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** VACUUM (COMPACT_TABLE) leg for a VECTOR index: physical removal of
    * deleted/updated rows means rebuilding the artifact (and any quantized
    * code families) from the live rows — the vector analogue of folding
    * tombstones away (reference inverted_index_ivf_rabitq.test §3). */
  private def compactVector(spark: SparkSession, e: Entry): Unit = {
    val root = scanRootOf(spark, e.view).getOrElse(
      throw new IllegalArgumentException(
        s"COMPACT: view ${e.view} is not a bare parquet scan"))
    val annEntry = e.annKey.flatMap(k =>
      IndexCatalog.ann.values.find(_.cacheKey == k)).getOrElse(
      throw new IllegalStateException(s"no ANN registration for ${e.dir}"))
    val fp = sourceFingerprint(spark, e.view)
    graft.index.IvfIndex.rebuild(spark, e.dir, IndexCatalog.annSource(spark, root, annEntry),
      annEntry.lists, fp, Some(FieldStore.Restage(spark.table(e.view))))
    ensureQuant(spark, e.dir, annEntry.quant, annEntry.pqM)
    spark.catalog.refreshByPath(e.dir)
  }

  /** Builds the declared code family of the vector index at `dir` if the
    * index has vectors to train it on and does not carry it yet. */
  private def ensureQuant(spark: SparkSession, dir: String, quant: Option[String],
      pqM: Option[Int]): Unit = quant.foreach { qv =>
    val ivf = graft.index.IvfIndex.loadFrom(spark, dir)
    if (ivf.centroids.nonEmpty) graft.index.QuantizedIvf.ensureKind(spark, ivf, dir, qv, pqM)
  }

  /** `(stale, detail)` rows for DESCRIBE: "unknown" when either side of the
    * comparison is unavailable (non-parquet view, no fingerprint recorded). */
  private def stalenessRows(spark: SparkSession, dir: String, view: String): Seq[(String, String)] = {
    val stored = IndexStore.sourceFp(spark, dir)
    val now = sourceFingerprint(spark, view)
    (stored, now) match {
      case (Some(a), Some(b)) => Seq("stale" -> (a != b).toString)
      case _ => Seq("stale" -> "unknown")
    }
  }

  /** DROP TABLE cascade (pg semantics: a table's indexes drop with it).
    * Removes every engine index registered over `view` — catalog rows,
    * artifacts, claim registrations — so a LATER same-named table can never
    * resurrect a stale spec at VACUUM (r15 regression: two corpus files
    * reusing a fixture name). Any spelling of the same qualified name
    * matches. */
  def dropIndexesFor(spark: SparkSession, view: String): Unit = {
    def q(n: String) =
      try graft.catalog.ObjectCatalog.qualify(n)
      catch { case _: Exception => n }
    val target = q(view)
    val victims = catalog.toSeq.filter { case (_, e) =>
      e.view.equalsIgnoreCase(view) || q(e.view).equalsIgnoreCase(target) }
    victims.foreach { case (n, e) =>
      val verb =
        if (e.annKey.nonEmpty) "VECTOR"
        else if (e.analyzer == "secondary") "SECONDARY"
        else "SEARCH"
      try execute(spark, s"DROP $verb INDEX IF EXISTS $n")
      catch { case _: Exception => () }
    }
  }

  /** Whether this statement is graft index DDL — the session-parser
    * extension ([[GraftSqlParser]]) routes these out of the Spark grammar. */
  def handles(sql: String): Boolean = sql match {
    case createExprRe(_*) | createRe(_*) | createVecRe(_*) | createPkRe(_*) |
        dropRe(_*) | showRe() | compactRe(_*) | describeRe(_*) | refreshRe(_*) |
        showMetricsRe(_*) | createDictRe(_*) | dropDictRe(_*) |
        createIdxIneRe(_*) | createIdxOrReplaceRe(_*) | dropIdxIfeRe(_*) |
        createDictIneRe(_*) | createDictOrReplaceRe(_*) | dropDictIfeRe(_*) => true
    case createRoleRe(_*) | dropRoleRe(_*) | grantSelRe(_*) | revokeSelRe(_*) |
        grantAllRe(_*) | revokeAllRe(_*) |
        grantWriteRe(_*) | revokeWriteRe(_*) |
        grantRoleRe(_*) | revokeRoleRe(_*) | setRoleRe(_*) | resetRoleRe() |
        vacuumRe(_*) | vacuumOptRe(_*) | vacuumAllRe(_*) | vacuumBadRe() => true
    case _ => false
  }

  /** `key = value` pairs inside CREATE TEXT SEARCH DICTIONARY parens: values
    * are `'...'` strings ('' = escaped quote, may span lines and contain
    * commas/`=>`) or bare numbers/booleans; `--` line comments allowed
    * between pairs (the reference's doc examples carry them). A hand parser
    * because quoted values make this non-regular. Keys are lowercased —
    * the reference accepts TOKENIZER1_TEMPLATE and tokenizer1_template
    * alike. */
  private[search] def parseDictOptions(s: String): Map[String, String] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var i = 0
    def skipWs(): Unit = {
      var go = true
      while (go && i < s.length) {
        if (s.charAt(i).isWhitespace) i += 1
        else if (s.startsWith("--", i)) { while (i < s.length && s.charAt(i) != '\n') i += 1 }
        else go = false
      }
    }
    while ({ skipWs(); i < s.length }) {
      val kStart = i
      while (i < s.length && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_')) i += 1
      val key = s.substring(kStart, i)
      if (key.isEmpty) throw new IllegalArgumentException(
        s"CREATE TEXT SEARCH DICTIONARY: cannot parse options at ...${s.substring(i).take(30)}")
      skipWs()
      if (i >= s.length || s.charAt(i) != '=') throw new IllegalArgumentException(
        s"CREATE TEXT SEARCH DICTIONARY: expected '=' after $key")
      i += 1
      skipWs()
      val value =
        if (i < s.length && s.charAt(i) == '\'') {
          val sb = new StringBuilder
          i += 1
          var closed = false
          while (!closed) {
            if (i >= s.length) throw new IllegalArgumentException(
              s"CREATE TEXT SEARCH DICTIONARY: unterminated string for $key")
            if (s.charAt(i) == '\'' && i + 1 < s.length && s.charAt(i + 1) == '\'') {
              sb.append('\''); i += 2
            } else if (s.charAt(i) == '\'') { i += 1; closed = true }
            else { sb.append(s.charAt(i)); i += 1 }
          }
          sb.toString
        } else {
          val vStart = i
          while (i < s.length && s.charAt(i) != ',') i += 1
          s.substring(vStart, i).trim
        }
      out.put(key.toLowerCase(java.util.Locale.ROOT), value)
      skipWs()
      if (i < s.length) {
        if (s.charAt(i) != ',') throw new IllegalArgumentException(
          s"CREATE TEXT SEARCH DICTIONARY: expected ',' after $key's value")
        i += 1
      }
    }
    out.toMap
  }

  /** Output columns of a handled statement (SHOW and DESCRIBE are tables;
    * everything else returns one `result` string). */
  def isShow(sql: String): Boolean = sql match {
    case showRe() => true
    case _ => false
  }

  def isDescribe(sql: String): Boolean = sql match {
    case describeRe(_*) => true
    case _ => false
  }

  def execute(spark: SparkSession, sql: String): DataFrame = {
    CatalogStore.ensureLoaded()
    executeParsed(spark, sql)
  }

  private def executeParsed(spark: SparkSession, sql: String): DataFrame = sql match {
    case createIdxIneRe(kind, name, rest) =>
      if (catalog.contains(name))
        result(spark, s"index $name already exists, skipped")
      else executeParsed(spark, s"CREATE ${kind.toUpperCase} INDEX $name $rest")
    case createIdxOrReplaceRe(kind, name, rest) =>
      if (catalog.contains(name))
        executeParsed(spark, s"DROP ${kind.toUpperCase} INDEX $name")
      executeParsed(spark, s"CREATE ${kind.toUpperCase} INDEX $name $rest")
    case dropIdxIfeRe(kind, name) =>
      if (!catalog.contains(name))
        result(spark, s"index $name does not exist, skipped")
      else executeParsed(spark, s"DROP ${kind.toUpperCase} INDEX $name")
    case createDictIneRe(name, optsStr) =>
      if (graft.analysis.AnalyzerRegistry.exists(name))
        result(spark, s"dictionary $name already exists, skipped")
      else executeParsed(spark, s"CREATE TEXT SEARCH DICTIONARY $name($optsStr)")
    case createDictOrReplaceRe(name, optsStr) =>
      graft.analysis.AnalyzerRegistry.unregister(name)
      executeParsed(spark, s"CREATE TEXT SEARCH DICTIONARY $name($optsStr)")
    case dropDictIfeRe(name) =>
      if (!graft.analysis.AnalyzerRegistry.exists(name))
        result(spark, s"dictionary $name does not exist, skipped")
      else executeParsed(spark, s"DROP TEXT SEARCH DICTIONARY $name")
    case createDictRe(name, optsStr) =>
      // the reference's CREATE TEXT SEARCH DICTIONARY
      // (server/pg/commands/create_tsdictionary.cpp; 21-file corpus under
      // site_docs/sql/statements/create_text_search_dictionary): template +
      // options → a named analyzer in the registry, usable by ts_lexize /
      // ts_tokenize_sql / CREATE SEARCH INDEX WITH (analyzer = ...)
      val opts = parseDictOptions(optsStr)
      val template = opts.getOrElse("template",
        throw new IllegalArgumentException(
          """CREATE TEXT SEARCH DICTIONARY: required parameter "template" was not found"""))
      graft.analysis.AnalyzerRegistry.create(name, template, opts - "template")
      // dictionaries are schema-scoped objects in the reference's catalog;
      // bare-opclass resolution (PgIndexDdl) honors the creating schema
      graft.analysis.AnalyzerRegistry.recordSchema(name,
        graft.catalog.SessionVars.currentSchema(spark))
      result(spark, s"created dictionary $name")
    case dropDictRe(name) =>
      if (!graft.analysis.AnalyzerRegistry.unregister(name))
        throw new IllegalArgumentException(s"no such text search dictionary: $name")
      result(spark, s"dropped dictionary $name")
    case createExprRe(name, view, exprRaw, optsStr) =>
      val opts = optRe.findAllMatchIn(optsStr)
        .map(m => m.group(1).toLowerCase -> m.group(2)).toMap
      val idCol = opts.getOrElse("id",
        throw new IllegalArgumentException("CREATE SEARCH INDEX requires WITH (id = '...')"))
      val analyzer = opts.getOrElse("analyzer", "whitespace")
      val cacheKey = opts.getOrElse("key", s"$view-expr")
      val keyCol = "expr_key"
      // idempotent fast path, same contract as the plain-column branch; a
      // row LOADED from the persisted catalog still needs this session's
      // SQL views registered once. The durable check guards against a stale
      // persisted row whose segments were deleted out-of-band: CREATE must
      // rebuild then, not fail the load.
      val exprDir = IndexStore.dirFor(cacheKey, keyCol, analyzer)
      if (catalog.get(name).exists(_.sameSpec(
            Entry(exprDir, view, s"(($exprRaw))", analyzer))) &&
          IndexStore.durable(spark, exprDir)) {
        if (sessionReady.putIfAbsent(name, true).isEmpty)
          IndexStore.registerViews(spark, exprDir, name)
        return result(spark, s"created $name")
      }
      val fp = sourceFingerprint(spark, view)
      val df = spark.table(view)
        .withColumn(keyCol, org.apache.spark.sql.functions.expr(exprRaw))
      IndexStore.ensure(spark, df, cacheKey, idCol, keyCol, analyzer, sourceFp = fp)
      val dir = exprDir
      IndexStore.registerViews(spark, dir, name)
      // root path of the scan the view wraps → claimable by expression
      // equality (bare-scan views only; anything else stays SQL-queryable
      // but unclaimed)
      scanRootOf(spark, view).foreach { root =>
        ExprIndexes.register(root,
          spark.sessionState.sqlParser.parseExpression(exprRaw).sql, analyzer, dir, idCol)
      }
      catalog.put(name, Entry(dir, view, s"(($exprRaw))", analyzer, idCol = idCol))
      sessionReady.put(name, true)
      CatalogStore.persist(spark)
      result(spark, s"created $name")
    case createRe(name, view, textCol, optsStr, fieldsRaw, includeRaw, whereRaw) =>
      val opts = optRe.findAllMatchIn(optsStr)
        .map(m => m.group(1).toLowerCase -> m.group(2)).toMap
      // unknown options are a loud error, not a silent ignore (reference
      // inverted_index_options.test) — a typo'd option must not produce an
      // index that silently lacks the intended behavior
      checkOpts("CREATE SEARCH INDEX", opts,
        Set("id", "analyzer", "key", "segment_docs_max", "hyperloglog",
          "compression"))
      val idCol = opts.getOrElse("id",
        throw new IllegalArgumentException("CREATE SEARCH INDEX requires WITH (id = '...')"))
      val analyzer = opts.getOrElse("analyzer", "whitespace")
      def cols(raw: String): Seq[String] = Option(raw).toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      val fieldCols = cols(fieldsRaw)
      val includeCols = cols(includeRaw)
      // partial index (WHERE <pred>): normalize the predicate to its parsed
      // SQL once, at DDL time — the claim rules compare conjuncts against
      // this canonical rendering. The key gets a predicate tag so a partial
      // and a full index over the same (key, col, analyzer) never share a
      // segment dir.
      val predicate = Option(whereRaw).map(_.trim).filter(_.nonEmpty)
        .map(w => spark.sessionState.sqlParser.parseExpression(w).sql)
      val baseKey = opts.getOrElse("key", view)
      val cacheKey = predicate match {
        case Some(p) =>
          s"$baseKey-part${java.lang.Integer.toHexString(p.hashCode).takeRight(8)}"
        case None => baseKey
      }
      // the composite sidecar (typed fields + INCLUDE columnstore) is part
      // of the text index's versions, so DROP/REFRESH/DESCRIBE find it from
      // the catalog row alone
      if ((fieldCols.nonEmpty || includeCols.nonEmpty) && predicate.nonEmpty)
        throw new IllegalArgumentException(
          "FIELDS/INCLUDE are not supported on a partial (WHERE) index")
      val keySpecOf =
        if (fieldCols.isEmpty && includeCols.isEmpty) textCol
        else s"$textCol fields(${fieldCols.mkString(",")}) include(${includeCols.mkString(",")})"
      // idempotent fast path: re-issuing the SAME statement (entries do this
      // once per query) must not re-run the stats/view registration IO;
      // DROP removes the catalog row, so a recreate always takes the full
      // path and rebuilds. An index whose source was rewritten since, or
      // whose latest version names no sidecar it asks for, is brought up to
      // date by the REFRESH path: re-indexed and restaged in one version
      val fastDir = IndexStore.dirFor(cacheKey, textCol, analyzer)
      val fieldsWanted = fieldCols.nonEmpty || includeCols.nonEmpty
      val fp = sourceFingerprint(spark, view)
      if (catalog.get(name).exists(_.sameSpec(
            Entry(fastDir, view, keySpecOf, analyzer, predicate = predicate))) &&
          IndexStore.durable(spark, fastDir)) {
        if (IndexStore.sourceFp(spark, fastDir) != fp ||
            (fieldsWanted && FieldStore.latest(spark, fastDir).isEmpty)) {
          executeParsed(spark, s"REFRESH SEARCH INDEX $name") // registers the views
          sessionReady.put(name, true)
        } else if (sessionReady.putIfAbsent(name, true).isEmpty) {
          IndexStore.registerViews(spark, fastDir, name)
          IndexStore.registerStatsTables(spark, fastDir, name)
          if (fieldsWanted)
            FieldStore.registerStatsTable(spark, fastDir, s"${name}_stored_tbl")
        }
        // the claim-catalog slot may be vacant even when the artifact is
        // durable (e.g. this index's registration was refused while a FULL
        // index held the slot, and that index was later dropped — the drop
        // vacates the slot and the persisted catalog carries no row for
        // it). Re-offer the registration; registerText's no-downgrade rule
        // still keeps a live full index in place.
        claimSafeRoot(spark, view, Seq(textCol, idCol)).foreach(
          IndexCatalog.registerText(_, textCol, analyzer, fastDir, idCol, predicate))
        return result(spark, s"created $name")
      }
      // the predicate is a WHERE filter on the backfill scan — Catalyst
      // pushes it into the parquet read (the reference shows it as a
      // Column Filter in the backfill SEQ_SCAN, inverted_index_partial.test)
      val source = predicate.foldLeft(spark.table(view))(
        (df, p) => df.filter(org.apache.spark.sql.functions.expr(p)))
      // typed-field postings + INCLUDE columnstore sidecar: one linear
      // column-pruned pass over the source per covered column family,
      // staged into the version the build publishes; per-column
      // hyperloglog option: NDV tracked for these INCLUDE columns and
      // exposed to the CBO (reference inverted_index_hyperloglog_option.test)
      val restage =
        if (!fieldsWanted) None
        else Some(FieldStore.Restage(spark.table(view), Some(FieldStore.Spec(idCol, fieldCols,
          includeCols, opts.get("hyperloglog").toSeq.flatMap(_.split(",")).map(_.trim)
            .filter(_.nonEmpty)))))
      // segment_docs_max: commit-on-flush backfill rotation (reference
      // online_create_index_rotation.test) — many independently committed
      // segments instead of one final publish. The segment codec
      // (reference compression option) is recorded by the first build.
      opts.get("segment_docs_max").map(_.toLong) match {
        case Some(max) =>
          IndexStore.ensureRotating(spark, source, cacheKey, idCol, textCol,
            analyzer, max, sourceFp = fp, compression = opts.get("compression"),
            restage = restage)
        case None =>
          IndexStore.ensure(spark, source, cacheKey, idCol, textCol, analyzer,
            sourceFp = fp, compression = opts.get("compression"), restage = restage)
      }
      val dir = fastDir
      IndexStore.registerViews(spark, dir, name)
      IndexStore.registerStatsTables(spark, dir, name) // CBO sees the manifest stats
      if (fieldsWanted) FieldStore.registerStatsTable(spark, dir, s"${name}_stored_tbl")
      // the claim-rule catalog: any ts_match / facet over (this scan root,
      // this column, this analyzer) now resolves to the segments just built
      claimSafeRoot(spark, view, Seq(textCol, idCol)).foreach(
        IndexCatalog.registerText(_, textCol, analyzer, dir, idCol, predicate))
      catalog.put(name,
        Entry(dir, view, keySpecOf, analyzer, idCol = idCol, predicate = predicate))
      sessionReady.put(name, true)
      CatalogStore.persist(spark)
      result(spark, s"created $name")
    case createVecRe(name, view, embCol, optsStr, includeRaw) =>
      val opts = optRe.findAllMatchIn(optsStr)
        .map(m => m.group(1).toLowerCase -> m.group(2)).toMap
      checkOpts("CREATE VECTOR INDEX", opts,
        Set("id", "metric", "key", "lists", "quant", "rabitq_bits", "pq_m"))
      val idCol = opts.getOrElse("id",
        throw new IllegalArgumentException("CREATE VECTOR INDEX requires WITH (id = '...')"))
      val metric = opts.getOrElse("metric", "l2")
      // l1 is DDL-valid (reference legacy layout: no rotation preserves
      // Manhattan, ivf_panorama.test §l1) but never claimed — `<+>` queries
      // run the exact row-eval path; quantization rejects it above
      require(Set("l2", "cosine", "ip", "l1").contains(metric),
        s"unsupported metric: $metric")
      // quantized codes ride on top of the same IVF artifact
      // (inverted_index_ivf_{sq8,sq4,pq,rabitq}.test); rabitq_bits is
      // validated for DDL parity — the stored code is the 1-bit sign
      // variant + norm scalar (the reference's default), with exactness
      // coming from the raw rerank stage either way
      // quant = 'none' is the reference's explicit opt-out spelling
      // (inverted_index_ivf_duplicate_vectors.test) — validated, then
      // normalized to no-quantization
      val quantOpt = opts.get("quant").map { qv =>
        require(Set("none", "sq8", "sq4", "pq", "rabitq").contains(qv),
          s"unknown quant '$qv' (known: none, sq8, sq4, pq, rabitq)")
        if (qv == "rabitq")
          require(metric != "cosine",
            "ivf rabitq quantization does not support metric 'cosine'")
        qv
      }.filter(_ != "none")
      opts.get("rabitq_bits").foreach { bv =>
        require(quantOpt.contains("rabitq"),
          "ivf option 'rabitq_bits' is only valid with quant 'rabitq'")
        val b = try bv.toInt catch { case _: NumberFormatException => -1 }
        require(b >= 1 && b <= 9,
          s"ivf option 'rabitq_bits' ($bv) must be between 1 and 9")
      }
      val pqM = opts.get("pq_m").map { mv =>
        require(quantOpt.contains("pq"),
          "ivf option 'pq_m' is only valid with quant 'pq'")
        val m = try mv.toInt catch { case _: NumberFormatException => 0 }
        require(m >= 1, s"ivf option 'pq_m' ($mv) must be a positive integer")
        m
      }
      val cacheKey = opts.getOrElse("key", view)
      val effKey = if (metric == "l2") cacheKey else s"$cacheKey-$metric"
      val lists = opts.get("lists").map(_.toInt).getOrElse(0)
      // INCLUDE → covered kNN: the reference's ivf opclass implicitly sets
      // store_values (inverted_index_ann_include.test); here the stored
      // copies are a FieldStore sidecar in the IVF index's versions
      val includeCols = Option(includeRaw).toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      val vecSpec =
        if (includeCols.isEmpty) embCol
        else s"$embCol include(${includeCols.mkString(",")})"
      // idempotent fast path, same contract as the search-index branch
      val vecDir = graft.index.IvfIndex.dirFor(effKey, lists)
      val fp = sourceFingerprint(spark, view)
      if (catalog.get(name).exists(_.sameSpec(
            Entry(vecDir, view, vecSpec, s"vector:$metric"))) &&
          graft.index.IvfIndex.available(spark, effKey, lists)) {
        if (IndexStore.sourceFp(spark, vecDir) != fp ||
            (includeCols.nonEmpty && FieldStore.latest(spark, vecDir).isEmpty))
          executeParsed(spark, s"REFRESH SEARCH INDEX $name")
        return result(spark, s"created $name")
      }
      val root = scanRootOf(spark, view).getOrElse(
        throw new IllegalArgumentException(
          s"CREATE VECTOR INDEX: view $view is not a bare parquet scan"))
      val entry = IndexCatalog.AnnEntry(effKey, idCol, embCol, metric,
        quantOpt, lists, pqM)
      val builtIvf = graft.index.IvfIndex.ensure(spark,
        IndexCatalog.annSource(spark, root, entry), effKey, lists)
      quantOpt.foreach { qv =>
        // an empty table has nothing to train codes on — the reference flow
        // is CREATE INDEX, INSERT, VACUUM (REFRESH_TABLE) (ivf_pq.test §1),
        // and the VACUUM leg (compactVector) builds the code family then;
        // until it exists the quantized claim fails availability and the
        // probe uses the raw IVF path
        if (builtIvf.centroids.nonEmpty) {
          if (qv == "pq") {
            val d = builtIvf.centroids.head.length
            pqM.foreach(m => require(d % m == 0,
              s"ivf option 'pq_m' ($m) must divide the vector dimension $d"))
          }
          graft.index.QuantizedIvf.ensureKind(spark,
            builtIvf, graft.index.IvfIndex.dirFor(effKey, lists), qv, pqM)
        }
      }
      IndexCatalog.registerAnn(root, embCol, metric, entry)
      IndexStore.recordSourceFp(spark, vecDir, IndexStore.loadedFp(spark, vecDir, fp),
        if (includeCols.isEmpty) None
        else Some(FieldStore.Restage(spark.table(view), Some(FieldStore.Spec(idCol, Nil, includeCols)))))
      catalog.put(name, Entry(vecDir, view, vecSpec, s"vector:$metric",
        annKey = Some(effKey), idCol = idCol))
      CatalogStore.persist(spark)
      result(spark, s"created $name")
    case createPkRe(name, view, keyCol, optsStr) =>
      val opts = optRe.findAllMatchIn(Option(optsStr).getOrElse(""))
        .map(m => m.group(1).toLowerCase -> m.group(2)).toMap
      val cacheKey = opts.getOrElse("key", view)
      val dir = graft.index.PkIndex.dirFor(cacheKey, keyCol)
      val root = scanRootOf(spark, view).getOrElse(
        throw new IllegalArgumentException(
          s"CREATE SECONDARY INDEX: view $view is not a bare parquet scan"))
      // idempotent fast path like the other CREATE verbs — but only when the
      // manifest still matches the table's live file set; after a rewrite
      // (overwrite, compaction, re-ingest) the zones describe dead files and
      // must be rebuilt, not fast-pathed onto
      if (catalog.get(name).exists(_.sameSpec(Entry(dir, view, keyCol, "secondary"))) &&
          graft.index.PkIndex.fresh(spark, dir, root)) {
        IndexCatalog.registerPk(root, keyCol, dir)
        return result(spark, s"created $name")
      }
      val nFiles = graft.index.PkIndex.build(spark, root, keyCol, dir)
      IndexCatalog.registerPk(root, keyCol, dir)
      catalog.put(name, Entry(dir, view, keyCol, "secondary", idCol = keyCol))
      CatalogStore.persist(spark)
      result(spark, s"created $name ($nFiles files)")
    case dropRe(name) =>
      sessionReady.remove(name)
      catalog.remove(name) match {
        case Some(e) =>
          val p = new org.apache.hadoop.fs.Path(e.dir)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
          IndexCatalog.unregisterText(e.dir)
          IndexCatalog.unregisterPk(e.dir)
          // tombstone for the persist merge: another session's catalog row
          // pointing at this (now deleted) artifact must not be resurrected
          CatalogStore.dropped.put(e.dir, true)
          e.annKey.foreach { k =>
            IndexCatalog.unregisterAnn(k)
            CatalogStore.dropped.put(k, true)
          }
          CatalogStore.persist(spark)
          result(spark, s"dropped $name")
        case None =>
          throw new IllegalArgumentException(s"no such search index: $name")
      }
    case showRe() =>
      import spark.implicits._
      catalog.toSeq.sortBy(_._1)
        .map { case (n, e) => (n, e.view, e.keySpec, e.analyzer, e.dir) }
        .toDF("index_name", "view", "text_col", "analyzer", "location")
    case compactRe(name) =>
      // the reference's background compaction task as a user-issued verb
      // (maintenance.h:36-44): merge live segments + fold tombstones into
      // one segment, then drop unreferenced segment dirs
      catalog.get(name) match {
        case Some(e) if e.analyzer == "secondary" =>
          // a zone manifest has no segments to merge — nothing to compact;
          // REFRESH rebuilds it against the live file set
          throw new IllegalArgumentException(
            s"COMPACT SEARCH INDEX does not apply to secondary (point-lookup) " +
            s"index $name; use REFRESH SEARCH INDEX $name to resync its zones")
        case Some(e) if e.annKey.isEmpty =>
          // snapshot-isolated: segments retired NOW stay on disk one full
          // compaction generation (a query planned pre-compact still reads
          // them); segments retired by the PREVIOUS compact are deleted
          val retired = IndexStore.compact(spark, e.dir)
          // the session's <name>_termdict/_postings views cache a file
          // index over the pre-compaction segment dirs — re-register so
          // they list the new segment (and drop the stale cached listing)
          spark.catalog.refreshByPath(e.dir)
          IndexStore.registerViews(spark, e.dir, name)
          IndexStore.registerStatsTables(spark, e.dir, name)
          result(spark, s"compacted $name ($retired segments retired)")
        case Some(_) =>
          throw new IllegalArgumentException(
            s"COMPACT SEARCH INDEX applies to search indexes; $name is a vector index")
        case None =>
          throw new IllegalArgumentException(s"no such search index: $name")
      }
    case refreshRe(name) =>
      // incremental re-sync with the source view (the reference's refresh
      // maintenance task, maintenance.h:30-35): new docs land as ONE
      // appended segment (analyze cost ∝ new data), removed/updated docs
      // reconcile through generation-scoped tombstones — see the
      // three-leg comment in the text branch below.
      catalog.get(name) match {
        case Some(e) if e.analyzer == "secondary" =>
          // zone-manifest resync: rebuild from the live file set (one
          // metadata-only aggregation — cost ∝ #files, not table bytes).
          // Without this there was no way to repair a stale manifest short
          // of DROP+CREATE, and the generic text branch below would throw
          // on a dir with no segments.
          val root = scanRootOf(spark, e.view)
            .orElse(IndexCatalog.pk.collectFirst {
              case ((tableRoot, _), pe) if pe.dir == e.dir => tableRoot
            })
            .getOrElse(throw new IllegalArgumentException(
              s"REFRESH: cannot locate the parquet root behind ${e.view}"))
          val nFiles = graft.index.PkIndex.build(spark, root, e.keySpec, e.dir)
          IndexCatalog.registerPk(root, e.keySpec, e.dir)
          result(spark, s"refreshed $name ($nFiles files)")
        case Some(e) if e.annKey.isEmpty =>
          // catalog rows persisted before idCol existed fall back to the
          // claim registries (bare-scan views register there)
          val idCol = Some(e.idCol).filter(_.nonEmpty)
            .orElse(IndexCatalog.text.values.collectFirst {
              case t if t.segDir == e.dir => t.idCol
            })
            .orElse(ExprIndexes.reg.values.collectFirst {
              case (segDir, id) if segDir == e.dir => id
            })
            .getOrElse(throw new IllegalStateException(
              s"cannot refresh $name: no record of its id column"))
          val exprSpec = """^\(\((.*)\)\)$""".r
          // a partial index refreshes against the predicate-restricted view:
          // rows outside the predicate are invisible to it by definition
          val viewDf = e.predicate.foldLeft(spark.table(e.view))(
            (df, p) => df.filter(org.apache.spark.sql.functions.expr(p)))
          val (source, keyCol) = e.keySpec match {
            case exprSpec(exprRaw) =>
              (viewDf.withColumn("expr_key",
                org.apache.spark.sql.functions.expr(exprRaw)), "expr_key")
            // composite spec "col fields(...) include(...)" → bare column
            case colName => (viewDf, colName.split("\\s+").head)
          }
          // FULL re-sync with the source view, in three reconciliation
          // legs over the per-segment doc-id manifest (not docStats:
          // docStats carries only docs with ≥1 token, so a zero-token doc
          // would count as "new" on every REFRESH, appending a segment
          // each run and drifting bm25/idf/avgdl — round-7 ADVICE):
          //   new ids      → build + append as ONE segment (cost ∝ delta);
          //   removed ids  → generation-scoped tombstones, so postings-only
          //                  answers (claimed counts, facets, scores) drop
          //                  them — the reference's DELETE → VACUUM
          //                  visibility (inverted_index_score.test:584-596);
          //   changed docs → content fingerprint (xxhash64 of the indexed
          //                  text, recorded in the manifest at build time)
          //                  differs → tombstone + re-add, the reference's
          //                  UPDATE → VACUUM re-index (its doc ids are MVCC
          //                  rowids, so an UPDATE is a remove+add to its
          //                  refresh; ours are stable user ids, so content
          //                  must diff explicitly). Docs in pre-fingerprint
          //                  segments (null fp) reconcile by id only.
          import org.apache.spark.sql.functions.{col => fcol, xxhash64,
            coalesce => fcoalesce, when => fwhen}
          val fp = sourceFingerprint(spark, e.view)
          val existing = IndexStore.liveDocFps(spark, e.dir)
          val sourceF = source.withColumn("__fp", xxhash64(fcol(keyCol)))
          // ONE narrow classify frame (r19 fast path, extended to the change
          // path in r20 — VERDICT r19 #3): ids + fingerprints through a
          // single full-outer join — never the document text — labeling
          // every non-identical id new/removed/changed. That tiny (id,
          // class) frame is persisted and materialized by ONE action, which
          // also reports the per-class counts (observed on the frame); the
          // reconciliation legs below read it instead of re-scanning the
          // fingerprinted source three more times (left_anti + left_semi +
          // left_anti + a toAdd count = 4+ source evaluations per changeful
          // REFRESH before r20). A no-change REFRESH stays one source scan.
          val srcNarrow = sourceF.select(fcol(idCol).as("__sid"), fcol("__fp"))
          val (observedCls, clsCounts) = graft.index.Observed(srcNarrow.join(existing,
              srcNarrow("__sid") === existing("doc_id"), "full_outer")
            .select(
              fcoalesce(fcol("__sid"), fcol("doc_id")).as("__cid"),
              fwhen(fcol("doc_id").isNull, "new")
                .when(fcol("__sid").isNull, "removed")
                // docs in pre-fingerprint segments (null content_fp)
                // reconcile by id only — never "changed"
                .when(fcol("content_fp").isNotNull &&
                  fcol("content_fp") =!= fcol("__fp"), "changed")
                .otherwise("same").as("__cls"))
            .filter(fcol("__cls") =!= "same"),
            org.apache.spark.sql.functions.count(fwhen(fcol("__cls") === "new", 1)),
            org.apache.spark.sql.functions.count(fwhen(fcol("__cls") === "changed", 1)),
            org.apache.spark.sql.functions.count(fwhen(fcol("__cls") === "removed", 1)))
          val classified = observedCls
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          // the persisted frame is released once the delete and the append
          // are done, or have failed
          val added =
            try {
              // the one job that materializes the classify frame reports
              // the per-class counts, observed above its joins: in that
              // job's result stage, where each task counts once
              classified.foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())
              // no report: the classify stage was empty and dropped
              val Seq(nNew, nChanged, nRemoved) = graft.index.Observed.result(clsCounts)
                .fold(Seq(0L, 0L, 0L))(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2)))
              val n = nNew + nChanged
              // tombstones scope to the current newest segment and the
              // re-indexed content lands in a NEWER one; both, the source
              // fingerprint and a composite sidecar restaged from the
              // source (sorted copies: one linear rebuild, which folds
              // removals and changed INCLUDE values in), publish as one
              // version
              IndexStore.refresh(spark, e.dir,
                Some(classified.filter(fcol("__cls").isin("removed", "changed"))
                  .select(fcol("__cid").as("doc_id")))
                  .filter(_ => nChanged + nRemoved > 0),
                Some(n).filter(_ > 0).map { _ =>
                  // the delta docs: ONE semi-join of the source against the
                  // persisted id set (new ∪ changed) — the only other
                  // source evaluation a changeful refresh pays before the
                  // delta re-index itself
                  val toAddIds = classified
                    .filter(fcol("__cls").isin("new", "changed"))
                    .select(fcol("__cid"))
                  val toAdd = sourceF.join(toAddIds,
                    sourceF(idCol) === toAddIds("__cid"), "left_semi")
                  (graft.index.InvertedIndex.build(toAdd, idCol, keyCol, e.analyzer),
                    toAdd.select(fcol(idCol).as("doc_id"), fcol("__fp").as("content_fp")))
                },
                fp, Some(FieldStore.Restage(spark.table(e.view))))
              n
            } finally classified.unpersist()
          spark.catalog.refreshByPath(e.dir)
          IndexStore.registerViews(spark, e.dir, name)
          IndexStore.registerStatsTables(spark, e.dir, name)
          FieldStore.registerStatsTable(spark, e.dir, s"${name}_stored_tbl")
          result(spark, s"refreshed $name (+$added docs)")
        case Some(e) =>
          // vector index: assign new vectors to the EXISTING centroids and
          // append (IvfIndex.append; round-7 verdict item 6 — previously
          // this verb rejected vector indexes and forced a full rebuild).
          // A drift past 1.5× the trained size re-clusters automatically.
          val metric = e.analyzer.stripPrefix("vector:")
          // prefer the registered entry (carries embCol/quant/lists/pqM
          // exactly as created — e.keySpec may include an INCLUDE tail)
          val entry = IndexCatalog.ann.values.find(_.cacheKey == e.annKey.get)
            .getOrElse(
              IndexCatalog.AnnEntry(e.annKey.get, e.idCol, e.keySpec, metric))
          val root = scanRootOf(spark, e.view).getOrElse(
            throw new IllegalArgumentException(
              s"REFRESH: view ${e.view} is not a bare parquet scan"))
          val source = IndexCatalog.annSource(spark, root, entry)
          import org.apache.spark.sql.functions.{col, count, when, xxhash64}
          // delta classification by FINGERPRINT manifest (r19, VERDICT r18
          // what's-wrong #1): the stored side is the (vec_id, xxhash64)
          // manifest the build/append paths maintain beside the artifact —
          // ids + one hash per vector, metadata-scale — so a REFRESH never
          // re-reads the stored embedding corpus just to decide the delta
          // is append-only. DELETEd or UPDATEd vectors still cannot be
          // folded into an append-only artifact — the reference folds
          // tombstones away by rebuilding at VACUUM time (ivf_rabitq.test /
          // ivf_sq4.test DML sections: post-DELETE/UPDATE kNN must not see
          // dead vectors) — but now the REBUILD is the only path that pays
          // a corpus read. The full_outer join shuffles 16-byte rows, not
          // wide float arrays.
          // ACCEPTED RISK (r19 ADVICE #3): "changed" is fingerprint
          // INEQUALITY, so an xxhash64 collision between a vector's old and
          // new embedding (p ≈ 2^-64 per changed row) would classify it
          // "unchanged" and keep the stale vector served until the next
          // rebuild — the same accepted odds as the text path's content_fp
          // manifest (r15), and the same place a production system would
          // trade a corpus diff for a hash.
          val fp = sourceFingerprint(spark, e.view)
          val existing = graft.index.IvfIndex.fingerprints(spark, e.dir)
          val sourceFp = source
            .select(col("vec_id"), xxhash64(col("embedding")).as("_sfp"))
          // removed / changed / NEW in one aggregate: a no-change REFRESH
          // (the steady state of a refresh loop) finishes after this single
          // job — no anti-join, no append machinery
          val delta = sourceFp.join(existing, Seq("vec_id"), "full_outer")
            .select(
              count(when(col("_sfp").isNull, 1)).as("removed"),
              count(when(col("_sfp").isNotNull && col("fp").isNotNull &&
                col("_sfp") =!= col("fp"), 1)).as("changed"),
              count(when(col("fp").isNull, 1)).as("new"))
            .head()
          val (removed, changed, newN) =
            (delta.getLong(0), delta.getLong(1), delta.getLong(2))
          if (removed > 0 || changed > 0) {
            // the rebuild publishes as one version beside the old one: a
            // kNN planned before it still reads the vectors it dropped
            graft.index.IvfIndex.rebuild(spark, e.dir, source, entry.lists, fp,
              Some(FieldStore.Restage(spark.table(e.view))))
            ensureQuant(spark, e.dir, entry.quant, entry.pqM)
            spark.catalog.refreshByPath(e.dir)
            result(spark, s"refreshed $name (rebuilt: -$removed vectors, " +
              s"~$changed updated)")
          } else if (newN == 0) {
            // no vector to reconcile: the classifier job is the whole
            // refresh, unless a source change restages the sidecar
            IndexStore.recordSourceFp(spark, e.dir, fp, Some(FieldStore.Restage(spark.table(e.view))))
            spark.catalog.refreshByPath(e.dir)
            result(spark, s"refreshed $name (+0 vectors)")
          } else {
            val newVecs = source.join(existing.select("vec_id"),
              Seq("vec_id"), "left_anti")
            // the append re-encodes the quantized code families
            // (sq8/sq4/pq/rabitq) over the grown vectors in the same version
            val (added, reclustered) =
              graft.index.IvfIndex.append(spark, e.dir, newVecs, sourceFp = fp,
                restage = Some(FieldStore.Restage(spark.table(e.view))))
            IndexStore.recordSourceFp(spark, e.dir, fp)
            spark.catalog.refreshByPath(e.dir)
            result(spark, s"refreshed $name (+$added vectors)" +
              (if (reclustered) " [reclustered]" else ""))
          }
        case None =>
          throw new IllegalArgumentException(s"no such search index: $name")
      }
    case describeRe(name) =>
      catalog.get(name) match {
        case Some(e) =>
          import spark.implicits._
          val base = Seq("view" -> e.view, "key_spec" -> e.keySpec,
            "analyzer" -> e.analyzer, "location" -> e.dir) ++
            e.predicate.map("predicate" -> _)
          val stats =
            if (e.annKey.nonEmpty) Seq("kind" -> "vector")
            else {
              val idx = IndexStore.load(spark, e.dir)
              Seq("kind" -> "search",
                "num_docs" -> idx.numDocs.toString,
                "sum_dlen" -> idx.sumDl.toString,
                "num_terms" -> idx.termDict.count().toString,
                "num_segments" -> IndexStore.listSegments(spark, e.dir).size.toString)
            }
          val staleness =
            if (e.analyzer == "secondary") Seq.empty  // PK zones self-report via fresh()
            else stalenessRows(spark, e.dir, e.view)
          val compression = IndexStore.segmentCompression(spark, e.dir)
            .map("compression" -> _).toSeq
          val sidecar = graft.index.Commit.current(spark, e.dir).toSeq.flatMap { v =>
            // per-column statistics (approx_unique only for the
            // hyperloglog-opted columns — reference stats(col) surface)
            val cstats = FieldStore.of(spark, v).flatMap(_.colStats).toSeq
              .flatMap { case (rc, stats) =>
                ("stored_rowcount" -> rc.toString) +:
                  stats.toSeq.sortBy(_._1).map { case (k, v) =>
                    (if (k.startsWith("ndv."))
                      "approx_unique." + k.stripPrefix("ndv.") else k) -> v
                  }
              }
            FieldStore.spec(v).toSeq.flatMap(m =>
              Seq("indexed_fields" -> m.fields.mkString(","),
                "included_columns" -> m.included.mkString(","))) ++ cstats
          }
          (base ++ stats ++ sidecar ++ compression ++ staleness)
            .toDF("stat", "value")
        case None =>
          throw new IllegalArgumentException(s"no such search index: $name")
      }
    case showMetricsRe(name) =>
      // the reference's per-index sdb_metrics rows
      // (inverted_index_sdb_metrics.test): durable gauges re-derived from
      // index metadata (num_docs includes tombstoned docs, num_live_docs
      // excludes them — irs::directory_reader semantics), session counters
      // from the Metrics registry (zeroed at JVM start, like the
      // reference's in-memory registry). num_buffered_docs has no analogue
      // here: every ingest leg commits a segment, there is no
      // uncommitted RAM buffer.
      catalog.get(name) match {
        case Some(e) =>
          import spark.implicits._
          val segs = IndexStore.listSegments(spark, e.dir)
          val raw = segs.map { s =>
            """"numDocs":(\d+)""".r
              .findFirstMatchIn(IndexStore.readString(spark, s"${e.dir}/$s/meta.json"))
              .map(_.group(1).toLong).getOrElse(0L)
          }.sum
          val live = if (segs.isEmpty) 0L else IndexStore.load(spark, e.dir).numDocs
          val fsys = new org.apache.hadoop.fs.Path(e.dir)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          val (nFiles, bytes) = segs.foldLeft((0L, 0L)) { case ((n, b), s) =>
            val st = fsys.listStatus(new org.apache.hadoop.fs.Path(s"${e.dir}/$s"))
            val files = st.filterNot(_.isDirectory)
            val nested = st.filter(_.isDirectory).flatMap(d =>
              fsys.listStatus(d.getPath).filterNot(_.isDirectory))
            (n + files.length + nested.length,
              b + (files ++ nested).map(_.getLen).sum)
          }
          def c(kind: String) = graft.index.Metrics.counter(e.dir, kind)
          Seq(
            "avg_cleanup_time_ms" -> c("cleanup").avgMs,
            "avg_commit_time_ms" -> c("commit").avgMs,
            "avg_consolidation_time_ms" -> c("consolidation").avgMs,
            "index_size" -> bytes,
            "num_cleanups" -> c("cleanup").n,
            "num_commits" -> c("commit").n,
            "num_consolidations" -> c("consolidation").n,
            "num_docs" -> raw,
            "num_failed_cleanups" -> c("cleanup").failed,
            "num_failed_commits" -> c("commit").failed,
            "num_failed_consolidations" -> c("consolidation").failed,
            "num_files" -> nFiles,
            "num_live_docs" -> live,
            "num_segments" -> segs.size.toLong
          ).toDF("metric", "value")
        case None =>
          throw new IllegalArgumentException(s"no such search index: $name")
      }
    case vacuumRe(view) =>
      // pg-spelled indexes build lazily (created on empty tables, data
      // arrives later); VACUUM is the visibility point, so retry deferred
      // builds first — they register engine indexes picked up just below
      PgIndexDdl.onVacuum(spark, view)
      val names = catalog.toSeq.collect {
        case (n, e) if e.view.equalsIgnoreCase(view) => n }.sorted
      if (names.isEmpty && !PgIndexDdl.hasSpecsFor(view)) {
        // pg semantics (index corpus basic.test): VACUUM of an EXISTING
        // relation with no indexes is a no-op, an unknown relation errors
        val exists =
          try spark.catalog.tableExists(view) catch { case _: Exception => false }
        if (!exists) throw new IllegalArgumentException(
          s"""relation "$view" does not exist""")
      }
      names.foreach(n => executeParsed(spark, s"REFRESH SEARCH INDEX $n"))
      result(spark, s"vacuumed $view (${names.size} indexes refreshed)")
    case vacuumBadRe() =>
      throw new IllegalArgumentException(
        "VACUUM: at most one extension option per statement " +
          "(REFRESH_*|COMPACT_*|RECOMPUTE_STATS_*)")
    case vacuumOptRe(opt, target) =>
      def textIndexesOn(view: String): Seq[String] = catalog.toSeq.collect {
        case (n, e) if e.view.equalsIgnoreCase(view) &&
          !e.analyzer.startsWith("vector:") && e.analyzer != "secondary" => n
      }.sorted
      opt.toUpperCase match {
        case "REFRESH_INDEX" =>
          executeParsed(spark, s"REFRESH SEARCH INDEX $target")
          result(spark, s"vacuumed index $target (refreshed)")
        case "COMPACT_INDEX" =>
          executeParsed(spark, s"COMPACT SEARCH INDEX $target")
          result(spark, s"vacuumed index $target (compacted)")
        case "COMPACT_TABLE" =>
          val names = textIndexesOn(target)
          val vecs = catalog.toSeq.collect {
            case (n, e) if e.view.equalsIgnoreCase(target) &&
              e.analyzer.startsWith("vector:") => (n, e)
          }.sortBy(_._1)
          if (names.isEmpty && vecs.isEmpty) throw new IllegalArgumentException(
            s"VACUUM (COMPACT_TABLE): no compactable search index on $target")
          names.foreach(n => executeParsed(spark, s"COMPACT SEARCH INDEX $n"))
          vecs.foreach { case (_, e) => compactVector(spark, e) }
          result(spark,
            s"vacuumed $target (${names.size + vecs.size} indexes compacted)")
        case "RECOMPUTE_STATS_TABLE" =>
          // the reference's ANALYZE-the-backing-store leg: re-derive the
          // covering store's column statistics and re-register the CBO
          // table stats for every sidecar on this view
          val done = catalog.toSeq.collect {
            case (n, e) if e.view.equalsIgnoreCase(target) &&
              FieldStore.recomputeStats(spark, e.dir) =>
              FieldStore.registerStatsTable(spark, e.dir, s"${n}_stored_tbl")
              n
          }
          if (done.isEmpty) throw new IllegalArgumentException(
            s"VACUUM (RECOMPUTE_STATS_TABLE): no INCLUDE columnstore on $target")
          result(spark, s"vacuumed $target (${done.size} stat sets recomputed)")
      }
    case vacuumAllRe(opt) =>
      val all = catalog.keys.toSeq.sorted
      if (all.isEmpty) throw new IllegalArgumentException(
        s"VACUUM ($opt): no indexes registered")
      val verb = if (opt.equalsIgnoreCase("REFRESH_ALL")) "REFRESH" else "COMPACT"
      val touched = all.filter { n =>
        val e = catalog(n)
        val compactable = !e.analyzer.startsWith("vector:") && e.analyzer != "secondary"
        // instance-wide verbs only touch indexes whose source view resolves
        // in THIS session — the persisted catalog may carry rows from other
        // sessions' fixtures (their artifacts stay valid; their views are
        // simply not registered here)
        val resolvable =
          try { spark.table(e.view); true } catch { case _: Exception => false }
        // skip-and-continue: an instance-wide sweep that dies on the first
        // broken index (a fixture view over deleted files, a mid-rebuild
        // sidecar) could never heal the rest — count successes, log the
        // rest (the vacuumdb model)
        resolvable && (verb == "REFRESH" || compactable) &&
          (try { executeParsed(spark, s"$verb SEARCH INDEX $n"); true }
           catch { case e: Exception =>
             System.err.println(s"[graft] VACUUM ($opt): skipping $n: ${e.getMessage}")
             false })
      }
      result(spark, s"vacuumed ${touched.size} indexes ($verb)")
    case createRoleRe(name, attr) =>
      Rbac.createRole(name,
        inherit = attr == null || !attr.toUpperCase.contains("NOINHERIT"))
      result(spark, s"created role $name")
    case dropRoleRe(name) =>
      Rbac.dropRole(name)
      result(spark, s"dropped role $name")
    case grantSelRe(colsRaw, view, role, withGo, grantedBy) =>
      val root = writeTargetRoot(spark, view)
      val cols = Option(colsRaw)
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      Rbac.grantSelect(spark, root, role, cols,
        grantOption = withGo != null, grantedBy = Option(grantedBy))
      result(spark, s"granted SELECT" +
        cols.map(c => s" (${c.mkString(",")})").getOrElse("") +
        s" on $view to $role")
    case revokeSelRe(colsRaw, view, role) =>
      val root = writeTargetRoot(spark, view)
      val cols = Option(colsRaw)
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      Rbac.revokeSelect(root, role, cols)
      result(spark, s"revoked SELECT on $view from $role")
    // a mixed list (`GRANT UPDATE, SELECT, DELETE ON t TO r`) splits into
    // its select and write halves — pg grants each privilege independently
    case grantWriteRe(privsRaw, target, role)
        if privsRaw.split(",").map(_.trim.toLowerCase).toSet
          .subsetOf(Set("select", "insert", "update", "delete", "truncate")) =>
      val privs = privsRaw.split(",").map(_.trim.toLowerCase).toSet
      val root = writeTargetRoot(spark, target)
      if (privs.contains("select")) Rbac.grantSelect(spark, root, role)
      val writes = privs - "select"
      if (writes.nonEmpty) Rbac.grantWrite(root, role, writes)
      result(spark, s"granted ${privs.mkString(",")} on $target to $role")
    case revokeWriteRe(privsRaw, target, role)
        if privsRaw.split(",").map(_.trim.toLowerCase).toSet
          .subsetOf(Set("select", "insert", "update", "delete", "truncate")) =>
      val privs = privsRaw.split(",").map(_.trim.toLowerCase).toSet
      val root = writeTargetRoot(spark, target)
      if (privs.contains("select")) Rbac.revokeSelect(root, role)
      val writes = privs - "select"
      if (writes.nonEmpty) Rbac.revokeWrite(root, role, writes)
      result(spark, s"revoked ${privs.mkString(",")} on $target from $role")
    case grantAllRe(target, role) =>
      val root = writeTargetRoot(spark, target)
      Rbac.grantSelect(spark, root, role)
      Rbac.grantWrite(root, role, Set("insert", "update", "delete", "truncate"))
      result(spark, s"granted ALL on $target to $role")
    case revokeAllRe(target, role) =>
      val root = writeTargetRoot(spark, target)
      Rbac.revokeSelect(root, role)
      Rbac.revokeWrite(root, role, Set("insert", "update", "delete", "truncate"))
      result(spark, s"revoked ALL on $target from $role")
    case grantRoleRe(granted, to, admin) =>
      Rbac.grantRole(spark, granted, to, admin = admin != null)
      result(spark, s"granted $granted to $to")
    case revokeRoleRe(granted, from) =>
      if (!Rbac.exists(granted)) throw new IllegalArgumentException(
        s"""role "$granted" does not exist""")
      Rbac.revokeRole(granted, from)
      result(spark, s"revoked $granted from $from")
    case setRoleRe(name) =>
      if (!Rbac.exists(name)) throw new IllegalArgumentException(
        s"""role "$name" does not exist""")
      if (!Rbac.maySetRole(spark, name)) throw new IllegalArgumentException(
        s"""permission denied to set role "$name"""")
      spark.conf.set(Rbac.RoleConf, name)
      result(spark, s"role set to $name")
    case resetRoleRe() =>
      spark.conf.set(Rbac.RoleConf, "")
      result(spark, "role reset")
    case other =>
      throw new IllegalArgumentException(s"unsupported DDL: $other")
  }

  /** Unknown WITH(...) options are a loud error (reference
    * inverted_index_options.test) — names the typo and the supported set. */
  private def checkOpts(kind: String, opts: Map[String, String],
      allowed: Set[String]): Unit =
    (opts.keySet -- allowed).toSeq.sorted.headOption.foreach { bad =>
      throw new IllegalArgumentException(
        s"$kind: unknown option '$bad' " +
          s"(supported: ${allowed.toSeq.sorted.mkString(", ")})")
    }

  /** Root a write grant binds to: a quoted literal path verbatim (the
    * Iceberg DML surface is path-addressed), else a registered view's
    * scan root. */
  private def writeTargetRoot(spark: SparkSession, target: String): String =
    if (target.startsWith("'")) target.stripPrefix("'").stripSuffix("'")
    else scanRootOf(spark, target).getOrElse(
      throw new IllegalArgumentException(
        s"GRANT/REVOKE: $target is not a registered bare-scan view " +
          "(quote a table path for the path-addressed DML surface)"))

  private def result(spark: SparkSession, msg: String): DataFrame = {
    import spark.implicits._
    Seq(msg).toDF("result")
  }
}

/** Durable form of the index catalog — the analogue of the reference
  * persisting index catalog objects and re-attaching them at boot
  * (/root/reference/server/catalog/catalog.cpp:5602). Every DDL statement
  * rewrites `<GRAFT_INDEX_DIR>/_CATALOG/catalog.json` (one JSON object per
  * line, atomic tmp+rename through the Hadoop FS API so the same code path
  * covers HDFS/S3 at cluster scale); the first catalog LOOKUP of a fresh
  * JVM loads it lazily, so a claimed query in a new session resolves
  * DDL-registered indexes with no re-run — without persistence every claim
  * would silently degrade to row-eval after a restart.
  *
  * Registrations made in THIS session win over loaded rows (load is
  * putIfAbsent); a stale row whose segment dir was deleted out-of-band just
  * fails its claim at IndexStore.load and the query falls back to row-eval
  * — durability can change HOW a query runs, never its result. */
object CatalogStore {
  import com.fasterxml.jackson.databind.ObjectMapper
  import org.apache.hadoop.fs.Path

  @volatile private var loadedOnce = false
  private val mapper = new ObjectMapper()

  /** Segment/cache dirs DROPped in this JVM — persist() must not resurrect
    * their rows when merging the on-disk catalog written by another session
    * (read-modify-write below). */
  private[search] val dropped = TrieMap.empty[String, Boolean]

  /** Test hook: point the persisted catalog somewhere else (isolation from
    * catalogs other JVMs left in the shared tmp dir). */
  @volatile private[graft] var baseDirOverride: Option[String] = None

  private def baseDir: String = baseDirOverride.getOrElse(sys.env.getOrElse(
    "GRAFT_INDEX_DIR", sys.props("java.io.tmpdir") + "/graft-index"))
  private def catalogPath = new Path(baseDir, "_CATALOG/catalog.json")

  private def fs(p: Path) =
    p.getFileSystem(new org.apache.hadoop.conf.Configuration())

  def ensureLoaded(): Unit =
    if (!loadedOnce) synchronized {
      if (!loadedOnce) {
        try load()
        catch { case e: Exception =>
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"index catalog load failed, starting empty: $e")
        }
        loadedOnce = true
      }
    }

  /** Test hook: forget the in-JVM registries and re-load from disk, as a
    * fresh session would. */
  private[graft] def reset(): Unit = synchronized {
    IndexCatalog.text.clear(); IndexCatalog.ann.clear(); IndexCatalog.pk.clear()
    ExprIndexes.reg.clear(); Ddl.catalog.clear(); Ddl.sessionReady.clear()
    dropped.clear()
    loadedOnce = false
  }

  private def row(kv: (String, String)*): String = {
    val node = mapper.createObjectNode()
    kv.foreach { case (k, v) => node.put(k, v) }
    mapper.writeValueAsString(node)
  }

  /** Dedup identity of a catalog row — the same key the in-memory registries
    * use, so a merge can tell "row this JVM also has" from "row another
    * session persisted that this JVM never saw". */
  private def keyOf(n: com.fasterxml.jackson.databind.JsonNode): String = {
    def s(k: String) = Option(n.get(k)).map(_.asText()).getOrElse("")
    s("kind") match {
      case "text" => s"text|${s("root")}|${s("column")}|${s("analyzer")}"
      case "ann" => s"ann|${s("root")}|${s("column")}|${s("metric")}"
      case "expr" => s"expr|${s("root")}|${s("exprSql")}|${s("analyzer")}"
      case "pk" => s"pk|${s("root")}|${s("column")}"
      case "fields" => s"fields|${s("root")}"
      case "ddl" => s"ddl|${s("name")}"
      case other => s"$other|${n.toString}"
    }
  }

  /** Whether a disk row points at an artifact this session DROPped — the
    * merge must not resurrect it. */
  private def isDropped(n: com.fasterxml.jackson.databind.JsonNode): Boolean = {
    def s(k: String) = Option(n.get(k)).map(_.asText())
    Seq("segDir", "dir", "cacheKey", "annKey").flatMap(s).exists(dropped.contains)
  }

  def persist(spark: SparkSession): Unit = synchronized {
    val lines = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def add(key: String, line: String): Unit = lines.put(key, line)
    IndexCatalog.text.foreach { case ((root, c, a), e) =>
      add(s"text|$root|$c|$a", row((Seq("kind" -> "text", "root" -> root,
        "column" -> c, "analyzer" -> a, "segDir" -> e.segDir,
        "idCol" -> e.idCol) ++ e.predicate.map("predicate" -> _)): _*))
    }
    IndexCatalog.ann.foreach { case ((root, c, m, _), e) =>
      add(s"ann|$root|$c|$m|${e.cacheKey}", row(Seq("kind" -> "ann", "root" -> root,
        "column" -> c, "metric" -> m, "cacheKey" -> e.cacheKey,
        "idCol" -> e.idCol, "embCol" -> e.embCol) ++
        e.quant.map("quant" -> _) ++
        (if (e.lists != 0) Seq("lists" -> e.lists.toString) else Nil) ++
        e.pqM.map("pqM" -> _.toString): _*))
    }
    ExprIndexes.reg.foreach { case ((root, sql, a), (segDir, idCol)) =>
      add(s"expr|$root|$sql|$a", row("kind" -> "expr", "root" -> root,
        "exprSql" -> sql, "analyzer" -> a, "segDir" -> segDir, "idCol" -> idCol))
    }
    IndexCatalog.pk.foreach { case ((root, c), e) =>
      add(s"pk|$root|$c", row("kind" -> "pk", "root" -> root, "column" -> c,
        "dir" -> e.dir))
    }
    Ddl.catalog.foreach { case (n, e) =>
      add(s"ddl|$n", row((Seq("kind" -> "ddl", "name" -> n, "dir" -> e.dir,
        "view" -> e.view, "keySpec" -> e.keySpec, "analyzer" -> e.analyzer,
        "idCol" -> e.idCol) ++
        e.annKey.map("annKey" -> _) ++
        e.predicate.map("predicate" -> _)): _*))
    }
    val dest = catalogPath
    val f = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // read-modify-write under the rename (ADVICE round 7): with the
    // documented shared GRAFT_INDEX_DIR, another JVM may have persisted rows
    // after this JVM's lazy load — a plain rewrite from this JVM's snapshot
    // would silently drop them (last-writer-wins lost update). Disk rows
    // this JVM doesn't know keep their place unless they point at an
    // artifact this session DROPped. This-session rows win on key conflict.
    try {
      if (f.exists(dest)) {
        val in = f.open(dest)
        val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                      finally in.close()
        content.linesIterator.filter(_.trim.nonEmpty).foreach { line =>
          val n = mapper.readTree(line)
          val k = keyOf(n)
          if (!lines.contains(k) && !isDropped(n)) lines.put(k, line)
        }
      }
    } catch { case e: Exception =>
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"catalog merge read failed, persisting this session's rows only: $e")
    }
    val tmp = new Path(dest.getParent, s"catalog.json.tmp-${java.util.UUID.randomUUID}")
    val out = f.create(tmp, true)
    try out.write((lines.values.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    // atomic replace: FileContext.rename(OVERWRITE) has no delete-then-rename
    // window — a crash leaves either the old or the new catalog, never none
    // and never a torn file (reference two-leg commit, transaction.h:58-76)
    org.apache.hadoop.fs.FileContext.getFileContext(dest.toUri,
        spark.sparkContext.hadoopConfiguration)
      .rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private def load(): Unit = {
    val p = catalogPath
    val f = fs(p)
    if (!f.exists(p)) return
    val in = f.open(p)
    val content =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    content.linesIterator.filter(_.trim.nonEmpty).foreach { line =>
      val n = mapper.readTree(line)
      def s(k: String) = Option(n.get(k)).map(_.asText())
      s("kind") match {
        case Some("text") =>
          IndexCatalog.text.putIfAbsent(
            (s("root").get, s("column").get, s("analyzer").get),
            IndexCatalog.TextEntry(s("segDir").get, s("idCol").get,
              s("predicate")))
        case Some("ann") =>
          IndexCatalog.ann.putIfAbsent(
            (s("root").get, s("column").get, s("metric").get, s("cacheKey").get),
            IndexCatalog.AnnEntry(s("cacheKey").get, s("idCol").get,
              s("embCol").get, s("metric").get, s("quant"),
              s("lists").map(_.toInt).getOrElse(0), s("pqM").map(_.toInt)))
        case Some("expr") =>
          ExprIndexes.reg.putIfAbsent(
            (s("root").get, s("exprSql").get, s("analyzer").get),
            (s("segDir").get, s("idCol").get))
        case Some("pk") =>
          IndexCatalog.pk.putIfAbsent((s("root").get, s("column").get),
            IndexCatalog.PkEntry(s("dir").get))
        case Some("ddl") =>
          Ddl.catalog.putIfAbsent(s("name").get,
            Ddl.Entry(s("dir").get, s("view").get, s("keySpec").get,
              s("analyzer").get, s("annKey"), s("idCol").getOrElse(""),
              s("predicate")))
        case _ => // unknown row kind: ignore (forward compatibility)
      }
    }
  }
}
