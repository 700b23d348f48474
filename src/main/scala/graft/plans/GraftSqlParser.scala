package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, StringType}

/** SQL surface for the warehouse's table-maintenance commands — the
  * production-table-format pattern of a delegating parser extension
  * (installed by [[graft.GraftExtensions]]): statements the Spark
  * grammar either lacks or routes to v2-catalog paths are intercepted
  * and executed through the session's bound [[graft.olist.Warehouse]];
  * everything else falls through to the delegate untouched.
  *
  *   wh.enableSql()                                  // bind once
  *   spark.sql("DELETE FROM t WHERE k % 2 = 0")      // file surgery
  *   spark.sql("UPDATE t SET v = v + 1 WHERE k = 3")
  *   spark.sql("VACUUM t RETAIN 3 VERSIONS")
  *   spark.sql("OPTIMIZE t")
  *   spark.sql("OPTIMIZE t SMALL TARGET 100000 MIN 50000")
  *   spark.sql("CREATE SEARCH INDEX ti ON docs")   // + VECTOR, DEDUP, CONTAM [SUITE 's'], REFRESH … FROM
  *   spark.sql("ALTER CONTAM INDEX cg RETIRE SUITE 'mmlu_v1'")
  *   spark.sql("DESCRIBE PRUNING t WHERE k = 42")   // files admitted / total
  *   spark.sql("DESCRIBE STATS t (k, v)")   // metadata min/max + sums + rows
  *   spark.sql("REFRESH JOIN VIEW mv FROM fact JOIN dim USING (k) ID id")
  *   spark.sql("DESCRIBE HISTORY t")
  *   spark.sql("CLONE t AS t2 [VERSION 4]")
  *   spark.sql("PIN TABLE t VERSION 4 AS 'svc' [LEASE ms]")   // vacuum shield; UNPIN TABLE t AS 'svc'; DESCRIBE PINS t
  *   spark.sql("DESCRIBE VECTOR INDEX ann RECALL ON vectors")   // drift ops
  *   spark.sql("ALTER VECTOR INDEX ann RETRAIN ON vectors THRESHOLD 0.8")
  *   spark.sql("ALTER VECTOR INDEX ann RETRAIN ON vectors WITH (n_cells = 32)")  // geometry evolution
  *   spark.sql("ALTER VECTOR INDEX ann AUTORESIZE ON vectors MAX_CELL_ROWS 100000")  // shape-health auto rule
  *   spark.sql("SEARCH INDEX ti [ON docs] FOR 'text' TOP 10 [WHERE p]")  // BM25, single-query plan
  *   spark.sql("VECTOR SEARCH ann ON vectors NEAREST (0.1, …) TOP 10 EXACT")     // brute-force-equal ranking
  *   spark.sql("AUDIT TABLE t [DEEP]")            // the warehouse fsck
  *   spark.sql("AUDIT VECTOR INDEX ann")          // index-invariant fsck (+ SEARCH)
  *
  * A statement only binds to the warehouse when the named table has a
  * committed snapshot there — otherwise it delegates, so catalog
  * tables keep Spark's own semantics.
  *
  * A `SEARCH INDEX` statement carries one query, so it runs
  * [[graft.operators.TextIndex.queryOn]]'s single-query plan (one
  * per-doc pivot shuffle, a TakeOrderedAndProject top-k), never the
  * N-query batch plan (`queryBatchOn`). Parsing it does real work:
  * the snapshot pin, the driver-side tokenize, and ONE query
  * execution — the shuffle- and join-free df/stats read — all run
  * inside `parsePlan`. The outer statement's QueryPlanningTracker
  * counts that time in its `parsing` phase; it is not Catalyst
  * planning. The plan returned is the top-k alone. */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  import GraftSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan =
    command(session, sqlText).getOrElse(
      delegate.parsePlan(rewriteTimeTravel(session, sqlText)))

  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String) =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String) =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String) =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String) =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String) =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String) =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String) =
    delegate.parseRoutineParam(sqlText)
}

object GraftSqlParser {

  /** One registered warehouse per session (the `enableSql` binding). */
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[SparkSession,
      graft.olist.Warehouse]()

  def bind(session: SparkSession, wh: graft.olist.Warehouse): Unit =
    registry.put(session, wh)

  private def boundTable(session: SparkSession,
      name: String): Option[graft.olist.Warehouse] =
    Option(registry.get(session)).filter(_.hasTable(name))

  /** The session's bound warehouse, if any — the lookup
    * [[MetadataAggRewrite]] resolves `dw_<t>` views through. */
  private[plans] def boundFor(
      session: SparkSession): Option[graft.olist.Warehouse] =
    Option(registry.get(session))

  private val Delete =
    """(?is)^\s*DELETE\s+FROM\s+([\w]+)\s+WHERE\s+(.+?)\s*;?\s*$""".r
  // body = VALUES (...) or SELECT ... — anything the delegate can parse
  // as a query; SQL INSERT maps columns POSITIONALLY to the table
  private val Insert =
    """(?is)^\s*INSERT\s+INTO\s+([\w]+)\s+((?:VALUES|SELECT)\b.+?)\s*;?\s*$""".r
  // CTAS into the bound warehouse. Deliberately does NOT match a
  // `USING <format>` clause — `CREATE TABLE t USING parquet AS …`
  // keeps Spark's own catalog path, mirroring how a table format
  // claims the formatless CTAS on sessions it is enabled for.
  private val Ctas =
    ("""(?is)^\s*CREATE\s+(?:(OR\s+REPLACE)\s+)?TABLE\s+""" +
      """(?:(IF\s+NOT\s+EXISTS)\s+)?([\w]+)""" +
      """(?:\s+PARTITIONED\s+BY\s*\(([^)]*)\))?""" +
      """(?:\s+(CLUSTER|ZORDER)\s+BY\s*\(([^)]*)\))?""" +
      """\s+AS\s+((?:SELECT|VALUES|WITH)\b.+?)\s*;?\s*$""").r
  private val Update =
    """(?is)^\s*UPDATE\s+([\w]+)\s+SET\s+(.+?)\s+WHERE\s+(.+?)\s*;?\s*$""".r
  private val Vacuum =
    ("""(?is)^\s*VACUUM\s+([\w]+)(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?""" +
      """(?:\s+GRACE\s+(\d+)\s+HOURS)?\s*;?\s*$""").r
  private val Optimize =
    """(?is)^\s*OPTIMIZE\s+([\w]+)(?:\s+WHERE\s+(.+?))?\s*;?\s*$""".r
  // size-tiered OPTIMIZE (compactSmall): only files under MIN live rows
  // rewrite, packed to ~TARGET-row outputs — the steady-state form
  private val OptimizeSmall =
    ("""(?is)^\s*OPTIMIZE\s+([\w]+)\s+SMALL\s+TARGET\s+(\d+)""" +
      """\s+MIN\s+(\d+)\s*;?\s*$""").r
  // Delta-familiar recluster forms; ZORDER needs >= 2 columns (one
  // column is linear clustering — same rule as the programmatic API)
  private val OptimizeCluster =
    ("""(?is)^\s*OPTIMIZE\s+([\w]+)\s+(ZORDER|CLUSTER)\s+BY""" +
      """\s*\(([^)]*)\)\s*;?\s*$""").r
  private val History =
    """(?is)^\s*DESCRIBE\s+HISTORY\s+([\w]+)\s*;?\s*$""".r
  // file-skipping introspection: how many files a predicate admits,
  // answered from manifest stats alone
  private val Pruning =
    ("""(?is)^\s*DESCRIBE\s+PRUNING\s+([\w]+)""" +
      """\s+WHERE\s+(.+?)\s*;?\s*$""").r
  // metadata-only aggregate introspection: per-column min/max + the
  // exact row count from manifest stats (statsAggregate — throws when
  // a scan is the only honest answer)
  private val DescStats =
    ("""(?is)^\s*DESCRIBE\s+STATS\s+([\w]+)""" +
      """\s*\(([^)]*)\)\s*;?\s*$""").r
  // retrieval-index DDL: SEARCH = the TextIndex inverted index,
  // VECTOR = the AnnIndex IVF-PQ index; both build FROM a bound table
  // and maintain incrementally via REFRESH
  // incrementally-maintained JOIN view: one statement bootstraps or
  // refreshes (refreshJoinView decides from the MV's version stamps)
  private val RefreshJoinMv =
    ("""(?is)^\s*REFRESH\s+JOIN\s+VIEW\s+([\w]+)\s+FROM\s+([\w]+)""" +
      """\s+JOIN\s+([\w]+)\s+USING\s*\(([^)]*)\)\s+ID\s+([\w]+)""" +
      """\s*;?\s*$""").r
  // WITH (k = v, …) carries build-time shape: the VECTOR geometry
  // (n_cells, m, k) is FROZEN at build — without a SQL spelling an
  // SQL-built index is stuck with the 8/8/16 defaults, which is the
  // wrong shape for any serious corpus — and SEARCH/DEDUP take their
  // layout/banding params the same way
  private val CreateIdx =
    ("""(?is)^\s*CREATE\s+(SEARCH|VECTOR|DEDUP|CONTAM)\s+INDEX\s+([\w]+)""" +
      """\s+ON\s+([\w]+)(?:\s+SUITE\s+'([^']*)')?""" +
      """(?:\s+WITH\s*\(([^)]*)\))?\s*;?\s*$""").r
  private val RefreshIdx =
    ("""(?is)^\s*REFRESH\s+(SEARCH|VECTOR|DEDUP|CONTAM)\s+INDEX\s+([\w]+)""" +
      """\s+FROM\s+([\w]+)(?:\s+SUITE\s+'([^']*)')?\s*;?\s*$""").r
  // index inventory: cardinalities from manifest row counts
  // (DV-aware) + the frozen params — no index data file opened
  private val DescIdx =
    ("""(?is)^\s*DESCRIBE\s+(SEARCH|VECTOR|DEDUP|CONTAM)\s+INDEX""" +
      """\s+([\w]+)\s*;?\s*$""").r
  // index maintenance: fold accumulated LSM segments (df / bucket
  // mins), bin-pack refresh/admit debris files, and (with ON) fold
  // dead removal tombstones against the named base table — each
  // family's optimize(); answers are provably unchanged
  private val OptimizeIdx =
    ("""(?is)^\s*OPTIMIZE\s+(SEARCH|VECTOR|DEDUP|CONTAM)\s+INDEX""" +
      """\s+([\w]+)(?:\s+ON\s+([\w]+))?\s*;?\s*$""").r
  // retrieval-index SERVING from SQL — the literal front door: the
  // query arrives as a raw string / a literal vector (a live query is
  // unseen by definition), goes through the index's OWN tokenizer /
  // normalizer, and the read is one pinned snapshot cut. Returned as
  // a logical plan (distributed scan), never a collected command.
  // the serving statements take an optional TIMESTAMP AS OF — the
  // reproducible-serving read ("what did the index answer at T?"):
  // the cut is snapshotTablesAt (whole-transaction verified; an
  // instant inside a refresh's commit window refuses loudly), with
  // the source table joined into the cut where the statement names
  // one, so a stream-fed base + index advanced under one marker can
  // never be torn across the AS OF read either
  private val SearchIdx =
    ("""(?is)^\s*SEARCH\s+INDEX\s+([\w]+)\s+FOR\s+'([^']*)'""" +
      """\s+TOP\s+(\d+)""" +
      """(?:\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)')?\s*;?\s*$""").r
  // FILTERED search (the production retrieval pattern): the named
  // table's rows satisfying WHERE become the doc allowlist / the
  // admissible-candidate predicate — applied INSIDE the probe, so k
  // fills with qualifying results (post-filtering would under-fill).
  // The vector forms AUTO-WIDEN (AnnIndex.widenTo): a selective WHERE
  // whose matches live outside the nearest cells probes wider until k
  // fills or cells exhaust — fewer than k rows back means fewer than
  // k matches exist
  private val SearchIdxFiltered =
    ("""(?is)^\s*SEARCH\s+INDEX\s+([\w]+)\s+ON\s+([\w]+)""" +
      """\s+FOR\s+'([^']*)'\s+TOP\s+(\d+)\s+WHERE\s+(.+?)""" +
      """(?:\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)')?\s*;?\s*$""").r
  // the vector forms take an optional EXACT: brute-force-equal ranking
  // at adaptive cost (cell-bound termination — AnnIndex.queryVecExact)
  // instead of the approximate probe
  private val VectorSearchFiltered =
    ("""(?is)^\s*VECTOR\s+SEARCH\s+([\w]+)\s+ON\s+([\w]+)""" +
      """\s+NEAREST\s*\(([^)]*)\)\s+TOP\s+(\d+)""" +
      """\s+WHERE\s+(.+?)""" +
      """(?:\s+(EXACT))?""" +
      """(?:\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)')?\s*;?\s*$""").r
  private val VectorSearchId =
    ("""(?is)^\s*VECTOR\s+SEARCH\s+([\w]+)\s+ON\s+([\w]+)""" +
      """\s+NEAREST\s+ID\s+(\d+)\s+TOP\s+(\d+)""" +
      """(?:\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)')?\s*;?\s*$""").r
  private val VectorSearch =
    ("""(?is)^\s*VECTOR\s+SEARCH\s+([\w]+)\s+ON\s+([\w]+)""" +
      """\s+NEAREST\s*\(([^)]*)\)\s+TOP\s+(\d+)""" +
      """(?:\s+(EXACT))?""" +
      """(?:\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)')?\s*;?\s*$""").r
  private val HybridSearch =
    ("""(?is)^\s*HYBRID\s+SEARCH\s+([\w]+)\s*,\s*([\w]+)""" +
      """\s+ON\s+([\w]+)\s+FOR\s+'([^']*)'""" +
      """\s+NEAREST\s*\(([^)]*)\)\s+TOP\s+(\d+)""" +
      """(?:\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)')?\s*;?\s*$""").r
  private val HybridSearchFiltered =
    ("""(?is)^\s*HYBRID\s+SEARCH\s+([\w]+)\s*,\s*([\w]+)""" +
      """\s+ON\s+([\w]+)\s+FOR\s+'([^']*)'""" +
      """\s+NEAREST\s*\(([^)]*)\)\s+TOP\s+(\d+)""" +
      """\s+WHERE\s+(.+?)""" +
      """(?:\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)')?\s*;?\s*$""").r
  // drift ops from SQL — the 3am surface: measured recall of the
  // stored vector index under its real serving parameters (the number
  // that decays silently as the corpus drifts off the frozen
  // codebooks), and the retrain lever, threshold-gated or
  // unconditional. ON names the index's refresh source (recall needs
  // the exact ground truth, retrain the live corpus).
  private val DescRecall =
    ("""(?is)^\s*DESCRIBE\s+VECTOR\s+INDEX\s+([\w]+)\s+RECALL""" +
      """\s+ON\s+([\w]+)\s*;?\s*$""").r
  // RETRAIN takes an optional WITH (…) geometry: the deliberate
  // re-shape lane (AnnIndex.retrainAs) — retrain is already a full
  // re-encode, the one moment a geometry change is free. Unlisted
  // keys keep the index's recorded values.
  private val RetrainIdx =
    ("""(?is)^\s*ALTER\s+VECTOR\s+INDEX\s+([\w]+)\s+RETRAIN""" +
      """\s+ON\s+([\w]+)(?:\s+THRESHOLD\s+([0-9.]+))?""" +
      """(?:\s+WITH\s*\(([^)]*)\))?\s*;?\s*$""").r
  // the geometry-drift auto rule from SQL (AnnIndex.autoResize):
  // re-shape ONLY when a cell exceeds the row bound — the scheduled
  // shape-health twin of THRESHOLD's recall gate
  private val AutoResizeIdx =
    ("""(?is)^\s*ALTER\s+VECTOR\s+INDEX\s+([\w]+)\s+AUTORESIZE""" +
      """\s+ON\s+([\w]+)\s+MAX_CELL_ROWS\s+(\d+)\s*;?\s*$""").r
  // the decontamination gate's retirement lane: drop one benchmark
  // suite's digests from the stored gate (grams a live suite shares
  // survive through that suite's own rows)
  private val RetireSuite =
    ("""(?is)^\s*ALTER\s+CONTAM\s+INDEX\s+([\w]+)""" +
      """\s+RETIRE\s+SUITE\s+'([^']*)'\s*;?\s*$""").r
  private val Clone =
    """(?is)^\s*CLONE\s+([\w]+)\s+AS\s+([\w]+)(?:\s+VERSION\s+(\d+))?\s*;?\s*$""".r
  // the held-serving-cut registry from SQL: PIN shields one version
  // against vacuum under a named holder (files AND commit record
  // survive retention sweeps until UNPIN); DESCRIBE PINS is the
  // inventory a retention decision reads ("who is holding my
  // storage?")
  private val Pin =
    ("""(?is)^\s*PIN\s+TABLE\s+([\w]+)\s+VERSION\s+(\d+)""" +
      """\s+AS\s+'([^']+)'(?:\s+LEASE\s+(\d+))?\s*;?\s*$""").r
  private val Unpin =
    """(?is)^\s*UNPIN\s+TABLE\s+([\w]+)\s+AS\s+'([^']+)'\s*;?\s*$""".r
  private val DescPins =
    """(?is)^\s*DESCRIBE\s+PINS\s+([\w]+)\s*;?\s*$""".r
  // the warehouse fsck: does the disk still match what the log claims?
  // DEEP additionally verifies physical row counts and DV position
  // counts against the manifest's own bookkeeping (two Spark jobs)
  private val Audit =
    """(?is)^\s*AUDIT\s+TABLE\s+([\w]+)(\s+DEEP)?\s*;?\s*$""".r
  // the stored-index invariants fsck, one per family (AnnIndex /
  // TextIndex / DedupIndex / ContamGate .audit)
  private val AuditIdx =
    ("""(?is)^\s*AUDIT\s+(VECTOR|SEARCH|DEDUP|CONTAM)\s+INDEX""" +
      """\s+([\w]+)\s*;?\s*$""").r
  // the canonical upsert form (UPDATE SET * / INSERT *): keys are the
  // equality conjuncts of the ON clause
  private val Merge =
    ("""(?is)^\s*MERGE\s+INTO\s+([\w]+)\s+USING\s+([\w.]+)\s+ON\s+(.+?)\s+""" +
      """WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+\*\s+""" +
      """WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*\s*;?\s*$""").r
  private val OnKey =
    """(?i)^\s*(?:[\w]+\.)?([\w]+)\s*=\s*(?:[\w]+\.)?([\w]+)\s*$""".r
  // IF EXISTS only changes behavior when the name is NOT bound here:
  // boundTable already filters to committed tables, so a bound name
  // drops either way and an unbound one delegates to Spark's grammar
  // (whose IF EXISTS succeeds silently on a missing catalog table).
  private val Drop =
    """(?is)^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?([\w]+)\s*;?\s*$""".r
  private val Detail =
    """(?is)^\s*DESCRIBE\s+DETAIL\s+([\w]+)\s*;?\s*$""".r
  // the ingest admission ledger behind a streamed table — one row per
  // landed batch, the gate-drift monitor's SQL read path (empty with
  // the correct schema before the first landed batch)
  private val IngestLog =
    """(?is)^\s*DESCRIBE\s+INGEST\s+LOG\s+([\w]+)\s*;?\s*$""".r
  // the per-suite BLAME ledger behind a blame-enabled ingest stream —
  // one row per (landed batch, convicting suite)
  private val IngestBlame =
    """(?is)^\s*DESCRIBE\s+INGEST\s+LOG\s+([\w]+)\s+BLAME\s*;?\s*$""".r
  // the MAINTENANCE ledger behind an ingest stream — one row per
  // recorded maintenance attempt (scheduled optimize outcome, failed
  // ledger fold); `error IS NOT NULL` is the on-call filter
  private val IngestMaint =
    """(?is)^\s*DESCRIBE\s+INGEST\s+LOG\s+([\w]+)\s+MAINT\s*;?\s*$""".r
  // cross-instance freshness: commits made HERE re-point dw_<name>
  // automatically (commitManifest), but another process's commits are
  // only picked up when something re-reads the manifest — REFRESH is
  // that explicit re-point for SQL readers
  private val Refresh =
    """(?is)^\s*REFRESH\s+TABLE\s+([\w]+)\s*;?\s*$""".r
  private val Restore =
    """(?is)^\s*RESTORE\s+TABLE\s+([\w]+)\s+TO\s+VERSION\s+(\d+)\s*;?\s*$""".r
  private val RenameCol =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w]+)\s+RENAME\s+COLUMN\s+([\w]+)""" +
      """\s+TO\s+([\w]+)\s*;?\s*$""").r
  private val DropCol =
    """(?is)^\s*ALTER\s+TABLE\s+([\w]+)\s+DROP\s+COLUMN\s+([\w]+)\s*;?\s*$""".r
  private val WidenCol =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w]+)\s+ALTER\s+COLUMN\s+([\w]+)""" +
      """\s+TYPE\s+([\w]+)\s*;?\s*$""").r
  // partition evolution: () = unpartition future writes
  private val Repartition =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w]+)\s+PARTITION(?:ED)?\s+BY""" +
      """\s*\(([^)]*)\)\s*;?\s*$""").r
  // Spark's own ANALYZE grammar, intercepted for bound tables: the
  // column list becomes a statsBy declaration (min/max + HLL NDV ride
  // every later write; the statement itself re-analyzes the current
  // snapshot in one pass). Unbound tables keep Spark's catalog path.
  private val Analyze =
    ("""(?is)^\s*ANALYZE\s+TABLE\s+([\w]+)\s+COMPUTE\s+STATISTICS""" +
      """\s+FOR\s+COLUMNS\s+([\w]+(?:\s*,\s*[\w]+)*)\s*;?\s*$""").r
  // cross-table atomic transaction (T-SQL-flavored BEGIN TRAN accepted).
  // Statement-at-a-time form of Warehouse.transaction: subsequent DML
  // on the declared tables commits tagged-invisible until COMMIT's
  // parent marker lands; ROLLBACK restores every pre-txn version.
  private val BeginTxn =
    ("""(?is)^\s*BEGIN\s+TRAN(?:SACTION)?\s+ON\s+""" +
      """([\w]+(?:\s*,\s*[\w]+)*)\s*;?\s*$""").r
  private val CommitTxn =
    """(?is)^\s*COMMIT(?:\s+TRAN(?:SACTION)?)?\s*;?\s*$""".r
  private val VacuumTxn =
    """(?is)^\s*VACUUM\s+TRANSACTIONS\s*;?\s*$""".r
  private val RollbackTxn =
    """(?is)^\s*ROLLBACK(?:\s+TRAN(?:SACTION)?)?\s*;?\s*$""".r

  /** Split a SET clause on top-level commas (commas inside function
    * calls or parenthesized expressions stay put). */
  private def splitAssignments(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; var start = 0
    s.zipWithIndex.foreach {
      case ('(', _) => depth += 1
      case (')', _) => depth -= 1
      case (',', i) if depth == 0 => out += s.substring(start, i); start = i + 1
      case _ => ()
    }
    out += s.substring(start)
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  private val Assign = """(?s)^\s*([\w]+)\s*=(.+)$""".r

  /** A literal vector's components — shared by every VECTOR/HYBRID
    * SEARCH case so the SQL surfaces cannot diverge on the syntax. */
  private def parseVec(vec: String): Seq[Double] =
    vec.split(",").map(_.trim).filter(_.nonEmpty).map(_.toDouble).toSeq

  private def cmd(session: SparkSession, out: Seq[Attribute])(
      f: SparkSession => Seq[Row]): LogicalPlan =
    GraftMaintenanceCommand(out)(f)

  private def attrs(cols: (String, org.apache.spark.sql.types.DataType)*)
      : Seq[Attribute] =
    cols.map { case (n, t) => AttributeReference(n, t, nullable = false)() }

  private val VersionAsOf =
    """(?i)\b([\w]+)\s+VERSION\s+AS\s+OF\s+(\d+)""".r
  private val TimestampAsOf =
    """(?i)\b([\w]+)\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'""".r

  /** Non-ISO fallback pattern: 'yyyy-MM-dd HH:mm:ss[.f…]' (the
    * java.sql.Timestamp shape, minus its JVM-default-timezone trap). */
  private val FallbackTs = new java.time.format.DateTimeFormatterBuilder()
    .appendPattern("yyyy-MM-dd HH:mm:ss")
    .optionalStart()
    .appendFraction(java.time.temporal.ChronoField.NANO_OF_SECOND,
      1, 9, true)
    .optionalEnd()
    .toFormatter

  /** The plan of one `SEARCH INDEX` statement: the text through the
    * index's own tokenizer (evaluated on the driver), then the
    * single-query BM25 plan (see the class doc). Output (doc_id, dl,
    * score), (score desc, doc_id). */
  private def searchPlan(session: SparkSession,
      read: String => DataFrame, idx: String,
      text: String, k: Int,
      docFilter: Option[DataFrame]): LogicalPlan = {
    val terms = graft.operators.TextIndex
      .tokenizeQueries(session, Seq((0L, text))).head._2
    graft.operators.TextIndex.queryOn(read, idx, terms, k, docFilter)
      .queryExecution.logical
  }

  private def parseInstant(s: String): java.time.Instant =
    scala.util.Try(java.time.Instant.parse(s)).getOrElse {
      // zoneless fallback forms resolve in the SESSION timezone
      // (spark.sql.session.timeZone), not the JVM default — a
      // reproducibility read ('TIMESTAMP AS OF') must name the same
      // instant on every host, or the same statement replays a
      // different index hours away from the intended cut
      val zone = java.time.ZoneId.of(
        org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
      val norm =
        if (s.contains(" ") || s.contains("T")) s.replace("T", " ")
        else s + " 00:00:00"
      java.time.LocalDateTime.parse(norm, FallbackTs)
        .atZone(zone).toInstant
    }

  /** Spans of `s` that are string literals (single- or double-quoted,
    * with `''`/backslash escapes), backtick-quoted identifiers, `--`
    * line comments, or (nested) bracketed comments — regions where
    * time-travel syntax is DATA, not syntax, and must never rewrite. */
  private[plans] def protectedSpans(s: String): Seq[(Int, Int)] = {
    val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    val n = s.length
    var i = 0
    while (i < n) {
      s.charAt(i) match {
        case q @ ('\'' | '"') =>
          val start = i; i += 1
          var open = true
          while (i < n && open) {
            if (s.charAt(i) == '\\' && i + 1 < n) i += 2
            else if (s.charAt(i) == q && i + 1 < n && s.charAt(i + 1) == q) i += 2
            else if (s.charAt(i) == q) { open = false; i += 1 }
            else i += 1
          }
          spans += ((start, i))
        case '`' =>
          val start = i; i += 1
          while (i < n && s.charAt(i) != '`') i += 1
          if (i < n) i += 1
          spans += ((start, i))
        case '-' if i + 1 < n && s.charAt(i + 1) == '-' =>
          val start = i
          while (i < n && s.charAt(i) != '\n') i += 1
          spans += ((start, i))
        case '/' if i + 1 < n && s.charAt(i + 1) == '*' =>
          val start = i; i += 2
          var depth = 1
          while (i < n && depth > 0) {
            if (i + 1 < n && s.charAt(i) == '/' && s.charAt(i + 1) == '*') {
              depth += 1; i += 2
            } else if (i + 1 < n && s.charAt(i) == '*' &&
              s.charAt(i + 1) == '/') { depth -= 1; i += 2 }
            else i += 1
          }
          spans += ((start, i))
        case _ => i += 1
      }
    }
    spans.toSeq
  }

  private def inSpan(spans: Seq[(Int, Int)], pos: Int): Boolean =
    spans.exists { case (a, b) => pos >= a && pos < b }

  /** Read-side time travel: rewrite every `table VERSION AS OF n`
    * reference bound to this session's warehouse into a temp view over
    * [[graft.olist.Warehouse.tableAt]] (an immutable file list — the
    * registration is metadata-only, so EXPLAIN of a time-travel query
    * stays side-effect-free on the data). Unbound names pass through
    * untouched, so catalog tables keep Spark's own AS OF semantics.
    * Matches beginning inside a string literal, quoted identifier, or
    * comment are data, not syntax — left byte-identical. */
  private[plans] def rewriteTimeTravel(session: SparkSession,
      sqlText: String): String = {
    val vSpans = protectedSpans(sqlText)
    val byVersion = VersionAsOf.replaceAllIn(sqlText, m => {
      val (t, v) = (m.group(1), m.group(2).toLong)
      boundTable(session, t) match {
        case Some(wh) if !inSpan(vSpans, m.start) =>
          val view = s"graft_tt_${t}_v$v"
          wh.tableAt(t, v).createOrReplaceTempView(view)
          scala.util.matching.Regex.quoteReplacement(view)
        case _ => scala.util.matching.Regex.quoteReplacement(m.matched)
      }
    })
    val tSpans = protectedSpans(byVersion)
    TimestampAsOf.replaceAllIn(byVersion, m => {
      val t = m.group(1)
      boundTable(session, t) match {
        case Some(wh) if !inSpan(tSpans, m.start) =>
          val ts = parseInstant(m.group(2))
          val view = s"graft_tt_${t}_t${math.abs(ts.toEpochMilli)}"
          wh.tableAtTime(t, ts).createOrReplaceTempView(view)
          scala.util.matching.Regex.quoteReplacement(view)
        case _ => scala.util.matching.Regex.quoteReplacement(m.matched)
      }
    })
  }

  /** Try to parse `sqlText` as a warehouse maintenance command bound
    * to this session's registered warehouse. None = delegate. */
  def command(session: SparkSession, sqlText: String): Option[LogicalPlan] =
    sqlText match {
      case BeginTxn(tables) =>
        // binds on the warehouse, not a table — declared tables may be
        // born inside the transaction (CTAS); a session without
        // enableSql delegates (and gets Spark's parse error)
        Option(registry.get(session)).map { wh =>
          val ts = tables.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          cmd(session, attrs("status" -> StringType,
            "tables" -> StringType)) { _ =>
            wh.beginTransaction(ts)
            Seq(Row("OPEN", ts.distinct.sorted.mkString(",")))
          }
        }
      case CommitTxn() =>
        Option(registry.get(session)).map { wh =>
          cmd(session, attrs("status" -> StringType)) { _ =>
            wh.commitTransaction(); Seq(Row("COMMITTED"))
          }
        }
      case RollbackTxn() =>
        Option(registry.get(session)).map { wh =>
          cmd(session, attrs("status" -> StringType)) { _ =>
            wh.rollbackTransaction(); Seq(Row("ROLLED_BACK"))
          }
        }
      case VacuumTxn() =>
        Option(registry.get(session)).map { wh =>
          cmd(session, attrs("markers_deleted" -> LongType)) { _ =>
            Seq(Row(wh.vacuumTxnMarkers().toLong))
          }
        }
      case Delete(table, cond) =>
        boundTable(session, table).map { wh =>
          cmd(session, attrs("rows_deleted" -> LongType,
            "files_dropped" -> LongType, "files_rewritten" -> LongType)) { _ =>
            val r = wh.delete(table, expr(cond))
            Seq(Row(r.rowsDeleted, r.filesDropped.toLong,
              r.filesRewritten.toLong))
          }
        }
      case Insert(table, body) =>
        boundTable(session, table).map { wh =>
          cmd(session, attrs("rows_inserted" -> LongType)) { s =>
            // the body re-parses as a plain query (VALUES or SELECT)
            // at execution time — EXPLAIN of an INSERT stays
            // side-effect-free like every other command here
            val df = s.sql(body)
            val target = wh.table(table).schema
            require(df.schema.size == target.size,
              s"INSERT INTO $table: ${df.schema.size} column(s) for " +
                s"${target.size}-column table (${target.fieldNames.mkString(", ")})")
            val positional = df.toDF(target.fieldNames.toIndexedSeq: _*)
              .select(target.map(f =>
                expr(s"`${f.name}`").cast(f.dataType).as(f.name)): _*)
            // one materialization serves both the count and the append:
            // a non-deterministic body (rand(), current_timestamp, a
            // concurrently-changing source) must not insert rows that
            // differ from the ones counted, and every INSERT paying
            // double execution is pure waste
            positional.persist()
            try {
              val n = positional.count()
              wh.append(table, positional)
              Seq(Row(n))
            } finally positional.unpersist()
          }
        }
      case Ctas(orReplace, ifNotExists, table, parts, kind, clusters, body) =>
        // binds on the WAREHOUSE, not an existing table — CTAS is how
        // the table comes to exist (the reference's `SELECT … INTO` /
        // CREATE TABLE batch, Olist DW.sql); a session without
        // enableSql delegates to Spark's grammar untouched
        Option(registry.get(session)).map { wh =>
          def cols(s: String): Seq[String] =
            Option(s).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
          val isZ = kind != null && kind.equalsIgnoreCase("ZORDER")
          cmd(session, attrs("status" -> StringType,
            "rows_written" -> LongType)) { s =>
            if (ifNotExists != null && wh.hasTable(table))
              Seq(Row("SKIPPED", wh.countRows(table).getOrElse(-1L)))
            else {
              require(orReplace != null || !wh.hasTable(table),
                s"CREATE TABLE $table: table exists " +
                  "(use CREATE OR REPLACE TABLE to overwrite)")
              wh.save(table, s.sql(body), partitionBy = cols(parts),
                clusterBy = cols(clusters), zorder = isZ)
              Seq(Row("OK", wh.countRows(table).getOrElse(-1L)))
            }
          }
        }
      case Update(table, sets, cond) =>
        boundTable(session, table).map { wh =>
          val assignments = splitAssignments(sets).map {
            case Assign(c, e) => c -> expr(e)
            case bad => throw new IllegalArgumentException(
              s"UPDATE $table: cannot parse assignment '$bad'")
          }.toMap
          cmd(session, attrs("rows_updated" -> LongType,
            "files_rewritten" -> LongType)) { _ =>
            val r = wh.update(table, expr(cond), assignments)
            Seq(Row(r.rowsUpdated, r.filesRewritten.toLong))
          }
        }
      case Vacuum(table, retain, grace) =>
        boundTable(session, table).map { wh =>
          cmd(session, attrs("status" -> StringType)) { _ =>
            // A SQL surface invites running VACUUM beside live writers
            // (unlike the programmatic call, whose scaladoc scopes the
            // zero-grace default to single-writer maintenance windows),
            // so the SQL default is the documented sound grace —
            // lockStaleMs, above the longest stage-to-commit gap.
            // `GRACE 0 HOURS` is the explicit opt-in for immediate
            // reclamation in a maintenance window.
            val graceMs = Option(grace).map(_.toLong * 3600000L)
              .getOrElse(wh.lockStaleMs)
            wh.vacuum(table, graceMs,
              keepVersions = Option(retain).map(_.toInt).getOrElse(1))
            Seq(Row("OK"))
          }
        }
      case OptimizeCluster(table, kind, cols) =>
        boundTable(session, table).map { wh =>
          val cs = cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          val isZ = kind.equalsIgnoreCase("ZORDER")
          cmd(session, attrs("status" -> StringType)) { _ =>
            wh.recluster(table, cs, zorder = isZ); Seq(Row("OK"))
          }
        }
      case OptimizeSmall(table, target, minRows) =>
        boundTable(session, table).map { wh =>
          cmd(session, attrs("status" -> StringType,
            "files_compacted" -> LongType)) { _ =>
            val r = wh.compactSmall(table, target.toLong, minRows.toLong)
            Seq(Row("OK", r.filesCompacted.toLong))
          }
        }
      case Optimize(table, where) =>
        boundTable(session, table).map { wh =>
          cmd(session, attrs("status" -> StringType,
            "files_compacted" -> LongType)) { _ =>
            if (where == null) { wh.compact(table); Seq(Row("OK", -1L)) }
            else {
              // partition-scoped OPTIMIZE: rewrite only matching partitions
              val r = wh.compactWhere(table, expr(where))
              Seq(Row("OK", r.filesCompacted.toLong))
            }
          }
        }
      case DescStats(table, colList) =>
        boundTable(session, table).map { wh =>
          cmd(session, attrs("column" -> StringType,
            "min" -> StringType, "max" -> StringType)) { _ =>
            val cs = colList.split(",").map(_.trim).filter(_.nonEmpty).toSeq
            // sums + avgs when the manifest can answer them (integral
            // columns with sum/nn stats); otherwise the classic
            // min/max-only form
            val withSums = wh.statsAggregate(table, cs,
              withSums = true, withAvgs = true)
            val df = withSums
              .orElse(wh.statsAggregate(table, cs)).getOrElse(
              throw new IllegalStateException(
                s"DESCRIBE STATS: manifest stats cannot answer exactly " +
                  s"for $table(${cs.mkString(", ")}) — a file lacks " +
                  "stats for a requested column; ANALYZE TABLE … FOR " +
                  "COLUMNS it, or scan"))
            val r = df.first()
            cs.map(c => Row(c,
              Option(r.getAs[Any](s"min_$c")).map(String.valueOf).orNull,
              Option(r.getAs[Any](s"max_$c")).map(String.valueOf).orNull)) ++
              (if (withSums.isDefined) cs.flatMap { c =>
                val s = Option(r.getAs[Any](s"sum_$c"))
                  .map(String.valueOf).orNull
                val a = Option(r.getAs[Any](s"avg_$c"))
                  .map(String.valueOf).orNull
                Seq(Row(s"__sum_$c", s, s), Row(s"__avg_$c", a, a))
              } else Nil) :+
              Row("__rows", r.getAs[Long]("cnt").toString,
                r.getAs[Long]("cnt").toString)
          }
        }
      case Pruning(table, where) =>
        boundTable(session, table).map { wh =>
          cmd(session, attrs("files_read" -> LongType,
            "files_total" -> LongType)) { _ =>
            val (c, t) = wh.pruningPreviewFor(table, expr(where))
            Seq(Row(c.toLong, t.toLong))
          }
        }
      case RefreshJoinMv(mv, fact, dim, keyList, idCol) =>
        boundTable(session, fact).map { wh =>
          cmd(session, attrs("status" -> StringType,
            "fact_ids" -> LongType, "dim_keys" -> LongType,
            "files_rewritten" -> LongType)) { _ =>
            val ks = keyList.split(",").map(_.trim).filter(_.nonEmpty).toSeq
            val r = wh.refreshJoinView(fact, dim, mv, ks, idCol)
            Seq(Row(if (r.bootstrapped) "BOOTSTRAPPED" else "OK",
              r.factIdsChanged, r.dimKeysChanged,
              r.filesRewritten.toLong))
          }
        }
      case CreateIdx(kind, idx, src, suite, withOpts) =>
        boundTable(session, src).map { wh =>
          cmd(session, attrs("status" -> StringType, "rows" -> LongType)) {
            _ =>
              require(suite == null || kind.equalsIgnoreCase("CONTAM"),
                s"SUITE applies to CONTAM indexes only, not $kind")
              // WITH (k = v, …): each family accepts ONLY its own
              // build params; an unknown key refuses loudly (a typo'd
              // n_cells silently falling back to 8 would freeze the
              // wrong geometry forever)
              val opts: Map[String, Int] = Option(withOpts)
                .map(_.split(",").iterator.map(_.trim)
                  .filter(_.nonEmpty).map { kv =>
                    val parts = kv.split("=").map(_.trim)
                    require(parts.length == 2 && parts(1).toIntOption
                        .exists(_ > 0),
                      s"CREATE $kind INDEX: malformed WITH option " +
                        s"'$kv' — expected key = positiveInt")
                    parts(0).toLowerCase -> parts(1).toInt
                  }.toMap)
                .getOrElse(Map.empty)
              def only(allowed: String*): Unit = {
                val bad = opts.keySet -- allowed.toSet
                require(bad.isEmpty,
                  s"CREATE $kind INDEX: unknown WITH option(s) " +
                    s"${bad.mkString(", ")} — $kind accepts " +
                    s"${allowed.mkString(", ")}")
              }
              val n =
                if (kind.equalsIgnoreCase("SEARCH")) {
                  only("n_files")
                  graft.operators.TextIndex.build(wh, idx, wh.table(src),
                    nFiles = opts.getOrElse("n_files", 8))
                } else if (kind.equalsIgnoreCase("DEDUP")) {
                  only("k", "bands", "n_files")
                  graft.operators.DedupIndex.build(wh, idx, wh.table(src),
                    k = opts.getOrElse("k", 16),
                    bands = opts.getOrElse("bands", 4),
                    nFiles = opts.getOrElse("n_files", 8))
                } else if (kind.equalsIgnoreCase("CONTAM")) {
                  only("n_files")
                  graft.operators.ContamGate.build(wh, idx, wh.table(src),
                    suite = Option(suite)
                      .getOrElse(graft.operators.ContamGate.DefaultSuite),
                    nFiles = opts.getOrElse("n_files", 4))
                } else {
                  // store_vectors = 1: the IVF-flat trade — raw member
                  // vectors ride the codes rows, so EXACT search reads
                  // them cell-pruned instead of re-scanning the source
                  only("n_cells", "m", "k", "store_vectors")
                  graft.operators.AnnIndex.build(wh, idx, wh.table(src),
                    nCells = opts.getOrElse("n_cells", 8),
                    m = opts.getOrElse("m", 8),
                    k = opts.getOrElse("k", 16),
                    storeVectors = opts.getOrElse("store_vectors", 0) != 0)
                }
              Seq(Row("OK", n))
          }
        }
      case RefreshIdx(kind, idx, src, suite) =>
        boundTable(session, src).map { wh =>
          cmd(session, attrs("status" -> StringType, "rows" -> LongType)) {
            _ =>
              require(suite == null || kind.equalsIgnoreCase("CONTAM"),
                s"SUITE applies to CONTAM indexes only, not $kind")
              val n =
                if (kind.equalsIgnoreCase("SEARCH"))
                  graft.operators.TextIndex.refresh(wh, idx, wh.table(src))
                else if (kind.equalsIgnoreCase("DEDUP"))
                  // the gate's refresh IS admission: judge + record the
                  // not-yet-seen docs; rows = fresh docs judged
                  graft.operators.DedupIndex.admit(wh, idx, wh.table(src))
                    .count()
                else if (kind.equalsIgnoreCase("CONTAM"))
                  // a new benchmark version/suite: only unseen
                  // (suite, gram) rows append; rows = grams added
                  graft.operators.ContamGate.refresh(wh, idx, wh.table(src),
                    suite = Option(suite)
                      .getOrElse(graft.operators.ContamGate.DefaultSuite))
                else
                  graft.operators.AnnIndex.refresh(wh, idx, wh.table(src))
              Seq(Row("OK", n))
          }
        }
      case AuditIdx(kind, idx) =>
        val anchor =
          if (kind.equalsIgnoreCase("SEARCH")) s"${idx}_postings"
          else if (kind.equalsIgnoreCase("DEDUP")) s"${idx}_bands"
          else if (kind.equalsIgnoreCase("CONTAM")) s"${idx}_grams"
          else s"${idx}_codes"
        boundTable(session, anchor).map { wh =>
          cmd(session, attrs("check" -> StringType,
              "status" -> StringType, "subject" -> StringType,
              "detail" -> StringType)) { _ =>
            (if (kind.equalsIgnoreCase("SEARCH"))
              graft.operators.TextIndex.audit(wh, idx)
            else if (kind.equalsIgnoreCase("DEDUP"))
              graft.operators.DedupIndex.audit(wh, idx)
            else if (kind.equalsIgnoreCase("CONTAM"))
              graft.operators.ContamGate.audit(wh, idx)
            else graft.operators.AnnIndex.audit(wh, idx))
              .collect().toSeq
          }
        }
      case DescIdx(kind, idx) =>
        // bind through each family's anchor table (serving DDL names
        // no source table)
        val anchor =
          if (kind.equalsIgnoreCase("SEARCH")) s"${idx}_postings"
          else if (kind.equalsIgnoreCase("DEDUP")) s"${idx}_bands"
          else if (kind.equalsIgnoreCase("CONTAM")) s"${idx}_grams"
          else s"${idx}_codes"
        boundTable(session, anchor).map { wh =>
          cmd(session, attrs("key" -> StringType, "value" -> StringType)) {
            _ =>
              val kv =
                if (kind.equalsIgnoreCase("SEARCH"))
                  graft.operators.TextIndex.describe(wh, idx)
                else if (kind.equalsIgnoreCase("DEDUP"))
                  graft.operators.DedupIndex.describe(wh, idx)
                else if (kind.equalsIgnoreCase("CONTAM"))
                  graft.operators.ContamGate.describe(wh, idx)
                else graft.operators.AnnIndex.describe(wh, idx)
              kv.map { case (k0, v0) => Row(k0, v0) }
          }
        }
      case OptimizeIdx(kind, idx, src) =>
        val anchor =
          if (kind.equalsIgnoreCase("SEARCH")) s"${idx}_postings"
          else if (kind.equalsIgnoreCase("DEDUP")) s"${idx}_bands"
          else if (kind.equalsIgnoreCase("CONTAM")) s"${idx}_grams"
          else s"${idx}_codes"
        boundTable(session, anchor).map { wh =>
          cmd(session, attrs("metric" -> StringType,
              "value" -> org.apache.spark.sql.types.LongType)) { _ =>
            // CONTAM refusal FIRST: the right error regardless of
            // whether the named table exists
            require(src == null || !kind.equalsIgnoreCase("CONTAM"),
              "OPTIMIZE CONTAM INDEX takes no ON table — the gate has " +
                "no removal tombstones (suites retire, docs don't)")
            val source = Option(src).map { t =>
              // existence is checkable here; SEMANTICS are the
              // caller's (IndexMaintenance.foldGone's contract): the
              // ON table must be the index's REFRESH SOURCE — for a
              // stream-fed index whose deliveries are the source,
              // folding against any mere table silently disarms
              // right-to-be-forgotten guards
              require(wh.hasTable(t),
                s"OPTIMIZE $kind INDEX $idx ON $t: no such table in " +
                  "this index's warehouse")
              // …and the one stream-fed shape that IS detectable
              // refuses loudly: a table with an ingest ledger is fed
              // by deliveries, so the table is NOT the refresh source
              // — after a Forget the doc is gone from it, the fold
              // would judge its guard dead, and the next replayed
              // delivery would silently resurrect the forgotten doc
              // (exactly the hazard Ingest.optimize refuses; SQL made
              // it one typo away)
              require(!wh.hasTable(
                  graft.operators.Ingest.ledgerTable(t)),
                s"OPTIMIZE $kind INDEX $idx ON $t: $t is a stream-fed " +
                  "ingest table (it has an ingest ledger) — its future " +
                  "deliveries, not the table, are this index's refresh " +
                  "source, so folding tombstones against it would let " +
                  "a replayed delivery resurrect forgotten docs. Fold " +
                  "against an upstream retention boundary via the " +
                  "API's foldTombstones instead")
              wh.table(t)
            }
            val kv =
              if (kind.equalsIgnoreCase("SEARCH"))
                graft.operators.TextIndex.optimize(wh, idx,
                  source = source)
              else if (kind.equalsIgnoreCase("DEDUP"))
                graft.operators.DedupIndex.optimize(wh, idx,
                  source = source)
              else if (kind.equalsIgnoreCase("CONTAM"))
                graft.operators.ContamGate.optimize(wh, idx)
              else graft.operators.AnnIndex.optimize(wh, idx,
                source = source)
            kv.map { case (k0, v0) => Row(k0, v0) }
          }
        }
      case DescRecall(idx, src) =>
        boundTable(session, src).map { wh =>
          cmd(session, attrs("key" -> StringType,
              "value" -> StringType)) { _ =>
            // the API twin verbatim: deterministic 20-query sample
            // ([[AnnIndex.probeQueryIds]]) probed under the real
            // serving defaults against the exact one-pass ground
            // truth — plus the SLO inputs, so the on-call reader sees
            // WHAT was measured, not just the number
            val source = wh.table(src)
            val qids = graft.operators.AnnIndex
              .probeQueryIds(wh, idx, source, 20)
            // pass the serving constants EXPLICITLY and echo those same
            // values — the reported parameters are the measured ones by
            // construction, not literals that must mirror a default
            val (tk, oq, np) = (graft.operators.AnnIndex.DefaultTopK,
              graft.operators.AnnIndex.DefaultOverquery,
              graft.operators.AnnIndex.DefaultNProbe)
            val r = graft.operators.AnnIndex
              .recallProbe(wh, idx, source, qids, tk, oq, np)
            Seq(Row("recall", f"$r%.4f"),
              Row("sample_queries", qids.size.toString),
              Row("top_k", tk.toString), Row("overquery", oq.toString),
              Row("n_probe", np.toString))
          }
        }
      case AutoResizeIdx(idx, src, maxRows) =>
        boundTable(session, src).map { wh =>
          cmd(session, attrs("key" -> StringType,
              "value" -> StringType)) { _ =>
            val r = graft.operators.AnnIndex.autoResize(wh, idx,
              wh.table(src), maxRows.toLong)
            Seq(Row("resized", r.nonEmpty.toString)) ++
              r.toSeq.flatMap { case (nc, n) =>
                Seq(Row("n_cells", nc.toString),
                  Row("vectors", n.toString))
              }
          }
        }
      case RetrainIdx(idx, src, thr, withGeom) =>
        boundTable(session, src).map { wh =>
          cmd(session, attrs("key" -> StringType,
              "value" -> StringType)) { _ =>
            val source = wh.table(src)
            require(thr == null || withGeom == null,
              s"ALTER VECTOR INDEX $idx RETRAIN: THRESHOLD and WITH " +
                "cannot combine — a threshold-gated retrain is the " +
                "scheduled drift lane (recorded geometry by contract); " +
                "a re-shape is a deliberate, unconditional act")
            Option(withGeom).map { w =>
              // deliberate re-shape: WITH (n_cells = …, m = …, k = …);
              // unlisted keys keep the index's recorded values
              val kv = w.split(",").map(_.trim).filter(_.nonEmpty)
                .map { e =>
                  val parts = e.split("=", 2).map(_.trim)
                  require(parts.length == 2 && parts(1).toIntOption.nonEmpty,
                    s"ALTER VECTOR INDEX $idx RETRAIN WITH: unparsable " +
                      s"entry '$e' (expected key = int)")
                  parts(0).toLowerCase -> parts(1).toInt
                }.toMap
              val unknown = kv.keySet -- Set("n_cells", "m", "k")
              require(unknown.isEmpty,
                s"ALTER VECTOR INDEX $idx RETRAIN WITH: unknown " +
                  s"geometry key(s) ${unknown.mkString(", ")} — " +
                  "supported: n_cells, m, k")
              val (nc0, m0, k0) = graft.operators.AnnIndex
                .geometry(wh, idx)
              val (nc, m, k) = (kv.getOrElse("n_cells", nc0),
                kv.getOrElse("m", m0), kv.getOrElse("k", k0))
              val n = graft.operators.AnnIndex
                .retrainAs(wh, idx, source, nc, m, k)
              Seq(Row("retrained", "true"),
                Row("n_cells", nc.toString), Row("m", m.toString),
                Row("k", k.toString), Row("vectors", n.toString))
            }.getOrElse(Option(thr) match {
              case None =>
                // unconditional: retrain on the current distribution,
                // recorded geometry, atomic swap
                val n = graft.operators.AnnIndex.retrain(wh, idx, source)
                Seq(Row("retrained", "true"), Row("vectors", n.toString))
              case Some(t) =>
                // threshold-gated: maintain()'s probe-then-retrain —
                // measure first, retrain only below the SLO, re-probe
                // the SAME query sample after
                val slo = t.toDouble
                require(slo > 0.0 && slo <= 1.0,
                  s"ALTER VECTOR INDEX $idx RETRAIN: THRESHOLD $t must " +
                    "be a recall fraction in (0, 1]")
                val (before, after) = graft.operators.AnnIndex
                  .maintain(wh, idx, source, slo = slo)
                Seq(Row("recall_before", f"$before%.4f"),
                  Row("retrained", after.nonEmpty.toString)) ++
                  after.map(a => Row("recall_after", f"$a%.4f"))
            })
          }
        }
      case SearchIdx(idx, text, k, asOf) =>
        // bind through the index's own postings table — serving names
        // no source table (scores come from the stored decomposition)
        boundTable(session, s"${idx}_postings").map { wh =>
          val read =
            if (asOf == null)
              graft.operators.TextIndex.servingSnapshot(wh, idx)
            else graft.operators.TextIndex.servingSnapshotAt(wh, idx,
              parseInstant(asOf))
          searchPlan(session, read, idx, text, k.toInt, None)
        }
      case SearchIdxFiltered(idx, src, text, k, pred, asOf) =>
        boundTable(session, src).map { wh =>
          if (asOf == null)
            searchPlan(session,
              graft.operators.TextIndex.servingSnapshot(wh, idx), idx,
              text, k.toInt, Some(wh.table(src).filter(expr(pred))))
          else {
            // the allowlist evaluates against the SAME instant's
            // source rows — replaying a filtered query needs the
            // filter's world frozen too
            val snap = wh.snapshotTablesAt(
              graft.operators.TextIndex.servingTables(idx) :+ src,
              parseInstant(asOf))
            searchPlan(session, snap(_), idx, text, k.toInt,
              Some(snap(src).filter(expr(pred))))
          }
        }
      case VectorSearchFiltered(idx, src, vec, k, pred, exact, asOf) =>
        boundTable(session, src).map { wh =>
          val v = parseVec(vec)
          val out =
            if (exact != null) {
              // EXACT: brute-force-equal filtered ranking, cell-bound
              // adaptive probe (AnnIndex.queryVecExact)
              if (asOf == null)
                graft.operators.AnnIndex.queryVecExact(wh, idx,
                  wh.table(src), v, topK = k.toInt,
                  filter = Some(expr(pred)))
              else {
                val snap = wh.snapshotTablesAt(
                  graft.operators.AnnIndex.servingTables(idx) :+ src,
                  parseInstant(asOf))
                graft.operators.AnnIndex.queryVecExactOn(snap(_), idx,
                  snap(src), v, topK = k.toInt,
                  filter = Some(expr(pred)))
              }
            } else if (asOf == null)
              graft.operators.AnnIndex.queryVecBatch(wh, idx,
                wh.table(src), Seq((0L, v)), topK = k.toInt,
                filter = Some(expr(pred)))
                .drop("query_id")
            else {
              val snap = wh.snapshotTablesAt(
                graft.operators.AnnIndex.servingTables(idx) :+ src,
                parseInstant(asOf))
              graft.operators.AnnIndex.queryVecBatchOn(snap(_), idx,
                snap(src), Seq((0L, v)), topK = k.toInt,
                filter = Some(expr(pred)))
                .drop("query_id")
            }
          out.queryExecution.logical
        }
      case VectorSearchId(idx, src, id, k, asOf) =>
        boundTable(session, src).map { wh =>
          if (asOf == null)
            graft.operators.AnnIndex.query(wh, idx, wh.table(src),
              id.toLong, topK = k.toInt).queryExecution.logical
          else {
            // the stored-row form AS OF: the query VECTOR itself comes
            // from the historical source (the row may have changed or
            // vanished since), then rides the literal path — which the
            // specs pin bit-equal to the id form
            val snap = wh.snapshotTablesAt(
              graft.operators.AnnIndex.servingTables(idx) :+ src,
              parseInstant(asOf))
            val rows = snap(src).filter(expr(s"vec_id = ${id.toLong}"))
              .selectExpr("cast(embedding as array<double>)")
              .collect()
            require(rows.nonEmpty,
              s"VECTOR SEARCH NEAREST ID $id AS OF: no such vec_id in " +
                s"$src at that instant")
            graft.operators.AnnIndex.queryVecBatchOn(snap(_), idx,
                snap(src), Seq((id.toLong, rows.head.getSeq[Double](0))),
                topK = k.toInt)
              .drop("query_id").queryExecution.logical
          }
        }
      case VectorSearch(idx, src, vec, k, exact, asOf) =>
        boundTable(session, src).map { wh =>
          val v = parseVec(vec)
          val out =
            if (exact != null) {
              if (asOf == null)
                graft.operators.AnnIndex.queryVecExact(wh, idx,
                  wh.table(src), v, topK = k.toInt)
              else {
                val snap = wh.snapshotTablesAt(
                  graft.operators.AnnIndex.servingTables(idx) :+ src,
                  parseInstant(asOf))
                graft.operators.AnnIndex.queryVecExactOn(snap(_), idx,
                  snap(src), v, topK = k.toInt)
              }
            } else if (asOf == null)
              graft.operators.AnnIndex.queryVecBatch(wh, idx,
                wh.table(src), Seq((0L, v)), topK = k.toInt)
                .drop("query_id")
            else {
              // ONE historical cut over index + source: the re-rank's
              // float vectors come from the same instant as the codes
              // (a stream-fed base and its index advance under one
              // marker — the joint cut is tear-checked across both)
              val snap = wh.snapshotTablesAt(
                graft.operators.AnnIndex.servingTables(idx) :+ src,
                parseInstant(asOf))
              graft.operators.AnnIndex.queryVecBatchOn(snap(_), idx,
                snap(src), Seq((0L, v)), topK = k.toInt)
                .drop("query_id")
            }
          out.queryExecution.logical
        }
      case HybridSearch(annIdx, textIdx, src, text, vec, k, asOf) =>
        boundTable(session, src).map { wh =>
          val v = parseVec(vec)
          val out =
            if (asOf == null)
              graft.operators.AnnIndex.hybridQueryVecBatch(wh, annIdx,
                textIdx, wh.table(src), Seq((0L, text, v)),
                topK = k.toInt)
            else {
              val snap = wh.snapshotTablesAt(
                (graft.operators.AnnIndex.servingTables(annIdx) ++
                  graft.operators.TextIndex.servingTables(textIdx))
                  :+ src,
                parseInstant(asOf))
              graft.operators.AnnIndex.hybridQueryVecBatchOn(snap(_),
                annIdx, textIdx, snap(src), Seq((0L, text, v)),
                topK = k.toInt)
            }
          out.drop("query_id").queryExecution.logical
        }
      case HybridSearchFiltered(annIdx, textIdx, src, text, vec, k,
          pred, asOf) =>
        boundTable(session, src).map { wh =>
          val v = parseVec(vec)
          val out =
            if (asOf == null)
              graft.operators.AnnIndex.hybridQueryVecBatch(wh, annIdx,
                textIdx, wh.table(src), Seq((0L, text, v)),
                topK = k.toInt, filter = Some(expr(pred)))
            else {
              val snap = wh.snapshotTablesAt(
                (graft.operators.AnnIndex.servingTables(annIdx) ++
                  graft.operators.TextIndex.servingTables(textIdx))
                  :+ src,
                parseInstant(asOf))
              graft.operators.AnnIndex.hybridQueryVecBatchOn(snap(_),
                annIdx, textIdx, snap(src), Seq((0L, text, v)),
                topK = k.toInt, filter = Some(expr(pred)))
            }
          out.drop("query_id").queryExecution.logical
        }
      case RetireSuite(idx, suite) =>
        // bind through the gate's own gram table — retirement names no
        // source table
        boundTable(session, s"${idx}_grams").map { wh =>
          cmd(session, attrs("status" -> StringType, "rows" -> LongType)) {
            _ =>
              Seq(Row("OK",
                graft.operators.ContamGate.retire(wh, idx, suite)))
          }
        }
      case History(table) =>
        boundTable(session, table).map { wh =>
          // rows = the snapshot's total row count after each commit
          // (-1 when a file in that snapshot predates row stats)
          cmd(session, attrs("version" -> LongType, "operation" -> StringType,
            "committed_at" -> StringType, "files" -> LongType,
            "rows" -> LongType)) { _ =>
            wh.history(table).map(c =>
              Row(c.version, c.op, c.committedAt, c.files.toLong,
                c.rows.getOrElse(-1L)))
          }
        }
      case Clone(src, dst, version) =>
        boundTable(session, src).map { wh =>
          cmd(session, attrs("status" -> StringType)) { _ =>
            wh.cloneTable(src, dst, Option(version).map(_.toLong))
            Seq(Row("OK"))
          }
        }
      case Pin(table, version, holder, lease) =>
        boundTable(session, table).map { wh =>
          cmd(session, attrs("status" -> StringType)) { _ =>
            wh.pinVersion(table, version.toLong, holder,
              Option(lease).map(_.toLong))
            Seq(Row("OK"))
          }
        }
      case Unpin(table, holder) =>
        boundTable(session, table).map { wh =>
          cmd(session, attrs("status" -> StringType)) { _ =>
            wh.unpinVersion(table, holder)
            Seq(Row("OK"))
          }
        }
      case Audit(table, deep) =>
        boundTable(session, table).map { wh =>
          cmd(session, attrs("check" -> StringType,
              "status" -> StringType, "subject" -> StringType,
              "detail" -> StringType)) { _ =>
            wh.audit(table, deep = deep != null).collect().toSeq
          }
        }
      case DescPins(table) =>
        boundTable(session, table).map { wh =>
          cmd(session, attrs("holder" -> StringType,
              "version" -> org.apache.spark.sql.types.LongType,
              "pinned_at" -> StringType, "age_ms" -> LongType,
              "lease_ms" -> LongType, "expired" -> StringType)) { _ =>
            val now = System.currentTimeMillis
            wh.pinDetails(table).sortBy(_.holder).map { p =>
              Row(p.holder, p.version,
                p.pinnedAtMs.map(ms =>
                  java.time.Instant.ofEpochMilli(ms).toString)
                  .getOrElse("unknown"),
                p.pinnedAtMs.map(now - _).getOrElse(-1L),
                p.leaseMs.getOrElse(-1L),
                p.expired(now).toString)
            }
          }
        }
      case Drop(table) =>
        boundTable(session, table).map { wh =>
          cmd(session, attrs("status" -> StringType)) { _ =>
            wh.dropTable(table); Seq(Row("OK"))
          }
        }
      case Detail(table) =>
        boundTable(session, table).map { wh =>
          cmd(session, attrs("key" -> StringType, "value" -> StringType)) {
            _ => wh.describeDetail(table).map { case (k, v) => Row(k, v) }
          }
        }
      case IngestLog(table) =>
        // the ledger is an UNBOUNDED table (one row per landed batch) —
        // hand SQL its logical plan directly so the read stays a
        // distributed scan; a collect()-backed command row-set would
        // materialize a year of batches on the driver
        boundTable(session, table).map { wh =>
          graft.operators.Ingest.ledger(wh, table).queryExecution.logical
        }
      case IngestBlame(table) =>
        boundTable(session, table).map { wh =>
          graft.operators.Ingest.blameLedger(wh, table)
            .queryExecution.logical
        }
      case IngestMaint(table) =>
        boundTable(session, table).map { wh =>
          graft.operators.Ingest.maintLedger(wh, table)
            .queryExecution.logical
        }
      case Refresh(table) =>
        boundTable(session, table).map { wh =>
          cmd(session, attrs("status" -> StringType)) { _ =>
            wh.refreshTable(table); Seq(Row("OK"))
          }
        }
      case Analyze(table, cols) =>
        boundTable(session, table).map { wh =>
          cmd(session, attrs("status" -> StringType)) { _ =>
            wh.statsBy(table,
              cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
            Seq(Row("OK"))
          }
        }
      case Restore(table, version) =>
        boundTable(session, table).map { wh =>
          cmd(session, attrs("status" -> StringType)) { _ =>
            wh.restore(table, version.toLong); Seq(Row("OK"))
          }
        }
      case RenameCol(table, from, to) =>
        boundTable(session, table).map { wh =>
          cmd(session, attrs("status" -> StringType)) { _ =>
            wh.renameColumn(table, from, to); Seq(Row("OK"))
          }
        }
      case DropCol(table, colName) =>
        boundTable(session, table).map { wh =>
          cmd(session, attrs("status" -> StringType)) { _ =>
            wh.dropColumn(table, colName); Seq(Row("OK"))
          }
        }
      case WidenCol(table, colName, typeName) =>
        boundTable(session, table).map { wh =>
          val dt = session.sessionState.sqlParser.parseDataType(typeName)
          cmd(session, attrs("status" -> StringType)) { _ =>
            wh.widenColumn(table, colName, dt); Seq(Row("OK"))
          }
        }
      case Repartition(table, cols) =>
        boundTable(session, table).map { wh =>
          val parts = cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          cmd(session, attrs("status" -> StringType)) { _ =>
            wh.repartitionTable(table, parts); Seq(Row("OK"))
          }
        }
      case Merge(table, source, on) =>
        boundTable(session, table).map { wh =>
          val keys = on.split("(?i)\\s+AND\\s+").toSeq.map {
            case OnKey(l, r) =>
              require(l.equalsIgnoreCase(r), s"MERGE INTO $table: ON " +
                s"conjunct '$l = $r' must name the SAME column on both sides")
              l
            case bad => throw new IllegalArgumentException(
              s"MERGE INTO $table: ON clause must be equality conjuncts " +
                s"of shape t.col = s.col; cannot parse '$bad'")
          }
          cmd(session, attrs("status" -> StringType)) { s =>
            wh.merge(table, s.table(source), keys)
            Seq(Row("OK"))
          }
        }
      case _ => None
    }
}

/** The runnable node every parsed maintenance command lowers to: the
  * side effect runs through the bound warehouse at execution time (not
  * parse time — EXPLAIN of a DELETE must not delete). */
case class GraftMaintenanceCommand(
    override val output: Seq[Attribute])(
    body: SparkSession => Seq[Row]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = body(session)
  override def otherCopyArgs: Seq[AnyRef] = body :: Nil
}
