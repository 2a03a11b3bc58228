package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel,
  UnresolvedAttribute, UnresolvedIdentifier, UnresolvedRelation,
  UnresolvedTable, UnresolvedTableOrView}
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression,
  Literal}
import org.apache.spark.sql.catalyst.parser.{ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** SQL entry points for the transaction-log operations the Scala API
  * provides. Spark's own parser produces the plan for every statement
  * it has grammar for, and [[TxnLogStatementRule]] lowers the plan
  * onto a txnlog command when its target is ours:
  *
  * {{{
  *   DELETE FROM txnlog.`/path/to/table` WHERE k % 10 = 3
  *   UPDATE txnlog.`/p` SET v = v + 1, s = 'x' WHERE k % 10 = 3
  *   INSERT INTO | OVERWRITE txnlog.`/p` [(cols)] <query>
  *   MERGE [WITH SCHEMA EVOLUTION] INTO txnlog.`/p` t USING src s
  *     ON t.k = s.k
  *     WHEN MATCHED [AND c] THEN UPDATE SET v = t.v + s.v | SET * | DELETE
  *     WHEN NOT MATCHED [AND c] THEN INSERT * | INSERT (cols) VALUES (..)
  *     WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET .. | DELETE
  *   ALTER TABLE txnlog.`/p` ADD COLUMNS (x BIGINT DEFAULT 7)
  *   ALTER TABLE txnlog.`/p` DROP COLUMN x | RENAME COLUMN a TO b
  *   ALTER TABLE txnlog.`/p` ALTER COLUMN c TYPE DOUBLE | SET|DROP NOT NULL
  *   ALTER TABLE txnlog.`/p` ADD CONSTRAINT n CHECK (v > 0) | DROP CONSTRAINT n
  *   ALTER TABLE txnlog.`/p` SET | UNSET TBLPROPERTIES (...)
  *   SHOW PARTITIONS txnlog.`/p`      SHOW TBLPROPERTIES txnlog.`/p`
  *   CREATE [OR REPLACE] TABLE t (cols) USING txnlog [PARTITIONED BY ..]
  *   SELECT ... FROM txnlog.`/p` VERSION AS OF 3 | TIMESTAMP AS OF '..'
  * }}}
  *
  * Six statements have no Spark grammar, so this front end recognizes
  * them as text before it delegates:
  *
  * {{{
  *   OPTIMIZE txnlog.`/p` [WHERE <partition spec>] [ZORDER BY (a, b)]
  *   VACUUM txnlog.`/p` [RETAIN 168 HOURS] [DRY RUN]
  *   DESCRIBE DETAIL txnlog.`/p`      DESCRIBE HISTORY txnlog.`/p` [LIMIT n]
  *   RESTORE TABLE txnlog.`/p` TO VERSION AS OF 3 | TIMESTAMP AS OF ts
  *   CREATE TABLE dst SHALLOW CLONE src [VERSION AS OF n] [LOCATION '..']
  * }}}
  *
  * Two refusals of Spark's parser are answered for txnlog tables (see
  * [[GraftSqlParser.parseRefused]]): a MERGE whose USING source is a
  * time-traveled txnlog path, and SET TBLPROPERTIES with a key Spark
  * reserves. Tables address either by path (the Delta
  * `format.\`/path\`` convention) or by a catalog table created
  * `USING txnlog`. The parser is a delegating front end (the
  * SparkSessionExtensions injectParser seam Delta's SQL support
  * rides); a statement whose target is not a txnlog table keeps
  * Spark's own plan, so other catalogs in the session keep their
  * native DML. */
class GraftSqlParser(delegate: ParserInterface,
    session: () => SparkSession = () => SparkSession.active)
  extends ParserInterface {
  import GraftSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan = {
    val plan = parseGraftStatement(sqlText).getOrElse(
      try delegate.parsePlan(sqlText)
      catch { case e: ParseException =>
        parseRefused(session(), delegate, sqlText, e)
      })
    resolveTxnlogPaths(session(), plan)
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  // temp-view text re-parses through parseQuery at every lookup (the
  // per-query re-resolution seam) — txnlog path references must
  // substitute here exactly as in parsePlan, or a view over
  // txnlog.`/p` fails analysis as SQL-on-files
  override def parseQuery(sqlText: String): LogicalPlan =
    resolveTxnlogPaths(session(), delegate.parseQuery(sqlText))
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

object GraftSqlParser {

  private val Ident = """[\w.]+|txnlog\.`[^`]+`"""
  private val OptimizeRe =
    (s"""(?is)^\\s*OPTIMIZE\\s+($Ident)(?:\\s+WHERE\\s+(.+?))?""" +
      """(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?\s*;?\s*$""").r
  private val VacuumRe =
    (s"""(?is)^\\s*VACUUM\\s+($Ident)(?:\\s+RETAIN\\s+(\\d+)\\s+HOURS)?""" +
      """(?:\s+(DRY\s+RUN))?\s*;?\s*$""").r
  private val DetailRe =
    s"""(?is)^\\s*DESCRIBE\\s+DETAIL\\s+($Ident)\\s*;?\\s*$$""".r
  private val HistoryRe =
    s"""(?is)^\\s*DESCRIBE\\s+HISTORY\\s+($Ident)(?:\\s+LIMIT\\s+(\\d+))?\\s*;?\\s*$$""".r
  private val RestoreRe =
    (s"""(?is)^\\s*RESTORE\\s+TABLE\\s+($Ident)\\s+TO\\s+""" +
      """(?:VERSION\s+AS\s+OF\s+(\d+)|""" +
      """TIMESTAMP\s+AS\s+OF\s+(?:'([^']+)'|(\d+)))\s*;?\s*$""").r
  // CREATE TABLE dst SHALLOW CLONE src [VERSION AS OF n |
  // TIMESTAMP AS OF 'ts'] [LOCATION '...'] — Delta's zero-copy fork
  private val CloneRe =
    (s"""(?is)^\\s*CREATE\\s+TABLE\\s+(IF\\s+NOT\\s+EXISTS\\s+)?""" +
      s"""($Ident)\\s+SHALLOW\\s+CLONE\\s+($Ident)""" +
      """(?:\s+VERSION\s+AS\s+OF\s+(\d+))?""" +
      """(?:\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)')?""" +
      """(?:\s+LOCATION\s+'([^']+)')?\s*;?\s*$""").r
  // the two refusals parseRefused answers
  private val MergeHeadRe = """(?is)^\s*MERGE\b.*""".r
  private val MergeTravelSourceRe =
    ("""(?is)(\bUSING\s+)(txnlog\.`[^`]+`\s+(?:VERSION|TIMESTAMP)""" +
      """\s+AS\s+OF\s+(?:\d+|'[^']*'))""").r
  private val SetPropsRe =
    """(?is)^\s*ALTER\s+TABLE\s+(.+?)\s+SET\s+TBLPROPERTIES\s*(\([\s\S]*\))\s*;?\s*$""".r

  /** The six statements Spark has no grammar for, recognized by their
    * leading keywords; None hands the text to Spark's parser. */
  private[sources] def parseGraftStatement(sqlText: String)
      : Option[LogicalPlan] = sqlText match {
    case OptimizeRe(tbl, where, zcols) =>
      Some(TxnLogOptimizeCommand(tbl, Option(where),
        Option(zcols).map(_.split(',').map(_.trim).toSeq)))
    case VacuumRe(tbl, hours, dry) =>
      Some(TxnLogVacuumCommand(tbl, Option(hours).map(_.toLong),
        dryRun = dry != null))
    case HistoryRe(tbl, limit) =>
      Some(TxnLogHistoryCommand(tbl, Option(limit).map(_.toInt)))
    case DetailRe(tbl) =>
      Some(TxnLogDetailCommand(tbl))
    case RestoreRe(tbl, ver, tsQ, tsN) =>
      Some(TxnLogRestoreCommand(tbl, Option(ver).map(_.toLong),
        Option(tsQ).orElse(Option(tsN))))
    case CloneRe(ine, dst, srcT, ver, ts, loc) =>
      Some(TxnLogCloneCommand(dst, ine != null, srcT,
        Option(ver).map(_.toLong), Option(ts), Option(loc)))
    case _ => None
  }

  /** Statements Spark's parser refuses but a txnlog table accepts:
    *  - a MERGE whose USING source is a time-traveled txnlog path
    *    (Spark's MERGE grammar has no temporal clause on the source) —
    *    re-parsed with that source as the equivalent subquery. Any
    *    other refused MERGE fails naming the clause grammar;
    *  - SET TBLPROPERTIES with a key Spark reserves (`owner`,
    *    `comment`, ...): a txnlog table's properties live in its log,
    *    so the statement is read through Spark's SET SERDEPROPERTIES
    *    grammar (the same property list, no reserved keys) instead.
    *    Other targets keep Spark's refusal.
    * Anything else rethrows Spark's own error. */
  private[sources] def parseRefused(spark: SparkSession,
      delegate: ParserInterface, sqlText: String,
      refusal: ParseException): LogicalPlan = sqlText match {
    case MergeHeadRe() =>
      val asSubquery = MergeTravelSourceRe.replaceAllIn(sqlText, m =>
        scala.util.matching.Regex.quoteReplacement(
          s"${m.group(1)}(SELECT * FROM ${m.group(2)})"))
      try delegate.parsePlan(asSubquery)
      catch { case _: ParseException =>
        throw new IllegalArgumentException(
          s"cannot parse MERGE statement: ${refusal.getMessage} " +
            "(supported: WHEN MATCHED [AND c] THEN UPDATE SET a = e, ... | " +
            "UPDATE SET * | DELETE; WHEN NOT MATCHED [BY TARGET] [AND c] " +
            "THEN INSERT * | INSERT (cols) VALUES (...) with one VALUES " +
            "expression per column; WHEN NOT MATCHED BY SOURCE [AND c] " +
            "THEN UPDATE SET ... | DELETE)", refusal)
      }
    case SetPropsRe(name, list) =>
      val asSerde =
        try delegate.parsePlan(s"ALTER TABLE $name SET SERDEPROPERTIES $list")
        catch { case _: ParseException => throw refusal }
      asSerde match {
        case SetTableSerDeProperties(target, _, Some(props), None) =>
          nameParts(target).flatMap(tryResolveTable(spark, _))
            .map(TxnLogPropertiesCommand(_, props, Nil))
            .getOrElse(throw refusal)
        case _ => throw refusal
      }
    case _ => throw refusal
  }

  /** Validate a column DEFAULT and freeze it into the field's
    * metadata — the ONE gate every DDL spelling routes through
    * (CREATE, CREATE OR REPLACE and ADD COLUMNS, whose parsed columns
    * arrive with Spark's UNANALYZED default text). Constant-only
    * (analyzed rowless — column references refuse),
    * deterministic-only (the value is served to every pre-evolution
    * read forever), castable (ANSI errors refuse by name), stored as
    * the FOLDED literal (null normalizes to the bare NULL keyword
    * consumers can recognize without re-analysis). */
  private[sources] def frozenDefault(spark: SparkSession,
      f: StructField, d: String): StructField = {
    val plan =
      try spark.sql(s"SELECT CAST(($d) AS ${f.dataType.sql})")
      catch { case e: Exception =>
        throw new IllegalArgumentException(
          s"cannot use DEFAULT $d for column ${f.name}: " +
            s"${e.getMessage}", e)
      }
    require(plan.queryExecution.analyzed.expressions
      .forall(_.deterministic),
      s"DEFAULT $d for column ${f.name} is non-deterministic — " +
        "a default must be a constant (it is frozen at " +
        "CREATE/ADD time and served to every pre-evolution read)")
    // Fold on the DRIVER via the optimizer's constant folding — the
    // r18 shape ran plan.head(), one 1-row Spark JOB per defaulted
    // column at DDL time (r20 verdict wrong #2); DDL sits on
    // interactive paths. ANSI cast failures surface while computing
    // optimizedPlan and refuse by name exactly as head() did.
    import org.apache.spark.sql.catalyst.expressions.Alias
    val folded: Option[Literal] =
      try plan.queryExecution.optimizedPlan match {
        case Project(projectList, _) => projectList.head match {
          case Alias(l: Literal, _) => Some(l)
          case l: Literal           => Some(l)
          case _                    => None
        }
        case _ => None
      } catch { case e: Exception =>
        throw new IllegalArgumentException(
          s"cannot use DEFAULT $d for column ${f.name}: " +
            s"${e.getMessage}", e)
      }
    val (isNull, litSql) = folded match {
      case Some(l) => (l.value == null, l.sql)
      case None =>
        // a deterministic constant the optimizer would not fold is
        // unexpected — keep head()'s rowless evaluation as the
        // refuse-identically fallback (one bounded 1-row job)
        val v = try plan.head() catch { case e: Exception =>
          throw new IllegalArgumentException(
            s"cannot use DEFAULT $d for column ${f.name}: " +
              s"${e.getMessage}", e)
        }
        (v.isNullAt(0),
          if (v.isNullAt(0)) "NULL"
          else Literal.create(v.get(0), f.dataType).sql)
    }
    require(!isNull || d.equalsIgnoreCase("NULL"),
      s"DEFAULT $d does not cast to ${f.dataType.simpleString} " +
        s"for column ${f.name}")
    val lit = if (isNull) "NULL" else litSql
    f.copy(metadata =
      new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .putString("CURRENT_DEFAULT", lit)
        .putString("EXISTS_DEFAULT", lit).build())
  }

  /** Route every default-carrying field of a parsed schema through
    * [[frozenDefault]] — Spark's parser stores the raw (unanalyzed,
    * possibly non-constant) DEFAULT text. */
  private[sources] def revalidateDefaults(spark: SparkSession,
      schema: StructType): StructType =
    StructType(schema.fields.map { f =>
      TxnLog.defaultSql(f) match {
        case Some(d) => frozenDefault(spark, f, d)
        case None    => f
      }
    })

  /** The path of a `txnlog.\`/p\`` name (two parts, the second
    * path-shaped: every real path has a '/', so a genuine database
    * named txnlog keeps its catalog resolution). */
  private[sources] def txnlogPath(nameParts: Seq[String]): Option[String] =
    nameParts match {
      case Seq(db, p) if db.equalsIgnoreCase("txnlog") && p.contains('/') =>
        Some(p)
      case _ => None
    }

  /** A session-catalog table identifier for a 1-, 2- or
    * spark_catalog-prefixed 3-part name. */
  private[sources] def catalogIdent(nameParts: Seq[String])
      : Option[TableIdentifier] = nameParts match {
    case Seq(c, db, tb) if c.equalsIgnoreCase("spark_catalog") =>
      Some(TableIdentifier(tb, Some(db)))
    case Seq(db, tb) => Some(TableIdentifier(tb, Some(db)))
    case Seq(tb)     => Some(TableIdentifier(tb))
    case _           => None
  }

  /** The node a lowerable statement writes or describes: the target
    * relation of DELETE/UPDATE/MERGE/INSERT, the table of an ALTER
    * TABLE or SHOW statement. It is never substituted by
    * [[resolveTxnlogPaths]] — a write target resolved to the read
    * relation would reach Spark's file-insert path and write data
    * BEHIND the commit log. */
  private[sources] def statementTarget(plan: LogicalPlan)
      : Option[LogicalPlan] = {
    def unwrap(p: LogicalPlan): LogicalPlan = p match {
      case SubqueryAlias(_, child) => unwrap(child)
      case Filter(_, child)        => unwrap(child) // ADD CONSTRAINT's check
      case other                   => other
    }
    (plan match {
      case d: DeleteFromTable     => Some(d.table)
      case u: UpdateTable         => Some(u.table)
      case m: MergeIntoTable      => Some(m.targetTable)
      case i: InsertIntoStatement => Some(i.table)
      case a: AddCheckConstraint  => Some(a.child)
      case a: AlterTableCommand   => Some(a.table)
      case s: ShowPartitions      => Some(s.table)
      case s: ShowTableProperties => Some(s.table)
      case _                      => None
    }).map(unwrap(_))
  }

  /** The name parts of an unresolved table reference. */
  private[sources] def nameParts(p: LogicalPlan): Option[Seq[String]] =
    p match {
      case u: UnresolvedRelation    => Some(u.multipartIdentifier)
      case u: UnresolvedTable       => Some(u.multipartIdentifier)
      case u: UnresolvedTableOrView => Some(u.multipartIdentifier)
      case u: UnresolvedIdentifier  => Some(u.nameParts)
      case _                        => None
    }

  /** Substitute `txnlog.\`/path\`` references in QUERIES (SELECT and
    * statement sources) with a txnlog relation. Spark's own
    * SQL-on-files rule admits only FileFormat sources — a DSv1
    * relation provider would fail analysis with
    * UNSUPPORTED_DATASOURCE_FOR_DIRECT_QUERY — so the substitution
    * happens at the parser seam, giving SQL-first users the same
    * direct-path syntax Delta tables get. Plain references get a
    * LIVE [[TxnLogRelation]] (schema bound now, snapshot resolved per
    * execution), so a temp view created over the path serves fresh
    * data after later commits instead of pinning its creation-time
    * file list. A `VERSION AS OF` / `TIMESTAMP AS OF` reference
    * (Spark's RelationTimeTravel) pins its version through the
    * relation provider's versionAsOf/timestampAsOf options. Catalog
    * tables created `USING txnlog` resolve natively (and travel
    * through [[TxnLogCatalog]]). Statement targets stay unresolved for
    * [[TxnLogStatementRule]]; an INSERT form it does not lower keeps
    * its UnresolvedRelation and fails loudly as table-not-found. */
  private[sources] def resolveTxnlogPaths(spark: SparkSession,
      plan: LogicalPlan): LogicalPlan = {
    val targets = plan.flatMap(statementTarget(_))
    def pathRef(p: LogicalPlan): Option[String] = p match {
      case u: UnresolvedRelation if !targets.exists(_ eq u) =>
        txnlogPath(u.multipartIdentifier)
      case _ => None
    }
    // top-down: a time-travel node must match before its child
    // reference would be substituted by the live relation
    plan.transformDown {
      case RelationTimeTravel(u, ts, version) if pathRef(u).isDefined =>
        org.apache.spark.sql.execution.datasources.LogicalRelation(
          new TxnLogStreamProvider().createRelation(spark.sqlContext,
            Map("path" -> pathRef(u).get) ++
              version.map("versionAsOf" -> _) ++
              ts.map(e => "timestampAsOf" -> timestampText(e))))
      case u: UnresolvedRelation if pathRef(u).isDefined =>
        val t = TxnLog.Table(TxnLog.pathOf(pathRef(u).get))
        org.apache.spark.sql.execution.datasources.LogicalRelation(
          new TxnLogRelation(spark.sqlContext, t, None,
            TxnLog.schemaOf(spark, t, TxnLog.snapshot(t))))
    }
  }

  /** A `TIMESTAMP AS OF` constant as the reader's timestampAsOf text
    * (epoch millis or an ISO-8601 instant, see [[TxnLog.tsMillis]]). */
  private def timestampText(e: Expression): String = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    require(e.resolved && e.foldable &&
      Seq(StringType, IntegerType, LongType).contains(e.dataType),
      s"txnlog TIMESTAMP AS OF takes a string or epoch-millis literal, " +
        s"got: ${e.sql}")
    String.valueOf(e.eval())
  }

  /** Resolve a statement target when it IS ours: a `txnlog.\`/path\``
    * name, or a catalog table whose provider is txnlog. None for
    * anything else (unknown names, temp views, other providers) —
    * such statements keep Spark's own plan, so other catalogs keep
    * working in sessions with this parser. */
  private[graft] def tryResolveTable(spark: SparkSession,
      nameParts: Seq[String]): Option[TxnLog.Table] =
    txnlogPath(nameParts).orElse(for {
      id <- catalogIdent(nameParts)
      meta <- scala.util.Try(
        spark.sessionState.catalog.getTableMetadata(id)).toOption
      if meta.provider.exists(_.equalsIgnoreCase("txnlog"))
      path <- meta.storage.properties.get("path")
        .orElse(meta.storage.locationUri.map(_.getPath))
    } yield path).map(p => TxnLog.Table(TxnLog.pathOf(p)))

  /** [[tryResolveTable]] that refuses instead of deferring — for the
    * statements only this library defines (OPTIMIZE/VACUUM/DESCRIBE/
    * RESTORE), where there is no native path to fall back to. */
  private[sources] def resolveTable(spark: SparkSession,
                                    ident: String): TxnLog.Table =
    tryResolveTable(spark,
      spark.sessionState.sqlParser.parseMultipartIdentifier(ident))
      .getOrElse(throw new IllegalArgumentException(
        s"$ident is not a txnlog table; this statement applies to " +
          "USING txnlog tables or txnlog.`/path` targets"))

  private[sources] def aliasOf(target: LogicalPlan): Option[String] =
    target match {
      case SubqueryAlias(id, _) => Some(id.name)
      case _                    => None
    }

  private[sources] def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other     => Seq(other)
  }

  /** An assignment's target column (an alias qualifier is dropped). */
  private[sources] def columnOf(key: Expression): String = key match {
    case a: UnresolvedAttribute => a.nameParts.last
    case other => throw new IllegalArgumentException(
      s"cannot assign to ${other.sql}: expected a column name")
  }

  private[sources] def assignments(as: Seq[Assignment])
      : Map[String, org.apache.spark.sql.Column] =
    as.map(a => columnOf(a.key) -> Shim.toColumn(a.value)).toMap
}

/** Analysis rule (injected in the HINTS batch, which runs BEFORE the
  * main Resolution batch — Spark's own ResolveSessionCatalog would
  * otherwise claim these statements, refusing REPLACE TABLE for V1
  * providers by name) owning one question for every parsed statement
  * form: is it ours? DELETE/UPDATE/MERGE/INSERT, ALTER TABLE and SHOW
  * statements are ours when their target is a txnlog path or a
  * `USING txnlog` catalog table; CREATE [OR REPLACE] TABLE (column
  * list and CTAS replace forms, and `df.writeTo(t).createOrReplace()`
  * / `.replace()`) when the spec names the txnlog provider, explicitly
  * or through the existing catalog entry. The statement's root is
  * rewritten onto the txnlog command; anything else — another
  * provider, or a form the commands do not cover (INSERT ... PARTITION
  * / BY NAME, multi-column ALTER forms, SHOW ... PARTITION, a
  * non-identity PARTITIONED BY) — keeps Spark's plan. Root-only match,
  * O(1) per pass. Refusals wait for the commands' run(): an exception
  * thrown here would surface as an analyzer internal error. */
final case class TxnLogStatementRule(spark: SparkSession)
  extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.analysis.UnresolvedFieldName
  import org.apache.spark.sql.connector.expressions.Transform
  import GraftSqlParser.{nameParts, statementTarget, tryResolveTable}

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case c: CreateTable if c.columns.nonEmpty =>
      define(c.name, c.tableSpec, c.partitioning, c.columns, None,
        replace = false, lenient = c.ignoreIfExists).getOrElse(plan)
    case r: ReplaceTable =>
      define(r.name, r.tableSpec, r.partitioning, r.columns, None,
        replace = true, lenient = r.orCreate).getOrElse(plan)
    case r: ReplaceTableAsSelect =>
      define(r.name, r.tableSpec, r.partitioning, Nil, Some(r.query),
        replace = true, lenient = r.orCreate).getOrElse(plan)
    case _ =>
      statementTarget(plan).flatMap(nameParts)
        .flatMap(tryResolveTable(spark, _))
        .flatMap(lower(plan, _)).getOrElse(plan)
  }

  private def lower(plan: LogicalPlan, t: TxnLog.Table)
      : Option[LogicalPlan] = plan match {
    case d: DeleteFromTable => Some(TxnLogDeleteCommand(t, d))
    case u: UpdateTable     => Some(TxnLogUpdateCommand(t, u))
    case m: MergeIntoTable  => Some(TxnLogMergeCommand(t, m))
    case i: InsertIntoStatement
      if i.partitionSpec.isEmpty && !i.ifPartitionNotExists && !i.byName =>
      Some(TxnLogInsertCommand(t, i))
    case AddColumns(_, cols) if cols.forall(c =>
        c.path.isEmpty && c.position.isEmpty) =>
      Some(TxnLogAddColumnsCommand(t, StructType(cols.map { c =>
        val f = StructField(c.colName, c.dataType, c.nullable)
        val commented = c.comment.map(f.withComment).getOrElse(f)
        c.default.map(d => commented.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(commented.metadata)
            .putString("CURRENT_DEFAULT", d.originalSQL).build()))
          .getOrElse(commented)
      })))
    case DropColumns(_, Seq(UnresolvedFieldName(Seq(c))), false) =>
      Some(TxnLogColumnCommand(t, None, c))
    case RenameColumn(_, UnresolvedFieldName(Seq(from)), to) =>
      Some(TxnLogColumnCommand(t, Some(from), to))
    case AlterColumns(_, Seq(spec)) => spec.column match {
      case UnresolvedFieldName(Seq(c)) if spec.newComment.isEmpty &&
          spec.newPosition.isEmpty && spec.newDefaultExpression.isEmpty &&
          !spec.dropDefault =>
        (spec.newDataType, spec.newNullability) match {
          case (Some(dt), None) => Some(TxnLogWidenCommand(t, c, dt))
          case (None, Some(nullable)) =>
            Some(TxnLogConstraintCommand(t,
              if (nullable) "drop_notnull" else "add_notnull", c, None))
          case _ => None
        }
      case _ => None
    }
    case AddCheckConstraint(_, c) =>
      Some(TxnLogConstraintCommand(t, "add_check", c.name,
        Some(c.condition)))
    case DropConstraint(_, name, false, false) =>
      Some(TxnLogConstraintCommand(t, "drop", name, None))
    case SetTableProperties(_, props) =>
      Some(TxnLogPropertiesCommand(t, props, Nil))
    case UnsetTableProperties(_, keys, _) =>
      Some(TxnLogPropertiesCommand(t, Map.empty, keys))
    case ShowPartitions(_, None, _)      => Some(TxnLogShowPartitionsCommand(t))
    case ShowTableProperties(_, None, _) => Some(TxnLogShowPropertiesCommand(t))
    case _ => None
  }

  /** CREATE / REPLACE with the txnlog provider → the one definition
    * command, with (properties, explicit location) read off the spec —
    * OPTIONS values are literal expressions at this stage, evaluated
    * here for the `path` key. */
  private def define(name: LogicalPlan, spec: TableSpecBase,
      partitioning: Seq[Transform], columns: Seq[ColumnDefinition],
      query: Option[LogicalPlan], replace: Boolean,
      lenient: Boolean): Option[LogicalPlan] = {
    val parts = nameParts(name).getOrElse(Nil)
    def provided(p: Option[String]): Boolean =
      p.exists(_.equalsIgnoreCase("txnlog")) ||
        // `writeTo(t).createOrReplace()` with no .using(): the
        // EXISTING entry's provider decides whose replace this is
        (p.isEmpty && replace && existingProvider(parts)
          .exists(_.equalsIgnoreCase("txnlog")))
    val propsAndLoc = spec match {
      case u: UnresolvedTableSpec if provided(u.provider) =>
        val opts = u.optionExpression.options.flatMap { case (k, e) =>
          if (e.foldable) Option(e.eval()).map(v => k -> v.toString)
          else None
        }
        Some((u.properties, u.location.orElse(opts.collectFirst {
          case (k, v) if k.equalsIgnoreCase("path") => v })))
      case ts: TableSpec if provided(ts.provider) =>
        Some((ts.properties, ts.location.orElse(ts.options.collectFirst {
          case (k, v) if k.equalsIgnoreCase("path") => v })))
      case _ => None
    }
    for {
      (props, loc) <- propsAndLoc if parts.nonEmpty
      partCols <- identityCols(partitioning)
    } yield TxnLogDefineTableCommand(parts,
      if (query.isEmpty) Some(StructType(columns.map(_.toV1Column)))
      else None,
      partCols, props, loc, query, replace, lenient)
  }

  private def existingProvider(parts: Seq[String]): Option[String] = {
    val cat = spark.sessionState.catalog
    GraftSqlParser.catalogIdent(parts).filter(cat.tableExists)
      .flatMap(id => cat.getTableMetadata(id).provider)
  }

  /** PARTITIONED BY columns; None for any other transform (bucket,
    * days, ...), which txnlog tables do not support. */
  private def identityCols(parts: Seq[Transform]): Option[Seq[String]] = {
    val cols = parts.collect { case tr if tr.name == "identity" &&
        tr.references.length == 1 &&
        tr.references.head.fieldNames.length == 1 =>
      tr.references.head.fieldNames.head
    }
    if (cols.length == parts.length) Some(cols) else None
  }
}

/** `DELETE FROM <txnlog table> [[AS] x] [WHERE cond]` →
  * [[TxnLog.delete]], or [[TxnLog.deleteDv]] when the table enables
  * deletion vectors (no WHERE = delete everything, the SQL contract);
  * an alias qualifies WHERE references. */
final case class TxnLogDeleteCommand(t: TxnLog.Table,
    delete: DeleteFromTable) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    // the table's graft.enableDeletionVectors property picks how old
    // rows retire (TxnLog.dvCapsOf); one snapshot serves both
    val snap = TxnLog.snapshot(t)
    TxnLog.rewriteWhere(spark, t, Shim.toColumn(delete.condition), None,
      GraftSqlParser.aliasOf(delete.table), Some(snap), TxnLog.dvCapsOf(snap))
    Seq.empty
  }
}

/** `UPDATE <txnlog table> [[AS] x] SET a = e, ... [WHERE cond]` →
  * [[TxnLog.update]] or [[TxnLog.updateDv]], as DELETE (no WHERE =
  * update every row, the SQL contract).
  * An alias qualifies SET/WHERE references
  * (`UPDATE t x SET v = x.v + 1 WHERE x.k > 3`). */
final case class TxnLogUpdateCommand(t: TxnLog.Table,
    update: UpdateTable) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val snap = TxnLog.snapshot(t) // as DELETE: one snapshot, dvCapsOf
    TxnLog.rewriteWhere(spark, t,
      Shim.toColumn(update.condition.getOrElse(Literal(true))),
      Some(GraftSqlParser.assignments(update.assignments)),
      GraftSqlParser.aliasOf(update.table), Some(snap), TxnLog.dvCapsOf(snap))
    Seq.empty
  }
}

/** `OPTIMIZE <table> [WHERE <partition spec>] [ZORDER BY (a, b…)]` →
  * [[TxnLog.compact]] / [[TxnLog.compactPartition]] /
  * [[TxnLog.compactZorderKeys]] (2+ clustering keys). The WHERE form
  * is an equality conjunction over PARTITION columns — scoped
  * maintenance, the shape a 100 TB table runs nightly; combining it
  * with ZORDER refuses (cluster the whole table, or compact the
  * partition). */
final case class TxnLogOptimizeCommand(table: String,
    where: Option[String],
    zorder: Option[Seq[String]]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlParser.resolveTable(spark, table)
    val spec = where.map { w =>
      GraftSqlParser.conjuncts(
        spark.sessionState.sqlParser.parseExpression(w)).map {
        case EqualTo(UnresolvedAttribute(Seq(c)), v: Literal) if v.value != null =>
          c -> v.value.toString
        case other => throw new IllegalArgumentException(
          s"OPTIMIZE WHERE must be a conjunction of <partition col> " +
            s"= <literal> terms, got: ${other.sql}")
      }.toMap
    }
    (spec, zorder) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "OPTIMIZE WHERE cannot combine with ZORDER BY — z-cluster " +
          "the whole table, or compact the partition")
      case (Some(sp), None) => TxnLog.compactPartition(spark, t, sp)
      case (None, Some(cols)) =>
        require(cols.length >= 2 && cols.forall(_.matches("\\w+")),
          s"ZORDER BY needs two or more column names, got " +
            s"(${cols.mkString(", ")})")
        TxnLog.compactZorderKeys(spark, t, cols)
      case (None, None) => TxnLog.compact(spark, t)
    }
    Seq.empty
  }
}

/** `ALTER TABLE <txnlog table> ADD COLUMNS (a BIGINT, b STRING
  * DEFAULT 'x')` → [[TxnLog.addColumns]]: additive schema evolution
  * as one metadata-only `schema` commit — old files null-fill (or
  * read the frozen DEFAULT), time travel keeps the old shape,
  * idempotent re-adds no-op. */
final case class TxnLogAddColumnsCommand(t: TxnLog.Table,
    cols: StructType) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    TxnLog.addColumns(t, GraftSqlParser.revalidateDefaults(spark, cols))
    Seq.empty
  }
}

/** `ALTER TABLE t ALTER COLUMN c TYPE <dt>` → [[TxnLog.widenColumn]]
  * — lossless TYPE WIDENING as one metadata commit (old files keep
  * their narrow physical type; the pinned read schema promotes them
  * in-scan). */
final case class TxnLogWidenCommand(t: TxnLog.Table, col: String,
    to: DataType) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    TxnLog.widenColumn(t, col, to)
    Seq.empty
  }
}

/** `ALTER TABLE t RENAME COLUMN a TO b` / `ALTER TABLE t DROP
  * COLUMN a` → [[TxnLog.renameColumn]]/[[TxnLog.dropColumn]]: column
  * mapping makes both ONE metadata commit — old files keep their
  * physical names and read through the mapping; DROP tombstones the
  * physical name against resurrection. `rename` None = drop. */
final case class TxnLogColumnCommand(t: TxnLog.Table,
    rename: Option[String], col: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    rename match {
      case Some(from) => TxnLog.renameColumn(t, from, col)
      case None       => TxnLog.dropColumn(t, col)
    }
    Seq.empty
  }
}

/** The constraint DDL family:
  * `ALTER TABLE t ADD CONSTRAINT name CHECK (expr)`,
  * `ALTER TABLE t DROP CONSTRAINT name`,
  * `ALTER TABLE t ALTER COLUMN c SET|DROP NOT NULL` —
  * each one metadata commit ([[TxnLog.addCheck]]/[[TxnLog.addNotNull]]
  * /[[TxnLog.dropConstraint]]); declaration validates existing rows,
  * and every later write refuses atomically on violation. */
final case class TxnLogConstraintCommand(t: TxnLog.Table, kind: String,
    name: String, check: Option[String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    kind match {
      case "add_check"    => TxnLog.addCheck(spark, t, name, check.get)
      case "add_notnull"  => TxnLog.addNotNull(spark, t, name)
      case "drop_notnull" =>
        require(TxnLog.constraintsOf(t).notNull.contains(name),
          s"column $name has no NOT NULL constraint on ${t.root}")
        TxnLog.dropConstraint(t, name)
      case _              => TxnLog.dropConstraint(t, name)
    }
    Seq.empty
  }
}

/** `SHOW PARTITIONS <txnlog table>` — the hive statement resolved
  * from the MANIFEST alone (no directory listing, no data file):
  * one row per distinct recorded partition spec with its live file
  * count. */
final case class TxnLogShowPartitionsCommand(t: TxnLog.Table)
  extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(
      StructType.fromDDL("partition STRING, n_files BIGINT"))
  override def run(spark: SparkSession): Seq[Row] =
    TxnLog.snapshot(t).filePartitions.values
      .groupBy(spec => spec.toSeq.sortBy(_._1)
        .map { case (c, v) => s"$c=$v" }.mkString("/"))
      .toSeq.sortBy(_._1)
      .map { case (spec, files) => Row(spec, files.size.toLong) }
}

/** `ALTER TABLE t SET TBLPROPERTIES ('k' = 'v', …)` /
  * `UNSET TBLPROPERTIES [IF EXISTS] ('k', …)` — last-write-wins
  * table metadata as one commit each (`unset` empty = SET). Properties
  * are behavior toggles: `graft.enableDeletionVectors = true` routes
  * SQL DELETE/UPDATE through the merge-on-read path. */
final case class TxnLogPropertiesCommand(t: TxnLog.Table,
    set: Map[String, String], unset: Seq[String])
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    if (unset.isEmpty) TxnLog.setProperties(t, set)
    else TxnLog.unsetProperties(t, unset)
    Seq.empty
  }
}

/** `SHOW TBLPROPERTIES <table>` — the registered properties as a
  * (key, value) result set. */
final case class TxnLogShowPropertiesCommand(t: TxnLog.Table)
  extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(
      StructType.fromDDL("key STRING, value STRING"))
  override def run(spark: SparkSession): Seq[Row] =
    TxnLog.propertiesOf(t).toSeq.sortBy(_._1)
      .map { case (k, v) => Row(k, v) }
}

/** `CREATE TABLE dst SHALLOW CLONE src [VERSION AS OF n |
  * TIMESTAMP AS OF 'ts'] [LOCATION '...']` — the SQL face of
  * [[TxnLog.shallowClone]]: a zero-copy fork whose v0 references the
  * source's live files. The destination addresses by path
  * (`txnlog.\`/p\``) or catalog name (entry created, LOCATION or the
  * catalog default); an existing destination no-ops under IF NOT
  * EXISTS and refuses otherwise. The source is any txnlog table
  * (name or path), optionally time-traveled — clone-from-history is
  * the restore-into-a-fork idiom. */
final case class TxnLogCloneCommand(dst: String, ifNotExists: Boolean,
    src: String, version: Option[Long], timestamp: Option[String],
    location: Option[String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val cat = spark.sessionState.catalog
    val parser = spark.sessionState.sqlParser
    val srcT = GraftSqlParser.tryResolveTable(spark,
      parser.parseMultipartIdentifier(src)).getOrElse(
      throw new IllegalArgumentException(
        s"SHALLOW CLONE source $src is neither a txnlog path " +
          "reference nor a catalog table USING txnlog"))
    val asOf = version.orElse(timestamp.map(ts =>
      TxnLog.versionAt(srcT, TxnLog.tsMillis(ts))))
    val dstParts = parser.parseMultipartIdentifier(dst)
    val dstPath = GraftSqlParser.txnlogPath(dstParts)
    // a path-addressed destination IS the location: a contradicting
    // explicit LOCATION must refuse, not silently win
    require(dstPath.isEmpty || location.forall(l =>
      TxnLog.pathOf(l).toAbsolutePath.normalize ==
        TxnLog.pathOf(dstPath.get).toAbsolutePath.normalize),
      s"SHALLOW CLONE destination $dst is path-addressed; the " +
        s"LOCATION clause (${location.getOrElse("")}) contradicts it")
    val dstId: Option[TableIdentifier] =
      if (dstPath.isDefined) None
      else Some(GraftSqlParser.catalogIdent(dstParts).getOrElse(
        throw new IllegalArgumentException(
          s"cannot resolve clone destination: $dst")))
    if (dstId.exists(cat.tableExists)) {
      if (ifNotExists) return Seq.empty
      throw new IllegalArgumentException(
        s"table $dst already exists; SHALLOW CLONE cannot redefine " +
          "it — use CREATE TABLE IF NOT EXISTS to no-op, or DROP it")
    }
    val loc = location.orElse(dstPath).getOrElse(
      cat.defaultTablePath(dstId.get).getPath)
    val dstT = TxnLog.Table(TxnLog.pathOf(loc))
    if (TxnLog.latestVersion(dstT) >= 0 && ifNotExists) return Seq.empty
    // the returned source snapshot serves the catalog entry — no
    // re-replay of the log this call just wrote
    val snap = TxnLog.shallowClone(srcT, dstT, asOf)
    dstId.foreach { i =>
      cat.createTable(
        TxnLogCatalogEntry(i, loc, location.isDefined,
          snap.schemaJson
            .map(js => DataType.fromJson(js).asInstanceOf[StructType])
            .getOrElse(new StructType()),
          snap.partCols, snap.properties),
        ignoreIfExists = ifNotExists, validateLocation = false)
    }
    Seq.empty
  }
}

/** The metastore entry mirroring a txnlog log — ONE builder for the
  * commands that mint entries (CREATE / REPLACE TABLE's create half,
  * SHALLOW CLONE's destination), so the hive partition-cols-last
  * schema convention and the EXTERNAL-iff-explicit-location rule can
  * never drift between them. */
private[sources] object TxnLogCatalogEntry {
  def apply(i: TableIdentifier, loc: String, explicitLoc: Boolean,
      schema: StructType, partCols: Seq[String],
      props: Map[String, String])
      : org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    import org.apache.spark.sql.catalyst.catalog._
    val (partFields, dataFields) =
      schema.fields.partition(f => partCols.contains(f.name))
    CatalogTable(
      identifier = i,
      tableType =
        if (explicitLoc) CatalogTableType.EXTERNAL
        else CatalogTableType.MANAGED,
      storage = CatalogStorageFormat.empty.copy(
        locationUri = Some(CatalogUtils.stringToURI(loc)),
        properties = Map("path" -> loc)),
      schema = StructType(dataFields ++
        partCols.flatMap(c => partFields.find(_.name == c))),
      provider = Some("txnlog"),
      partitionColumnNames = partCols,
      properties = props)
  }
}

/** The executable half of CREATE TABLE (column list), CREATE OR
  * REPLACE / REPLACE TABLE (column list or CTAS) and
  * `df.writeTo(t).createOrReplace()/replace()` for txnlog tables: one
  * code path resolves the location (explicit OPTIONS path / LOCATION,
  * the path of a `txnlog.\`/p\`` name, the existing entry's location —
  * a replace keeps the table where it lives — or the catalog
  * default), routes column DEFAULTs through [[GraftSqlParser.frozenDefault]],
  * writes the log and brings the metastore entry in line.
  *
  * CREATE (`replace` false; `lenient` = IF NOT EXISTS) is DDL-first:
  * the declared schema, partition layout and properties register as
  * version 0 BEFORE any data commit, so the table is queryable (zero
  * rows), constrainable, and every later write stages through the
  * declared layout. An existing catalog name or an occupied location
  * refuses (or no-ops under IF NOT EXISTS) before anything is written;
  * the one exception is an ORPHAN metadata-only v0 (a catalog CREATE
  * whose entry creation failed after registering), which an IDENTICAL
  * re-CREATE adopts.
  *
  * REPLACE (`replace` true; `lenient` = OR CREATE) lands the whole
  * redefinition as ONE atomic log commit ([[TxnLog.replaceDefinition]]);
  * plain REPLACE refuses on a missing table. History is retained —
  * RESTORE can cross the replace. */
final case class TxnLogDefineTableCommand(
    nameParts: Seq[String],
    cols: Option[StructType],
    partCols: Seq[String],
    props: Map[String, String],
    optLocation: Option[String],
    query: Option[LogicalPlan],
    replace: Boolean,
    lenient: Boolean) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = query.toSeq
  override def run(spark: SparkSession): Seq[Row] = {
    val cat = spark.sessionState.catalog
    val name = nameParts.mkString(".")
    val pathIdent = GraftSqlParser.txnlogPath(nameParts)
    val id: Option[TableIdentifier] =
      if (pathIdent.isDefined) None
      else Some(GraftSqlParser.catalogIdent(nameParts).getOrElse(
        throw new IllegalArgumentException(
          s"cannot resolve table name $name")))
    val existing = id.filter(cat.tableExists).map(cat.getTableMetadata)
    existing.foreach { meta =>
      // a CATALOG name that already exists fails (or no-ops under IF
      // NOT EXISTS) BEFORE any log is minted — registering first
      // would plant a v0 log inside the existing table's directory
      if (!replace) {
        if (lenient) return Seq.empty
        throw new org.apache.spark.sql.catalyst.analysis
          .TableAlreadyExistsException(meta.identifier.nameParts)
      }
      require(meta.provider.exists(_.equalsIgnoreCase("txnlog")),
        s"REPLACE TABLE ... USING txnlog cannot redefine " +
          s"${meta.identifier} (provider: " +
          s"${meta.provider.getOrElse("<none>")}) — DROP it first")
    }
    val loc: String = optLocation
      .orElse(pathIdent)
      .orElse(existing.flatMap(m => m.storage.properties.get("path")
        .orElse(m.storage.locationUri.map { uri =>
          require(uri.getScheme == null || uri.getScheme == "file",
            s"txnlog table location $uri has a non-file scheme; this " +
              "engine resolves txnlog logs on the local filesystem only")
          uri.getPath
        })))
      .getOrElse(cat.defaultTablePath(id.get).getPath)
    val t = TxnLog.Table(TxnLog.pathOf(loc))
    val df = query.map(Shim.ofRows(spark, _))
    val schema = cols.map(GraftSqlParser.revalidateDefaults(spark, _))
      .getOrElse(df.get.schema)
    if (replace) {
      if (existing.isEmpty && TxnLog.latestVersion(t) < 0 && !lenient)
        throw new IllegalArgumentException(
          s"REPLACE TABLE: $name does not exist — use CREATE OR " +
            "REPLACE TABLE to create-or-redefine")
      TxnLog.replaceDefinition(spark, t, schema, partCols, props, df)
    } else if (TxnLog.latestVersion(t) >= 0) {
      // the location already holds a table: a plain CREATE must not
      // silently succeed with its schema/layout ignored. An ORPHAN
      // metadata-only v0 (detectable because the catalog entry is
      // absent while the v0 exists) is ADOPTED by an IDENTICAL
      // catalog re-CREATE — deleting the orphan at failure time raced
      // concurrent writers (a v1 built on our v0 would lose its schema
      // lines from under it). PATH-addressed targets never adopt:
      // their registration IS the create, so a metadata-only v0 there
      // is a successfully created empty table. A differing
      // declaration — nullability included — still refuses.
      val adoptable = id.isDefined && TxnLog.metadataOnlyV0(t) &&
        TxnLog.registeredSchema(t).exists(reg =>
          reg.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq ==
            schema.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq) &&
        TxnLog.declaredPartCols(t) == partCols &&
        TxnLog.propertiesOf(t) == props
      require(lenient || adoptable,
        s"table at $loc already exists (version " +
          s"${TxnLog.latestVersion(t)}); CREATE TABLE cannot " +
          "redefine it — use CREATE TABLE IF NOT EXISTS to no-op, " +
          "or REPLACE/DROP it first")
    } else { TxnLog.registerSchema(t, schema, partCols, props); () }
    id.foreach { i =>
      val entry = TxnLogCatalogEntry(i, loc, optLocation.isDefined,
        schema, partCols, props)
      existing match {
        case Some(meta) =>
          cat.alterTable(meta.copy(schema = entry.schema,
            partitionColumnNames = partCols, properties = props))
        case None =>
          cat.createTable(entry, ignoreIfExists = lenient,
            validateLocation = false)
      }
    }
    Seq.empty
  }
}

/** PARTITIONED CTAS — `CREATE TABLE t USING txnlog PARTITIONED BY
  * (k) AS SELECT ...` and `df.writeTo(t).using("txnlog")
  * .partitionedBy($"k").create()` (both lower to the same V1 CTAS
  * command, which drops partitioning on the way to a
  * CreatableRelationProvider — Spark's native path would silently
  * FLATTEN the table out of its declared layout). The replacement
  * runs the DDL-first contract the column-list CREATE has: a v0
  * schema commit with the declared layout and CREATE-time
  * properties, the data staged THROUGH the layout as v1, then the
  * catalog entry — so partition pruning, layout enforcement on every
  * later writer, and SHOW PARTITIONS all hold from birth.
  * Unpartitioned CTAS keeps Spark's native command (already
  * layout-exact by vacuity). */
final case class TxnLogPartitionedCtasCommand(table:
    org.apache.spark.sql.catalyst.catalog.CatalogTable,
    mode: org.apache.spark.sql.SaveMode, query: LogicalPlan,
    outputColumnNames: Seq[String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val cat = spark.sessionState.catalog
    if (cat.tableExists(table.identifier)) {
      if (mode == org.apache.spark.sql.SaveMode.Ignore)
        return Seq.empty // IF NOT EXISTS: no-op, query never runs
      throw new IllegalArgumentException(
        s"table ${table.identifier} already exists; CREATE TABLE AS " +
          "SELECT cannot redefine it (a concurrent create may have " +
          "won — re-run the statement against the existing table)")
    }
    val locUri = table.storage.locationUri.getOrElse(
      cat.defaultTablePath(table.identifier))
    // the same non-file-scheme refusal the catalog's wrap() applies:
    // silently taking getPath would mis-root the table locally while
    // the catalog entry points at the remote location
    require(locUri.getScheme == null || locUri.getScheme == "file",
      s"txnlog CTAS location $locUri has a non-file scheme; this " +
        "engine resolves txnlog logs on the local filesystem only")
    val t = TxnLog.Table(TxnLog.pathOf(locUri.getPath))
    if (TxnLog.latestVersion(t) >= 0) {
      // IF NOT EXISTS: an occupied location no-ops like an existing
      // name (the query never runs); a plain CTAS refuses loudly
      if (mode == org.apache.spark.sql.SaveMode.Ignore) return Seq.empty
      throw new IllegalArgumentException(
        s"table at ${t.root} already exists (version " +
          s"${TxnLog.latestVersion(t)}); CREATE TABLE AS SELECT " +
          "cannot redefine it")
    }
    val df0 = Shim.ofRows(spark, query)
    val df = if (outputColumnNames.nonEmpty &&
        outputColumnNames != df0.columns.toSeq)
      df0.toDF(outputColumnNames: _*) else df0
    val partCols = table.partitionColumnNames
    val missing = partCols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"PARTITIONED BY column(s) not in the CTAS output: " +
        missing.mkString(", "))
    // v0 must be OURS: a lost slot means a concurrent create won the
    // location, and appending this query's rows into the winner's
    // table would silently merge two definitions (the sibling plain
    // CREATE can adopt metadata-only v0s; a data-bearing CTAS never
    // adopts). Under IF NOT EXISTS a lost race is the contract's
    // no-op, not an error.
    if (!TxnLog.registerSchema(t, df.schema, partCols,
        table.properties)) {
      if (mode == org.apache.spark.sql.SaveMode.Ignore) return Seq.empty
      throw new IllegalArgumentException(
        s"a concurrent writer defined the table at ${t.root} first; " +
          "re-run the statement against the existing table")
    }
    // catalog entry BEFORE data: if this throws, the location holds
    // a metadata-only v0 the plain CREATE's orphan adoption can
    // rescue (data-first would leave an unadoptable v0+v1 orphan).
    // The cost is a reader-visible EMPTY table for the staging
    // window, and a failed QUERY leaves that empty table behind —
    // deliberately: it is catalog-VISIBLE and one DROP TABLE away
    // from clean, where an orphaned data-bearing log at a default
    // location (the data-first failure shape) is neither.
    // IF NOT EXISTS tolerates a racing entry (ignoreIfExists).
    cat.createTable(
      table.copy(storage = table.storage.copy(
        locationUri = Some(locUri)), schema = df.schema),
      ignoreIfExists = mode == org.apache.spark.sql.SaveMode.Ignore,
      validateLocation = false)
    // data last: a failure here leaves a valid EMPTY table (entry +
    // v0) the user can INSERT into or DROP — never a wedged location
    TxnLog.appendPartitioned(spark, t, df, partCols)
    Seq.empty
  }
}

/** Resolution rule (injected by GraftExtensions) routing the
  * partitioned-txnlog V1 CTAS command onto
  * [[TxnLogPartitionedCtasCommand]]. Commands sit at the plan ROOT,
  * so the match is O(1) per fixpoint pass. */
final case class TxnLogCtasLayoutRule(spark: SparkSession)
  extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.execution.command.CreateDataSourceTableAsSelectCommand
  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    // table-CREATING shapes only: plain CTAS modes always, and
    // saveAsTable Append/Overwrite when the table does NOT yet exist
    // (they lower to the SAME command class; against an EXISTING
    // table Spark's native handling — append into / replace the
    // layout-disciplined table — is already correct, and rerouting
    // would refuse valid writes). The existence probe here races a
    // concurrent create only as far as the command's own exists
    // check, which refuses loudly with a re-run message.
    case c: CreateDataSourceTableAsSelectCommand
      if c.table.provider.exists(_.equalsIgnoreCase("txnlog")) &&
        c.table.partitionColumnNames.nonEmpty && c.query.resolved &&
        (c.mode == org.apache.spark.sql.SaveMode.ErrorIfExists ||
          c.mode == org.apache.spark.sql.SaveMode.Ignore ||
          !spark.sessionState.catalog.tableExists(c.table.identifier)) =>
      TxnLogPartitionedCtasCommand(c.table, c.mode, c.query,
        c.outputColumnNames)
    case _ => plan
  }
}

/** `INSERT INTO | OVERWRITE <txnlog table> [(cols)] <query>` — the
  * SQL write path: INTO is one append commit, OVERWRITE one atomic
  * REPLACE. Columns align BY POSITION against the registered schema
  * and cast to it (SQL INSERT semantics), so `VALUES (1, 2)`'s default
  * column names and integer literals land correctly in a (bigint,
  * bigint) table. A PARTITIONED table's inserts restage through its
  * layout (appendPartitioned) — the SQL path must not erode what every
  * other op preserves. An explicit column list aligns the source BY
  * NAME against the registered schema and fills the unnamed columns
  * with their DEFAULT or NULL (the standard SQL contract; a first
  * write has no schema to align against, so a column list there
  * refuses). */
final case class TxnLogInsertCommand(t: TxnLog.Table,
    insert: InsertIntoStatement) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(insert.query)
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    val src = Shim.ofRows(spark, insert.query)
    val names = insert.userSpecifiedCols
    val aligned = TxnLog.registeredSchema(t) match {
      case Some(schema) if names.nonEmpty =>
        // named-subset insert: listed columns align by name (and
        // source position), every other schema column takes its
        // DEFAULT or NULL
        require(names.distinct.length == names.length,
          s"duplicate column(s) in INSERT list: " +
            names.diff(names.distinct).mkString(", "))
        val unknown = names.filterNot(schema.fieldNames.contains)
        require(unknown.isEmpty,
          s"INSERT column list names unknown column(s): " +
            s"${unknown.mkString(", ")} (table ${t.root} has " +
            s"${schema.fieldNames.mkString(", ")})")
        require(src.schema.length == names.length,
          s"INSERT source has ${src.schema.length} column(s); " +
            s"the column list names ${names.length}")
        src.toDF(names: _*).select(schema.fields.toIndexedSeq.map { f =>
          if (names.contains(f.name))
            col(f.name).cast(f.dataType).as(f.name)
          else TxnLog.defaultSql(f) // SQL: omitted = DEFAULT
            .map(d => expr(d).cast(f.dataType).as(f.name))
            .getOrElse(lit(null).cast(f.dataType).as(f.name))
        }: _*)
      case None if names.nonEmpty =>
        throw new IllegalArgumentException(
          s"INSERT with a column list needs a registered schema; " +
            s"table ${t.root} has no commits yet — the first write " +
            "defines the schema, so insert all columns")
      case Some(schema) =>
        require(src.schema.length == schema.length,
          s"INSERT source has ${src.schema.length} column(s); " +
            s"table ${t.root} has ${schema.length}")
        src.toDF(schema.fieldNames.toIndexedSeq: _*)
          .select(schema.fields.toIndexedSeq.map(f =>
            col(f.name).cast(f.dataType).as(f.name)): _*)
      case None => src // first write: the source defines it
    }
    // either statement keeps a partitioned target's layout: the
    // append restages through it, the overwrite carries it into
    // the replacing commit
    val partCols =
      if (TxnLog.latestVersion(t) < 0) Nil
      else TxnLog.snapshot(t).partCols
    // Spark's partitionOverwriteMode contract: under `dynamic` an
    // INSERT OVERWRITE on a PARTITIONED table replaces only the
    // partitions present in the incoming rows; `static` (the
    // default) keeps the whole-table atomic REPLACE
    val dynamicMode = insert.overwrite && partCols.nonEmpty &&
      spark.sessionState.conf.getConfString(
        "spark.sql.sources.partitionOverwriteMode", "static")
        .equalsIgnoreCase("dynamic")
    if (dynamicMode) TxnLog.replaceDynamic(spark, t, aligned)
    else if (insert.overwrite) TxnLog.replace(spark, t, aligned, partCols)
    else if (partCols.isEmpty) TxnLog.append(spark, t, aligned)
    else TxnLog.appendPartitioned(spark, t, aligned, partCols)
    Seq.empty
  }
}

/** `RESTORE TABLE <table> TO VERSION AS OF n | TO TIMESTAMP AS OF ts`
  * → [[TxnLog.restore]] — the rollback statement (a timestamp
  * resolves through [[TxnLog.versionAt]], epoch millis or ISO-8601).
  * Like OPTIMIZE/VACUUM this statement exists only for txnlog
  * tables, so an unresolvable target refuses. */
final case class TxnLogRestoreCommand(table: String,
    version: Option[Long],
    timestamp: Option[String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlParser.resolveTable(spark, table)
    val v = version.getOrElse(
      TxnLog.versionAt(t, TxnLog.tsMillis(timestamp.get)))
    // the validating overload: re-added rows are checked against
    // constraints declared after v (metadata-only restore refuses
    // that combination)
    TxnLog.restore(spark, t, v)
    Seq.empty
  }
}

/** `VACUUM <table> [RETAIN n HOURS] [DRY RUN]` → [[TxnLog.vacuum]]
  * with the retention window as the staging grace; DRY RUN returns
  * the reclaimable paths as a result set ([[TxnLog.vacuumCandidates]])
  * and deletes nothing — audit before reclaim. */
final case class TxnLogVacuumCommand(table: String,
    retainHours: Option[Long],
    dryRun: Boolean = false) extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(
      org.apache.spark.sql.types.StructType.fromDDL("path STRING"))
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlParser.resolveTable(spark, table)
    val grace = retainHours.map(_ * 3600L * 1000L)
      .getOrElse(TxnLog.VacuumGraceMs)
    if (dryRun) TxnLog.vacuumCandidates(t, grace).map(Row(_))
    else { TxnLog.vacuum(t, grace); Seq.empty }
  }
}

/** `DESCRIBE DETAIL <txnlog table>` — the table-metadata row every
  * lakehouse exposes, resolved from the MANIFEST alone (add actions
  * record each file's byte size, so no data read AND no FS stat
  * walk; files from legacy size-less adds fall back to one stat
  * each): format, location, current version, live file count and
  * bytes, partition columns. */
final case class TxnLogDetailCommand(table: String)
  extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(
      org.apache.spark.sql.types.StructType.fromDDL(
        "format STRING, location STRING, version BIGINT, " +
          "num_files BIGINT, size_bytes BIGINT, " +
          "partition_columns STRING, min_reader BIGINT, " +
          "num_dv_files BIGINT, constraints STRING, properties STRING"))
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlParser.resolveTable(spark, table)
    val snap = TxnLog.snapshot(t)
    val bytes = snap.liveFiles.map { rel =>
      snap.fileSizes.getOrElse(rel, { // legacy size-less add: one stat
        val p = t.root.resolve(rel)
        if (java.nio.file.Files.exists(p)) java.nio.file.Files.size(p)
        else 0L
      })
    }.sum
    val partCols = snap.partCols.mkString(",")
    val cons = (snap.notNull.toSeq.sorted.map(c => s"NOT NULL $c") ++
      snap.checks.toSeq.sortBy(_._1)
        .map { case (n, e) => s"CHECK $n ($e)" }).mkString("; ")
    val props = snap.properties.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }.mkString("; ")
    Seq(Row("txnlog", t.root.toString, snap.version,
      snap.liveFiles.length.toLong, bytes, partCols, snap.minReader,
      snap.dvs.size.toLong, cons, props))
  }
}

/** `DESCRIBE HISTORY <table> [LIMIT n]` → [[TxnLog.history]]: the
  * audit surface as a result set (version, operation, adds, removes,
  * change files), newest-n bounded with LIMIT. */
final case class TxnLogHistoryCommand(table: String,
    limit: Option[Int]) extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(
      org.apache.spark.sql.types.StructType.fromDDL(
        "version BIGINT, operation STRING, n_adds BIGINT, " +
          "n_removes BIGINT, n_cdc BIGINT"))
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlParser.resolveTable(spark, table)
    TxnLog.history(t, limit.getOrElse(Int.MaxValue)).map {
      case (v, op, a, r, c) => Row(v, op, a, r, c)
    }
  }
}

/** `MERGE [WITH SCHEMA EVOLUTION] INTO tgt t USING src s ON t.k = s.k
  * [AND t.k2 = s.k2 ...] WHEN ...` → [[TxnLog.mergeIntoKeys]] with the
  * SQL aliases as the clause qualifiers. The ON condition must be an
  * equi conjunction with the same column name on both sides of every
  * term — the (composite) key the Scala API merges on. The source is
  * the statement's parsed source plan. */
final case class TxnLogMergeCommand(t: TxnLog.Table,
    merge: MergeIntoTable) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(merge.sourceTable)
  override def run(spark: SparkSession): Seq[Row] = {
    import TxnLog.MergeClause
    val ta = GraftSqlParser.aliasOf(merge.targetTable).getOrElse("t")
    val sa = GraftSqlParser.aliasOf(merge.sourceTable).getOrElse("s")
    val src = Shim.ofRows(spark, merge.sourceTable)
    val keys = GraftSqlParser.conjuncts(merge.mergeCondition).map {
      case EqualTo(UnresolvedAttribute(Seq(q1, c1)),
          UnresolvedAttribute(Seq(q2, c2)))
        if c1 == c2 && Set(q1, q2) == Set(ta, sa) => c1
      case other => throw new IllegalArgumentException(
        s"MERGE ON must be a conjunction of $ta.<col> = $sa.<col> " +
          s"terms with the same column name on both sides, got: " +
          other.sql)
    }
    def cond(c: Option[Expression]) = c.map(Shim.toColumn)
    val matched = merge.matchedActions.map {
      case UpdateAction(c, sets, _) =>
        MergeClause.Update(cond(c), GraftSqlParser.assignments(sets))
      case UpdateStarAction(c) =>
        // SET * = one assignment per TARGET column from the source's
        // same-named column (the Delta expansion) — so the source
        // must carry every target column, checked here by name
        // rather than failing resolution inside the clause join.
        // WITH SCHEMA EVOLUTION relaxes both directions (Delta's
        // evolved expansion): target columns the source lacks keep
        // their values, and source-only columns — which the evolved
        // target frame carries by then — assign through
        val reg = TxnLog.registeredSchema(t).getOrElse(
          throw new IllegalArgumentException(
            "MERGE ... UPDATE SET * needs a log-registered table " +
              "schema to expand the star against"))
        val starCols =
          if (merge.withSchemaEvolution) src.columns.toIndexedSeq
          else {
            val missing = reg.fieldNames.filterNot(src.columns.contains)
            require(missing.isEmpty,
              s"MERGE ... UPDATE SET * needs the source to carry every " +
                s"target column; missing: ${missing.mkString(", ")} " +
                "(or use MERGE WITH SCHEMA EVOLUTION INTO)")
            reg.fieldNames.toIndexedSeq
          }
        MergeClause.Update(cond(c), starCols.map(c =>
          c -> org.apache.spark.sql.functions.col(s"$sa.$c")).toMap)
      case DeleteAction(c) => MergeClause.Delete(cond(c))
      case other => throw new IllegalArgumentException(
        s"unsupported MERGE WHEN MATCHED action: ${other.sql}")
    }
    val notMatched = merge.notMatchedActions.map {
      case InsertStarAction(c) => MergeClause.Insert(cond(c))
      case InsertAction(c, values) =>
        // the column-list insert: (cols) pairs positionally with the
        // VALUES expressions; unlisted columns NULL-fill
        val cols = values.map(a => GraftSqlParser.columnOf(a.key))
        require(cols.distinct.length == cols.length,
          s"duplicate column(s) in MERGE INSERT list: " +
            cols.diff(cols.distinct).mkString(", "))
        MergeClause.InsertExpr(cond(c), GraftSqlParser.assignments(values))
      case other => throw new IllegalArgumentException(
        s"unsupported MERGE WHEN NOT MATCHED action: ${other.sql}")
    }
    val bySource = merge.notMatchedBySourceActions.map {
      case UpdateAction(c, sets, _) =>
        MergeClause.BySourceUpdate(cond(c), GraftSqlParser.assignments(sets))
      case DeleteAction(c) => MergeClause.BySourceDelete(cond(c))
      case other => throw new IllegalArgumentException(
        s"unsupported MERGE WHEN NOT MATCHED BY SOURCE action: ${other.sql}")
    }
    // graft.enableDeletionVectors routes the statement merge-on-read
    // (TxnLog.dvCapsOf): matched UPDATE/DELETE clauses dead-list old
    // positions via `dv` lines (per-file copy-on-write fallback past
    // the light caps), inserts append as today. ONE snapshot serves
    // the property check AND the merge itself.
    val snap =
      if (TxnLog.latestVersion(t) < 0) None else Some(TxnLog.snapshot(t))
    TxnLog.mergeIntoKeys(spark, t, src, keys,
      matched ++ notMatched ++ bySource,
      targetAlias = ta, sourceAlias = sa, snap0 = snap,
      dvCaps = snap.flatMap(TxnLog.dvCapsOf),
      evolveSchema = merge.withSchemaEvolution)
    Seq.empty
  }
}
