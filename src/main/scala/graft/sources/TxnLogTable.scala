package graft.sources

import java.util.{Collections, Set => JSet}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.plans.logical.{InsertIntoStatement,
  LogicalPlan, V2WriteCommand}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{DelegatingCatalogExtension,
  Identifier, SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo,
  SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.sources.{AlwaysTrue, Filter, InsertableRelation}
import org.apache.spark.sql.types.{Decimal, Metadata, StructField,
  StructType}

/** DSv2 session-catalog integration for txnlog tables — the piece
  * that makes a catalog NAME a first-class table instead of a cached
  * DSv1 relation. Installed the way Delta installs its catalog:
  *
  * {{{
  *   spark.sql.extensions          = graft.GraftExtensions
  *   spark.sql.catalog.spark_catalog = graft.sources.TxnLogCatalog
  * }}}
  *
  * The catalog DELEGATES everything to Spark's own session catalog
  * and intercepts exactly one seam: `loadTable` on a table whose
  * provider is `txnlog` returns a [[TxnLogTable]] instead of the
  * `V1Table` wrapper. That single change moves catalog-name
  * resolution off the DSv1 path — and with it off the session
  * catalog's RELATION CACHE, which serves creation-time snapshots
  * until an explicit `refreshTable` — onto DataSourceV2Relation,
  * which re-loads the table at every analysis. Freshness becomes
  * per-query, the same contract `txnlog.\`/path\`` references and
  * the reference's own per-query snapshot resolution have.
  *
  * What rides on it:
  *  - SELECT/DESCRIBE/SHOW over catalog names serve the CURRENT log
  *    state — schema (post-evolution), declared partition layout,
  *    table properties AND constraints — with no refreshTable;
  *  - `VERSION AS OF` / `TIMESTAMP AS OF` on catalog names resolve
  *    through the TableCatalog time-travel overloads (previously
  *    only `txnlog.\`/path\`` references could travel);
  *  - INSERT INTO forms the parser seam does not lower (PARTITION
  *    specs among them) plan through Spark's native v2 write path
  *    and land as ordinary log commits ([[TxnLogTable]]'s V1Write).
  *
  * READS do not re-implement a scan: [[TxnLogV2ReadRewrite]] (an
  * injected resolution rule, the Delta pattern) rewrites every
  * read-position `DataSourceV2Relation` over a [[TxnLogTable]] into
  * a [[TxnLogRelation]] — live, or pinned for time travel — which
  * the graft read rule expands into the SAME log-indexed,
  * dv-aware, stats-skipping parquet scan every other entry point
  * plans (and every plan-shape spec pins). At 100 TB the added cost
  * of catalog-name access is one checkpoint-bounded metadata replay
  * per query — no data touched. */
class TxnLogCatalog extends DelegatingCatalogExtension {
  import org.apache.spark.sql.graftglue.CatalogShim

  private def txnlogMeta(tbl: Table): Option[CatalogTable] =
    CatalogShim.v1Meta(tbl)
      .filter(_.provider.exists(_.equalsIgnoreCase("txnlog")))

  /** Wrap a delegate-loaded table when it is a txnlog entry with a
    * resolvable location (latest-version view; the time-travel
    * overloads pin `asOf` onto the wrapped result). */
  private def wrap(tbl: Table): Table =
    txnlogMeta(tbl) match {
      case Some(meta) =>
        meta.storage.properties.get("path")
          .orElse(meta.storage.locationUri.map { uri =>
            // refuse a non-file scheme LOUDLY: silently taking
            // getPath would strip the authority and mis-root the
            // table onto the local filesystem
            require(uri.getScheme == null || uri.getScheme == "file",
              s"txnlog table location $uri has a non-file scheme; " +
                "this engine resolves txnlog logs on the local " +
                "filesystem only")
            uri.getPath
          }) match {
          case Some(p) =>
            TxnLogTable(TxnLog.Table(TxnLog.pathOf(p)), meta, None)
          case None => tbl // no location: leave it to the V1 path
        }
      case None => tbl
    }

  override def loadTable(ident: Identifier): Table =
    wrap(super.loadTable(ident))

  /** Probe-and-wrap for the time-travel overloads: ONE delegate load
    * serves the provider check and the wrap; Right(None) when the
    * entry is not a txnlog table, Left(err) when the UN-traveled
    * load itself refused (a native V2 table that only admits
    * traveled access must reach its own traveled load, not die in
    * our probe — but the probe's failure must stay VISIBLE if the
    * traveled load then fails too, or a transient error masquerades
    * as a time-travel refusal). */
  private def txnlogWrapped(ident: Identifier)
      : Either[Throwable, Option[TxnLogTable]] =
    try Right(Some(super.loadTable(ident)).map(wrap)
      .collect { case t: TxnLogTable => t })
    catch { case scala.util.control.NonFatal(e) => Left(e) }

  private def delegateTraveled(probe: Either[Throwable, _],
      load: => Table): Table =
    try load catch {
      case scala.util.control.NonFatal(e2) =>
        probe.left.foreach(e2.addSuppressed)
        throw e2
    }

  /** `SELECT ... FROM t VERSION AS OF n` on a catalog name — the
    * TableCatalog time-travel seam. Non-txnlog tables keep Spark's
    * native handling (and its native refusal message); a txnlog
    * entry whose location cannot resolve refuses LOUDLY through the
    * same delegation rather than silently dropping the version. */
  override def loadTable(ident: Identifier, version: String): Table =
    txnlogWrapped(ident) match {
      case Right(Some(plain)) =>
        val v = try version.toLong catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"txnlog VERSION AS OF takes a numeric log version, " +
                s"got: $version")
        }
        plain.copy(asOf = Some(v))
      case other =>
        delegateTraveled(other, super.loadTable(ident, version))
    }

  /** `TIMESTAMP AS OF ts` — `timestamp` arrives in MICROseconds
    * (the TableCatalog contract); [[TxnLog.versionAt]] resolves it
    * against commit mtimes like every other time-travel entry. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    txnlogWrapped(ident) match {
      case Right(Some(plain)) =>
        plain.copy(asOf =
          Some(TxnLog.versionAt(plain.t, timestamp / 1000L)))
      case other =>
        delegateTraveled(other, super.loadTable(ident, timestamp))
    }
}

/** The DSv2 `Table` a [[TxnLogCatalog]] load returns: metadata —
  * schema, partitioning, properties, constraints — is served from
  * ONE log replay taken at load time (per-analysis, so per-query
  * fresh; checkpoint-bounded, so metadata-scale at any table age).
  * Writes implement `SupportsWrite` through Spark's `V1Write`
  * fallback — the same bridge Delta uses — landing as the engine's
  * own append/replace commits with every existing guarantee
  * (declared-layout staging, constraint enforcement, atomic
  * replace). Reads never reach a DSv2 scan: [[TxnLogV2ReadRewrite]]
  * rewrites the relation into a [[TxnLogRelation]] first (BATCH_READ is
  * declared so analysis admits the relation before the rule fires;
  * the `SupportsRead` impl exists only to refuse ACTIONABLY when the
  * catalog is configured without the extensions, instead of an
  * opaque scan-planning failure).
  *
  * STREAMING on catalog names rides two seams: reads are rewritten
  * by [[TxnLogV2ReadRewrite]]'s streaming case onto the proven V1
  * source (options — readChangeFeed, startingVersion, rate limits —
  * intact), and `writeStream.toTable` lands on the V1 sink through
  * `V2TableWithV1Fallback` (the Delta pattern: DataStreamWriter
  * routes a fallback-carrying table to its provider's
  * StreamSinkProvider, keeping appendBatch's exactly-once fencing). */
final case class TxnLogTable(t: TxnLog.Table, meta: CatalogTable,
    asOf: Option[Long]) extends Table
    with SupportsWrite with SupportsRead
    with org.apache.spark.sql.graftglue.V1FallbackTable {

  /** One replay serves every metadata accessor; None for a location
    * with no commits yet (a natively-created entry whose v0 was never
    * minted) — metastore metadata serves those. */
  @transient private lazy val snap: Option[TxnLog.Snapshot] =
    if (TxnLog.latestVersion(t) < 0) None
    else Some(TxnLog.snapshot(t, asOf))

  /** The staging layout a write must route through — served from the
    * SAME load-time replay as partitioning(), so a v2 INSERT pays no
    * second log replay at execution. A catalog entry whose log has
    * no commits yet (an entry-first CTAS) falls back to the declared
    * metastore layout — the first write must not flatten it. */
  private[sources] def writeLayout: Seq[String] =
    snap.map(_.partCols).getOrElse(meta.partitionColumnNames)

  override def name(): String = meta.identifier.unquotedString

  /** The LOGICAL schema at the loaded version, mapping metadata
    * stripped (physical names are a storage detail no catalog
    * surface should leak). */
  override def schema(): StructType = snap.flatMap(_.schemaJson)
    .map(js => org.apache.spark.sql.types.DataType.fromJson(js)
      .asInstanceOf[StructType])
    .map(st => StructType(st.fields.map(f =>
      StructField(f.name, f.dataType, f.nullable, Metadata.empty))))
    .getOrElse(meta.schema)

  override def partitioning(): Array[Transform] =
    snap.map(_.partCols).getOrElse(meta.partitionColumnNames)
      .map(Expressions.identity).toArray

  override def properties(): java.util.Map[String, String] = {
    val base = Map(
      "provider" -> "txnlog",
      "location" -> t.root.toString) ++
      snap.map(sn =>
        sn.properties ++
          Map("graft.version" -> sn.version.toString,
            "graft.minReaderVersion" -> sn.minReader.toString) ++
          sn.notNull.toSeq.sorted.map(c =>
            s"graft.constraints.notnull.$c" -> s"$c IS NOT NULL") ++
          sn.checks.toSeq.sortBy(_._1).map { case (n, e) =>
            s"graft.constraints.$n" -> e }
      ).getOrElse(Map.empty)
    base.asJava
  }

  /** OVERWRITE_DYNAMIC is served by the injected rule rewriting
    * `OverwritePartitionsDynamic` onto [[TxnLog.replaceDynamic]] (the
    * Delta pattern — Spark has no V1-fallback exec for the dynamic
    * node), not by a `SupportsDynamicOverwrite` builder. */
  override def capabilities(): JSet[TableCapability] =
    Collections.unmodifiableSet(java.util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.TRUNCATE))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOf.isEmpty,
      s"cannot write to a time-traveled snapshot of ${name()} " +
        s"(VERSION AS OF ${asOf.get})")
    new TxnLogV2WriteBuilder(t, writeLayout,
      allowWiden = Option(info.options.get("mergeSchema"))
        .exists(_.toBoolean))
  }

  /** Batch SCANS never reach this builder when the session is
    * configured correctly — [[TxnLogV2ReadRewrite]] rewrites the
    * relation first (metadata commands like DESCRIBE still probe the
    * builder for stats, so it must construct). Actually EXECUTING the
    * scan means the catalog was installed WITHOUT the extensions (the
    * rewrite rule is injected by
    * `spark.sql.extensions=graft.GraftExtensions`); fail with the
    * missing setting by name instead of an opaque planning error. */
  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    new org.apache.spark.sql.connector.read.ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.Scan {
          override def readSchema(): StructType = TxnLogTable.this.schema()
          override def description(): String =
            "txnlog (reads rewrite onto the log scan; executing this " +
              "scan means the graft extensions are not installed)"
          override def toBatch
              : org.apache.spark.sql.connector.read.Batch =
            throw new IllegalStateException(
              s"reading txnlog table ${name()} through the DSv2 " +
                "catalog needs the graft resolution rule: set " +
                "spark.sql.extensions=graft.GraftExtensions alongside " +
                "spark.sql.catalog.spark_catalog=" +
                "graft.sources.TxnLogCatalog")
        }
    }

  /** The V1 fallback `DataStreamWriter.toTable` routes streaming
    * writes through (reads never consult it — the rewrite rule
    * handles them WITH reader options, which this seam drops). The
    * schema is refreshed from the log so the fallback never serves
    * a stale metastore copy. */
  override def v1Table: CatalogTable =
    snap.flatMap(_.schemaJson)
      .map(js => org.apache.spark.sql.types.DataType.fromJson(js)
        .asInstanceOf[StructType])
      .map(st => meta.copy(schema = st)).getOrElse(meta)
}

/** INSERT INTO → one append commit (restaged through a partitioned
  * target's layout); INSERT OVERWRITE / truncate-overwrite → one
  * atomic REPLACE. A PARTITION-equality filter set (SQL
  * `INSERT OVERWRITE t PARTITION (k = 7)`,
  * `writeTo(t).overwrite($"k" === 7)`) lands as ONE partition-scoped
  * replace commit ([[TxnLog.replaceWhere]] — Delta's replaceWhere):
  * exactly the matching partitions' files are removed, the new rows
  * added, atomically. Non-partition or non-equality filters refuse
  * by name: they cannot scope files and need a row-level rewrite.
  * DYNAMIC overwrite (`writeTo(t).overwritePartitions()`, `INSERT
  * OVERWRITE` under `partitionOverwriteMode=dynamic`) replaces
  * exactly the partitions present in the incoming data
  * ([[TxnLog.replaceDynamic]]) — the daily-ETL re-run idiom. */
private class TxnLogV2WriteBuilder(t: TxnLog.Table,
    partCols: Seq[String], allowWiden: Boolean = false)
  extends WriteBuilder with SupportsOverwrite {

  private var replaceAll = false
  private var replaceSpec: Map[String, String] = Map.empty
  private var replaceCond: Option[org.apache.spark.sql.Column] = None

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.isEmpty || filters.forall(_ == AlwaysTrue)) {
      replaceAll = true
      return this
    }
    // PARTITION-column equality conjunctions keep the metadata-only
    // fast path (file-level scoping, no data read); anything else
    // routes the GENERAL replaceWhere (one atomic delete-matching +
    // insert-validated commit) when the filters translate exactly
    val pairs: Option[Seq[(String, String)]] =
      try Some(filters.toSeq.map {
        case org.apache.spark.sql.sources.EqualTo(c, v)
          if partCols.contains(c) && v != null =>
          c -> TxnLogV2WriteBuilder.partToken(v)
        case org.apache.spark.sql.sources.EqualNullSafe(c, v)
          if partCols.contains(c) && v != null =>
          c -> TxnLogV2WriteBuilder.partToken(v)
        case org.apache.spark.sql.sources.IsNull(c)
          if partCols.contains(c) =>
          c -> "__HIVE_DEFAULT_PARTITION__"
        case f => throw TxnLogV2WriteBuilder.NotPartitionScoped
      }) catch {
        case e: IllegalArgumentException
          if e ne TxnLogV2WriteBuilder.NotPartitionScoped => throw e
        case _: IllegalArgumentException => None
      }
    pairs match {
      case Some(ps) =>
        // a column scoped twice is a contradictory (or redundant)
        // spec — toMap would silently last-win and replace the
        // WRONG partition
        val dup = ps.groupBy(_._1).collect {
          case (c, vs) if vs.map(_._2).distinct.length > 1 => c }
        require(dup.isEmpty,
          s"txnlog INSERT OVERWRITE scopes partition column(s) " +
            s"${dup.toSeq.sorted.mkString(", ")} with more than one value")
        replaceSpec = ps.toMap
      case None =>
        val exact = filters.toSeq.map(f => TxnLogV2WriteBuilder.exact(f)
          .getOrElse(throw new IllegalArgumentException(
            s"txnlog overwrite-by-filter cannot translate: $f — " +
              "scope on partition-column equalities, a translatable " +
              "row predicate, or use DELETE FROM + INSERT")))
        replaceCond = Some(exact.reduce(_ && _))
    }
    this
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          val s = data.sparkSession
          if (replaceSpec.nonEmpty) {
            TxnLog.replaceWhere(s, t, data, replaceSpec, allowWiden); ()
          } else if (replaceCond.nonEmpty) {
            TxnLog.replaceWhereExpr(s, t, data, replaceCond.get,
              allowWiden = allowWiden); ()
          } else if (replaceAll || overwrite) {
            TxnLog.replace(s, t, data, partCols); ()
          } else if (partCols.isEmpty) {
            TxnLog.append(s, t, data, allowWiden); ()
          } else {
            TxnLog.appendPartitioned(s, t, data, partCols,
              allowWiden = allowWiden); ()
          }
        }
      }
  }
}

private object TxnLogV2WriteBuilder {
  /** A pushed V1 filter as an exactly equivalent Column, or None —
    * Or/Not over an untranslatable branch would change semantics, so
    * nothing partial survives. */
  def exact(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v)            => Some(col(a) === lit(v))
      case GreaterThan(a, v)        => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v)           => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
      case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a)                => Some(col(a).isNull)
      case IsNotNull(a)             => Some(col(a).isNotNull)
      case StringStartsWith(a, p)   => Some(col(a).startsWith(p))
      case And(l, r) => for (a <- exact(l); b <- exact(r)) yield a && b
      case Or(l, r)  => for (a <- exact(l); b <- exact(r)) yield a || b
      case Not(x)    => exact(x).map(!_)
      case _         => None
    }
  }

  /** Sentinel: a filter set that is not a partition-equality
    * conjunction (falls through to the general replaceWhere path).
    * Identity-compared so partToken's own refusals still surface. */
  val NotPartitionScoped = new IllegalArgumentException(
    "not partition-scoped")

  /** The recorded-partition-value token for a pushed literal — the
    * DECODED form [[TxnLog]] replay state holds (directory-name
    * escaping is applied at write, undone at replay). Spark's
    * partitioned writer renders strings, integrals, booleans and
    * DATEs with their toString, so those round-trip; TIMESTAMP-like
    * values do NOT (java.sql.Timestamp renders a trailing `.0` the
    * directory token lacks), and a silent mismatch would degrade the
    * scoped overwrite into an append — refuse those by name.
    * FRACTIONAL types refuse too: float/double partition columns are
    * a rendering footgun (a literal `7.0000001` vs the directory
    * token Spark's writer printed for the stored value need not
    * match byte-for-byte), and a mismatch silently replaces nothing
    * while appending everything. */
  def partToken(v: Any): String = v match {
    case s: org.apache.spark.unsafe.types.UTF8String => s.toString
    case _: java.lang.Float | _: java.lang.Double |
         _: java.math.BigDecimal | _: Decimal =>
      throw new IllegalArgumentException(
        s"txnlog partition-scoped overwrite refuses fractional " +
          s"partition literals (${v.getClass.getSimpleName}: $v): " +
          "float/double/decimal directory tokens do not round-trip " +
          "reliably — partition on string/integral/boolean/date " +
          "columns instead")
    case _: String | _: java.lang.Number | _: java.lang.Boolean =>
      v.toString
    case _: java.sql.Date | _: java.time.LocalDate => v.toString
    case other => throw new IllegalArgumentException(
      s"txnlog partition-scoped overwrite cannot render a " +
        s"${other.getClass.getName} literal as a recorded partition " +
        "token; scope on string/integral/boolean/date partition " +
        "columns, or use the replaceWhere writer option with the " +
        "directory-token spelling")
  }
}

/** Resolution rule (injected by GraftExtensions): every
  * READ-position `DataSourceV2Relation` over a [[TxnLogTable]]
  * becomes a [[TxnLogRelation]] — live (the latest snapshot resolves
  * per execution, so temp views over catalog names serve fresh
  * data) or pinned for time travel — which [[TxnLogReadExpansion]]
  * expands into the log-indexed parquet scan before optimization.
  * Write targets are left for Spark's v2 write planning
  * (AppendData/OverwriteByExpression over the table's V1Write).
  * The rewrite keeps the relation's output attributes, so
  * references bound upstream stay valid — the Delta conversion
  * pattern.
  *
  * STREAMING relations over catalog names rewrite the same way:
  * `readStream.table("name")` resolves to a `StreamingRelationV2`
  * over the [[TxnLogTable]], which becomes the V1
  * `StreamingRelation` every path-addressed stream plans — with the
  * READER OPTIONS intact (readChangeFeed, startingVersion/-Timestamp,
  * ignoreDeletes/ignoreChanges, maxVersionsPerBatch), which Spark's
  * own V2TableWithV1Fallback seam drops. A CDF stream's extra
  * `_change_type` column is appended to the relation's output here
  * (the table's catalog schema cannot know the option), keeping the
  * base attributes' exprIds so references bound upstream stay
  * valid. */
final case class TxnLogV2ReadRewrite(spark: SparkSession)
  extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.streaming.StreamingRelationV2

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // DYNAMIC partition overwrite sits at the plan ROOT: once its
    // query is fully output-resolved (columns aligned/cast to the
    // table schema), route it onto the engine's replaceDynamic — the
    // Delta pattern; Spark has no V1-fallback exec for this node, so
    // the V1Write bridge cannot serve it
    plan match {
      case o: org.apache.spark.sql.catalyst.plans.logical
          .OverwritePartitionsDynamic =>
        o.table match {
          case r: DataSourceV2Relation
            if r.table.isInstanceOf[TxnLogTable] &&
              o.query.resolved && o.outputResolved =>
            return TxnLogDynamicOverwriteCommand(
              r.table.asInstanceOf[TxnLogTable].t, o.query,
              // case-insensitive like every other option surface, and
              // tolerant of malformed values (toBoolean would throw
              // inside an analyzer rule → INTERNAL_ERROR)
              allowWiden = o.writeOptions.exists { case (k, w) =>
                k.equalsIgnoreCase("mergeSchema") &&
                  w.equalsIgnoreCase("true") })
          case _ => ()
        }
      case _ => ()
    }
    // EARLY EXIT: this rule sits in the analyzer's fixpoint batch, so
    // it runs many times per query — a plan with no txnlog v2
    // relation (every query in a session that never touches a
    // catalog-name txnlog table) must pay one cheap existence walk
    // and nothing else
    val hasTarget = plan.exists {
      case r: DataSourceV2Relation => r.table.isInstanceOf[TxnLogTable]
      case s: StreamingRelationV2  => s.table.isInstanceOf[TxnLogTable]
      case _                       => false
    }
    if (!hasTarget) return plan
    // never rewrite a write TARGET: AppendData/OverwriteByExpression
    // plan through the table's own WriteBuilder; InsertIntoStatement
    // still needs ResolveInsertInto to see the v2 relation
    val writeTargets: Seq[LogicalPlan] = plan.collect {
      case i: InsertIntoStatement => Seq(i.table)
      case w: V2WriteCommand      => Seq(w.table)
    }.flatten
    plan.resolveOperatorsUp {
      case r: DataSourceV2Relation
        if r.table.isInstanceOf[TxnLogTable] &&
          !writeTargets.exists(_ eq r) =>
        val tt = r.table.asInstanceOf[TxnLogTable]
        // NOTE: `spark.read.option("versionAsOf"/"timestampAsOf",
        // ...).table(name)` needs no handling here — Spark's own
        // relation resolution folds those option keys into a
        // TimeTravelSpec (session-timezone-aware, refusing both at
        // once) and arrives through the catalog's time-travel
        // loadTable overloads, so tt.asOf already carries the pin
        // (spec-pinned end-to-end)
        new LogicalRelation(
          new TxnLogRelation(spark.sqlContext, tt.t, tt.asOf, tt.schema()),
          r.output, Some(tt.meta), false, None)
      case s: StreamingRelationV2 if s.table.isInstanceOf[TxnLogTable] =>
        val tt = s.table.asInstanceOf[TxnLogTable]
        if (tt.asOf.nonEmpty)
          // an AnalysisException keeps the message user-facing (any
          // other type is wrapped as an analyzer INTERNAL_ERROR)
          throw new org.apache.spark.sql.AnalysisException(
            "USER_RAISED_EXCEPTION", Map("errorMessage" ->
              (s"cannot stream a time-traveled snapshot of " +
                s"${tt.name()}; use the startingVersion/" +
                "startingTimestamp options to choose where the " +
                "stream begins")))
        val opts = s.extraOptions.asCaseSensitiveMap.asScala.toMap +
          ("path" -> tt.t.root.toString)
        val cdf = opts.collectFirst {
          case (k, v) if k.equalsIgnoreCase("readChangeFeed") =>
            v.toBoolean
        }.getOrElse(false)
        // base attributes keep their exprIds; only CDF appends the
        // typed-change column the catalog schema cannot carry
        val out: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
          if (!cdf) s.output
          else s.output :+ org.apache.spark.sql.catalyst.expressions
            .AttributeReference("_change_type",
              org.apache.spark.sql.types.StringType, nullable = false)()
        org.apache.spark.sql.graftglue.StreamShim
          .streamingRelation(spark, "txnlog", opts, out)
    }
  }
}

/** `writeTo(t).overwritePartitions()` / dynamic-mode INSERT OVERWRITE
  * over a catalog-name txnlog table — executes
  * [[TxnLog.replaceDynamic]] over the output-resolved query: one
  * atomic commit replacing exactly the partitions present in the
  * data. The query plan is held fully resolved (the rewrite fires
  * only after output resolution aligned and cast its columns). */
final case class TxnLogDynamicOverwriteCommand(t: TxnLog.Table,
    query: LogicalPlan, allowWiden: Boolean = false)
  extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(query)
  override def run(spark: SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    TxnLog.replaceDynamic(spark, t,
      org.apache.spark.sql.graftshim.Shim.ofRows(spark, query),
      allowWiden)
    Seq.empty
  }
}
