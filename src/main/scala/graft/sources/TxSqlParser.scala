package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, InsertStarAction, LogicalPlan, MergeAction, MergeIntoTable, SubqueryAlias, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.core.TxTable

/** SQL entry point for TxTable — injected via the session extensions
  * (`spark.sql.extensions=graft.functions.GraftExtensions`), so pure
  * SQL can address commit-logged tables the way it addresses parquet
  * path tables:
  *
  * {{{
  *   SELECT * FROM txtable.`/data/events`
  *   SELECT * FROM txtable.`/data/events` VERSION AS OF 3
  * }}}
  *
  * Design: a DELEGATING parser — every statement parses through
  * Spark's own parser first; we then splice resolved relations over
  * the `txtable.`path`` identifiers (including under the native
  * `VERSION AS OF` time-travel node). This beats the alternatives:
  * SQL-on-file refuses non-FileFormat sources
  * (UNSUPPORTED_DATASOURCE_FOR_DIRECT_QUERY), and a resolution rule
  * would run AFTER that refusal throws. The spliced plan is the same
  * parquet HadoopFsRelation the batch format uses — pushdown and
  * pruning intact. The `txtable` namespace is reserved by this
  * extension (a database literally named `txtable` would be
  * shadowed — the `parquet.`path`` precedent).
  *
  * **Write verbs** run through the same seam, EAGERLY at parse time
  * (the DESCRIBE HISTORY discipline — each returns a one-row result
  * relation). Spark's own grammar parses the DML shapes; this parser
  * intercepts them when (and only when) the target is a
  * `txtable.`dir`` identifier or a registered bare `[db.]name` and
  * routes them onto the transactional Scala API. Spark itself plans
  * MERGE/UPDATE/DELETE only against a V2 catalog table that supports
  * row-level operations, and these two spellings name no such table.
  * The graft-catalog spelling (`graft.default.t`) does
  * ([[GraftCatalog]]), so its row-level DML plans through Spark's own
  * analyzer instead of the seam:
  *
  * {{{
  *   DELETE FROM txtable.`/t` WHERE o_totalprice < 1000
  *   UPDATE txtable.`/t` SET flag = 'X', v = v * 2 WHERE k % 5 = 0
  *   MERGE INTO txtable.`/t` t USING src s ON t.k = s.k
  *     WHEN MATCHED AND s.op = 'del' THEN DELETE
  *     WHEN MATCHED THEN UPDATE SET v = t.v + s.dv
  *     WHEN NOT MATCHED AND s.op <> 'del' THEN INSERT (k, v) VALUES (s.k, s.dv)
  *     WHEN NOT MATCHED BY SOURCE THEN DELETE
  *   INSERT INTO txtable.`/t` REPLACE WHERE part = 'x' SELECT ...
  *   OPTIMIZE txtable.`/t` [WHERE part = 'x'] [ZORDER BY (a, b)]
  *   VACUUM txtable.`/t` [RETAIN 168 HOURS] [DRY RUN]
  *   RESTORE TABLE txtable.`/t` TO VERSION AS OF 3
  *   RESTORE TABLE txtable.`/t` TO TIMESTAMP AS OF '2026-01-01 00:00:00'
  *   SHOW PARTITIONS txtable.`/t`
  *   CONVERT TO TXTABLE parquet.`/dir`
  *   CREATE TABLE txtable.`/t2` [SHALLOW|DEEP] CLONE txtable.`/t`
  *   REORG TABLE txtable.`/t` APPLY (PURGE)
  * }}}
  *
  * MERGE supports the full clause grammar — conditional
  * UPDATE/DELETE/INSERT (star or explicit assignments) plus NOT
  * MATCHED BY SOURCE — via [[graft.core.TxTable.mergeClauses]]; the
  * bare star upsert keeps the specialized anti-join resolver. ON must
  * equate every bucket key of the (key-bucketed) target to a source
  * expression: routing hashes those, so only buckets holding source
  * keys are touched (a by-source clause forces the full table — the
  * Delta cost model). In clause expressions, alias-qualified
  * references bind by alias; unqualified ones bind target-first.
  * UPDATE/DELETE WHERE/SET column references must be unqualified
  * (they bind against the table frame, not a named alias scope). */
final class TxSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  private def isTx(id: Seq[String]): Boolean =
    id.length == 2 && id.head.equalsIgnoreCase("txtable")

  private def catalog = graft.core.TxCatalog(session)

  /** txtable location of a multipart identifier: the reserved
    * `txtable.`path`` namespace, or a catalog-registered `[db.]name`
    * (`CREATE TABLE name USING txtable LOCATION ...`). Unregistered
    * names resolve to None and fall through to Spark's own catalog —
    * temp views and managed tables are never shadowed. */
  private def resolveTx(id: Seq[String]): Option[String] =
    if (isTx(id)) Some(id(1))
    else if (id.nonEmpty && id.length <= 2)
      catalog.lookup(id.mkString("."))
    else None

  /** Registry location for a graft-CATALOG qualified identifier
    * (`graft[.ns].name`) — what lets the verbs Spark's grammar lacks
    * (OPTIMIZE, VACUUM, RESTORE, `INSERT … REPLACE WHERE`, …) and the
    * table verbs (ALTER, SHOW) take the catalog spelling, routing onto
    * the commit-log API exactly like bare names. Plain INSERT and
    * SELECT are NOT re-routed: INSERT plans through Spark's V2 write
    * onto the table's native `BatchWrite`, and SELECT stays on the V2
    * relation so bucketed joins keep their storage-partitioned plans. */
  private def resolveGraftCatalog(id: Seq[String]): Option[String] = {
    val key = id match {
      case Seq(c, n) if c.equalsIgnoreCase("graft")      => Some(n)
      case Seq(c, ns, n) if c.equalsIgnoreCase("graft") &&
          ns.equalsIgnoreCase("default")                 => Some(n)
      case Seq(c, db, n) if c.equalsIgnoreCase("graft")  => Some(s"$db.$n")
      case _                                             => None
    }
    key.flatMap(catalog.lookup)
  }

  /** Location for the regex-matched maintenance verbs, which accept
    * either `txtable.`path`` (group 1) or a bare `[db.]name` (group 2,
    * catalog-resolved — must be registered). */
  private def verbTarget(path: String, name: String): String =
    if (path != null) path
    else catalog.lookup(name)
      // catalog-qualified spelling (OPTIMIZE graft.default.t) resolves
      // to the same registry entry as the bare name
      .orElse(resolveGraftCatalog(name.split('.').toIndexedSeq))
      .getOrElse(sys.error(
        s"$name is not a registered txtable name — " +
          "CREATE TABLE name USING txtable LOCATION '...' first"))

  private def relationFor(path: String, version: Option[Long],
      tsMillis: Option[Long] = None): LogicalPlan = {
    val t = TxTable(session, path)
    // manifest-planned + zone-map-skipping relation: the spliced scan
    // lists no directories and drops stat-excluded files before IO
    val v = version
      .orElse(tsMillis.map(ts => t.versionAt(ts).getOrElse(sys.error(
        s"$path has no snapshot committed at or before " +
          s"${java.time.Instant.ofEpochMilli(ts)} — oldest retained " +
          "commit is newer (expired history cannot be time-traveled)"))))
      .getOrElse(t.latestVersion.getOrElse(
        sys.error(s"$path has no committed snapshots")))
    org.apache.spark.sql.graft.StreamShims.relationPlanWithStats(
      t.scanRelation(v), path, t.manifestRowCount(v),
      t.manifestColumnStats(v))
  }

  /** The `txtable.`dir`` path (or registered bare name) of a DML
    * target, unwrapping an alias. UPDATE/MERGE/DELETE targets spelled
    * through the graft CATALOG (`UPDATE graft.default.t SET …`)
    * deliberately do NOT take the seam: the V2 table implements
    * `SupportsRowLevelOperations` (delta-based) + `SupportsDelete`, so
    * Spark's OWN analyzer rewrites plan them end-to-end
    * ([[GraftRowLevelOperation]]) — a session without GraftExtensions
    * writes identically. */
  private def txPath(plan: LogicalPlan): Option[String] = plan match {
    case u: UnresolvedRelation => resolveTx(u.multipartIdentifier)
    case s: SubqueryAlias => txPath(s.child)
    case _                => None
  }

  /** Same for table-verb targets, which parse as `UnresolvedTable`
    * (ALTER) or `UnresolvedTableOrView` (SHOW) rather than
    * `UnresolvedRelation`. */
  private def txTablePath(plan: LogicalPlan): Option[String] = plan match {
    // table verbs (ALTER/SHOW/constraint DDL) accept the graft-CATALOG
    // qualified spelling too — notably `ALTER COLUMN SET NOT NULL`,
    // which Spark's V2 analyzer refuses outright on a nullable column
    // (the property-channel invariant validates-then-enforces instead)
    case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
      resolveTx(t.multipartIdentifier)
        .orElse(resolveGraftCatalog(t.multipartIdentifier))
    case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView =>
      resolveTx(t.multipartIdentifier)
        .orElse(resolveGraftCatalog(t.multipartIdentifier))
    // ADD CONSTRAINT wraps its target in the grammar-built validation
    // scan (Filter(NOT cond, relation)) — look through it
    case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
      txTablePath(f.child)
    case _ => txPath(plan)
  }

  /** The alias a MERGE target/source carries, if any. */
  private def aliasOf(plan: LogicalPlan): Option[String] = plan match {
    case SubqueryAlias(id, _) => Some(id.name)
    case _                    => None
  }

  /** The ON condition as (bucket-key name → SOURCE-side expression):
    * each conjunct must be an equality with a recognizable target-key
    * side — explicitly target-qualified, or an unqualified bucket-key
    * name (with the explicitly source-qualified side, or any other
    * expression, as the source side). */
  private def onCondNames(onCond: Expression, tAlias: Option[String],
      sAlias: Option[String], keys: Seq[String]): Map[String, Expression] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    // classification: Some(key) when the side can be the target's key
    // column; an explicitly source-qualified side never is
    def targetKey(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => a.nameParts match {
        case Seq(q, c) if sAlias.exists(_.equalsIgnoreCase(q)) => None
        case Seq(q, c) if tAlias.exists(_.equalsIgnoreCase(q)) &&
          keys.exists(_.equalsIgnoreCase(c)) => Some(c)
        case Seq(c) if keys.exists(_.equalsIgnoreCase(c)) => Some(c)
        case _ => None
      }
      case _ => None
    }
    def explicitlyTarget(e: Expression): Boolean = e match {
      case a: UnresolvedAttribute => a.nameParts match {
        case Seq(q, _) => tAlias.exists(_.equalsIgnoreCase(q))
        case _         => false
      }
      case _ => false
    }
    conjuncts(onCond).map {
      case EqualTo(l, r) =>
        val (tSide, sSide) =
          if (explicitlyTarget(l)) (l, r)
          else if (explicitlyTarget(r)) (r, l)
          else if (targetKey(l).isDefined) (l, r)
          else if (targetKey(r).isDefined) (r, l)
          else sys.error("MERGE INTO txtable ON needs a target bucket-key " +
            s"side per equality — got ${EqualTo(l, r).sql}")
        targetKey(tSide).getOrElse(sys.error(
          s"MERGE INTO txtable ON: ${tSide.sql} is not a bucket key " +
            s"(${keys.mkString(", ")})")).toLowerCase -> sSide
      case e => sys.error("MERGE INTO txtable ON must be a conjunction " +
        s"of key equalities t.k = <source expr> — got ${e.sql}")
    }.toMap
  }

  private def requireOnIsKeys(onNames: Set[String], keys: Seq[String],
      tx: TxTable): Unit =
    require(onNames == keys.map(_.toLowerCase).toSet,
      s"MERGE INTO txtable ON keys $onNames must equal the table's " +
        s"bucket keys ${keys.mkString(", ")}")

  /** Does a CREATE TABLE spec declare `USING txtable`? */
  private def providerIsTx(spec: Any): Boolean = spec match {
    case s: org.apache.spark.sql.catalyst.plans.logical.UnresolvedTableSpec =>
      s.provider.exists(_.equalsIgnoreCase("txtable"))
    case _ => false
  }

  private def specLocation(spec: Any): Option[String] = spec match {
    case s: org.apache.spark.sql.catalyst.plans.logical.UnresolvedTableSpec =>
      s.location
    case _ => None
  }

  /** `[db.]name` of an UnresolvedIdentifier CREATE target (≤2 parts,
    * not the reserved txtable namespace). */
  private def namedIdent(plan: LogicalPlan): Option[String] = plan match {
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier
        if u.nameParts.nonEmpty && u.nameParts.length <= 2 &&
          !isTx(u.nameParts) =>
      Some(u.nameParts.mkString("."))
    case _ => None
  }

  /** Warehouse-derived location for a named table created without
    * LOCATION (`warehouse/db/name`). */
  private def defaultLocation(name: String): String = {
    val wh = session.conf.get("spark.sql.warehouse.dir")
    new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(wh),
      name.toLowerCase.replace('.', '/')).toString
  }

  /** Name parts of a DROP TABLE target. */
  private def dropTarget(plan: LogicalPlan): Option[String] = plan match {
    case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView
        if t.multipartIdentifier.length <= 2 =>
      Some(t.multipartIdentifier.mkString("."))
    case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable
        if t.multipartIdentifier.length <= 2 =>
      Some(t.multipartIdentifier.mkString("."))
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier
        if u.nameParts.length <= 2 =>
      Some(u.nameParts.mkString("."))
    case _ => None
  }

  /** Session-timezone-aware parse of a RESTORE/time-travel timestamp
    * literal — Catalyst's own string→timestamp cast under
    * `spark.sql.session.timeZone`, so date-only strings
    * ('2026-01-01') and zone-naive timestamps behave exactly like
    * `TIMESTAMP AS OF` in SQL (Delta semantics), not like the JVM
    * default zone. */
  private def parseSessionTs(s: String): Long = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    val zone = session.sessionState.conf.sessionLocalTimeZone
    val micros = Cast(
      Literal.create(s.trim, org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.TimestampType, Some(zone)).eval(null)
    require(micros != null, s"cannot parse timestamp literal '$s'")
    micros.asInstanceOf[Long] / 1000L
  }

  /** One-row result relation of an eagerly-executed DML verb. */
  private def dmlResult(op: String, version: Long): LogicalPlan = {
    import session.implicits._
    Seq((op, version)).toDF("operation", "version").queryExecution.logical
  }

  private def column(e: Expression) =
    org.apache.spark.sql.graft.StreamShims.columnOf(e)

  /** The column names of a CREATE TABLE's `PARTITIONED BY (col, …)`;
    * any other transform is refused, named with the `verb` spelling. */
  private def partitionColumns(
      partitioning: Seq[org.apache.spark.sql.connector.expressions.Transform],
      verb: String): Seq[String] =
    partitioning.map { tr =>
      require(tr.name == "identity" && tr.references.length == 1 &&
          tr.references.head.fieldNames.length == 1,
        s"$verb supports PARTITIONED BY (col, ...) only — got $tr")
      tr.references.head.fieldNames.head
    }

  /** An INSERT's query aligned BY POSITION to the table's columns (the
    * SQL rule): each output column cast to its target's type and
    * renamed to its name. */
  private def byPosition(q: org.apache.spark.sql.DataFrame,
      target: Seq[org.apache.spark.sql.types.StructField],
      what: String): org.apache.spark.sql.DataFrame = {
    require(q.columns.length == target.length,
      s"$what by position needs ${target.length} columns, query " +
        s"produces ${q.columns.length}")
    q.select(q.columns.zip(target).map { case (src, f) =>
      q.col(s"`$src`").cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
  }

  private def rewrite(plan: LogicalPlan): LogicalPlan = plan match {
    // INSERT over the spliced relation would become a direct
    // parquet-location write BYPASSING the commit log (the files
    // would land as unreferenced orphans and vacuum away) — refuse
    // with the supported path named
    // table properties: ALTER TABLE ... SET/UNSET TBLPROPERTIES and
    // SHOW TBLPROPERTIES route onto the metadata-commit API; a
    // recognized property (graft.deletionVectors / changeDataFeed /
    // statsOnWrite) changes behavior for every writer of the table
    case org.apache.spark.sql.catalyst.plans.logical.SetTableProperties(
        child, props) if txTablePath(child).isDefined =>
      dmlResult("setproperties",
        TxTable(session, txTablePath(child).get).setProperties(props))
    case org.apache.spark.sql.catalyst.plans.logical.UnsetTableProperties(
        child, keys, _) if txTablePath(child).isDefined =>
      dmlResult("setproperties",
        TxTable(session, txTablePath(child).get).unsetProperties(keys))
    case org.apache.spark.sql.catalyst.plans.logical.ShowTableProperties(
        child, key, _) if txTablePath(child).isDefined => {
      import session.implicits._
      val all = TxTable(session, txTablePath(child).get).properties
      key.fold(all)(k => all.view.filterKeys(_ == k).toMap)
        .toSeq.sortBy(_._1).toDF("key", "value").queryExecution.logical
    }
    // CHECK constraints — ALTER TABLE ADD CONSTRAINT name CHECK (...)
    // validates existing rows then persists; every later write
    // enforces inside the write job. The grammar emits
    // AddCheckConstraint for CHECK and AddConstraint for the PK/FK
    // shapes (informational elsewhere — unsupported here).
    case a: org.apache.spark.sql.catalyst.plans.logical.AddCheckConstraint
        if txTablePath(a.child).isDefined =>
      dmlResult("addconstraint",
        TxTable(session, txTablePath(a.child).get)
          .addCheckConstraint(a.checkConstraint.name,
            a.checkConstraint.condition))
    case org.apache.spark.sql.catalyst.plans.logical.AddConstraint(
        child, tc) if txTablePath(child).isDefined =>
      sys.error("ALTER TABLE txtable supports CHECK constraints only — " +
        s"got ${tc.getClass.getSimpleName}")
    case org.apache.spark.sql.catalyst.plans.logical.DropConstraint(
        child, name, ifExists, _) if txTablePath(child).isDefined =>
      val t = TxTable(session, txTablePath(child).get)
      require(ifExists || t.constraints.contains(name),
        s"${t.location} has no constraint $name")
      dmlResult("dropconstraint", t.dropConstraint(name))
    // ALTER COLUMN col SET NOT NULL / DROP NOT NULL — the nullability
    // invariant rides the property channel (the CHECK discipline):
    // SET validates existing rows then enforces in every write job
    case a: org.apache.spark.sql.catalyst.plans.logical.AlterColumns
        if txTablePath(a.table).isDefined =>
      val t = TxTable(session, txTablePath(a.table).get)
      val v = a.specs.map { sp =>
        require(sp.column.name.length == 1,
          "ALTER COLUMN on txtable supports top-level columns — got " +
            sp.column.name.mkString("."))
        require(sp.newDataType.isEmpty && sp.newComment.isEmpty &&
            sp.newPosition.isEmpty && sp.newDefaultExpression.isEmpty,
          "ALTER COLUMN on txtable supports SET NOT NULL / DROP NOT NULL only")
        sp.newNullability match {
          case Some(false) => t.setNotNull(sp.column.name.head)
          case Some(true)  => t.dropNotNull(sp.column.name.head)
          case None => sys.error(
            "ALTER COLUMN on txtable supports SET NOT NULL / DROP NOT NULL only")
        }
      }.last
      dmlResult("altercolumn", v)
    // schema evolution verbs — metadata-only commits through the
    // column-mapping API (physical names frozen, zero data rewritten)
    case org.apache.spark.sql.catalyst.plans.logical.RenameColumn(
        child, column, newName) if txTablePath(child).isDefined =>
      require(column.name.length == 1,
        s"ALTER TABLE txtable RENAME COLUMN supports top-level columns — " +
          s"got ${column.name.mkString(".")}")
      dmlResult("alterschema", TxTable(session, txTablePath(child).get)
        .renameColumn(column.name.head, newName))
    case org.apache.spark.sql.catalyst.plans.logical.DropColumns(
        child, columns, _) if txTablePath(child).isDefined =>
      val t = TxTable(session, txTablePath(child).get)
      val v = columns.map { c =>
        require(c.name.length == 1,
          s"ALTER TABLE txtable DROP COLUMN supports top-level columns — " +
            s"got ${c.name.mkString(".")}")
        t.dropColumn(c.name.head)
      }.last
      dmlResult("alterschema", v)
    case org.apache.spark.sql.catalyst.plans.logical.AddColumns(
        child, cols) if txTablePath(child).isDefined =>
      val t = TxTable(session, txTablePath(child).get)
      val v = cols.map { c =>
        require(c.path.isEmpty && c.position.isEmpty && c.default.isEmpty,
          "ALTER TABLE txtable ADD COLUMN supports plain top-level " +
            "nullable columns (no FIRST/AFTER, no DEFAULT)")
        t.addColumn(c.colName, c.dataType)
      }.last
      dmlResult("alterschema", v)
    // INSERT INTO / INSERT OVERWRITE on the `txtable.`dir`` spelling
    // route onto the commit-log API (by-POSITION against the table's
    // logical schema, the SQL rule; INSERT (cols...) assigns the named
    // columns and NULL-fills the rest). A direct write to the spliced
    // parquet relation would bypass the log entirely — this
    // interception is what makes the verb safe. Catalog-qualified
    // names (`graft.default.t`) are NOT intercepted: they plan through
    // Spark's own V2 INSERT path onto the table's native `BatchWrite`
    // (executor task writers, one driver commit — GraftCatalog).
    case i: org.apache.spark.sql.catalyst.plans.logical.InsertIntoStatement
        if i.table.isInstanceOf[UnresolvedRelation] && {
          val mpi = i.table.asInstanceOf[UnresolvedRelation]
            .multipartIdentifier
          resolveTx(mpi).isDefined
        } =>
      val mpi = i.table.asInstanceOf[UnresolvedRelation].multipartIdentifier
      val path = resolveTx(mpi).get
      val t = TxTable(session, path)
      require(i.partitionSpec.isEmpty,
        "INSERT INTO txtable with a PARTITION spec is not supported — " +
          "the layout routes from the data (hive-shadow discipline); " +
          "include the partition column in the SELECT")
      val q = org.apache.spark.sql.graft.StreamShims.ofRows(session, i.query)
      val target = t.read().schema.fields
      val aligned =
        if (i.userSpecifiedCols.nonEmpty) {
          require(i.userSpecifiedCols.length == q.columns.length,
            s"INSERT column list names ${i.userSpecifiedCols.length} columns " +
              s"but the query produces ${q.columns.length}")
          val byName = i.userSpecifiedCols.map(_.toLowerCase)
            .zip(q.columns).toMap
          // identity columns the list omits stay OUT of the frame
          // (not NULL-filled) so the write job mints them
          val identCols = t.identityColumns.keySet
          q.select(target.flatMap { f =>
            byName.get(f.name.toLowerCase) match {
              case Some(src) =>
                Some(q.col(s"`$src`").cast(f.dataType).as(f.name))
              case None if identCols.contains(f.name.toLowerCase) => None
              case None => Some(org.apache.spark.sql.functions.lit(null)
                .cast(f.dataType).as(f.name))
            }
          }.toIndexedSeq: _*)
        } else byPosition(q, target.toSeq, s"INSERT INTO txtable.`$path`")
      if (i.overwrite) {
        require(t.bucketKeys.isEmpty,
          "INSERT OVERWRITE a key-bucketed txtable is not supported — " +
            "use the Scala overwriteBucketed API")
        // the Delta conf contract: under partitionOverwriteMode=dynamic
        // a partitioned target replaces only the partitions the data
        // touches; static (the default) replaces the table
        val dynamic = session.conf
          .get("spark.sql.sources.partitionOverwriteMode", "static")
          .equalsIgnoreCase("dynamic") && t.partitionColumns.nonEmpty
        if (dynamic) dmlResult("overwrite", t.overwriteDynamic(aligned))
        else dmlResult("overwrite",
          t.overwrite(aligned, t.partitionColumns))
      } else dmlResult("append", t.append(aligned))
    // CREATE TABLE txtable.`dir` [PARTITIONED BY (...)] AS SELECT —
    // materialize a query as a NEW commit-logged table (refuses an
    // existing one unless IF NOT EXISTS)
    case c: org.apache.spark.sql.catalyst.plans.logical.CreateTableAsSelect
        if c.name.isInstanceOf[org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier] &&
          isTx(c.name.asInstanceOf[org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier].nameParts) =>
      val path = c.name
        .asInstanceOf[org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier]
        .nameParts(1)
      val exists = TxTable.isTable(session, path)
      if (exists && c.ignoreIfExists)
        dmlResult("createtable", TxTable(session, path).latestVersion.getOrElse(0L))
      else {
        require(!exists, s"$path is already a TxTable — " +
          "use INSERT OVERWRITE or CREATE TABLE IF NOT EXISTS")
        val partitionBy = partitionColumns(c.partitioning,
          "CREATE TABLE txtable")
        val q = org.apache.spark.sql.graft.StreamShims.ofRows(session, c.query)
        dmlResult("createtable",
          TxTable(session, path).overwrite(q, partitionBy))
      }
    // CREATE TABLE name USING txtable [LOCATION '/dir'] — register a
    // NAME for a commit-logged table (the metastore role; external-
    // table semantics). An existing txtable at the location registers
    // as-is (declared columns ignored — the log owns the schema); a
    // fresh location needs declared columns and commits an empty v0.
    case c: org.apache.spark.sql.catalyst.plans.logical.CreateTable
        if providerIsTx(c.tableSpec) &&
          namedIdent(c.name).isDefined =>
      val name = namedIdent(c.name).get
      val explicitLoc = specLocation(c.tableSpec)
      val loc = explicitLoc.getOrElse(defaultLocation(name))
      if (TxTable.isTable(session, loc)) {
        catalog.register(name, loc, managed = explicitLoc.isEmpty,
          ifNotExists = c.ignoreIfExists)
        dmlResult("createtable",
          TxTable(session, loc).latestVersion.getOrElse(0L))
      } else {
        require(c.columns.nonEmpty,
          s"CREATE TABLE $name USING txtable on a fresh location needs " +
            "a column list (or point LOCATION at an existing txtable)")
        val schema = StructType(c.columns.map(cd =>
          org.apache.spark.sql.types.StructField(cd.name, cd.dataType)))
        val partitionBy = partitionColumns(c.partitioning,
          "CREATE TABLE USING txtable")
        val empty = session.createDataFrame(
          session.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        val v = TxTable(session, loc).overwrite(empty, partitionBy)
        catalog.register(name, loc, managed = explicitLoc.isEmpty,
          ifNotExists = c.ignoreIfExists)
        dmlResult("createtable", v)
      }
    // CREATE TABLE name USING txtable [LOCATION ...] AS SELECT —
    // named CTAS: materialize + register
    case c: org.apache.spark.sql.catalyst.plans.logical.CreateTableAsSelect
        if providerIsTx(c.tableSpec) &&
          c.name.isInstanceOf[org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier] &&
          !isTx(c.name.asInstanceOf[org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier].nameParts) =>
      val name = namedIdent(c.name).getOrElse(
        sys.error("CREATE TABLE USING txtable supports [db.]name targets"))
      val explicitLoc = specLocation(c.tableSpec)
      val loc = explicitLoc.getOrElse(defaultLocation(name))
      val exists = TxTable.isTable(session, loc) ||
        catalog.lookup(name).exists(l => TxTable.isTable(session, l))
      if (exists && c.ignoreIfExists) {
        catalog.register(name, loc, managed = explicitLoc.isEmpty,
          ifNotExists = true)
        dmlResult("createtable",
          TxTable(session, loc).latestVersion.getOrElse(0L))
      } else {
        require(!exists, s"$name / $loc already exists — " +
          "use INSERT OVERWRITE or CREATE TABLE IF NOT EXISTS")
        val partitionBy = partitionColumns(c.partitioning,
          "CREATE TABLE USING txtable")
        val q = org.apache.spark.sql.graft.StreamShims.ofRows(session, c.query)
        val v = TxTable(session, loc).overwrite(q, partitionBy)
        catalog.register(name, loc, managed = explicitLoc.isEmpty)
        dmlResult("createtable", v)
      }
    // DROP TABLE name — unregister the NAME, leave the data (external-
    // table semantics, the Delta rule for LOCATION-backed tables)
    case d: org.apache.spark.sql.catalyst.plans.logical.DropTable
        if dropTarget(d.child).exists(n => catalog.lookup(n).isDefined) =>
      catalog.drop(dropTarget(d.child).get)
      dmlResult("droptable", 0L)
    case DeleteFromTable(t, cond) if txPath(t).isDefined =>
      dmlResult("delete",
        TxTable(session, txPath(t).get).deleteWhere(column(cond)))
    case UpdateTable(t, assignments, cond) if txPath(t).isDefined =>
      val set = assignments.map {
        case Assignment(key: UnresolvedAttribute, value) =>
          require(key.nameParts.length == 1,
            s"UPDATE txtable SET supports plain top-level columns — " +
              s"got ${key.name}")
          key.nameParts.head -> column(value)
        case a => sys.error(s"unsupported SET target ${a.key.sql}")
      }.toMap
      dmlResult("update",
        TxTable(session, txPath(t).get).updateWhere(
          cond.map(column).getOrElse(
            column(Literal.TrueLiteral)), set))
    case MergeIntoTable(t, source, onCond, matched, notMatched,
        notMatchedBySource, _) if txPath(t).isDefined =>
      val tx = TxTable(session, txPath(t).get)
      // bucketed: ON must equate the bucket keys (routing hashes
      // them). Non-bucketed: ANY table columns may key the merge —
      // the file-granular core plans by zone map/Bloom instead
      val bucketKeysOpt = tx.bucketKeys
      val keys = bucketKeysOpt.getOrElse(tx.read().schema.fieldNames.toSeq)
      val srcDf = org.apache.spark.sql.graft.StreamShims.ofRows(session, source)
      val tAlias = aliasOf(t)
      val sAlias = aliasOf(source)
      // the canonical star upsert takes the specialized resolver (one
      // anti-join ∪ source); every other clause combination routes
      // through the general clause engine
      (matched, notMatched, notMatchedBySource) match {
        case (Seq(UpdateStarAction(None)), Seq(InsertStarAction(None)), Seq())
            if bucketKeysOpt.isDefined =>
          requireOnIsKeys(
            onCondNames(onCond, tAlias, sAlias, keys).keySet,
            bucketKeysOpt.get, tx)
          dmlResult("merge", tx.upsert(srcDf))
        case _ =>
          val tCols = tx.read().schema.fieldNames.map(_.toLowerCase).toSet
          val sCols = srcDf.columns.map(_.toLowerCase).toSet
          // rewrite a clause expression into the clause engine's flat
          // namespace: target columns keep their names, source columns
          // move under the source prefix; qualifiers resolve by alias,
          // unqualified names target-first (the SQL shadowing rule a
          // single-target single-source merge needs)
          def mapAttr(a: UnresolvedAttribute): UnresolvedAttribute =
            a.nameParts match {
              case Seq(q, c) if sAlias.exists(_.equalsIgnoreCase(q)) =>
                UnresolvedAttribute(Seq(TxTable.SrcPrefix + c))
              case Seq(q, c) if tAlias.exists(_.equalsIgnoreCase(q)) =>
                UnresolvedAttribute(Seq(c))
              case Seq(c) if tCols.contains(c.toLowerCase) => a
              case Seq(c) if sCols.contains(c.toLowerCase) =>
                UnresolvedAttribute(Seq(TxTable.SrcPrefix + c))
              case _ => sys.error(s"MERGE INTO txtable: cannot resolve " +
                s"${a.name} against the target or the source")
            }
          def mapped(e: Expression) = column(e.transform {
            case a: UnresolvedAttribute => mapAttr(a)
          })
          def targetColOf(key: Expression): String = key match {
            case a: UnresolvedAttribute => a.nameParts match {
              case Seq(c)    => c
              case Seq(q, c) if tAlias.forall(_.equalsIgnoreCase(q)) => c
              case _ => sys.error(s"MERGE SET/INSERT target ${a.name} " +
                "must be a target column")
            }
            case e => sys.error(s"unsupported MERGE assignment target ${e.sql}")
          }
          def clauseOf(a: MergeAction): TxTable.MergeClause = a match {
            case UpdateAction(cond, assigns, _) => TxTable.MergeUpdate(
              cond.map(mapped),
              assigns.map(x => targetColOf(x.key) -> mapped(x.value)).toMap)
            case UpdateStarAction(cond) =>
              TxTable.MergeUpdate(cond.map(mapped), Map.empty)
            case DeleteAction(cond) => TxTable.MergeDelete(cond.map(mapped))
            case InsertAction(cond, assigns) => TxTable.MergeInsert(
              cond.map(mapped),
              assigns.map(x => targetColOf(x.key) -> mapped(x.value)).toMap)
            case InsertStarAction(cond) =>
              TxTable.MergeInsert(cond.map(mapped), Map.empty)
            case other => sys.error(s"unsupported MERGE action $other")
          }
          val on = onCondNames(onCond, tAlias, sAlias, keys)
          bucketKeysOpt.foreach(bk => requireOnIsKeys(on.keySet, bk, tx))
          val sourceKeys = on.map { case (k, srcSide) =>
            // keep the table key's canonical spelling
            keys.find(_.equalsIgnoreCase(k)).getOrElse(k) -> mapped(srcSide)
          }
          dmlResult("merge", tx.mergeClauses(srcDf, sourceKeys,
            matched = matched.map(clauseOf),
            notMatched = notMatched.map(clauseOf),
            notMatchedBySource = notMatchedBySource.map(clauseOf)))
      }
    case p => rewriteRelations(p)
  }

  private def rewriteRelations(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case RelationTimeTravel(u: UnresolvedRelation, None, Some(v))
        if resolveTx(u.multipartIdentifier).isDefined && v.forall(_.isDigit) =>
      relationFor(resolveTx(u.multipartIdentifier).get, Some(v.toLong))
    case RelationTimeTravel(u: UnresolvedRelation, Some(Literal(v, dt)), None)
        if resolveTx(u.multipartIdentifier).isDefined =>
      // the timestamp slot carries either grammar: an INTEGER literal
      // is a version (some grammars route VERSION AS OF here), a
      // string/timestamp literal is TIMESTAMP AS OF
      val path = resolveTx(u.multipartIdentifier).get
      dt match {
        case org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType =>
          relationFor(path, Some(v.toString.toLong))
        case org.apache.spark.sql.types.TimestampType =>
          relationFor(path, None, Some(v.asInstanceOf[Long] / 1000L))
        case _ =>
          // session-timezone semantics, same as RESTORE ... TIMESTAMP
          // AS OF — the two verbs must resolve a literal identically
          relationFor(path, None, Some(parseSessionTs(v.toString)))
      }
    case u: UnresolvedRelation if resolveTx(u.multipartIdentifier).isDefined =>
      relationFor(resolveTx(u.multipartIdentifier).get, None)
  }

  /** Target alternation for the regex verbs: `txtable.`path`` (first
    * group) or a bare catalog-registered `[db.]name` (second group) —
    * every maintenance verb accepts both, like its Delta twin. */
  private val Tgt = """(?:txtable\s*\.\s*`([^`]+)`|`?([\w][\w.]*)`?)"""

  /** `DESCRIBE HISTORY txtable.`dir`` — the commit-log audit verb
    * (version, operation, n_files), newest first. Handled BEFORE the
    * delegate: Spark's grammar has no HISTORY clause to extend. */
  private val DescribeHistory =
    ("""(?is)\s*DESC(?:RIBE)?\s+HISTORY\s+""" + Tgt + """\s*;?\s*""").r
  /** One-row table summary (the Delta DESCRIBE DETAIL shape). */
  private val DescribeDetail =
    ("""(?is)\s*DESC(?:RIBE)?\s+DETAIL\s+""" + Tgt + """\s*;?\s*""").r

  /** `ALTER TABLE t SET IDENTITY col [START WITH n] [STEP n]` /
    * `ALTER TABLE t DROP IDENTITY col` — GENERATED BY DEFAULT AS
    * IDENTITY declaration ([[TxTable.addIdentityColumn]]); Spark's
    * ALTER grammar has no identity clause to extend, so the verbs
    * match ahead of the delegate like the other maintenance verbs. */
  private val SetIdentityVerb =
    ("""(?is)\s*ALTER\s+TABLE\s+""" + Tgt +
      """\s+SET\s+IDENTITY\s+`?(\w+)`?\s*""" +
      """(?:START\s+WITH\s+(-?\d+)\s*)?(?:STEP\s+(\d+)\s*)?;?\s*""").r
  private val DropIdentityVerb =
    ("""(?is)\s*ALTER\s+TABLE\s+""" + Tgt +
      """\s+DROP\s+IDENTITY\s+`?(\w+)`?\s*;?\s*""").r

  /** Maintenance verbs Spark's grammar lacks entirely — matched ahead
    * of the delegate like DESCRIBE HISTORY. `OPTIMIZE` = compaction
    * (with `ZORDER BY` = clustering rewrite); `VACUUM` = unreferenced
    * -file sweep with the standard RETAIN n HOURS horizon; `RESTORE
    * ... VERSION AS OF n` = metadata-only rewind commit. */
  private val Optimize =
    ("""(?is)\s*OPTIMIZE\s+""" + Tgt +
      """\s*(?:WHERE\s+(.+?)\s*)??(?:ZORDER\s+BY\s*\(([^)]+)\)\s*)?;?\s*""").r

  /** `OPTIMIZE ... WHERE` scope: partition-equality conjuncts only
    * (`k = 'v' AND k2 = v2` — the Delta restriction; TxTable rejects
    * non-partition columns). */
  private def parsePartitionEq(cond: String): Map[String, String] = {
    // parse with Spark's own expression grammar (quote-aware — a
    // quoted value containing ' and ' can never mis-split) and accept
    // exactly the equality-conjunct shape
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    def litStr(v: Any): String = v match {
      case null => sys.error("OPTIMIZE WHERE partition value may not be NULL")
      case x    => x.toString
    }
    conjuncts(delegate.parseExpression(cond)).map {
      case EqualTo(a: UnresolvedAttribute, Literal(v, _)) => a.name -> litStr(v)
      case EqualTo(Literal(v, _), a: UnresolvedAttribute) => a.name -> litStr(v)
      case t => sys.error(
        s"OPTIMIZE WHERE supports only partition-equality conjuncts " +
          s"(k = 'v' AND ...), got: ${t.sql}")
    }.toMap
  }
  private val VacuumVerb =
    ("""(?is)\s*VACUUM\s+""" + Tgt +
      """\s*(?:RETAIN\s+(\d+)\s+HOURS\s*)?(DRY\s+RUN\s*)?;?\s*""").r
  /** `EXPIRE SNAPSHOTS t KEEP [LAST] n` — drop log entries older than
    * the n most recent (the Iceberg maintenance verb; expired files
    * become vacuumable). Spark's grammar has no such clause. */
  private val ExpireVerb =
    ("""(?is)\s*EXPIRE\s+SNAPSHOTS\s+""" + Tgt +
      """\s+KEEP\s+(?:LAST\s+)?(\d+)\s*;?\s*""").r
  /** `SHOW PARTITIONS` straight from the manifest — zero filesystem
    * listing, per-partition file/byte/row totals at any table size. */
  private val ShowPartitions =
    ("""(?is)\s*SHOW\s+PARTITIONS\s+""" + Tgt + """\s*;?\s*""").r
  /** In-place import of a bare parquet dir (the Delta `CONVERT TO
    * DELTA parquet.`path`` shape). */
  private val ConvertVerb =
    """(?is)\s*CONVERT\s+TO\s+TXTABLE\s+parquet\s*\.\s*`([^`]+)`\s*;?\s*""".r

  /** Selective overwrite (the Delta SQL form — not Spark grammar, so
    * matched ahead of the delegate): atomic delete-matching + insert
    * via [[TxTable.replaceWhere]]. */
  private val InsertReplaceWhere =
    ("""(?is)\s*INSERT\s+INTO\s+""" + Tgt +
      """\s+REPLACE\s+WHERE\s+(.+?)\s+(SELECT\b.*?);?\s*""").r
  private val RestoreVerb =
    ("""(?is)\s*RESTORE\s+(?:TABLE\s+)?""" + Tgt +
      """\s+(?:TO\s+)?VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""").r
  private val RestoreTsVerb =
    ("""(?is)\s*RESTORE\s+(?:TABLE\s+)?""" + Tgt +
      """\s+(?:TO\s+)?TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*""").r
  /** `REORG TABLE ... APPLY (PURGE)` — rewrite files whose deletion
    * vectors cross the threshold (default 5%), dropping the vectors. */
  private val ReorgPurge =
    ("""(?is)\s*REORG\s+(?:TABLE\s+)?""" + Tgt +
      """\s+APPLY\s*\(\s*PURGE\s*\)\s*;?\s*""").r
  /** `CREATE TABLE txtable.`t2` SHALLOW CLONE txtable.`t1`` —
    * zero-copy metadata clone (Spark's grammar has no CLONE verb —
    * matched ahead of the delegate like the other maintenance verbs).
    * A NAMED clone target lands at the warehouse-derived location and
    * registers the name. */
  private val ShallowClone =
    ("""(?is)\s*CREATE\s+TABLE\s+""" + Tgt +
      """\s+(SHALLOW\s+|DEEP\s+)?CLONE\s+""" + Tgt + """\s*;?\s*""").r

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case SetIdentityVerb(p, n, colName, start, step) =>
      dmlResult("setidentity", TxTable(session, verbTarget(p, n))
        .addIdentityColumn(colName,
          if (start == null) 1L else start.toLong,
          if (step == null) 1L else step.toLong))
    case DropIdentityVerb(p, n, colName) =>
      dmlResult("dropidentity",
        TxTable(session, verbTarget(p, n)).dropIdentityColumn(colName))
    case DescribeDetail(p, n) =>
      import session.implicits._
      val path = verbTarget(p, n)
      val t = TxTable(session, path)
      val v = t.latestVersion.getOrElse(
        sys.error(s"$path has no committed snapshots"))
      val fsz = t.fileEntries(v)
      Seq((path, v, fsz.size.toLong,
        fsz.map(f => math.max(f.bytes, 0L)).sum,
        fsz.map(_.dvRows).sum,
        t.bucketKeys.map(_.mkString(",")).getOrElse(""),
        t.properties.map { case (k, pv) => s"$k=$pv" }.toSeq.sorted
          .mkString(";")))
        .toDF("location", "version", "num_files", "size_bytes",
          "dv_rows", "bucket_keys", "properties")
        .queryExecution.logical
    case DescribeHistory(p, n) =>
      import session.implicits._
      TxTable(session, verbTarget(p, n)).history().reverse
        .toDF("version", "operation", "n_files", "added_files",
          "added_bytes").queryExecution.logical
    case Optimize(p, n, where, zcols) =>
      val t = TxTable(session, verbTarget(p, n))
      val scope =
        if (where == null) Map.empty[String, String]
        else parsePartitionEq(where)
      // a bare OPTIMIZE honors the table's own clustering policy
      // (graft.zorderColumns property) — explicit ZORDER BY overrides
      val v =
        if (zcols == null) t.optimize(partitionEq = scope)
        else t.compactZOrder(zcols.split(',').toSeq
          .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty),
          partitionEq = scope)
      dmlResult("optimize", v)
    case VacuumVerb(p, nm, hours, dry) =>
      import session.implicits._
      val path = verbTarget(p, nm)
      val minAge =
        if (hours == null) 7L * 24 * 3600 * 1000 else hours.toLong * 3600 * 1000
      val n = TxTable(session, path)
        .vacuum(minAge, dryRun = dry != null).length.toLong
      Seq((path, n)).toDF("location", "files_deleted").queryExecution.logical
    case ExpireVerb(p, nm, keep) =>
      import session.implicits._
      val path = verbTarget(p, nm)
      val dropped = TxTable(session, path).expireSnapshots(keep.toInt)
      Seq((path, dropped.length.toLong,
        dropped.headOption.getOrElse(-1L),
        dropped.lastOption.getOrElse(-1L)))
        .toDF("location", "versions_expired", "oldest", "newest")
        .queryExecution.logical
    case ConvertVerb(path) =>
      dmlResult("convert",
        TxTable.convert(session, path).latestVersion.getOrElse(0L))
    case InsertReplaceWhere(p, nm, condSql, selectSql) =>
      val path = verbTarget(p, nm)
      val t = TxTable(session, path)
      val q = org.apache.spark.sql.graft.StreamShims.ofRows(
        session, delegate.parsePlan(selectSql))
      val aligned = byPosition(q, t.read().schema.fields.toSeq,
        s"INSERT INTO txtable.`$path` REPLACE WHERE")
      dmlResult("replace",
        t.replaceWhere(aligned, column(delegate.parseExpression(condSql))))
    case ShowPartitions(p, nm) if p != null ||
        catalog.lookup(nm).isDefined ||
        resolveGraftCatalog(nm.split('.').toIndexedSeq).isDefined =>
      // SHOW PARTITIONS exists in Spark's own grammar (unlike OPTIMIZE/
      // VACUUM), so an unregistered bare name falls through to the
      // delegate below — hive/parquet partitioned tables keep working
      import session.implicits._
      val path = verbTarget(p, nm)
      val t = TxTable(session, path)
      val v = t.latestVersion.getOrElse(
        sys.error(s"$path has no committed snapshots"))
      val rows = t.fileEntries(v)
        .groupBy(_.partition.toSeq.sortBy(_._1)
          .map { case (k, pv) => s"$k=$pv" }.mkString("/"))
        .map { case (part, fsz) =>
          (part, fsz.size.toLong, fsz.map(f => math.max(f.bytes, 0L)).sum,
            fsz.map(f => math.max(f.rows, 0L)).sum)
        }.toSeq.sortBy(_._1)
      rows.toDF("partition", "num_files", "size_bytes", "rows")
        .queryExecution.logical
    case RestoreVerb(p, nm, version) =>
      dmlResult("restore",
        TxTable(session, verbTarget(p, nm)).restore(version.toLong))
    case RestoreTsVerb(p, nm, ts) =>
      val path = verbTarget(p, nm)
      val t = TxTable(session, path)
      val millis = parseSessionTs(ts)
      val v = t.versionAt(millis).getOrElse(sys.error(
        s"$path has no snapshot committed at or before $ts — oldest " +
          "retained commit is newer (expired history cannot be restored)"))
      dmlResult("restore", t.restore(v))
    case ReorgPurge(p, nm) =>
      dmlResult("reorg", TxTable(session, verbTarget(p, nm)).purgeDeletes())
    case ShallowClone(tp, tn, kind, sp, sn) =>
      // bare CLONE = deep (the Delta default); SHALLOW stays zero-copy.
      // A NAMED target clones to the warehouse-derived location and
      // registers the name.
      val source = verbTarget(sp, sn)
      val target = if (tp != null) tp else defaultLocation(tn)
      val deep = kind == null || kind.trim.equalsIgnoreCase("DEEP")
      val v =
        if (deep) TxTable(session, source).deepCloneTo(target)
        else TxTable(session, source).cloneTo(target)
      if (tp == null) catalog.register(tn, target, managed = true)
      dmlResult("clone", v)
    case _ => rewrite(delegate.parsePlan(sqlText))
  }
  override def parseQuery(sqlText: String): LogicalPlan =
    rewrite(delegate.parseQuery(sqlText))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}
