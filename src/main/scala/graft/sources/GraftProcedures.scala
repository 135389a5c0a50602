package graft.sources

import java.util.Collections

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The SQL surface for the store's MAINTENANCE VERBS — Spark 4's
  * `CALL` statement bound through [[GraftCatalog]]'s ProcedureCatalog
  * half (the Iceberg `CALL catalog.system.…` idiom):
  *
  *   CALL graft.system.history(table => '/stores/orders')
  *   CALL graft.system.restore(table => '/stores/orders',
  *                             version => 3, date_col => 'odate')
  *   CALL graft.system.expire_snapshots(table => '/stores/orders',
  *                                      older_than_ms => 7776000000)
  *
  * This keeps [[GraftCatalog]]'s refuse-destructive-DDL stance intact:
  * DROP TABLE still refuses, because deleting history must never be a
  * side-effect of generic DDL — but the lifecycle operations users
  * reach through SQL in every lakehouse (DESCRIBE HISTORY, RESTORE,
  * expiration) exist as EXPLICITLY NAMED verbs, each returning its
  * ledger as a result set. The reference's archive services maintain
  * exactly these audit tables by hand
  * (`create_table_pp_complete_archive_file_log.py`,
  * `land_registry_pp_complete_archiver.py`); here the commit log IS
  * the audit table and the verbs read or advance it.
  *
  * Execution shape: all three verbs are O(versions) driver-side
  * metadata work ([[Sinks.history]] / [[Sinks.restoreSnapshot]] /
  * [[Sinks.expireSnapshots]]) — restore's data rewrite is the one
  * distributed job, and it is the same publish any write takes. The
  * result sets are version-ledger-sized, so they return as
  * [[LocalScan]]s (no job just to show a handful of ledger rows). */
object GraftProcedures {

  /** Procedure names under the `system` namespace, for
    * `SHOW PROCEDURES` and the catalog's loader. */
  val names: Seq[String] =
    Seq("history", "restore", "expire_snapshots", "optimize", "vacuum",
      "add_constraint", "drop_constraint", "show_constraints",
      "register_view", "unregister_view", "show_views", "table_detail",
      "drop_table", "clone", "partitions")

  def forName(name: String, rootOpt: Option[String]): UnboundProcedure =
    name.toLowerCase(java.util.Locale.ROOT) match {
      case "history"          => new HistoryProcedure(rootOpt)
      case "restore"          => new RestoreProcedure(rootOpt)
      case "expire_snapshots" => new ExpireProcedure(rootOpt)
      case "optimize"         => new OptimizeProcedure(rootOpt)
      case "vacuum"           => new VacuumProcedure(rootOpt)
      case "add_constraint"   => new AddConstraintProcedure(rootOpt)
      case "drop_constraint"  => new DropConstraintProcedure(rootOpt)
      case "show_constraints" => new ShowConstraintsProcedure(rootOpt)
      case "register_view"    => new RegisterViewProcedure(rootOpt)
      case "unregister_view"  => new UnregisterViewProcedure(rootOpt)
      case "show_views"       => new ShowViewsProcedure(rootOpt)
      case "table_detail"     => new TableDetailProcedure(rootOpt)
      case "drop_table"       => new DropTableProcedure(rootOpt)
      case "clone"            => new CloneProcedure(rootOpt)
      case "partitions"       => new PartitionsProcedure(rootOpt)
      case other => throw new UnsupportedOperationException(
        s"no procedure '$other' in the graft catalog — available: " +
        s"${names.mkString(", ")} (CALL <catalog>.system.<name>(…))")
    }

  /** A procedure's table argument resolves exactly like a catalog
    * identifier: absolute (or scheme-qualified) as-is, else against
    * the catalog's configured root. */
  private def resolve(table: String, rootOpt: Option[String]): String =
    if (table.startsWith("/") || table.contains("://")) table
    else rootOpt.fold(throw new IllegalArgumentException(
      s"table '$table' is a relative path but the catalog has no root — pass an " +
      "absolute path or set spark.sql.catalog.<name>.root"))(r => s"$r/$table")

  private def spark: SparkSession = SparkSession.active

  private def utf8(s: String) = UTF8String.fromString(s)

  private case class LedgerScan(out: StructType, data: Array[InternalRow]) extends LocalScan {
    override def rows(): Array[InternalRow] = data
    override def readSchema(): StructType = out
  }

  private def result(out: StructType, data: Array[InternalRow]): java.util.Iterator[Scan] =
    Collections.singletonList[Scan](LedgerScan(out, data)).iterator()

  private abstract class GraftProcedure(procName: String) extends UnboundProcedure
    with BoundProcedure {
    override def name(): String = procName
    override def bind(inputType: StructType): BoundProcedure = this
    // every verb either mutates the store or reads mutable commit
    // state — never cacheable as a deterministic expression
    override def isDeterministic: Boolean = false
  }

  /** `CALL graft.system.history(table)` — the commit log of
    * [[Sinks.history]] as a result set: one row per committed,
    * retained version. Read-only. */
  private final class HistoryProcedure(rootOpt: Option[String])
    extends GraftProcedure("history") {

    override def description(): String =
      "Commit log of a graft snapshot store: version, commit time, kind, " +
      "chain parent, live flag — one row per committed, retained version"

    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build())

    private val out = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("commit_time", TimestampType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("parent", LongType, nullable = true),
      StructField("is_current", BooleanType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = resolve(input.getUTF8String(0).toString, rootOpt)
      // history() is driver-side O(versions) metadata already; its
      // rows() collect here is ledger-sized by construction
      val rows = Sinks.history(spark, table).collect().map { r =>
        new GenericInternalRow(Array[Any](
          r.getLong(0), r.getTimestamp(1).getTime * 1000L, utf8(r.getString(2)),
          if (r.isNullAt(3)) null else r.getLong(3), r.getBoolean(4)))
          : InternalRow
      }
      result(out, rows)
    }
  }

  /** `CALL graft.system.restore(table, version, date_col)` — make a
    * retained historical version the live state again, as a NEW commit
    * ([[Sinks.restoreSnapshot]]'s chain-resolved, OCC-guarded,
    * metadata-carrying publish). Returns (restored_version,
    * committed_as). */
  private final class RestoreProcedure(rootOpt: Option[String])
    extends GraftProcedure("restore") {

    override def description(): String =
      "Restore a graft store to a retained historical version, committed as a " +
      "new auditable version (history is append-only; nothing rewinds in place)"

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("version", LongType).build(),
      ProcedureParameter.in("date_col", StringType).build(),
      ProcedureParameter.in("retain_versions", IntegerType).defaultValue("2").build())

    private val out = StructType(Seq(
      StructField("restored_version", LongType, nullable = false),
      StructField("committed_as", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = resolve(input.getUTF8String(0).toString, rootOpt)
      val version = input.getLong(1)
      val dateCol = input.getUTF8String(2).toString
      val retain = input.getInt(3)
      val committed = Sinks.restoreSnapshot(spark, table, version, dateCol,
        retainVersions = retain)
      result(out, Array(new GenericInternalRow(Array[Any](version, committed))))
    }
  }

  /** `CALL graft.system.expire_snapshots(table, older_than_ms)` — the
    * age-based expiration of [[Sinks.expireSnapshots]], returning the
    * full classification ledger (`expired` / `kept:recent` /
    * `kept:last` / `kept:pinned` / `kept:chain`). */
  private final class ExpireProcedure(rootOpt: Option[String])
    extends GraftProcedure("expire_snapshots") {

    override def description(): String =
      "Expire committed versions older than a horizon, keeping the newest " +
      "keep_last, tag pins, and every kept version's DV/MoR chain closure; " +
      "returns the per-version classification ledger"

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("older_than_ms", LongType).build(),
      ProcedureParameter.in("keep_last", IntegerType).defaultValue("1").build())

    private val out = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("status", StringType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = resolve(input.getUTF8String(0).toString, rootOpt)
      val ledger = Sinks.expireSnapshots(spark, table,
        olderThanMs = input.getLong(1), keepLast = input.getInt(2))
      result(out, ledger.toArray.map { case (v, status) =>
        new GenericInternalRow(Array[Any](v, utf8(status))): InternalRow
      })
    }
  }

  /** `CALL graft.system.optimize(table, date_col[, target_file_bytes]
    * [, zorder][, hilbert])` — Delta's `OPTIMIZE [ZORDER BY …]` as a
    * named verb over [[Sinks.compactSnapshot]]: fold any DV/MoR chain
    * to a plain data version, bin-pack to the target file size, and
    * (with `zorder`, a comma-separated column list) cluster the
    * republish so post-compaction scans prune on any z-column's
    * footer stats. OCC-guarded like every publish (compaction always
    * YIELDS to a racing writer). Returns the before/after file-count
    * and byte ledger an operations dashboard records. */
  private final class OptimizeProcedure(rootOpt: Option[String])
    extends GraftProcedure("optimize") {

    override def description(): String =
      "Compact a graft store's live version: fold the DV/MoR chain, bin-pack " +
      "data files to a target size, optionally Z-ORDER/Hilbert-cluster on the " +
      "given columns; commits as a new version and returns the file ledger"

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("date_col", StringType).build(),
      ProcedureParameter.in("target_file_bytes", LongType)
        .defaultValue((128L << 20).toString).build(),
      ProcedureParameter.in("zorder", StringType).defaultValue("''").build(),
      ProcedureParameter.in("hilbert", BooleanType).defaultValue("false").build())

    private val out = StructType(Seq(
      StructField("compacted_version", LongType, nullable = false),
      StructField("committed_as", LongType, nullable = false),
      StructField("files_before", LongType, nullable = false),
      StructField("files_after", LongType, nullable = false),
      StructField("bytes_after", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = resolve(input.getUTF8String(0).toString, rootOpt)
      val dateCol = input.getUTF8String(1).toString
      val target = input.getLong(2)
      val zorder = input.getUTF8String(3).toString
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val hilbert = input.getBoolean(4)
      val before = Sinks.requireHead(spark, table)
      // ledger metadata: every parquet file of a version (O(files) listing)
      def files(v: Long) = Sinks.versionFiles(spark, Sinks.versionDir(table, v))
      val filesBefore = files(before).size.toLong
      val committed = Sinks.compactSnapshot(spark, table, dateCol,
        targetFileBytes = target, zorderCols = zorder, hilbertCurve = hilbert)
      val after = files(committed)
      result(out, Array(new GenericInternalRow(Array[Any](
        before, committed, filesBefore, after.size.toLong, after.map(_.len).sum))))
    }
  }

  /** `CALL graft.system.vacuum(table[, older_than_ms])` — reclaim
    * crash debris ([[Sinks.vacuum]]): version dirs that were claimed
    * and written but never marked, and claims with no dir at all.
    * Touches nothing marked (committed history, branches and tags are
    * structurally out of reach); the age floor keeps an in-flight
    * publisher's staging alive. Returns the reclaimed-entry ledger. */
  private final class VacuumProcedure(rootOpt: Option[String])
    extends GraftProcedure("vacuum") {

    override def description(): String =
      "Reclaim crash debris from a graft store: abandoned (claimed, written, " +
      "never marked) version dirs and orphan claims older than the age floor; " +
      "committed history is structurally untouchable. Returns the ledger"

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("older_than_ms", LongType)
        .defaultValue((24L * 3600 * 1000).toString).build())

    private val out = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("kind", StringType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = resolve(input.getUTF8String(0).toString, rootOpt)
      val ledger = Sinks.vacuum(spark, table, olderThanMs = input.getLong(1))
      result(out, ledger.toArray.map { case (v, kind) =>
        new GenericInternalRow(Array[Any](v, utf8(kind))): InternalRow
      })
    }
  }

  private val constraintOut = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("expr", StringType, nullable = false)))

  private def constraintRows(table: String): Array[InternalRow] =
    Constraints.constraintsOf(spark, table).toArray.sortBy(_._1).map {
      case (n, e) => new GenericInternalRow(Array[Any](utf8(n), utf8(e))): InternalRow
    }

  /** `CALL graft.system.add_constraint(table, name, check_expr)` —
    * Delta's `ALTER TABLE ADD CONSTRAINT`: refuses if existing rows
    * violate, then binds EVERY writer ([[Constraints]]). Returns the
    * table's constraints after the add. */
  private final class AddConstraintProcedure(rootOpt: Option[String])
    extends GraftProcedure("add_constraint") {

    override def description(): String =
      "Add a named CHECK constraint to a graft store: refuses if existing rows " +
      "violate it; afterwards every write path refuses violating rows pre-commit"

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build(),
      ProcedureParameter.in("check_expr", StringType).build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = resolve(input.getUTF8String(0).toString, rootOpt)
      Constraints.addConstraint(spark, table,
        input.getUTF8String(1).toString, input.getUTF8String(2).toString)
      result(constraintOut, constraintRows(table))
    }
  }

  /** `CALL graft.system.drop_constraint(table, name)` — refuses on an
    * unknown name (a typo'd drop must not look like success). */
  private final class DropConstraintProcedure(rootOpt: Option[String])
    extends GraftProcedure("drop_constraint") {

    override def description(): String =
      "Drop a named CHECK constraint from a graft store; refuses unknown names. " +
      "Returns the remaining constraints"

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = resolve(input.getUTF8String(0).toString, rootOpt)
      Constraints.dropConstraint(spark, table, input.getUTF8String(1).toString)
      result(constraintOut, constraintRows(table))
    }
  }

  /** `CALL graft.system.show_constraints(table)` — read-only listing. */
  private final class ShowConstraintsProcedure(rootOpt: Option[String])
    extends GraftProcedure("show_constraints") {

    override def description(): String =
      "List a graft store's CHECK constraints (name, expression)"

    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = resolve(input.getUTF8String(0).toString, rootOpt)
      result(constraintOut, constraintRows(table))
    }
  }

  /** `CALL graft.system.table_detail(table)` — Delta's
    * `DESCRIBE DETAIL` as a named verb: ONE operational summary row
    * per store — live version + kind, committed-version count, the
    * live chain's depth / file count / bytes (the closure a reader
    * actually touches, resolved through parent pointers), merge key,
    * and how many constraints / materialized views / branches / tags
    * ride the table. Read-only, O(versions) metadata + one file
    * listing per chain dir; nothing data-sized. */
  private final class TableDetailProcedure(rootOpt: Option[String])
    extends GraftProcedure("table_detail") {

    override def description(): String =
      "One operational summary row for a graft store: live version and kind, " +
      "committed versions, live-chain depth/files/bytes, merge key, and the " +
      "constraint/view/branch/tag counts"

    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build())

    private val out = StructType(Seq(
      StructField("location", StringType, nullable = false),
      StructField("live_version", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("committed_versions", LongType, nullable = false),
      StructField("chain_depth", LongType, nullable = false),
      StructField("data_files", LongType, nullable = false),
      StructField("data_bytes", LongType, nullable = false),
      StructField("merge_key", StringType, nullable = true),
      StructField("constraints", LongType, nullable = false),
      StructField("views", LongType, nullable = false),
      StructField("branches", LongType, nullable = false),
      StructField("tags", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = resolve(input.getUTF8String(0).toString, rootOpt)
      // O(versions) driver-side metadata and directory listings
      val head = Sinks.requireHead(spark, table)
      // the live chain closure: head → … → base data version
      val chain = DeletionVectors.chainVersions(spark, table, head)
      // every parquet file of the chain, DV/MoR link files included
      val sizes = chain.flatMap(v => Sinks.versionFiles(spark, Sinks.versionDir(table, v)))
        .map(_.len)
      val key = DeletionVectors.chainKeyOf(spark, table, head)
      val fs = Sinks.hadoopFs(spark, new org.apache.hadoop.fs.Path(table))
      val branches = {
        val bp = new org.apache.hadoop.fs.Path(table, "_branches")
        if (fs.exists(bp)) fs.listStatus(bp).count(_.isDirectory).toLong else 0L
      }
      result(out, Array(new GenericInternalRow(Array[Any](
        utf8(table), head, utf8(Sinks.versionKind(spark, table, head)._1),
        Sinks.listVersions(spark, table).size.toLong, chain.size.toLong,
        sizes.size.toLong, sizes.sum,
        key.map(utf8).orNull,
        Constraints.constraintsOf(spark, table).size.toLong,
        graft.plans.MatViews.lookupAll(spark, table).size.toLong,
        branches,
        Tags.listTags(spark, table).size.toLong))))
    }
  }

  /** `view_col:sql_expr` pairs separated by `;` — split at the FIRST
    * colon, so expressions may contain colons themselves. */
  private def parseBindings(s: String): Seq[(String, org.apache.spark.sql.Column)] =
    s.split(";").map(_.trim).filter(_.nonEmpty).toSeq.map { item =>
      val i = item.indexOf(':')
      require(i > 0, s"malformed binding '$item' — expected view_col:sql_expr")
      item.substring(0, i).trim ->
        org.apache.spark.sql.functions.expr(item.substring(i + 1).trim)
    }

  /** `CALL graft.system.register_view(table, view_path, as_of_version,
    * groups[, count_col][, sums])` — the SQL spelling of
    * [[graft.plans.MatViews.register]]: makes `view_path` (a parquet
    * aggregate of the store's state at `as_of_version`) available for
    * AUTOMATIC query rewrite. `groups`/`sums` are `view_col:sql_expr`
    * pairs separated by `;` (e.g. `month:trunc(d, 'month')`); the
    * rewrite itself stays version-checked — registering does nothing
    * unsafe, a stale registration simply never fires. */
  private final class RegisterViewProcedure(rootOpt: Option[String])
    extends GraftProcedure("register_view") {

    override def description(): String =
      "Register a maintained parquet aggregate as a materialized view of a " +
      "graft store for automatic query rewrite (fires only while the reading " +
      "version equals as_of_version)"

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("view_path", StringType).build(),
      ProcedureParameter.in("as_of_version", LongType).build(),
      ProcedureParameter.in("groups", StringType).build(),
      ProcedureParameter.in("count_col", StringType).defaultValue("''").build(),
      ProcedureParameter.in("sums", StringType).defaultValue("''").build(),
      ProcedureParameter.in("counts", StringType).defaultValue("''").build(),
      ProcedureParameter.in("name", StringType)
        .defaultValue(s"'${graft.plans.MatViews.defaultName}'").build())

    private val out = StructType(Seq(
      StructField("base", StringType, nullable = false),
      StructField("view", StringType, nullable = false),
      StructField("as_of_version", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = resolve(input.getUTF8String(0).toString, rootOpt)
      val view = input.getUTF8String(1).toString
      val asOf = input.getLong(2)
      val countCol = input.getUTF8String(4).toString.trim
      graft.plans.MatViews.register(spark, table, view, asOf,
        groups = parseBindings(input.getUTF8String(3).toString),
        countCol = if (countCol.isEmpty) None else Some(countCol),
        sums = parseBindings(input.getUTF8String(5).toString),
        counts = parseBindings(input.getUTF8String(6).toString),
        name = input.getUTF8String(7).toString.trim)
      result(out, Array(new GenericInternalRow(
        Array[Any](utf8(table), utf8(view), asOf))))
    }
  }

  /** `CALL graft.system.show_views(table)` — the store's persisted
    * materialized-view registration (`_views/registration`) as a
    * result set: one row per registered binding, so the arming state
    * any session would resolve is inspectable from SQL. Read-only;
    * empty result = nothing registered. */
  private final class ShowViewsProcedure(rootOpt: Option[String])
    extends GraftProcedure("show_views") {

    override def description(): String =
      "Show a graft store's persisted materialized-view registration: view " +
      "path, reflected source version, and each grain/count/sum binding"

    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build())

    private val out = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("view", StringType, nullable = false),
      StructField("as_of_version", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("view_col", StringType, nullable = false),
      StructField("base_expr", StringType, nullable = true)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = resolve(input.getUTF8String(0).toString, rootOpt)
      val rows = graft.plans.MatViews.lookupAll(spark, table).flatMap { d =>
        def row(kind: String, vc: String, e: Option[String]): InternalRow =
          new GenericInternalRow(Array[Any](utf8(d.name), utf8(d.viewPath),
            d.asOfVersion, utf8(kind), utf8(vc), e.map(utf8).orNull))
        d.groups.map(b => row("group", b.viewCol, Some(b.sql))) ++
          d.countCol.map(c => row("count_star", c, None)).toSeq ++
          d.sums.map(b => row("sum", b.viewCol, Some(b.sql))) ++
          d.counts.map(b => row("count", b.viewCol, Some(b.sql))) ++
          d.mins.map(b => row("min", b.viewCol, Some(b.sql))) ++
          d.maxs.map(b => row("max", b.viewCol, Some(b.sql)))
      }
      result(out, rows.toArray)
    }
  }

  /** `CALL graft.system.unregister_view(table[, name])` — remove the
    * store's registration(s): the named one, or ALL when `name` is
    * empty. Subsequent aggregates read the base again. */
  private final class UnregisterViewProcedure(rootOpt: Option[String])
    extends GraftProcedure("unregister_view") {

    override def description(): String =
      "Remove a graft store's materialized-view registration (the named one, " +
      "or all when name is omitted); aggregate queries read the base table again"

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).defaultValue("''").build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = resolve(input.getUTF8String(0).toString, rootOpt)
      val name = input.getUTF8String(1).toString.trim
      if (name.isEmpty) graft.plans.MatViews.unregister(table)
      else graft.plans.MatViews.unregister(table, name)
      result(StructType(Seq(StructField("base", StringType, nullable = false))),
        Array(new GenericInternalRow(Array[Any](utf8(table)))))
    }
  }

  /** `CALL graft.system.drop_table(table)` — destroy a whole table and
    * return the `(versions, files, bytes)` ledger it removed
    * ([[Sinks.dropTable]]). The catalog's generic `DROP TABLE` refusal
    * stands: destruction is an explicitly named verb with its own
    * result set, never a DDL side-effect — and it still refuses while
    * tags or branches pin history, naming them. */
  /** `CALL graft.system.clone(source, target, date_col[, version]
    * [, retain_versions])` — Delta's DEEP CLONE as a named verb over
    * [[Sinks.cloneSnapshot]]: the chain-resolved state at `version`
    * (default the live head) lands as a NEW table's version 1,
    * carrying the stable-id mapping (+ high-water mark) and the CHECK
    * constraints; refs and history stay with the source. Returns the
    * (source_version, files, bytes, constraints) ledger. */
  private final class CloneProcedure(rootOpt: Option[String])
    extends GraftProcedure("clone") {

    override def description(): String =
      "Deep-clone a graft table's state at a version (default: live head) into " +
      "a new table: fresh history, same rows, same stable-id mapping and CHECK " +
      "constraints; returns the (source_version, files, bytes) ledger"

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("source", StringType).build(),
      ProcedureParameter.in("target", StringType).build(),
      ProcedureParameter.in("date_col", StringType).build(),
      ProcedureParameter.in("version", LongType).defaultValue("-1").build(),
      ProcedureParameter.in("retain_versions", IntegerType).defaultValue("2").build())

    private val out = StructType(Seq(
      StructField("source_version", LongType, nullable = false),
      StructField("cloned_as", LongType, nullable = false),
      StructField("files", LongType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("constraints", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val source = resolve(input.getUTF8String(0).toString, rootOpt)
      val target = resolve(input.getUTF8String(1).toString, rootOpt)
      val dateCol = input.getUTF8String(2).toString
      val version = Some(input.getLong(3)).filter(_ >= 0L)
      val retain = input.getInt(4)
      val (srcV, files, bytes) =
        Sinks.cloneSnapshot(spark, source, target, dateCol, version, retain)
      val nCs = Constraints.constraintsOf(spark, target).size.toLong
      result(out, Array(new GenericInternalRow(
        Array[Any](srcV, 1L, files, bytes, nCs))))
    }
  }

  /** The Iceberg `t.partitions` metadata table as a verb: one row per
    * `txn_month` dir of a version's OWN data files — file count and
    * bytes from the listing (always exact), row count from the
    * version's stats manifest when it carries one (plain snapshots;
    * exact Σ footer rows per month) and NULL otherwise — a chain
    * link's version dir holds deltas whose effective row count only
    * exists merged, and guessing it here would be wrong. Driver cost
    * is one directory listing + one small metadata read — nothing
    * scales with data. */
  private final class PartitionsProcedure(rootOpt: Option[String])
    extends GraftProcedure("partitions") {

    override def description(): String =
      "Per-month physical census of a graft version's own files (default: " +
      "live head): file count and bytes from the listing, row count from " +
      "the version's stats manifest when present (NULL otherwise)"

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("version", LongType).defaultValue("-1").build())

    private val out = StructType(Seq(
      StructField("txn_month", StringType, nullable = true),
      StructField("file_count", LongType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("row_count", LongType, nullable = true),
      StructField("version", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = resolve(input.getUTF8String(0).toString, rootOpt)
      val version = Some(input.getLong(1)).filter(_ >= 0L)
        .getOrElse(Sinks.requireHead(spark, table))
      val vDir = Sinks.versionDir(table, version)
      if (!Sinks.hadoopFs(spark, new org.apache.hadoop.fs.Path(vDir))
          .exists(new org.apache.hadoop.fs.Path(vDir)))
        throw new java.io.FileNotFoundException(s"no version dir for v$version at $table")
      // (month, count, bytes) from the listing — months-sized result;
      // files outside a month dir (a link's `_dv`/`_delta`) count as NULL
      val perMonth = Sinks.versionFiles(spark, vDir).groupBy(f =>
        Some(f.partition).filter(_.startsWith("txn_month="))
          .map(_.stripPrefix("txn_month="))
          .filterNot(_ == "__HIVE_DEFAULT_PARTITION__"))
        .map { case (m, fsz) => m -> (fsz.size.toLong, fsz.map(_.len).sum) }
      val rowsByMonth: Map[Option[String], Long] =
        Sinks.versionMeta(spark, table, version).get(FileStats.metaName)
          .flatMap(FileStats.aggFactsByMonth)
          .map(_.map { case (m, f) => m -> f.rows })
          .getOrElse(Map.empty)
      val rows = perMonth.toSeq.sortBy(_._1).map { case (m, (n, bytes)) =>
        new GenericInternalRow(Array[Any](
          m.map(utf8).orNull, n, bytes,
          rowsByMonth.get(m).map(Long.box).orNull, version)): InternalRow
      }
      result(out, rows.toArray)
    }
  }

  private final class DropTableProcedure(rootOpt: Option[String])
    extends GraftProcedure("drop_table") {

    override def description(): String =
      "Destroy a graft table (all versions, markers, refs, metadata) and " +
      "return the removed (versions, files, bytes) ledger; refuses while " +
      "tags or branches pin its history"

    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build())

    private val out = StructType(Seq(
      StructField("table", StringType, nullable = false),
      StructField("versions", LongType, nullable = false),
      StructField("files", LongType, nullable = false),
      StructField("bytes", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = resolve(input.getUTF8String(0).toString, rootOpt)
      val (versions, files, bytes) = Sinks.dropTable(spark, table)
      result(out, Array(new GenericInternalRow(
        Array[Any](utf8(table), versions, files, bytes))))
    }
  }
}
