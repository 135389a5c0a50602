package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** PATH-ADDRESSED TableCatalog for the versioned snapshot store — the
  * SQL front door that makes `MERGE INTO` / `UPDATE` / `DELETE` /
  * `INSERT INTO` reach the lakehouse without the Scala API (the
  * Delta-Lake `delta.`/path/`` idiom). Registered by
  * [[graft.GraftSession]] as
  *
  *   spark.sql.catalog.graft = graft.sources.GraftCatalog
  *
  * so SQL like
  *
  *   MERGE INTO graft.`/data/stores/orders` t USING changes c
  *     ON t.o_orderkey = c.o_orderkey
  *     WHEN MATCHED AND c.op = 'D' THEN DELETE
  *     WHEN MATCHED THEN UPDATE SET *
  *     WHEN NOT MATCHED THEN INSERT *
  *
  * resolves to a [[GraftTable]] in catalog mode: payload schema
  * (derived `txn_month` hidden, so write frames round-trip), DV/MoR
  * chain heads served MERGED, and row-level operations routed to
  * O(changes) MoR commits ([[GraftTable]]'s class doc has the write
  * semantics).
  *
  * Identifier = path: the backquoted identifier IS the store root
  * (multipart identifiers join with '/'; a relative path resolves
  * against the catalog's `root` option,
  * `spark.sql.catalog.graft.root = /warehouse`). The store is
  * self-describing (versions + commit markers + published schema
  * metadata), so the catalog holds NO state of its own: a table
  * "exists" iff its store has a committed version, and CREATE/DROP
  * are publish/retention operations, not catalog DDL — `createTable`
  * points at the bootstrap write path, `dropTable` refuses (deleting
  * 100 TB of committed history is an operator action, not a SQL
  * side-effect), and both time-travel spellings resolve here:
  * `VERSION AS OF` through [[Sinks.readSnapshotAt]]'s
  * refuse-don't-guess contract, `TIMESTAMP AS OF` through
  * [[Sinks.versionAsOfTimestamp]]'s newest-commit-at-or-before rule
  * over commit-marker mtimes.
  */
class GraftCatalog extends TableCatalog with ProcedureCatalog
  with org.apache.spark.sql.connector.catalog.StagingTableCatalog {

  private var catalogName: String = "graft"
  private var rootOpt: Option[String] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    rootOpt = Option(options.get("root"))
  }

  override def name(): String = catalogName

  /** Declares `ALTER TABLE … ADD/DROP CONSTRAINT` support so the
    * analyzer routes Spark 4's native constraint DDL to
    * [[alterTable]] (CHECK only — see there). */
  override def capabilities(): util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_TABLE_CONSTRAINT)

  private def spark: SparkSession = SparkSession.active

  private def pathOf(ident: Identifier): String = {
    val joined = (ident.namespace() :+ ident.name()).mkString("/")
    if (joined.startsWith("/") || joined.contains("://")) joined
    else rootOpt.fold(throw new IllegalArgumentException(
      s"graft catalog identifier '$joined' is a relative path but the catalog has no " +
      s"root — use an absolute path (MERGE INTO $catalogName.`/abs/path` …) or set " +
      s"spark.sql.catalog.$catalogName.root"))(r => s"$r/$joined")
  }

  /** A listing-free catalog: stores are addressed, not enumerated. */
  override def listTables(namespace: Array[String]): Array[Identifier] = Array.empty

  override def loadTable(ident: Identifier): Table = {
    val path = pathOf(ident)
    val v = Sinks.currentVersion(spark, path).getOrElse(throw new NoSuchTableException(ident))
    GraftTable.forCatalog(spark, path, Map.empty, v)
  }

  /** `SELECT … FROM graft.`/path` VERSION AS OF n` — the SQL spelling
    * of [[Sinks.readSnapshotAt]]. */
  override def loadTable(ident: Identifier, version: String): Table =
    GraftTable.forCatalog(spark, pathOf(ident), Map("versionasof" -> version))

  /** `SELECT … FROM graft.`/path` TIMESTAMP AS OF '…'` — Spark hands
    * the parsed timestamp as epoch MICROseconds; resolution is
    * [[Sinks.versionAsOfTimestamp]]'s newest-commit-at-or-before rule
    * over commit-marker mtimes, refuse-don't-guess at both ends. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    GraftTable.forCatalog(spark, pathOf(ident),
      Map("timestampasof" -> (timestampMicros / 1000L).toString))

  override def tableExists(ident: Identifier): Boolean =
    Sinks.currentVersion(spark, pathOf(ident)).isDefined

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      s"the graft store at ${pathOf(ident)} is self-describing — a bare CREATE " +
      "TABLE has no data to describe it with. Bootstrap with data: CREATE TABLE " +
      s"$catalogName.`…` AS SELECT … (atomic CTAS), df.write" +
      ".format(\"graft-table\").option(\"dateCol\", …).mode(\"overwrite\")" +
      ".save(path), or Sinks.publishSnapshot")

  // ——— CTAS / RTAS (StagingTableCatalog) ————————————————————————————
  // `CREATE [OR REPLACE] TABLE graft.`…`` [OPTIONS (dateCol '…')] AS
  // SELECT …` and `REPLACE TABLE … AS SELECT …`: the staged table's
  // write IS the store's atomic publish (staged version dir + commit
  // marker), so commitStagedChanges has nothing left to do and an
  // aborted CTAS leaves only vacuumable debris — never a half-created
  // table. The date column comes from OPTIONS (dateCol) or the
  // query's single date/timestamp column (the writer's rule). A bare
  // CREATE TABLE (no AS SELECT) still refuses above: a graft table's
  // schema rides its data. REPLACE publishes the next full-replace
  // version of EXISTING history (time travel keeps serving the old
  // states); like every full replace, it starts a fresh non-evolved
  // schema line.

  private def stagedPublishTable(path: String, ctasSchema: StructType,
                                 partitions: Array[Transform],
                                 properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    require(partitions.isEmpty,
      s"graft CTAS at $path: PARTITIONED BY is not supported — the store lays " +
      "out by month of the date column (pass OPTIONS (dateCol '…'))")
    import scala.jdk.CollectionConverters._
    val props = properties.asScala.map {
      case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }.toMap
    def opt(key: String): Option[String] =
      props.get(key).orElse(props.get(s"option.$key"))
    val dateCol: Option[String] = opt("datecol")
    val retain = opt("retainversions").map(_.toInt).getOrElse(2)
    val sparkSession = spark
    new org.apache.spark.sql.connector.catalog.StagedTable
      with org.apache.spark.sql.connector.catalog.SupportsWrite {
      override def name(): String = s"graft-ctas:$path"
      override def schema(): StructType = ctasSchema
      override def capabilities(): util.Set[
          org.apache.spark.sql.connector.catalog.TableCapability] =
        util.EnumSet.of(
          org.apache.spark.sql.connector.catalog.TableCapability.BATCH_WRITE,
          org.apache.spark.sql.connector.catalog.TableCapability.V1_BATCH_WRITE,
          org.apache.spark.sql.connector.catalog.TableCapability.TRUNCATE)
      override def newWriteBuilder(
          info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
          : org.apache.spark.sql.connector.write.WriteBuilder =
        // the CTAS exec plans its write as a truncate-overwrite of the
        // (empty) staged table; the publish below IS the full replace,
        // so truncate is accepted and has nothing to clear
        new org.apache.spark.sql.connector.write.WriteBuilder
          with org.apache.spark.sql.connector.write.SupportsTruncate {
          override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder =
            this
          override def build(): org.apache.spark.sql.connector.write.Write =
            new org.apache.spark.sql.connector.write.V1Write {
              override def toInsertableRelation
                  : org.apache.spark.sql.sources.InsertableRelation =
                (data: org.apache.spark.sql.DataFrame, _: Boolean) => {
                  val dc = dateCol.getOrElse {
                    val dateish = data.schema.fields.filter(f =>
                      f.dataType == org.apache.spark.sql.types.DateType ||
                      f.dataType.isInstanceOf[org.apache.spark.sql.types.TimestampType])
                    if (dateish.length == 1) dateish.head.name
                    else throw new IllegalArgumentException(
                      s"graft CTAS at $path needs a month-partition column: add " +
                      s"OPTIONS (dateCol '…') (query has ${dateish.length} " +
                      "date/timestamp columns)")
                  }
                  Sinks.publishSnapshot(data, dc, path, retainVersions = retain)
                  ()
                }
            }
        }
      // the publish above is the atomic commit point (marker rename);
      // nothing is visible until it lands, nothing to undo after
      override def commitStagedChanges(): Unit = ()
      override def abortStagedChanges(): Unit = ()
    }
  }

  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val path = pathOf(ident)
    if (Sinks.currentVersion(spark, path).isDefined)
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Array(catalogName) ++ ident.namespace() :+ ident.name())
    stagedPublishTable(path, schema, partitions, properties)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val path = pathOf(ident)
    if (Sinks.currentVersion(spark, path).isEmpty)
      throw new NoSuchTableException(ident)
    stagedPublishTable(path, schema, partitions, properties)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stagedPublishTable(pathOf(ident), schema, partitions, properties)

  /** The STANDARD SQL spellings of table maintenance, two families:
    *
    * CONSTRAINTS — `ALTER TABLE graft.`/path` ADD CONSTRAINT c CHECK
    * (expr)` / `… DROP CONSTRAINT c` through Spark 4's native DSv2
    * constraint DDL. Spark's AddCheckConstraintExec scans existing
    * data for violations BEFORE calling here (the same
    * refuse-if-violated contract [[Constraints.addConstraint]]
    * enforces for the library path), so the add persists without a
    * second scan.
    *
    * SCHEMA EVOLUTION — `ADD COLUMNS` / `RENAME COLUMN` /
    * `DROP COLUMN` / `ALTER COLUMN … TYPE` routed to
    * [[SchemaEvolution.alterColumns]]: every change in the statement
    * folds into ONE evolution publish (rename inherits the stable
    * column id via `renamedFrom`, add mints above the high-water
    * mark, drop retires the id, type changes are lossless widenings
    * only), so as-of reads keep resolving history by id across the
    * change — the capability the reference's migrate-by-recreate
    * never had.
    *
    * ATOMIC DDL: every change is classified BEFORE anything persists
    * — a statement containing any unsupported change (or mixing the
    * two families, which no standard grammar produces) refuses whole,
    * never half-applies. Column changes are one publish (atomic by
    * the commit-marker protocol); multi-ADD-CONSTRAINT statements
    * persist per constraint only after all are validated as CHECKs. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val path = pathOf(ident)
    // ---- classify and validate ALL changes before persisting ANY ----
    val constraintOps = changes.collect {
      case c: TableChange.AddConstraint  => c: TableChange
      case c: TableChange.DropConstraint => c: TableChange
    }
    val columnOps = changes.collect {
      case c: TableChange.AddColumn        => c: TableChange
      case c: TableChange.RenameColumn     => c: TableChange
      case c: TableChange.DeleteColumn     => c: TableChange
      case c: TableChange.UpdateColumnType => c: TableChange
    }
    val unsupported = changes.filterNot(c =>
      constraintOps.contains(c) || columnOps.contains(c))
    if (unsupported.nonEmpty) throw new UnsupportedOperationException(
      s"unsupported ALTER TABLE change(s) " +
      s"${unsupported.map(_.getClass.getSimpleName).mkString(", ")} on a graft " +
      "table: column add/rename/drop/type-widen (the evolution publish) and " +
      "CHECK constraint add/drop are the supported DDL surface")
    if (constraintOps.nonEmpty && columnOps.nonEmpty)
      throw new UnsupportedOperationException(
        "refusing to mix constraint and column changes in one ALTER TABLE " +
        "statement — they commit through different mechanisms and could not " +
        "apply atomically together; issue two statements")
    // one metadata read serves both passes (no validate/apply TOCTOU:
    // the drop decision is made against the set the refusal checked)
    val known: Set[String] =
      if (constraintOps.isEmpty) Set.empty
      else Constraints.constraintsOf(spark, path).keySet
    constraintOps.foreach {
      case add: TableChange.AddConstraint =>
        add.constraint() match {
          case _: org.apache.spark.sql.connector.catalog.constraints.Check => ()
          case other => throw new UnsupportedOperationException(
            s"graft tables support CHECK constraints only — got ${other.toDDL}; " +
            "primary/foreign keys and UNIQUE are not enforceable on a " +
            "snapshot store without an index structure it does not keep")
        }
      case drop: TableChange.DropConstraint =>
        if (!drop.ifExists() && !known.contains(drop.name()))
          throw new IllegalArgumentException(
            s"no CHECK constraint '${drop.name()}' on $path — " +
            "ALTER TABLE … DROP CONSTRAINT IF EXISTS tolerates unknown names")
    }
    // ---- apply ----
    constraintOps.foreach {
      case add: TableChange.AddConstraint =>
        val c = add.constraint()
          .asInstanceOf[org.apache.spark.sql.connector.catalog.constraints.Check]
        Constraints.persistValidated(spark, path, c.name(), c.predicateSql())
      case drop: TableChange.DropConstraint =>
        if (known.contains(drop.name()))
          Constraints.dropConstraint(spark, path, drop.name())
    }
    if (columnOps.nonEmpty) SchemaEvolution.alterColumns(spark, path, columnOps)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException(
      s"refusing to drop committed snapshot history at ${pathOf(ident)} from SQL; " +
      "retention (publish retainVersions) and Sinks.vacuum are the store's " +
      "lifecycle operators")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "a graft table IS its path; relocate the directory tree (markers are " +
      "path-relative) instead of renaming through the catalog")

  // ——— maintenance verbs: CALL <catalog>.system.<verb>(…) ————————————
  //
  // The SQL spellings of DESCRIBE HISTORY / RESTORE / expiration live
  // here as NAMED procedures ([[GraftProcedures]]) — the dropTable
  // refusal above stands, because destroying history must be an
  // explicit verb with its own ledger result, never a DDL side-effect.

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace().isEmpty || ident.namespace().sameElements(Array("system")),
      s"graft procedures live in the 'system' namespace: CALL $catalogName.system." +
      s"${ident.name()}(…) — got namespace '${ident.namespace().mkString(".")}'")
    GraftProcedures.forName(ident.name(), rootOpt)
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      GraftProcedures.names.map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty
}
