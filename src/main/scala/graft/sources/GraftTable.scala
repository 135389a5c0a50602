package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, InsertableRelation, TableScan}
import org.apache.spark.sql.types.{DateType, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** The full DataSource-V2 `Table` of the versioned snapshot store —
  * the WRITE half the read-only connector lacked, plus SQL row-level
  * operations. One class serves two surfaces:
  *
  *  - **provider mode** (`spark.read/write.format("graft-table")`,
  *    built by [[GraftTableDataSource]]): the read contract is
  *    EXACTLY the round-11 connector's — parquet delegation with the
  *    `txn_month` partition column visible, chain heads refused
  *    (refuse-don't-guess), version resolution pinned per load — and
  *    writes land as transactional snapshot publishes.
  *  - **catalog mode** (`graft.`-prefixed SQL identifiers, built by
  *    [[GraftCatalog]]): the PAYLOAD schema (no derived `txn_month`),
  *    chain heads served MERGED (the scan falls back to a V1 relation
  *    wrapping [[DeletionVectors.readMergedAt]] — fully distributed,
  *    column-pruned, residual filters applied by Spark above), and
  *    `MERGE INTO` / `UPDATE` / `DELETE` routed to DV + MoR commits
  *    through [[SupportsRowLevelOperations]].
  *
  * Write semantics (both surfaces, through the V1 fallback so the
  * whole incoming frame reaches [[Sinks]]/[[DeletionVectors]] as one
  * DataFrame):
  *
  *  - `mode("overwrite")` / `INSERT OVERWRITE` → full-replace
  *    [[Sinks.publishSnapshot]] as the next version (the reference's
  *    upload-service shape, `land_registry_pp_complete_db_upload.py`);
  *    needs `dateCol` (option, or the frame's single date/timestamp
  *    column) for the month layout. On an EMPTY store this is the
  *    bootstrap publish.
  *  - `mode("append")` / `INSERT INTO` → an O(batch) MERGE-ON-READ
  *    APPEND LINK: a chain commit carrying an EMPTY deletion vector
  *    and the appended rows as its delta
  *    ([[DeletionVectors.publishDeletes]] with `deltaRows`), so a
  *    100 TB table absorbs a row-sized insert without rewriting a
  *    byte of base data; [[Sinks.compactSnapshot]] folds chains on
  *    the maintenance cadence.
  *  - `.option("branch", b)` routes either shape to the ref instead
  *    of main ([[Branches.publishToBranch]] /
  *    [[DeletionVectors.publishDeletesToBranch]]) — staged writes a
  *    WAP audit can gate before a fast-forward publish.
  *
  * Row-level operations are DELTA-BASED ([[SupportsDelta]]): Spark
  * hands each matched row's action to [[GraftDeltaWriter]], which
  * stages update/insert images and deleted row ids as parquet (via
  * Spark's own parquet [[OutputWriterFactory]] — exact types, no
  * re-encoding) under the store's `_staging_rowop/` namespace; the
  * driver-side commit turns the staged batch into ONE
  * [[DeletionVectors.publishUpsert]] / `publishDeletes` — i.e. a SQL
  * `MERGE INTO` costs exactly what the library MoR commit costs:
  * O(changes), never a base rewrite. The commit re-verifies the head
  * it scanned is still live and aborts with
  * [[ConcurrentSnapshotUpdate]] otherwise (no torn merges). The row
  * id is the table's merge key: the existing DV-chain key when the
  * head is a chain, else the `key` option, else the first column
  * (the primary-key-first convention of every store table here).
  */
class GraftTable private (
    spark: SparkSession,
    val root: String,
    opts: Map[String, String],      // lower-cased keys
    monthVisible: Boolean,
    resolvedVersion: Option[Long],  // None = empty store (write bootstrap)
    parquetDelegate: Option[ParquetTable]) // plain data head only
  extends Table with SupportsRead with SupportsWrite with SupportsRowLevelOperations {

  import GraftTable._

  private def isChain: Boolean = resolvedVersion.isDefined && parquetDelegate.isEmpty

  /** (store path, bound version) when this table is an UNPINNED read
    * of the main chain — the identity the mat-view rewrite
    * ([[graft.plans.MatViewRewrite]]) matches on; None for
    * branch/versionAsOf/tag/timestampAsOf reads (a maintained view
    * reflects the live chain only). */
  private[graft] def liveReadPoint: Option[(String, Long)] =
    if (Seq("branch", "versionasof", "tag", "timestampasof").exists(opts.contains)) None
    else resolvedVersion.map(v => (root, v))

  /** (store path, bound version) when this read serves EXACTLY the
    * files of one plain snapshot version dir — the precondition for
    * answering whole-table aggregates from that version's committed
    * stats manifest ([[graft.plans.MetaAggregate]]). Every resolution
    * mode (live, versionAsOf, tag, timestampAsOf, branch) binds a
    * main-dir version number whose data lives at `root/vNNNNNNNN`, so
    * a defined parquet delegate (base == bound version: no DV/MoR
    * links apply) is the whole condition; chain heads — whose state
    * exists only merged — and write bootstraps return None. */
  private[graft] def statsReadPoint: Option[(String, Long)] =
    if (parquetDelegate.isDefined) resolvedVersion.map(v => (root, v)) else None

  /** The files a plain head scans (its parquet delegate's index, listed
    * once per table); None for chain heads and write bootstraps. */
  private[graft] def fileIndex: Option[PartitioningAwareFileIndex] =
    parquetDelegate.map(_.fileIndex)

  /** Chain-merged state, resolved lazily and once (the plan pins to
    * immutable version dirs, so caching is safe for this table's
    * lifetime — one load = one resolution, the provider/catalog
    * memoization contract). */
  private lazy val mergedDf: DataFrame =
    DeletionVectors.readMergedAt(spark, root, resolvedVersion.get)

  /** A FRESH chain-merged plan for [[graft.plans.GraftScanInline]] to
    * splice into the consuming query IN PLACE of this relation —
    * defined exactly when the read would otherwise cross the V1
    * bridge (catalog-mode chain head; plain heads delegate to the
    * parquet table and provider-mode chain heads refuse at scan
    * build). Rebuilt per call so two occurrences of the same relation
    * in one plan (a self-join) inline with DISTINCT expression ids. */
  private[graft] def inlineReadPlan: Option[DataFrame] =
    if (inlineKey.isDefined)
      Some(DeletionVectors.readMergedAt(spark, root, resolvedVersion.get))
    else None

  /** Cheap eligibility + cache identity for [[graft.plans
    * .GraftScanInline]]: Some((store path, bound version) key) exactly
    * when [[inlineReadPlan]] would build a plan — version dirs are
    * immutable, so within one optimizer run every occurrence of this
    * key shares one resolved+optimized inner plan (re-aliased per
    * occurrence), instead of paying a nested optimization each. */
  private[graft] def inlineKey: Option[String] =
    if (resolvedVersion.isDefined && parquetDelegate.isEmpty && !monthVisible)
      Some(s"$root@v${resolvedVersion.get}")
    else None

  override def name(): String =
    s"graft-table:$root" + resolvedVersion.fold("")(v => s"@v$v")

  override lazy val schema: StructType = resolvedVersion match {
    case None => new StructType()
    case Some(_) =>
      val raw =
        if (isChain) mergedDf.schema
        else {
          val s = (parquetDelegate.get: Table).schema()
          if (monthVisible) s else StructType(s.filterNot(_.name == "txn_month"))
        }
      if (monthVisible) raw
      else {
        // catalog mode: the merge key doubles as the row ID of SQL
        // row-level operations, and Spark requires row IDs non-null
        // (the Iceberg identifier-field contract). Key columns here
        // are primary keys by construction — never null in a
        // committed snapshot.
        val key = resolvedVersion.flatMap(v =>
          DeletionVectors.chainKeyOf(spark, root, v))
          .orElse(opts.get("key")).getOrElse(raw.fieldNames.head)
        StructType(raw.map(f =>
          if (f.name == key) f.copy(nullable = false) else f))
      }
  }

  override def partitioning(): Array[Transform] = Array.empty

  override def properties(): util.Map[String, String] = opts.asJava

  // BATCH_WRITE must be declared even though every write goes through
  // the V1 fallback (the builder returns V1Write, so physical planning
  // picks the V1 exec): DataFrameWriter.save gates the whole V2 write
  // path on BATCH_WRITE before it ever builds the plan.
  //
  // ACCEPT_ANY_SCHEMA is PROVIDER-ONLY and deliberate: it lets
  // `df.write.format("graft-table")` frames skip name-resolution
  // against the stored schema (the insert path validates names itself
  // with a better message, and overwrite may evolve schema). The
  // catalog table must NOT declare it — the analyzer skips resolving
  // MERGE INTO clauses entirely for skip-schema-resolution targets
  // (they stay unresolved and fail CheckAnalysis), and INSERT INTO
  // should get real positional resolution + type checking.
  override def capabilities(): util.Set[TableCapability] = {
    val base = util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER)
    if (monthVisible) base.add(TableCapability.ACCEPT_ANY_SCHEMA)
    base
  }

  /** The merge key: chain key if the head is already a DV/MoR chain
    * (later links must agree), else the declared `key` option, else
    * the first payload column. */
  private[sources] def mergeKey: String =
    resolvedVersion.flatMap(v => DeletionVectors.chainKeyOf(spark, root, v))
      .orElse(opts.get("key"))
      .getOrElse(schema.fieldNames.headOption.getOrElse(
        throw new IllegalArgumentException(
          s"cannot determine a merge key for empty store $root — pass .option(\"key\", …)")))

  // ——— read side ————————————————————————————————————————————————————

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val v = resolvedVersion.getOrElse(throw Sinks.noSnapshot(root))
    parquetDelegate match {
      case Some(pt) => pt.newScanBuilder(options)
      case None if monthVisible =>
        // provider-mode chain head: refuse-don't-guess (the round-11
        // contract, now raised at scan build instead of load so that
        // WRITES to a chained store stay possible)
        throw new UnsupportedOperationException(
          s"version $v of $root is DV/MoR-amended — its state exists only merged, " +
          "which this parquet delegation cannot express. Read it with " +
          "DeletionVectors.readMergedAt, through the graft catalog (SELECT … FROM " +
          "graft.`" + root + "`, which serves chains merged), or fold the chain into " +
          "a plain data version with DeletionVectors.materializeDeletes first; " +
          "serving the unmerged directory would silently drop the chain's deletes " +
          "and upserts")
      case None =>
        // catalog-mode chain head: the state exists only merged — serve
        // the library read's distributed anti-join plan through the V1
        // fallback. Column pruning is honored (the big scan win);
        // filters are left to Spark above the relation (correct by
        // construction, and a chain is by nature a recent,
        // not-yet-materialized tail whose base scan inside readMergedAt
        // is still a plain pushdown-friendly parquet read).
        new MergedScanBuilder(mergedDf)
    }
  }

  // ——— write side (V1 fallback: the whole frame as one DataFrame) ———

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsOverwrite {
      private var truncateRequested = false
      // the REPLACE WHERE condition, as (Column predicate, display text)
      private var replaceByFilter: Option[(org.apache.spark.sql.Column, String)] = None
      override def truncate(): WriteBuilder = { truncateRequested = true; this }
      /** `INSERT INTO … REPLACE WHERE cond` / `writeTo(…).overwrite(cond)`:
        * Spark translates the condition to V1 filters and hands them
        * here. `AlwaysTrue` degenerates to the full replace. An
        * untranslatable term REFUSES — dropping it would silently
        * WIDEN the replaced region (delete rows the user scoped out). */
      override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter])
          : WriteBuilder = {
        import org.apache.spark.sql.sources.AlwaysTrue
        if (filters.forall(_.isInstanceOf[AlwaysTrue])) { truncateRequested = true; this }
        else {
          val cols = filters.map { f =>
            V1Filters.toColumn(f, org.apache.spark.sql.functions.col).getOrElse(
              throw new UnsupportedOperationException(
                s"REPLACE WHERE on $root: condition term $f is not translatable " +
                "to a row predicate — rewrite the condition with comparisons, " +
                "IN, NULL checks, string prefix/suffix/contains and AND/OR/NOT"))
          }
          replaceByFilter = Some((cols.reduce(_ && _), filters.mkString(" AND ")))
          this
        }
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit =
              doInsert(data,
                overwrite || truncateRequested,
                opts ++ info.options().asCaseSensitiveMap().asScala.map {
                  case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v
                },
                replaceByFilter)
          }
      }
    }

  private def doInsert(data: DataFrame, overwrite: Boolean,
                       wopts: Map[String, String],
                       replaceByFilter: Option[(org.apache.spark.sql.Column, String)]
                         = None): Unit = {
    val df = if (data.columns.contains("txn_month")) data.drop("txn_month") else data
    val branch = wopts.get("branch")
    val retain = wopts.get("retainversions").map(_.toInt).getOrElse(2)
    def dateCol: String = wopts.get("datecol").getOrElse {
      val dateish = df.schema.fields
        .filter(f => f.dataType == DateType || f.dataType.isInstanceOf[TimestampType])
      if (dateish.length == 1) dateish.head.name
      else throw new IllegalArgumentException(
        s"graft-table write to $root needs a month-partition column: pass " +
        s".option(\"dateCol\", …) (frame has ${dateish.length} date/timestamp columns)")
    }
    // REPLACE WHERE — the scoped overwrite (Delta's replaceWhere):
    // SQL `INSERT INTO … REPLACE WHERE cond` / `writeTo(…).overwrite(cond)`
    // arrive as pushed filters; the DataFrame-writer spelling
    // `.mode("overwrite").option("replaceWhere", "<sql>")` as text
    val replaceWhere: Option[(org.apache.spark.sql.Column, String)] =
      replaceByFilter.orElse(wopts.get("replacewhere")
        .map(s => (org.apache.spark.sql.functions.expr(s), s)))
    if (replaceWhere.isDefined) {
      require(overwrite || replaceByFilter.isDefined,
        s"replaceWhere on $root requires mode(\"overwrite\") — an append cannot " +
        "also replace (drop the option, or switch the mode)")
      doReplaceWhere(df, replaceWhere.get._1, replaceWhere.get._2, branch,
        wopts, () => dateCol, retain)
    } else if (overwrite || resolvedVersion.isEmpty) {
      // full replace (or the bootstrap publish of an empty store)
      branch match {
        case Some(b) => Branches.publishToBranch(df, dateCol, root, b)
        case None    => Sinks.publishSnapshot(df, dateCol, root, retainVersions = retain)
      }
      ()
    } else {
      // O(batch) append: a MoR link with an empty vector and the
      // appended rows as its delta — the base is never rewritten
      val expected = schema.fieldNames.toSet - "txn_month" // payload contract
      require(df.columns.toSet == expected,
        s"append schema ${df.columns.sorted.mkString(",")} must match the table's " +
        s"${expected.toSeq.sorted.mkString(",")} (overwrite mode may evolve schema; " +
        "append may not)")
      val key = resolvedVersion.flatMap(v => DeletionVectors.chainKeyOf(spark, root, v))
        .orElse(wopts.get("key")).getOrElse(df.columns.head)
      val emptyKeys = df.select(col(key)).limit(0)
      branch match {
        case Some(b) =>
          DeletionVectors.publishDeletesToBranch(spark, root, b, emptyKeys, key,
            deltaRows = Some(df))
        case None =>
          DeletionVectors.publishDeletes(spark, root, emptyKeys, key,
            deltaRows = Some(df))
      }
      ()
    }
  }

  /** The scoped overwrite: atomically delete the rows of the current
    * state matching `pred` and land `df` in their place — ONE O(changes)
    * MoR link (predicate-matched keys as the vector, the new rows as
    * the delta), never a base rewrite: at 100 TB, re-uploading one
    * month (the reference's monthly-file re-ingest,
    * `land_registry_pp_monthly_update_db_upload.py`) costs that month
    * plus the new rows, and the key scan that builds the vector is a
    * predicate-pushed parquet read (a date-range predicate prunes to
    * the affected `txn_month` partitions).
    *
    * The Delta replaceWhere row contract rides IN-FLIGHT (the
    * [[Constraints.guard]] idiom — zero extra jobs): an arriving row
    * that does not satisfy `pred` raises mid-write and the publish
    * reclaims its stage — rows outside the predicate would survive
    * OUTSIDE the replaced region, silently turning a scoped replace
    * into a blind insert. On an EMPTY store the replace degenerates to
    * the bootstrap publish (nothing to delete; the row contract still
    * holds). Keyed-store note: this is Delta's region semantics, not
    * an upsert — a new row carrying the key of an out-of-region row
    * coexists with it (scope the predicate to cover every arriving
    * key's region). */
  private def doReplaceWhere(df: DataFrame, pred: org.apache.spark.sql.Column,
                             predText: String, branch: Option[String],
                             wopts: Map[String, String],
                             dateCol: () => String, retain: Int): Unit = {
    import org.apache.spark.sql.functions._
    val msg = concat_ws("", lit(GraftTable.replaceToken),
      lit(s"REPLACE WHERE ($predText) on $root: arriving row "),
      to_json(struct(df.columns.map(col).toSeq: _*)),
      lit(" does not satisfy the replace predicate. Nothing was committed — " +
        "widen the predicate or scope the incoming frame to it"))
    val guarded = df.filter(
      when(not(coalesce(pred, lit(false))), raise_error(msg).cast("boolean"))
        .otherwise(lit(true)))
    resolvedVersion match {
      case None =>
        branch.foreach(b => throw new java.io.FileNotFoundException(
          s"no branch '$b' at $root — an empty store has no refs to replace into"))
        try { Sinks.publishSnapshot(guarded, dateCol(), root, retainVersions = retain); () }
        catch { case scala.util.control.NonFatal(e) => throw GraftTable.unwrapReplace(e) }
      case Some(v) =>
        val expected = schema.fieldNames.toSet - "txn_month"
        require(df.columns.toSet == expected,
          s"replaceWhere schema ${df.columns.sorted.mkString(",")} must match the " +
          s"table's ${expected.toSeq.sorted.mkString(",")} (only a full overwrite " +
          "may evolve schema)")
        val key = DeletionVectors.chainKeyOf(spark, root, v)
          .orElse(wopts.get("key")).getOrElse(df.columns.head)
        try {
          branch match {
            case Some(b) =>
              val head = Branches.branchHead(spark, root, b).getOrElse(
                throw new java.io.FileNotFoundException(s"no branch '$b' at $root"))
              val delKeys = DeletionVectors.readMergedAt(spark, root, head)
                .filter(pred).select(col(key))
              DeletionVectors.publishDeletesToBranch(spark, root, b, delKeys, key,
                deltaRows = Some(guarded))
            case None =>
              val delKeys = DeletionVectors.readMergedAt(spark, root, v)
                .filter(pred).select(col(key))
              DeletionVectors.publishDeletes(spark, root, delKeys, key,
                deltaRows = Some(guarded), expectedParent = Some(v))
          }
          ()
        } catch { case scala.util.control.NonFatal(e) => throw GraftTable.unwrapReplace(e) }
    }
  }

  // ——— row-level operations (MERGE / UPDATE / DELETE) ———————————————

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation = new GraftRowLevelOperation(info.command)
    }

  private class GraftRowLevelOperation(cmd: RowLevelOperation.Command)
    extends RowLevelOperation with SupportsDelta {

    override def command(): RowLevelOperation.Command = cmd

    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      GraftTable.this.newScanBuilder(options)

    override def rowId(): Array[NamedReference] =
      Array(Expressions.column(mergeKey))

    override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
      new DeltaWriteBuilder {
        override def build(): DeltaWrite = {
          val key = mergeKey
          val idSchema = info.rowIdSchema().orElse(
            StructType(schema.fields.filter(_.name == key)))
          new GraftDeltaWrite(spark, root,
            resolvedVersion.getOrElse(throw Sinks.noSnapshot(root, "to modify")),
            key, info.schema(), idSchema)
        }
      }
  }
}

object GraftTable {

  /** Marker the replaceWhere row-contract raise embeds — the
    * [[Constraints]] token discipline: the raise travels wrapped in
    * Spark's task/job failure envelopes, so [[unwrapReplace]] walks
    * message text, not exception types. */
  private[sources] val replaceToken = "GRAFT_REPLACE_WHERE: "

  /** Surface a replaceWhere row-contract raise as a clean
    * IllegalArgumentException (the stage is already reclaimed by the
    * publish's own failure hygiene); anything else returns unchanged
    * for the caller to rethrow. */
  private[sources] def unwrapReplace(e: Throwable): Throwable = {
    val seen = scala.collection.mutable.Set.empty[Throwable]
    var t: Throwable = e
    while (t != null && seen.add(t)) {
      val m = t.getMessage
      if (m != null && m.contains(replaceToken))
        return new IllegalArgumentException(
          m.substring(m.indexOf(replaceToken) + replaceToken.length)
            .takeWhile(_ != '\n'))
      t = t.getCause
    }
    e
  }

  /** Provider-mode construction (`format("graft-table")`): the
    * round-11 read contract verbatim — branch/versionAsOf/tag
    * resolution, refuse-don't-guess for unreadable versions and
    * DV/MoR chain heads, `txn_month` visible — plus the write surface.
    * An EMPTY store is constructible only with a `dateCol` option
    * (write intent): the bootstrap publish; reads still fail loudly. */
  def forProvider(spark: SparkSession, options: CaseInsensitiveStringMap): GraftTable = {
    val root = Option(options.get("path")).getOrElse(throw new IllegalArgumentException(
      "graft-table needs a path: the snapshot store root (the directory holding v…/ and _manifests/)"))
    val opts = lowered(options)
    Sinks.resolvePoint(spark, root, opts) match {
      case Some(v) =>
        // chain heads: NO parquet delegate — provider-mode scans refuse
        // (refuse-don't-guess, see newScanBuilder) while WRITES remain
        // possible (an overwrite of a chained table needs no read)
        new GraftTable(spark, root, opts, monthVisible = true, Some(v),
          parquetDelegate(spark, root, v, Some(options)))
      case None =>
        if (!opts.contains("datecol"))
          throw Sinks.noSnapshot(root, "— to bootstrap the store with a first " +
            "write, pass .option(\"dateCol\", …)")
        new GraftTable(spark, root, opts, monthVisible = true, None, None)
    }
  }

  /** Catalog-mode construction ([[GraftCatalog]]): payload schema
    * (derived `txn_month` hidden so write frames round-trip), chain
    * heads served merged. The store must have a committed version —
    * the catalog translates emptiness to NoSuchTableException. */
  def forCatalog(spark: SparkSession, root: String,
                 opts: Map[String, String]): GraftTable =
    forCatalog(spark, root, opts,
      Sinks.resolvePoint(spark, root, opts).getOrElse(throw Sinks.noSnapshot(root)))

  /** Catalog-mode construction at an already resolved version `v`. */
  private[sources] def forCatalog(spark: SparkSession, root: String,
                                  opts: Map[String, String], v: Long): GraftTable =
    new GraftTable(spark, root, opts, monthVisible = false, Some(v),
      parquetDelegate(spark, root, v, None))

  /** Reader options that change the schema inference finds (footer
    * merging, partition discovery): a read carrying one infers. */
  private val inferenceOptions = Seq("mergeSchema", "recursiveFileLookup", "basePath")

  /** The parquet delegate of version `v` (None for a chain head), with
    * the cached version read's schema ([[Sinks.cachedParquetRead]]):
    * a load infers nothing. `options`: the provider reader's, if any. */
  private def parquetDelegate(spark: SparkSession, root: String, v: Long,
                              options: Option[CaseInsensitiveStringMap]): Option[ParquetTable] =
    if (DeletionVectors.baseDataVersion(spark, root, v) != v) None
    else {
      val dir = Sinks.versionDir(root, v)
      val opts = options.getOrElse(new CaseInsensitiveStringMap(Map("path" -> dir).asJava))
      val schema =
        if (inferenceOptions.exists(opts.containsKey)) None
        // unreadable (a version with no files): infer lazily, failing as before
        else scala.util.Try(Sinks.cachedParquetRead(spark, dir).schema).toOption
      Some(ParquetTable(s"graft-table:$dir", spark, opts, Seq(dir), schema,
        classOf[ParquetFileFormat]))
    }

  // ——— registered surface ————————————————————————————————————————————

  private val writeFixtures = new graft.util.Scratch.Fixture[String]("dsv2_write")

  /** Registered `q_dsv2_write` (hash-oracled): the WRITE lifecycle of
    * the connector + catalog, end to end against one closed-form
    * oracle over `orders`. Phase 1 BOOTSTRAPS the store through the
    * DataFrame writer (`format("graft-table").mode("overwrite")` —
    * the reference's upload-service shape); phase 2 appends the
    * `k % 4 = 1` class through SQL `INSERT INTO` — committed as an
    * O(batch) MoR append link, base untouched — and censuses the
    * CHAIN-MERGED catalog read; phase 3 `INSERT OVERWRITE`s down to
    * the `k % 8 = 0` class (full replace, plain head again) and
    * censuses through the PROVIDER read path. Every census is a
    * closed-form row count + 60-bit key XOR. Fixture once per JVM;
    * the query times the three census reads. */
  def sqlWriteResult(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    def census(phase: String, df: DataFrame): DataFrame =
      df.select(graft.operators.Reconcile.xorHash60(
          col("o_orderkey").cast("string")).as("h"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_rows"),
          expr("bit_xor(h)").as("key_xor"))
        .select(lit(phase).as("phase"), col("n_rows"), col("key_xor"))
    val fixture = writeFixtures(dir) { f =>
      val t = s"$f/t"
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderdate").cast("date").as("odate"),
          col("o_totalprice").cast("decimal(18,2)").as("price"))
      orders.filter(col("o_orderkey") % 2 === 0)
        .write.format("graft-table").option("dateCol", "odate")
        .mode("overwrite").save(t)
      census("bootstrap", spark.sql(s"SELECT * FROM graft.`$t`"))
        .coalesce(1).write.parquet(s"$f/c1")
      orders.createOrReplaceTempView("dsv2w_orders")
      // coalesce: the catalog declares the merge key non-null (the
      // row-id contract); parquet columns arrive nullable
      spark.sql(
        s"""INSERT INTO graft.`$t`
           |SELECT coalesce(o_orderkey, 0L) AS o_orderkey, odate, price
           |FROM dsv2w_orders WHERE o_orderkey % 4 = 1""".stripMargin)
      census("inserted", spark.sql(s"SELECT * FROM graft.`$t`"))
        .coalesce(1).write.parquet(s"$f/c2")
      spark.sql(
        s"""INSERT OVERWRITE graft.`$t`
           |SELECT coalesce(o_orderkey, 0L) AS o_orderkey, odate, price
           |FROM dsv2w_orders WHERE o_orderkey % 8 = 0""".stripMargin)
      census("overwritten", spark.read.format("graft-table").load(t))
        .coalesce(1).write.parquet(s"$f/c3")
      f
    }
    spark.read.parquet(s"$fixture/c1")
      .unionByName(spark.read.parquet(s"$fixture/c2"))
      .unionByName(spark.read.parquet(s"$fixture/c3"))
      .orderBy("phase")
  }

  private val ctasFixtures = new graft.util.Scratch.Fixture[String]("ctas")

  /** Registered `q_ctas` (hash-oracled): the ATOMIC CTAS/RTAS DDL
    * surface ([[GraftCatalog]]'s StagingTableCatalog) — `CREATE TABLE
    * graft.`…`` `AS SELECT` bootstraps the even-key orders half as
    * version 1 (the staged write IS the store's atomic publish),
    * `REPLACE TABLE … AS SELECT` publishes the `k % 8 = 0` class as
    * version 2 of the SAME history, and a `VERSION AS OF 1` read
    * proves the replace appended history instead of rewriting it.
    * Census per phase: row count + 60-bit key XOR + exact price sum
    * vs closed-form DuckDB over `orders`. Fixture once per JVM; the
    * query times the three censuses. */
  def ctasResult(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    def census(phase: String, df: DataFrame): DataFrame =
      df.select(col("price"),
          graft.operators.Reconcile.xorHash60(col("o_orderkey").cast("string")).as("h"))
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("key_xor"),
          sum(col("price")).cast("double").as("sum_price"))
        .select(lit(phase).as("phase"), col("n_rows"), col("key_xor"), col("sum_price"))
    val fixture = ctasFixtures(dir) { f =>
      val t = s"$f/t"
      Tables.orders(spark, dir)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderdate").cast("date").as("odate"),
          col("o_totalprice").cast("decimal(18,2)").as("price"))
        .createOrReplaceTempView("ctas_orders")
      spark.sql(
        s"""CREATE TABLE graft.`$t` OPTIONS (dateCol 'odate') AS
           |SELECT coalesce(o_orderkey, 0L) AS o_orderkey, odate, price
           |FROM ctas_orders WHERE o_orderkey % 2 = 0""".stripMargin)
      census("ctas", spark.sql(s"SELECT * FROM graft.`$t`"))
        .coalesce(1).write.parquet(s"$f/c1")
      spark.sql(
        s"""REPLACE TABLE graft.`$t` AS
           |SELECT coalesce(o_orderkey, 0L) AS o_orderkey, odate, price
           |FROM ctas_orders WHERE o_orderkey % 8 = 0""".stripMargin)
      census("rtas", spark.sql(s"SELECT * FROM graft.`$t`"))
        .coalesce(1).write.parquet(s"$f/c2")
      census("history", spark.sql(s"SELECT * FROM graft.`$t` VERSION AS OF 1"))
        .coalesce(1).write.parquet(s"$f/c3")
      f
    }
    spark.read.parquet(s"$fixture/c1")
      .unionByName(spark.read.parquet(s"$fixture/c2"))
      .unionByName(spark.read.parquet(s"$fixture/c3"))
      .orderBy("phase")
  }

  private val replaceFixtures = new graft.util.Scratch.Fixture[String]("replace_where")

  /** Registered `q_replace_where` (hash-oracled): the SCOPED overwrite
    * — Delta's `replaceWhere` — as the lakehouse spelling of the
    * reference's monthly re-upload (a monthly pp file replaces exactly
    * that month's rows, `land_registry_pp_monthly_update_db_upload
    * .py`). Phase 1 bootstraps the even-key half of `orders`; phase 2
    * re-uploads the pre-1995 region through the writer-option spelling
    * (`.mode("overwrite").option("replaceWhere", …)`): only the
    * `k % 4 = 0` class survives, prices +1.00 — committed as ONE MoR
    * link whose vector is the region's keys and whose delta is the new
    * rows, the base version never rewritten; phase 3 replaces the
    * 1997+ region through the SQL grammar (`INSERT INTO … REPLACE
    * WHERE`, resolving the chain head) with the `k % 8 = 6` class at
    * doubled prices. Census per phase: row count, 60-bit key XOR,
    * exact price sum as DOUBLE — the untouched 1995-96 middle region
    * must ride through both replacements cell-for-cell. Fixture once
    * per JVM; the query times the three censuses. */
  def replaceWhereResult(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    def census(phase: String, df: DataFrame): DataFrame =
      df.select(col("price"),
          graft.operators.Reconcile.xorHash60(col("o_orderkey").cast("string")).as("h"))
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("key_xor"),
          sum(col("price")).cast("double").as("sum_price"))
        .select(lit(phase).as("phase"), col("n_rows"), col("key_xor"), col("sum_price"))
    val fixture = replaceFixtures(dir) { f =>
      val t = s"$f/t"
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderdate").cast("date").as("odate"),
          col("o_totalprice").cast("decimal(18,2)").as("price"))
      orders.filter(col("o_orderkey") % 2 === 0)
        .write.format("graft-table").option("dateCol", "odate")
        .mode("overwrite").save(t)
      census("bootstrap", spark.sql(s"SELECT * FROM graft.`$t`"))
        .coalesce(1).write.parquet(s"$f/c1")
      // the monthly-re-upload shape: replace the whole pre-1995 region
      orders.filter(col("o_orderkey") % 4 === 0 && col("odate") < lit("1995-01-01"))
        .withColumn("price",
          expr("CAST(price + CAST('1.00' AS DECIMAL(3,2)) AS DECIMAL(18,2))"))
        .write.format("graft-table").mode("overwrite")
        .option("replaceWhere", "odate < DATE'1995-01-01'").save(t)
      census("replaced", spark.sql(s"SELECT * FROM graft.`$t`"))
        .coalesce(1).write.parquet(s"$f/c2")
      orders.createOrReplaceTempView("rw_orders")
      spark.sql(
        s"""INSERT INTO graft.`$t` REPLACE WHERE odate >= DATE'1997-01-01'
           |SELECT coalesce(o_orderkey, 0L) AS o_orderkey, odate,
           |  CAST(price * 2 AS DECIMAL(18,2)) AS price
           |FROM rw_orders WHERE o_orderkey % 8 = 6 AND odate >= DATE'1997-01-01'
           |""".stripMargin)
      census("sql_replaced", spark.sql(s"SELECT * FROM graft.`$t`"))
        .coalesce(1).write.parquet(s"$f/c3")
      f
    }
    spark.read.parquet(s"$fixture/c1")
      .unionByName(spark.read.parquet(s"$fixture/c2"))
      .unionByName(spark.read.parquet(s"$fixture/c3"))
      .orderBy("phase")
  }

  private val mergeFixtures = new graft.util.Scratch.Fixture[String]("merge_sql")

  /** Registered `q_merge_sql` (hash-oracled): the reference's CDC
    * merge decision matrix as PLAIN SQL against the lakehouse —
    * `MERGE INTO` applies one batch of class-7 updates (+11.11,
    * status 'B'), class-5 hard deletes and class-2-derived inserts
    * (keys offset past max(key), collision-free at any sf) as ONE
    * O(changes) MoR commit; `DELETE FROM` then kills the class-3 keys
    * of the MERGED state (the statement's scan resolves the chain
    * head); `UPDATE` bumps class-1 prices by 5.00 as a third link.
    * The census reads the three-link chain through the catalog and
    * hash-matches per-bucket count, exact price sum (as DOUBLE) and
    * the 60-bit key|status XOR against closed-form DuckDB arithmetic
    * over `orders` — proving the SQL row-level surface, the delta
    * writers, the MoR commit path and the chain-merged scan agree
    * with the relational model cell-for-cell. Fixture once per JVM;
    * the query times the chain-merged census. */
  def mergeSqlResult(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val fixture = mergeFixtures(dir) { f =>
      val t = s"$f/t"
      val base = Tables.orders(spark, dir).select(
        col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_orderdate").cast("date").as("odate"),
        col("o_orderstatus").cast("string").as("status"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      Sinks.publishSnapshot(base, "odate", t, retainVersions = 6)
      // one bounded driver value: the insert-key offset (scale-proof)
      val maxKey = base.agg(max("o_orderkey")).head().getLong(0)
      val changes = base.filter(col("o_orderkey") % 10 === 7)
        .withColumn("status", lit("B"))
        .withColumn("price",
          expr("CAST(price + CAST('11.11' AS DECIMAL(4,2)) AS DECIMAL(18,2))"))
        .withColumn("op", lit("U"))
        .unionByName(base.filter(col("o_orderkey") % 10 === 5)
          .withColumn("op", lit("D")))
        .unionByName(base.filter(col("o_orderkey") % 10 === 2).select(
          (col("o_orderkey") + lit(maxKey)).as("o_orderkey"),
          col("odate"), lit("N").as("status"),
          expr("CAST(100.00 + (o_orderkey % 50) AS DECIMAL(18,2))").as("price"),
          lit("U").as("op")))
      changes.createOrReplaceTempView("merge_sql_changes")
      spark.sql(
        s"""MERGE INTO graft.`$t` t USING merge_sql_changes c
           |ON t.o_orderkey = c.o_orderkey
           |WHEN MATCHED AND c.op = 'D' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET status = c.status, price = c.price, odate = c.odate
           |WHEN NOT MATCHED THEN INSERT (o_orderkey, odate, status, price)
           |  VALUES (coalesce(c.o_orderkey, 0L), c.odate, c.status, c.price)
           |""".stripMargin)
      spark.sql(s"DELETE FROM graft.`$t` WHERE o_orderkey % 10 = 3")
      spark.sql(s"UPDATE graft.`$t` SET price = " +
        "CAST(price + CAST('5.00' AS DECIMAL(3,2)) AS DECIMAL(18,2)) " +
        "WHERE o_orderkey % 10 = 1")
      f
    }
    spark.sql(s"SELECT * FROM graft.`$fixture/t`")
      .select((col("o_orderkey") % 10).cast("long").as("bucket"), col("price"),
        graft.operators.Reconcile.xorHash60(
          concat_ws("|", col("o_orderkey").cast("string"), col("status"))).as("h"))
      .groupBy("bucket")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_rows"),
        sum("price").cast("double").as("sum_price"),
        expr("bit_xor(h)").as("row_xor"))
      .orderBy("bucket")
  }

  private def lowered(options: CaseInsensitiveStringMap): Map[String, String] =
    options.asCaseSensitiveMap().asScala.map {
      case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v
    }.toMap
}

/** Column-pruning AND filter-pushing ScanBuilder over the chain-merged
  * DataFrame; the built scan is a [[V1Scan]] whose relation executes
  * the merged plan's RDD — distributed end to end, driver never
  * touches rows.
  *
  * Filter pushdown is an OPTIMIZATION, never a correctness dependency:
  * every accepted filter is applied to the MERGED state (semantically
  * exact — a chain read's visible rows are the merged rows) and ALSO
  * returned to Spark as residual, so Spark re-applies it above. Inside
  * the merged plan, Catalyst pushes the predicate through the
  * delta-union and the anti-join's streamed side down to the base
  * parquet scan — at 100× scale a month-range SELECT over a chain head
  * must prune the base scan's row groups, not read the full base and
  * filter above the relation. The chain is by nature a recent
  * not-yet-materialized tail, so the base scan dominates the read. */
private[sources] class MergedScanBuilder(merged: DataFrame)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownFilters {

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.lit
  import org.apache.spark.sql.sources._

  private var required: StructType = merged.schema
  private var filtered: DataFrame = merged
  private var accepted: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Name-based V1 filter → Column over the merged frame; None for
    * shapes we don't translate (they still apply — as residual). */
  private def toColumn(f: Filter): Option[Column] =
    V1Filters.toColumn(f, merged.col)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // apply every translatable predicate to the merged plan (Catalyst
    // sinks it to the base scan); return ALL as residual — Spark keeps
    // them above, so a translation corner can never drop rows
    val taken = filters.flatMap(f => toColumn(f).map(f -> _))
    taken.foreach { case (_, c) => filtered = filtered.filter(c) }
    accepted = taken.map(_._1)
    filters
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def build(): Scan = new V1Scan {
    private val pruned = required
    private val df = filtered
    override def readSchema(): StructType = pruned
    override def toV1TableScan[T <: BaseRelation with TableScan](
        context: SQLContext): T =
      new BaseRelation with TableScan {
        override def sqlContext: SQLContext = context
        override def schema: StructType = pruned
        override def buildScan(): RDD[Row] = {
          val plan = df.select(pruned.fieldNames.map(col).toSeq: _*)
          if (MergedScanBuilder.captureScans) MergedScanBuilder.lastScan.set(plan)
          plan.rdd
        }
      }.asInstanceOf[T]
  }
}

/** Name-based V1 `Filter` → `Column` translation shared by the merged
  * chain scan's pushdown ([[MergedScanBuilder]]) and the
  * `REPLACE WHERE` overwrite condition ([[GraftTable]]'s write
  * builder): `resolve` supplies the column binding (a frame's `col`
  * for pushdown, the free-standing `functions.col` for a predicate
  * evaluated against both the table state and the incoming frame).
  * None for shapes we don't translate — pushdown keeps them as
  * residual; an overwrite REFUSES on them (dropping a predicate term
  * would widen the replaced region). */
private[sources] object V1Filters {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.lit
  import org.apache.spark.sql.sources._

  def toColumn(f: Filter, resolve: String => Column): Option[Column] = f match {
    case EqualTo(a, v)            => Some(resolve(a) === lit(v))
    case EqualNullSafe(a, v)      => Some(resolve(a) <=> lit(v))
    case GreaterThan(a, v)        => Some(resolve(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(resolve(a) >= lit(v))
    case LessThan(a, v)           => Some(resolve(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(resolve(a) <= lit(v))
    case In(a, vs)                => Some(resolve(a).isin(vs.toSeq: _*))
    case IsNull(a)                => Some(resolve(a).isNull)
    case IsNotNull(a)             => Some(resolve(a).isNotNull)
    case StringStartsWith(a, v)   => Some(resolve(a).startsWith(v))
    case StringEndsWith(a, v)     => Some(resolve(a).endsWith(v))
    case StringContains(a, v)     => Some(resolve(a).contains(v))
    case And(l, r) => for { lc <- toColumn(l, resolve); rc <- toColumn(r, resolve) } yield lc && rc
    case Or(l, r)  => for { lc <- toColumn(l, resolve); rc <- toColumn(r, resolve) } yield lc || rc
    case Not(c)    => toColumn(c, resolve).map(!_)
    case _         => None
  }
}

private[graft] object MergedScanBuilder {
  /** The inner merged plan of the most recent catalog chain-head scan
    * — a V1 relation embeds it as an opaque RDD, so the OUTER explain
    * cannot show the base scan's PushedFilters; PlanSpec reads the
    * inner plan through this seam instead. Production scans never
    * touch it: the set() is gated behind a system property only the
    * spec flips (checked once at class load), so concurrent queries
    * don't race on a process-global reference and the JVM doesn't pin
    * the most recent plan (and its session state) for its lifetime. */
  private[graft] val captureScans: Boolean =
    java.lang.Boolean.getBoolean("graft.testing.captureScans")
  private[graft] val lastScan =
    new java.util.concurrent.atomic.AtomicReference[DataFrame]()
}

/** The delta write of a SQL row-level operation: stage per-task
  * parquet, commit as ONE MoR publish. */
private[sources] class GraftDeltaWrite(spark: SparkSession, root: String,
                                       pinnedVersion: Long, keyCol: String,
                                       rowSchema: StructType, idSchema: StructType)
  extends DeltaWrite {

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    private val stagingDir =
      s"$root/_staging_rowop/${java.util.UUID.randomUUID().toString}"

    private def factoryFor(schema: StructType): (OutputWriterFactory, SerializableConfiguration) = {
      val job = Job.getInstance(spark.sessionState.newHadoopConf())
      val f = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
      (f, new SerializableConfiguration(job.getConfiguration))
    }

    override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
      val (rowF, rowC) = factoryFor(rowSchema)
      val (idF, idC) = factoryFor(idSchema)
      new GraftDeltaWriterFactory(stagingDir, rowSchema, idSchema, rowF, rowC, idF, idC)
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      try {
        // the head this operation SCANNED must still be live: the pin
        // is threaded INTO the publish (expectedParent), so the parent
        // check happens inside the claim discipline rather than as a
        // caller-side check-then-act whose window a foreign publish
        // could slip through and silently chain stale decisions onto
        // a head this statement never saw
        val msgs = messages.collect { case m: GraftDeltaMessage => m }
        val rowFiles = msgs.flatMap(_.rowsFile).toSeq
        val idFiles = msgs.flatMap(_.idsFile).toSeq
        val deleteKeys =
          if (idFiles.isEmpty) null
          else spark.read.schema(idSchema).parquet(idFiles: _*)
            .select(col(idSchema.fieldNames.head).as(keyCol)).distinct()
        if (rowFiles.nonEmpty) {
          val changes = spark.read.schema(rowSchema).parquet(rowFiles: _*)
          val dels = if (deleteKeys == null) changes.select(col(keyCol)).limit(0)
                     else deleteKeys
          DeletionVectors.publishUpsert(spark, root, changes, keyCol, dels,
            validate = false, expectedParent = Some(pinnedVersion))
        } else if (deleteKeys != null) {
          DeletionVectors.publishDeletes(spark, root, deleteKeys, keyCol,
            expectedParent = Some(pinnedVersion))
        } // an empty delta (no row matched) commits nothing
        ()
      } finally cleanup()
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = cleanup()

    private def cleanup(): Unit = {
      val p = new org.apache.hadoop.fs.Path(stagingDir)
      val fs = Sinks.hadoopFs(spark, p)
      if (fs.exists(p)) fs.delete(p, true)
      ()
    }
  }
}

private[sources] case class GraftDeltaMessage(rowsFile: Option[String],
                                              idsFile: Option[String])
  extends WriterCommitMessage

private[sources] class GraftDeltaWriterFactory(
    stagingDir: String, rowSchema: StructType, idSchema: StructType,
    rowFactory: OutputWriterFactory, rowConf: SerializableConfiguration,
    idFactory: OutputWriterFactory, idConf: SerializableConfiguration)
  extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaWriter(stagingDir, rowSchema, idSchema,
      rowFactory, rowConf, idFactory, idConf, partitionId, taskId)
}

/** Executor-side writer: update/insert images → `rows/`, deleted (and
  * update-superseded) row ids → `ids/`, both through Spark's own
  * parquet OutputWriter — the staged files round-trip with exact
  * types. Writers open lazily, so an all-delete partition stages no
  * empty row file (and vice versa). */
private[sources] class GraftDeltaWriter(
    stagingDir: String, rowSchema: StructType, idSchema: StructType,
    rowFactory: OutputWriterFactory, rowConf: SerializableConfiguration,
    idFactory: OutputWriterFactory, idConf: SerializableConfiguration,
    partitionId: Int, taskId: Long)
  extends DeltaWriter[InternalRow] {

  private def ctx(conf: org.apache.hadoop.conf.Configuration) =
    new TaskAttemptContextImpl(conf,
      new TaskAttemptID(new TaskID(new JobID("graftRowOp", 0), TaskType.MAP,
        partitionId), 0))

  private var rowsW: OutputWriter = _
  private var rowsPath: String = _
  private var idsW: OutputWriter = _
  private var idsPath: String = _

  private def rowsWriter(): OutputWriter = {
    if (rowsW == null) {
      rowsPath = f"$stagingDir/rows/part-$partitionId%05d-$taskId.parquet"
      rowsW = rowFactory.newInstance(rowsPath, rowSchema, ctx(rowConf.value))
    }
    rowsW
  }

  private def idsWriter(): OutputWriter = {
    if (idsW == null) {
      idsPath = f"$stagingDir/ids/part-$partitionId%05d-$taskId.parquet"
      idsW = idFactory.newInstance(idsPath, idSchema, ctx(idConf.value))
    }
    idsW
  }

  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    idsWriter().write(id)

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    idsWriter().write(id) // supersede the old image (key-change safe)
    rowsWriter().write(row)
  }

  override def insert(row: InternalRow): Unit = rowsWriter().write(row)

  override def write(row: InternalRow): Unit = insert(row)

  override def commit(): WriterCommitMessage = {
    closeAll()
    GraftDeltaMessage(Option(rowsPath), Option(idsPath))
  }

  override def abort(): Unit = closeAll() // driver-side cleanup removes the staging dir

  override def close(): Unit = closeAll()

  private def closeAll(): Unit = {
    if (rowsW != null) { rowsW.close(); rowsW = null }
    if (idsW != null) { idsW.close(); idsW = null }
  }
}
