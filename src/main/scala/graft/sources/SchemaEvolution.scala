package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Schema evolution for the versioned snapshot store — the migration
  * concern the reference handles by dropping and recreating every
  * table (`create_table_recreate_all_tables.py:1-21`); a lakehouse
  * keeps history readable across schema changes instead.
  *
  * Mechanism (the public Iceberg design): every logical column gets a
  * STABLE ID at first publish; a rename keeps the id under a new
  * name, an added column mints a new id. Each version carries its
  * id→(name, type) mapping as `_schema` metadata inside the version
  * dir ([[Sinks.publishSnapshot]] `extraMeta`, written before the
  * commit marker, so a committed version always has its mapping).
  * Reading an old version "as of" the live schema resolves columns BY
  * ID: renamed columns come back under their current name, columns
  * added later materialize as typed nulls — one scan, no rewrite of
  * history, no positional guessing.
  *
  * Scale: the mapping is one tiny file per version; resolution is a
  * driver-side projection decision. The data path stays a plain
  * column-pruned parquet scan of the immutable version dir.
  */
object SchemaEvolution {

  /** One logical column: stable id, current name, Spark DDL type. */
  final case class ColMeta(id: Long, name: String, ddl: String)

  private val metaName = "schema"

  /** The `extraMeta` key the id mapping rides under — exposed so the
    * branch publish path can carry and validate it. */
  private[sources] def schemaMetaName: String = metaName

  /** Parse a serialized mapping (the [[render]] inverse). */
  private[sources] def parseSchema(content: String): Seq[ColMeta] =
    content.split("\n").filter(_.nonEmpty).toSeq.map { line =>
      val Array(id, name, ddl) = line.split("\t", 3)
      ColMeta(id.toLong, name, ddl)
    }

  /** High-water mark of every id EVER minted, persisted with each
    * version. Minting above the LIVE mapping's max would be wrong:
    * drop the max-id column and the next add would re-mint the
    * retired id, silently resurrecting the dropped column's history
    * under the new column's name. Old versions also get pruned
    * (`retainVersions`), so the mark cannot be recovered by scanning
    * history — it must ride the metadata. */
  private val maxIdMeta = "schema_maxid"

  /** Serialize: one `id<TAB>name<TAB>ddl` line per column. Names are
    * parquet field names (no tabs/newlines possible); the format needs
    * no parser beyond split. */
  private def render(cols: Seq[ColMeta]): String =
    cols.map(c => s"${c.id}\t${c.name}\t${c.ddl}").mkString("\n")

  /** The id mapping governing `version`, if its chain was published
    * through [[publishEvolved]] (or inherited the mapping through a
    * metadata-carrying maintenance pass — see [[Sinks.compactSnapshot]]
    * and [[DeletionVectors.materializeDeletes]]). A DV/MoR commit
    * carries no publish metadata of its own, so the mapping resolves
    * at the chain's BASE data version — deletes and upserts leave the
    * schema exactly as the data they amend declared it. */
  def schemaOf(spark: SparkSession, tablePath: String, version: Long): Option[Seq[ColMeta]] =
    Sinks.versionMeta(spark, tablePath,
        DeletionVectors.baseDataVersion(spark, tablePath, version))
      .get(metaName).map(parseSchema)

  /** The metadata a CLONE of `version` must carry to continue the
    * source's id history under its own roof: the mapping governing
    * `version` plus the id high-water mark recorded with it — cloning
    * the mapping WITHOUT the mark would let evolution on the clone
    * re-mint ids the source had already retired at that point (the
    * resurrection hazard [[maxIdMeta]] exists for). Empty for stores
    * never published through [[publishEvolved]]. */
  private[sources] def mappingMetaOf(spark: SparkSession, tablePath: String,
                                     version: Long): Map[String, String] =
    schemaOf(spark, tablePath, version) match {
      case None => Map.empty
      case Some(cols) =>
        val base = DeletionVectors.baseDataVersion(spark, tablePath, version)
        val maxId = Sinks.versionMeta(spark, tablePath, base).get(maxIdMeta)
          .map(_.toLong).getOrElse(cols.map(_.id).maxOption.getOrElse(0L))
        Map(metaName -> render(cols), maxIdMeta -> maxId.toString)
    }

  /** Publish `df` as the next version WITH its id mapping. Ids carry
    * over by name from the live version's mapping; `renamedFrom` maps
    * a NEW column name to the OLD name whose id it inherits (the
    * rename declaration — without it a renamed column would mint a
    * fresh id and read as add+drop). Unknown names mint new ids.
    * `mintFresh` names columns that must mint a NEW id even when the
    * live mapping has their name — the drop-then-re-add-same-name
    * case, where name-based inheritance would resurrect the retired
    * id and as-of reads would resolve the dead column's history into
    * the unrelated new one. */
  def publishEvolved(df: DataFrame, dateCol: String, tablePath: String,
                     renamedFrom: Map[String, String] = Map.empty,
                     retainVersions: Int = 2,
                     mintFresh: Set[String] = Set.empty): Long = {
    val spark = df.sparkSession
    val liveVersion = Sinks.currentVersion(spark, tablePath)
    val prev: Seq[ColMeta] = liveVersion
      .flatMap(v => schemaOf(spark, tablePath, v)).getOrElse(Seq.empty)
    val prevByName = prev.map(c => c.name -> c).toMap
    renamedFrom.foreach { case (nu, old) =>
      require(prevByName.contains(old) || prev.isEmpty,
        s"renamedFrom: no column '$old' in the live schema to inherit for '$nu'")
      require(df.columns.contains(nu), s"renamedFrom: '$nu' not in the published frame")
    }
    // mint above every id EVER issued, not just the live ones —
    // retired (dropped) ids must never come back (see maxIdMeta).
    // Resolved through any live DV/MoR chain, like the mapping: a
    // publish on top of an unmaterialized delete must not restart the
    // id counter and silently re-mint retired ids.
    var nextId = liveVersion
      .map(v => DeletionVectors.baseDataVersion(spark, tablePath, v))
      .flatMap(v => Sinks.versionMeta(spark, tablePath, v).get(maxIdMeta))
      .map(_.toLong)
      .getOrElse(prev.map(_.id).maxOption.getOrElse(0L))
    val cols = df.schema.fields.toSeq.map { f =>
      val inherited = renamedFrom.get(f.name).flatMap(prevByName.get)
        .orElse(if (mintFresh.contains(f.name)) None else prevByName.get(f.name))
      inherited match {
        case Some(old) => ColMeta(old.id, f.name, f.dataType.sql)
        case None      => nextId += 1; ColMeta(nextId, f.name, f.dataType.sql)
      }
    }
    Sinks.publishSnapshot(df, dateCol, tablePath, retainVersions,
      extraMeta = Map(metaName -> render(cols), maxIdMeta -> nextId.toString))
  }

  /** The SQL spelling of schema evolution — `ALTER TABLE graft.`…``
    * `ADD COLUMNS / RENAME COLUMN / DROP COLUMN / ALTER COLUMN TYPE`
    * routed here by [[GraftCatalog.alterTable]]. Every change in the
    * statement folds into ONE [[publishEvolved]] call (one new
    * version, atomic: the statement either commits whole or leaves
    * the store untouched), mapped exactly like the library path:
    * rename → `renamedFrom` id inheritance, add → a fresh id minted
    * above the high-water mark (typed-null-filled for existing rows),
    * drop → id retirement, type change → same id with a LOSSLESS
    * widening only (the [[projectByIds]] rule, enforced here at DDL
    * time rather than first failing at read time). This replaces the
    * reference's migrate-by-recreate
    * (`create_table_recreate_all_tables.py:1-21`) with history that
    * stays readable across the change.
    *
    * Refusals (all BEFORE anything persists):
    *   - nested field paths (the store's columns are top-level);
    *   - ADD with NOT NULL or a DEFAULT (existing rows have no value
    *     — the store records no default metadata to fake one);
    *   - dropping or ambiguously resolving the month-partition date
    *     column (detected as the live frame's single date/timestamp
    *     column — the same rule the write path uses; renames of it
    *     are fine, the publish follows the new name);
    *   - a change that would leave a persisted CHECK constraint
    *     unresolvable (drop the constraint first, or rename it too);
    *   - narrowing type changes.
    *
    * A statement whose every change was an `IF EXISTS` miss is a
    * NO-OP: it returns the live version without publishing anything.
    * A column ADDED by the statement always mints a fresh id, even
    * when a column of the same name existed before (drop + re-add
    * must not resurrect the retired id). Retention: by default the
    * evolution publish keeps EVERY currently-retained version plus
    * the new one — DDL never prunes the history window the user sized
    * with their own publishes (`expire_snapshots` is the explicit
    * shrinking verb); pass `retainVersions` to override.
    *
    * Cost: one full rewrite of the LIVE state (read merged through
    * any DV/MoR chain, projected, republished) — the same cost as the
    * library path's evolution publish. At 100 TB an evolution is a
    * deliberate, rare operation; a metadata-only evolution link is a
    * possible future optimization but would push physical-vs-logical
    * mapping resolution into every reader of the chain. */
  def alterColumns(spark: SparkSession, tablePath: String,
                   changes: Seq[org.apache.spark.sql.connector.catalog.TableChange],
                   retainVersions: Option[Int] = None): Long = {
    import org.apache.spark.sql.connector.catalog.TableChange
    val live = Sinks.requireHead(spark, tablePath)
    // live LOGICAL state: merged through any DV/MoR chain; projected
    // by id when a mapping exists (a first ALTER on a store published
    // without one simply mints the whole mapping fresh)
    val base: DataFrame =
      if (schemaOf(spark, tablePath, live).isDefined)
        readMergedAs(spark, tablePath, live)
      else {
        val phys = DeletionVectors.readMergedAt(spark, tablePath, live)
        if (phys.columns.contains("txn_month")) phys.drop("txn_month") else phys
      }
    // the month-partition column, by the write path's own rule: the
    // frame's single date/timestamp column (ambiguity refuses — the
    // library path takes an explicit dateCol for exactly that case)
    val dateish = base.schema.fields.filter(f =>
      f.dataType == org.apache.spark.sql.types.DateType ||
      f.dataType.isInstanceOf[org.apache.spark.sql.types.TimestampType])
    require(dateish.length == 1,
      s"ALTER TABLE on $tablePath cannot determine the month-partition column " +
      s"(frame has ${dateish.length} date/timestamp columns); evolve through " +
      "SchemaEvolution.publishEvolved with an explicit dateCol instead")
    var dateCol = dateish.head.name

    def single(fieldNames: Array[String], what: String): String = {
      require(fieldNames.length == 1,
        s"$what: nested field '${fieldNames.mkString(".")}' — graft store columns " +
        "are top-level only")
      fieldNames.head
    }
    def resolve(df: DataFrame, name: String, what: String): String =
      df.columns.find(_.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(s"$what: no column '$name' on $tablePath " +
          s"(have ${df.columns.mkString(", ")})"))

    var df = base
    var renamedFrom = Map.empty[String, String]
    // names ADDED by this statement (tracked through renames): they
    // must mint FRESH ids even when the pre-statement mapping had the
    // same name (drop + re-add in one statement) — name inheritance
    // there would resurrect the retired id and corrupt as-of reads
    var addedNames = Set.empty[String]
    changes.foreach {
      case add: TableChange.AddColumn =>
        val name = single(add.fieldNames(), "ADD COLUMN")
        require(df.columns.forall(!_.equalsIgnoreCase(name)),
          s"ADD COLUMN: column '$name' already exists on $tablePath")
        require(add.isNullable,
          s"ADD COLUMN '$name' NOT NULL refused: existing rows have no value for " +
          "it — add it nullable, backfill, then add a CHECK constraint")
        require(add.defaultValue() == null,
          s"ADD COLUMN '$name' DEFAULT refused: the store records no column " +
          "defaults; backfill explicitly after adding")
        df = df.withColumn(name, lit(null).cast(add.dataType()))
        addedNames += name
        add.position() match {
          case null => () // append at the end
          case _: TableChange.First =>
            df = df.select((name +: df.columns.filterNot(_ == name)).map(col): _*)
          case after: TableChange.After =>
            val rest = df.columns.filterNot(_ == name)
            val anchor = rest.indexWhere(_.equalsIgnoreCase(after.column()))
            require(anchor >= 0, s"ADD COLUMN '$name' AFTER ${after.column()}: " +
              s"no such column on $tablePath")
            val (pre, post) = rest.splitAt(anchor + 1)
            df = df.select((pre ++ Seq(name) ++ post).map(col): _*)
          case other => throw new UnsupportedOperationException(
            s"unsupported column position $other")
        }
      case rn: TableChange.RenameColumn =>
        val old = resolve(df, single(rn.fieldNames(), "RENAME COLUMN"), "RENAME COLUMN")
        val nu = rn.newName()
        require(df.columns.forall(!_.equalsIgnoreCase(nu)),
          s"RENAME COLUMN: column '$nu' already exists on $tablePath")
        df = df.withColumnRenamed(old, nu)
        // id inheritance composes across renames WITHIN the statement;
        // a column ADDED by this same statement has no live id to
        // inherit and correctly stays out of the map (fresh mint)
        renamedFrom = renamedFrom.get(old) match {
          case Some(origin)                        => renamedFrom - old + (nu -> origin)
          case None if base.columns.contains(old)  => renamedFrom + (nu -> old)
          case None                                => renamedFrom
        }
        if (addedNames.contains(old)) addedNames = addedNames - old + nu
        if (dateCol == old) dateCol = nu
      case del: TableChange.DeleteColumn =>
        val name = single(del.fieldNames(), "DROP COLUMN")
        df.columns.find(_.equalsIgnoreCase(name)) match {
          case Some(actual) =>
            require(actual != dateCol,
              s"DROP COLUMN '$actual' refused: it is the month-partition column " +
              s"of $tablePath; repartition through the library publish path first")
            df = df.drop(actual)
            renamedFrom -= actual
            addedNames -= actual
          case None =>
            if (!del.ifExists()) throw new IllegalArgumentException(
              s"DROP COLUMN: no column '$name' on $tablePath — " +
              "DROP COLUMN IF EXISTS tolerates unknown names")
        }
      case ut: TableChange.UpdateColumnType =>
        val actual = resolve(df, single(ut.fieldNames(), "ALTER COLUMN TYPE"),
          "ALTER COLUMN TYPE")
        val from = df.schema(actual).dataType
        val to = ut.newDataType()
        require(org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(from, to),
          s"ALTER COLUMN '$actual' TYPE ${to.sql} refused: ${from.sql} -> ${to.sql} " +
          "is not a lossless widening; reading old versions through the narrowed " +
          "schema would corrupt history")
        df = df.withColumn(actual, col(actual).cast(to))
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER TABLE change ${other.getClass.getSimpleName} on a graft " +
        "table: column add/rename/drop/type-widen and CHECK constraints only")
    }
    // a statement that changed NOTHING (every change was an IF EXISTS
    // miss) must not republish the whole table as a new version
    if ((df.schema == base.schema) && renamedFrom.isEmpty) return live
    // a persisted CHECK constraint must still resolve against the new
    // schema, or every later write would fail at its guard — refuse
    // the evolution (not the writes) while nothing has persisted yet.
    // The probe is a SELECT, not a filter: Dataset.filter resolves
    // missing references through the child plan (the pre-rename
    // attribute is still under the rename projection), which would
    // silently bind the dead name
    Constraints.constraintsOf(spark, tablePath).foreach { case (n, pred) =>
      try df.select(expr(pred)).queryExecution.analyzed
      catch {
        case scala.util.control.NonFatal(e) => throw new IllegalArgumentException(
          s"ALTER TABLE would leave CHECK constraint '$n' ($pred) unresolvable — " +
          s"DROP CONSTRAINT first (or rename through it): ${e.getMessage}")
      }
    }
    // retention: DDL must never be the thing that prunes history — by
    // default keep every currently-retained committed version plus the
    // new one (the user sized their window with their own publishes;
    // expire_snapshots is the explicit verb for shrinking it)
    val keep = retainVersions.getOrElse(
      Sinks.listVersions(spark, tablePath).size + 1)
    publishEvolved(df, dateCol, tablePath, renamedFrom, keep,
      mintFresh = addedNames)
  }

  /** Read committed `version` projected onto the schema of
    * `asOfVersion` (default: live). Columns resolve BY ID: present →
    * selected under the as-of name; absent at `version` (added later)
    * → typed null. A column DROPPED later simply has no id in the
    * as-of mapping and vanishes from the projection — history reads
    * never fail on schema drift in either direction. */
  def readSnapshotAs(spark: SparkSession, tablePath: String, version: Long,
                     asOfVersion: Option[Long] = None): DataFrame =
    projectAs(spark, tablePath, version, asOfVersion,
      Sinks.readSnapshotAt(spark, tablePath, version))

  /** [[readSnapshotAs]] over the MERGE-ON-READ state: `version`'s
    * deletion/upsert chain is resolved first
    * ([[DeletionVectors.readMergedAt]]), then the merged rows project
    * onto the as-of schema by id — the read a table that is both
    * evolving and MoR-amended serves its consumers. The chain's
    * mapping resolves at its base data version (deltas are validated
    * against the base's physical columns at publish, so the base
    * mapping governs every merged row). */
  def readMergedAs(spark: SparkSession, tablePath: String, version: Long,
                   asOfVersion: Option[Long] = None): DataFrame =
    projectAs(spark, tablePath, version, asOfVersion,
      DeletionVectors.readMergedAt(spark, tablePath, version))

  private def projectAs(spark: SparkSession, tablePath: String, version: Long,
                        asOfVersion: Option[Long], phys: DataFrame): DataFrame = {
    val asOf = asOfVersion.getOrElse(Sinks.requireHead(spark, tablePath))
    val target = schemaOf(spark, tablePath, asOf).getOrElse(
      throw new java.io.FileNotFoundException(
        s"version $asOf of $tablePath has no schema mapping " +
        "(published without SchemaEvolution.publishEvolved)"))
    val atV = schemaOf(spark, tablePath, version).getOrElse(
      throw new java.io.FileNotFoundException(
        s"version $version of $tablePath has no schema mapping"))
    projectByIds(phys, atV, target)
  }

  /** Project a physical state whose columns `atV` describes onto the
    * `target` mapping BY ID: present ids select under the target name
    * (lossless type widenings only), absent ids null-fill, ids the
    * target lacks vanish. The projection core of every as-of read;
    * also the branch-merge path's way of bringing a branch state
    * published under pre-evolution names into main's current schema. */
  private[sources] def projectByIds(phys: DataFrame, atV: Seq[ColMeta],
                                    target: Seq[ColMeta]): DataFrame = {
    val byId: Map[Long, ColMeta] = atV.map(c => c.id -> c).toMap
    val projection: Seq[Column] = target.map { c =>
      byId.get(c.id) match {
        case Some(old) if old.ddl == c.ddl => col(old.name).as(c.name)
        case Some(old) =>
          // TYPE evolution: follow the as-of schema, but only through
          // lossless widenings (int→long, float→double, decimal
          // scale-up — the Iceberg-permitted set); a narrowed read
          // would silently truncate history, so it refuses instead
          val from = DataType.fromDDL(old.ddl)
          val to = DataType.fromDDL(c.ddl)
          require(org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(from, to),
            s"column '${c.name}' (id ${c.id}) evolved ${old.ddl} -> ${c.ddl}, " +
            "which is not a lossless widening; reading old versions through " +
            "this schema would corrupt history")
          col(old.name).cast(to).as(c.name)
        case None => lit(null).cast(DataType.fromDDL(c.ddl)).as(c.name)
      }
    }
    phys.select(projection: _*)
  }

  /** One evolved two-version table per source dir per JVM (same memo
    * rationale as SnapshotDiff's timeline: the fixture build is
    * shared, the timed path is the evolved reads). */
  private val evolved = new graft.util.Scratch.Fixture[String]("schema_evolution_q")

  /** v1: (o_orderkey, price, transaction_date). v2: price RENAMED to
    * amount (id preserved via `renamedFrom`), values bumped +5.25, and
    * a `category` column ADDED. The evolution every long-lived table
    * hits: rename + add, with history still on disk under old names. */
  private def buildEvolved(spark: SparkSession, dir: String, tmp: String): String = {
    val table = s"$tmp/table"
    val base = Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 4 =!= 0)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("price"),
        to_date(col("o_orderdate")).as("transaction_date"),
        col("o_orderpriority"))
    publishEvolved(base.drop("o_orderpriority"), "transaction_date", table)
    publishEvolved(base
        .select(col("o_orderkey"),
          (col("price") + lit(new java.math.BigDecimal("5.25"))).as("amount"),
          col("transaction_date"),
          col("o_orderpriority").as("category")),
      "transaction_date", table, renamedFrom = Map("amount" -> "price"))
    table
  }

  /** Registered `q_schema_evolution`: both versions read through the
    * LIVE schema in one projection each — v1's `price` surfaces as
    * `amount` (by id), its `category` as typed null; v2 reads as
    * itself. Hash-checked against a DuckDB reconstruction of both
    * states, so the id mapping provably round-trips values, names and
    * null semantics. */
  def evolutionResult(spark: SparkSession, dir: String): DataFrame = {
    val table = evolved(dir)(buildEvolved(spark, dir, _))
    def asOfLive(v: Long) = readSnapshotAs(spark, table, v)
      .select(lit(v).as("src_version"), col("o_orderkey"),
        col("amount").cast("double").as("amount"), col("category"))
    asOfLive(1L).unionByName(asOfLive(2L)).orderBy("src_version", "o_orderkey")
  }

  private val evolvedSql = new graft.util.Scratch.Fixture[String]("schema_evolution_sql_q")

  /** The SAME evolution driven through STANDARD SQL DDL instead of
    * the library calls: v1 publishes (o_orderkey, price,
    * transaction_date, priority) with its id mapping and a `v1` tag
    * (pinning the version against the evolution publishes' retention),
    * then the statement sequence
    *
    *   ALTER TABLE graft.`t` RENAME COLUMN price TO amount
    *   UPDATE graft.`t` SET amount = amount + 5.25 WHERE k % 8 = 1
    *   ALTER TABLE graft.`t` ADD COLUMNS (category STRING)
    *   UPDATE graft.`t` SET category = priority
    *   ALTER TABLE graft.`t` DROP COLUMN priority
    *
    * interleaves evolution DDL with row-level DML so the two version
    * states genuinely differ. */
  private def buildEvolvedSqlTable(spark: SparkSession, dir: String, tmp: String): String = {
    val table = s"$tmp/table"
    val base = Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 4 =!= 0)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("price"),
        to_date(col("o_orderdate")).as("transaction_date"),
        col("o_orderpriority").as("priority"))
    publishEvolved(base, "transaction_date", table)
    Tags.createTag(spark, table, "v1", Some(1L))
    spark.sql(s"ALTER TABLE graft.`$table` RENAME COLUMN price TO amount")
    spark.sql(s"UPDATE graft.`$table` SET amount = amount + CAST('5.25' AS " +
      "DECIMAL(3,2)) WHERE o_orderkey % 8 = 1")
    spark.sql(s"ALTER TABLE graft.`$table` ADD COLUMNS (category STRING)")
    spark.sql(s"UPDATE graft.`$table` SET category = priority")
    spark.sql(s"ALTER TABLE graft.`$table` DROP COLUMN priority")
    table
  }

  /** Registered `q_schema_evolution_sql` (hash-oracled): the DDL-driven
    * twin of [[evolutionResult]]. Phase 1 reads the TAGGED v1 through
    * the live schema — its `price` surfaces as `amount` BY ID across
    * the SQL rename, `category` (added later) as typed null, `priority`
    * (dropped later) vanishes. Phase live reads the final state — the
    * DML bump and the backfilled category — through the catalog.
    * Hash-matched against a closed-form DuckDB reconstruction, so the
    * statement sequence provably lands the same id mapping the library
    * path produces. */
  def evolutionSqlResult(spark: SparkSession, dir: String): DataFrame = {
    val table = evolvedSql(dir)(buildEvolvedSqlTable(spark, dir, _))
    val v1 = readSnapshotAs(spark, table, Tags.tagVersion(spark, table, "v1"))
      .select(lit("v1_as_live").as("phase"), col("o_orderkey"),
        col("amount").cast("double").as("amount"), col("category"))
    val live = spark.sql(s"SELECT o_orderkey, amount, category FROM graft.`$table`")
      .select(lit("live").as("phase"), col("o_orderkey"),
        col("amount").cast("double").as("amount"), col("category"))
    v1.unionByName(live).orderBy("phase", "o_orderkey")
  }
}
