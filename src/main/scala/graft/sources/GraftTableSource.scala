package graft.sources

import java.util

import org.apache.spark.sql.{DataFrame, SparkSession, SQLContext}
import org.apache.spark.sql.execution.streaming.Source
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.catalog.TableProvider
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 connector for the versioned snapshot store —
  * `spark.read.format("graft-table").load(storeRoot)` (and the
  * `USING graft-table` DDL, via DataSourceRegister) as the first-class
  * read path beside the [[Sinks.readSnapshot]] library calls:
  *
  *   - Commit-marker resolution: the scan binds to the newest
  *     COMMITTED version directory (never a bare `v…` dir a crashed
  *     or mid-write publisher left), exactly [[Sinks.readSnapshot]]'s
  *     rule; once a DataFrame is created its plan is pinned to that
  *     immutable directory, so concurrent publishes can't disturb a
  *     running scan.
  *   - Time travel: `.option("versionAsOf", n)` reads a retained
  *     historical version, with [[Sinks.readSnapshotAt]]'s
  *     refuse-don't-guess contract (an uncommitted or pruned version
  *     fails with the available range).
  *   - Branch reads: `.option("branch", name)` binds to the ref's
  *     head version dir — branch-only versions are plain data dirs by
  *     construction ([[Branches.publishToBranch]]); a head that is a
  *     committed main version (fresh branch, post-rebase ref) passes
  *     the same chain guard as every other resolution.
  *   - Tag reads: `.option("tag", name)` binds to the version a
  *     [[Tags]] ref pins — pinned versions survive retention, so the
  *     connector read stays valid however old the tag grows.
  *     `branch` / `versionAsOf` / `tag` are mutually exclusive (each
  *     names one point to read).
  *   - Chain guard, refuse-don't-guess: a DV/MoR-AMENDED version's
  *     state exists only merged — an anti-join this parquet
  *     delegation cannot express. Underscore-prefixed `_dv` payloads
  *     are invisible to a parquet scan, so without the guard a chain
  *     head would silently serve unmerged (or zero) rows; instead the
  *     connector fails loudly and points at
  *     [[DeletionVectors.readMergedAt]] (reading) and
  *     [[DeletionVectors.materializeDeletes]] (folding the chain into
  *     a connector-readable data version).
  *   - Everything below the version resolution DELEGATES to Spark's
  *     own parquet `FileTable` ([[ParquetTable]] over the resolved
  *     directory): predicate pushdown, column pruning, partition
  *     discovery of the month layout (`txn_month=…` becomes a real
  *     partition column with partition pruning), vectorized reads and
  *     whole-stage codegen all behave exactly as a plain parquet scan
  *     — the connector adds the transactional binding, not a reader.
  *     (ParquetTable lives under `execution.datasources.v2` but is a
  *     public case class — the same standard-extension packaging line
  *     the native expressions use.)
  *
  * Registered `q_snapshot_dsv2` reads a two-version store through the
  * connector — the live version, `versionAsOf` the first, a branch
  * head, and a tag — and hash-matches all four censuses against
  * closed-form DuckDB on `orders`.
  */
class GraftTableDataSource extends TableProvider with DataSourceRegister
  with org.apache.spark.sql.sources.StreamSourceProvider
  with org.apache.spark.sql.sources.StreamSinkProvider {
  override def shortName(): String = "graft-table"

  /** One resolution per (options) per provider instance: Spark calls
    * `inferSchema` and then `getTable` on the same provider — two
    * independent head resolutions would let a publish landing between
    * them bind the scan to a DIFFERENT version directory than the
    * schema was inferred from (schema of v2, files of v3 after a
    * column-evolving publish). Memoizing pins both calls to the one
    * directory resolved first; a fresh `load()` builds a fresh
    * provider, so the cache never staleness-leaks across reads.
    *
    * Resolution, the chain guard, parquet delegation and the WRITE
    * surface all live in [[GraftTable.forProvider]] since round 12. */
  private val pinned =
    new java.util.concurrent.ConcurrentHashMap[Map[String, String], Table]()

  private def resolve(options: CaseInsensitiveStringMap): Table = {
    import scala.jdk.CollectionConverters._
    pinned.computeIfAbsent(options.asCaseSensitiveMap().asScala.toMap, _ => {
      val spark = SparkSession.active
      // batch CDF read (Delta's `option("readChangeFeed", "true")`):
      // a different table — history's changes, not a state snapshot
      if (Option(options.get("readChangeFeed")).exists(_.trim.equalsIgnoreCase("true"))) {
        val root = Option(options.get("path")).getOrElse(throw new IllegalArgumentException(
          "graft-table needs a path: the snapshot store root"))
        new ChangeFeedTable(spark, root, options.asCaseSensitiveMap().asScala.map {
          case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v
        }.toMap)
      } else GraftTable.forProvider(spark, options)
    })
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    resolve(options).schema()

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    resolve(new CaseInsensitiveStringMap(properties))

  // ——— streaming: the change-feed source (readStream side) ————————
  // `spark.readStream.format("graft-table").load(root)` tails commit
  // history — semantics, schema and the refuse-on-pruned contract in
  // [[GraftFeedSource]]'s doc. V1 StreamSourceProvider is the right
  // seam here: a micro-batch IS a DataFrame plan over the version
  // range (delta files / version dirs), which the V1 `getBatch`
  // returns directly instead of hand-planning V2 partition readers.

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    (shortName(), new GraftFeedSource(sqlContext.sparkSession, parameters).schema)

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    new GraftFeedSource(sqlContext.sparkSession, parameters)

  // ——— streaming: the continuous-ingestion sink (writeStream side) ——
  // `df.writeStream.format("graft-table").start(root)` — append/update
  // commit MoR links per micro-batch, complete full-replaces; batch-id
  // ledger in version metadata makes restarts exactly-once. Semantics
  // in [[GraftStreamSink]].

  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink =
    new GraftStreamSink(sqlContext.sparkSession, parameters, outputMode)
}

object GraftTableDataSource {
  /** Registered `q_snapshot_dsv2` (hash-oracled): a store publishing
    * the even-key orders half (v1) then its quartered subset (v2,
    * live), plus a branch `staged` holding the eighth-key subset and
    * a tag `milestone` pinning v1, read back ENTIRELY through the
    * connector — the live scan, a `versionAsOf` 1 scan, a `branch`
    * scan and a `tag` scan — censused as closed-form row counts +
    * 60-bit key XORs over `orders`. The branch publish lands BEFORE
    * the live census, doubling as the isolation claim: a ref publish
    * must not disturb what main serves; the tag census must equal the
    * as-of census cell-for-cell (two read paths, one pinned truth).
    * The store builds once per JVM (immutable afterwards); the query
    * times the connector reads. */
  def snapshotDsv2Result(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderdate", "o_totalprice")
    val evens = orders.filter(col("o_orderkey") % 2 === 0)
    val table = fixtures(dir) { tmp =>
      val t = s"$tmp/t"
      Sinks.publishSnapshot(evens, "o_orderdate", t)
      Sinks.publishSnapshot(evens.filter(col("o_orderkey") % 4 === 0),
        "o_orderdate", t)
      Branches.createBranch(spark, t, "staged")
      Branches.publishToBranch(evens.filter(col("o_orderkey") % 8 === 0),
        "o_orderdate", t, "staged")
      Tags.createTag(spark, t, "milestone", Some(1L))
      t
    }
    def census(phase: String, df: DataFrame): DataFrame =
      df.select(graft.operators.Reconcile.xorHash60(
          col("o_orderkey").cast("string")).as("h"))
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("key_xor"))
        .select(lit(phase).as("phase"), col("n_rows"), col("key_xor"))
    census("live", spark.read.format("graft-table").load(table))
      .unionByName(census("as_of_1",
        spark.read.format("graft-table").option("versionAsOf", "1").load(table)))
      .unionByName(census("branch",
        spark.read.format("graft-table").option("branch", "staged").load(table)))
      .unionByName(census("tagged",
        spark.read.format("graft-table").option("tag", "milestone").load(table)))
      .orderBy("phase")
  }

  private val fixtures = new graft.util.Scratch.Fixture[String]("tbl_dsv2")
}
