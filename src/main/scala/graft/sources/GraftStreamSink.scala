package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** STREAMING SINK into the versioned snapshot store — the write half
  * of the `graft-table` streaming symmetry
  * (`df.writeStream.format("graft-table").option("dateCol", …)
  * .option("keyCol", …).start(storeRoot)`), so continuous ingestion
  * becomes a first-class API instead of a hand-rolled foreachBatch:
  *
  *   - **append / update** mode: each micro-batch commits as ONE MoR
  *     upsert link keyed on `keyCol` — O(batch) bytes written, the
  *     base never rewritten (the streaming-database-updater shape the
  *     reference runs as `land_registry_monthly_update_database_
  *     updater`, continuously). The first batch on an empty store
  *     bootstraps with a full publish.
  *   - **complete** mode: each micro-batch full-replaces the table —
  *     the streaming-aggregate dashboard shape (`snapshot` baselines
  *     downstream feed consumers re-key on).
  *
  * EXACTLY-ONCE by batch-id ledger (the Delta `txnAppId/txnVersion`
  * discipline): every commit records `(streamId, batchId)` in its
  * version metadata, and `addBatch` consults the LIVE head's ledger —
  * after a crash the engine re-delivers the last batch, and a batch at
  * or below the recorded head is skipped instead of committed twice.
  * The guard reads one version's metadata (O(1)), so it only sees
  * commits of THIS stream when the stream is the table's only writer —
  * the single-streaming-writer-per-table contract every streaming sink
  * carries; a foreign publish interleaving with a re-delivery window
  * degrades to one redundant-but-idempotent MoR link (same images
  * superseding themselves), never a wrong state.
  *
  * Months derive from `dateCol` exactly as every publish; the
  * `partitionBy` of the streaming writer is ignored (the store's
  * layout is its own contract). */
class GraftStreamSink(spark: SparkSession, params: Map[String, String],
                      mode: OutputMode) extends Sink {

  private val root = params.getOrElse("path", throw new IllegalArgumentException(
    "graft-table sink: .start(<storeRoot>) is required"))
  private val dateCol = params.getOrElse("datecol", throw new IllegalArgumentException(
    "graft-table sink: option dateCol names the month-partitioning date column"))
  private val keyCol = params.get("keycol")
  private val retain = params.get("retainversions").map(_.toInt).getOrElse(2)
  private val streamId = params.getOrElse("streamid", "stream")
  private val metaKey = s"sink_batch_$streamId"

  if (mode != OutputMode.Complete())
    require(keyCol.isDefined,
      "graft-table sink: append/update mode commits keyed MoR links — option " +
      "keyCol is required (complete mode full-replaces and needs no key)")

  private def lastCommittedBatch: Option[Long] =
    Sinks.currentVersion(spark, root)
      .flatMap(v => Sinks.versionMeta(spark, root, v).get(metaKey))
      .map(_.trim.toLong)

  override def addBatch(batchId: Long, dataRaw: DataFrame): Unit = synchronized {
    if (lastCommittedBatch.exists(_ >= batchId)) return // re-delivery: committed
    // the engine hands a streaming-flagged frame that refuses batch
    // writers — re-root the batch's physical plan (the FileStreamSink
    // move; no-op for the direct batch frames the specs drive with)
    val data = if (dataRaw.isStreaming)
      org.apache.spark.sql.graftstream.StreamingFrame.toBatch(dataRaw) else dataRaw
    val meta = Map(metaKey -> batchId.toString)
    if (mode == OutputMode.Complete()) {
      Sinks.publishSnapshot(data, dateCol, root, retainVersions = retain,
        extraMeta = meta, colocateMonths = true)
      ()
    } else {
      val k = keyCol.get
      if (Sinks.currentVersion(spark, root).isEmpty) {
        // bootstrap: the first batch IS the table
        Sinks.publishSnapshot(data, dateCol, root, retainVersions = retain,
          extraMeta = meta, colocateMonths = true)
        ()
      } else {
        // one image per key per commit: the engine may emit several
        // updates of one key in a batch (update mode) — keep the last
        // arbitrary-but-single image per key, the MoR contract
        val deduped = data.dropDuplicates(Seq(k))
        DeletionVectors.publishUpsert(spark, root, deduped, k,
          deduped.select(k).limit(0), validate = false, extraMeta = meta)
        ()
      }
    }
  }
}

object GraftStreamSink {
  private val fixtures = new graft.util.Scratch.Fixture[String]("sink_in")

  /** Registered `q_stream_sink` (hash-oracled): continuous ingestion
    * through the native streaming sink — a three-file parquet drop of
    * the class-0 orders streamed file-per-trigger into a FRESH store
    * (`maxFilesPerTrigger = 1` → bootstrap publish + two MoR links),
    * then censused: the merged state must hold every input row exactly
    * once, and the commit-kind ledger must show 1 data version + 2
    * upsert links — closed-form DuckDB over `orders` + VALUES. The
    * input fixture builds once per JVM; the STREAM is what each
    * invocation times. */
  def streamSinkResult(spark: SparkSession, dir: String): DataFrame = {
    val in = fixtures(dir) { tmp =>
      val f = s"$tmp/files"
      Tables.orders(spark, dir)
        .filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderdate").cast("date").as("odate"),
          col("o_totalprice").cast("decimal(18,2)").as("price"))
        .repartition(3).write.parquet(f)
      f
    }
    val scratch = graft.util.Scratch.dir("sink_q")
    val tbl = s"$scratch/t"
    val schema = spark.read.parquet(in).schema
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(in)
      .writeStream.format("graft-table")
      .option("dateCol", "odate").option("keyCol", "o_orderkey")
      .option("retainVersions", "100")
      .option("checkpointLocation", s"$scratch/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(tbl).awaitTermination()
    val census = DeletionVectors.readMerged(spark, tbl)
      .withColumn("h", graft.operators.Reconcile.xorHash60(
        col("o_orderkey").cast("string")))
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("key_xor"),
        sum("price").cast("double").as("price_sum"))
      .select(lit("state").as("phase"), col("n_rows"), col("key_xor"),
        col("price_sum"))
    val kinds = Sinks.history(spark, tbl)
      .groupBy(col("kind").as("phase"))
      .agg(count(lit(1)).as("n_rows"))
      .select(col("phase"), col("n_rows"),
        lit(null).cast("long").as("key_xor"), lit(null).cast("double").as("price_sum"))
    census.unionByName(kinds).orderBy("phase")
  }
}
