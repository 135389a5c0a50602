package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{DeletionVectors, Sinks, Tables}

/** CONTINUOUS TABLE REPLICATION — the change feed consumed end-to-end:
  * `spark.readStream.format("graft-table")` tails the SOURCE store's
  * commit history and every micro-batch is applied to a DESTINATION
  * store as the same sequence of commits — `'snapshot'` baselines as
  * full-replace publishes, `'upsert'`/`'delete'` link rows as ONE MoR
  * commit per source version. The mirror is therefore O(changes) on
  * BOTH sides for the append/update regime: the source emitted link
  * bytes, the mirror writes link bytes, and neither ever re-reads its
  * base (the cross-region replica / reporting-copy shape at 100 TB).
  *
  * Replay-safe by the MoR algebra: foreachBatch may re-deliver a batch
  * after a crash, and re-applying it re-stages identical images (a key
  * superseding itself) and re-deletes absent keys (a no-op by the
  * publishDeletes contract) — redundant work, never a wrong state.
  * Version numbers do NOT transfer (the mirror has its own claim
  * space); STATE transfers, which is what a replica is for. Multiple
  * source versions landing in one trigger apply in commit order —
  * the per-version loop is a bounded driver action over the batch's
  * distinct `_commit_version`s, never a row collect. */
object TableMirror {

  def runTableMirror(spark: SparkSession, sourceTable: String, mirrorTable: String,
                     checkpoint: String, key: String, dateCol: String,
                     retainVersions: Int = 2,
                     availableNow: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = spark.readStream.format("graft-table")
      .option("startingVersion", "1").load(sourceTable)
      .writeStream.option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) =>
        val b = batch.toDF()
        val payloadCols = b.columns.filterNot(Set("_change_type", "_commit_version"))
        // bounded driver action: the versions THIS batch carries
        val versions = b.select("_commit_version").distinct()
          .collect().map(_.getLong(0)).sorted
        versions.foreach { v =>
          val of = b.filter(col("_commit_version") === v)
          val snap = of.filter(col("_change_type") === "snapshot")
            .select(payloadCols.map(col).toSeq: _*)
          if (!snap.isEmpty) {
            Sinks.publishSnapshot(snap, dateCol, mirrorTable,
              retainVersions = retainVersions)
          } else {
            val ups = of.filter(col("_change_type") === "upsert")
              .select(payloadCols.map(col).toSeq: _*)
            val dels = of.filter(col("_change_type") === "delete")
              .select(col(key))
            if (ups.isEmpty) DeletionVectors.publishDeletes(
              spark, mirrorTable, dels, key)
            else DeletionVectors.publishUpsert(
              spark, mirrorTable, ups, key, dels, validate = false)
          }
          ()
        }
      }
    (if (availableNow)
       writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
     else writer).start()
  }

  private val fixtures = new graft.util.Scratch.Fixture[String]("mirror_src")

  /** Registered `q_table_mirror` (hash-oracled): replicate the
    * three-commit lifecycle (class-0 baseline → class-20/class-7
    * upsert link → class-30 delete link) through the feed into a
    * fresh mirror store, then census the MIRROR's merged state —
    * which must equal the source's merged state, closed-form over
    * `orders`. The source builds once per JVM; each invocation mirrors
    * into a fresh destination (the drain is the timed surface). */
  def tableMirrorResult(spark: SparkSession, dir: String): DataFrame = {
    val src = fixtures(dir) { tmp =>
      val f = s"$tmp/t"
      val base = Tables.orders(spark, dir).select(
        col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_orderdate").cast("date").as("odate"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      Sinks.publishSnapshot(base.filter(col("o_orderkey") % 10 === 0), "odate", f,
        retainVersions = 100)
      val updates = base.filter(col("o_orderkey") % 20 === 0)
        .withColumn("price",
          expr("CAST(price + CAST('5.00' AS DECIMAL(3,2)) AS DECIMAL(18,2))"))
      DeletionVectors.publishUpsert(spark, f,
        updates.unionByName(base.filter(col("o_orderkey") % 10 === 7)),
        "o_orderkey", updates.select("o_orderkey").limit(0), validate = false)
      DeletionVectors.publishDeletes(spark, f,
        base.filter(col("o_orderkey") % 30 === 0).select("o_orderkey"), "o_orderkey")
      f
    }
    val scratch = graft.util.Scratch.dir("mirror_q")
    val dst = s"$scratch/mirror"
    runTableMirror(spark, src, dst, s"$scratch/ckpt", "o_orderkey", "odate",
      retainVersions = 100, availableNow = true).awaitTermination()
    DeletionVectors.readMerged(spark, dst)
      .withColumn("h", graft.operators.Reconcile.xorHash60(
        col("o_orderkey").cast("string")))
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("key_xor"),
        sum("price").cast("double").as("price_sum"))
      .select(lit("mirror").as("phase"), col("n_rows"), col("key_xor"),
        col("price_sum"))
  }
}
