package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables

/** CDC A(dd)/C(hange)/D(elete) merge — the Spark realization of the
  * reference's monthly-update database updater
  * (land_registry_monthly_update_database_updater.py). The reference
  * walks the change file row by row against Postgres; here the entire
  * decision matrix (InputFileStatistics, updater lines 47-88) is one
  * keyed full-outer join + CASE — a single shuffle at any scale, and
  * the per-outcome statistics fall out of a groupBy on the same plan.
  *
  * Soft-delete semantics match the reference: rows are flagged
  * `is_deleted` ('T'/'F' varchar, as in lib_db.py), an ADD on a
  * deleted row undeletes+changes it, a DELETE on a changed row first
  * applies the change.
  *
  * The synthetic change set is derived deterministically from the
  * orders table (modular arithmetic on o_orderkey) so the DuckDB
  * oracle can reproduce it exactly; every branch of the reference's
  * matrix is exercised.
  */
object Cdc {
  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  private val key = col("o_orderkey")

  /** Base table ≈ price_paid_data before the monthly update: keys not
    * divisible by 7; keys divisible by 29 are pre-marked deleted. */
  def baseTable(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(key % 7 =!= 0)
      .select(key, dec2(col("o_totalprice")).as("price"),
        when(key % 29 === 0, "T").otherwise("F").as("is_deleted"))

  /** Change file ≈ pp-monthly-update rows: (key, record_op, price).
    * CASE priority (first match wins) picks op + payload per key so
    * every decision-matrix branch occurs. */
  def changeSet(spark: SparkSession, dir: String): DataFrame = {
    // additive price changes only: decimal addition is exact, so no
    // rounding-mode divergence between engines (HALF_UP vs half-even)
    val bump = (d: String) =>
      (col("price") + lit(new java.math.BigDecimal(d))).cast(DecimalType(18, 2))
    Tables.orders(spark, dir)
      .select(key, dec2(col("o_totalprice")).as("price"))
      .withColumn("record_op",
        when(key % 7 === 0,
          when(key % 2 === 0, "C").when(key % 3 === 0, "D").otherwise("A"))
        .when(key % 29 === 0,
          when(key % 2 === 0, "A").when(key % 3 === 0, "C")
            .when(key % 5 === 0, "D").otherwise(null))
        .otherwise(
          when(key % 5 === 0, "A")
            .when(key % 11 === 0, "A")
            .when(key % 13 === 0, "C")
            .when(key % 17 === 0, "C")
            .when(key % 19 === 0, "D")
            .when(key % 23 === 0, "D")
            .otherwise(null)))
      .withColumn("new_price",
        when(key % 7 === 0, when(key % 2 === 0, bump("1000.50")).otherwise(col("price")))
        .when(key % 29 === 0, when(key % 2 === 0, bump("2000.25")).otherwise(col("price")))
        .when(key % 11 === 0 && key % 5 =!= 0, col("price") + 10)
        .when(key % 17 === 0 && key % 5 =!= 0 && key % 13 =!= 0, col("price") + 20)
        .when(key % 23 === 0 && key % 5 =!= 0 && key % 13 =!= 0 &&
              key % 11 =!= 0 && key % 17 =!= 0 && key % 19 =!= 0, col("price") + 30)
        .otherwise(col("price")))
      .filter(col("record_op").isNotNull)
      .select(key, col("record_op"), col("new_price").cast(DecimalType(18, 2)).as("new_price"))
  }

  /** The decision matrix itself lives in the generic CdcMerge API —
    * this module just binds it to the synthetic base/change set. */
  def merged(spark: SparkSession, dir: String): DataFrame =
    CdcMerge.merge(
      baseTable(spark, dir),
      changeSet(spark, dir).withColumnRenamed("new_price", "price"),
      key = "o_orderkey", compareCols = Seq("price"))

  /** The post-update table (delete-but-missing rows never existed).
    * Internal merge math is decimal-exact; the final price column is
    * surfaced as DOUBLE (see ReferenceOps output-representation note). */
  def mergeResult(spark: SparkSession, dir: String): DataFrame =
    CdcMerge.applied(merged(spark, dir))
      .withColumn("price", col("price").cast(DoubleType))
      .orderBy("o_orderkey")

  /** Operation statistics ≈ the updater's operation-log table. */
  def mergeStats(spark: SparkSession, dir: String): DataFrame =
    CdcMerge.stats(merged(spark, dir))

  /** A second month's change file (different modular constants):
    * changes on live rows, changes on month-1-deleted rows (ignored),
    * deletes on month-1-changed rows (change+delete), adds on deleted
    * rows (undelete) and on keys dropped in month 1 (re-add). */
  def changeSet2(spark: SparkSession, dir: String): DataFrame = {
    val bump = (d: String) =>
      (col("price") + lit(new java.math.BigDecimal(d))).cast(DecimalType(18, 2))
    Tables.orders(spark, dir)
      .select(key, dec2(col("o_totalprice")).as("price"))
      .withColumn("record_op",
        when(key % 4 === 0, "C")
        .when(key % 9 === 0, "D")
        .when(key % 25 === 0, "A")
        .otherwise(null))
      .withColumn("new_price", when(key % 4 === 0, bump("7.25")).otherwise(col("price")))
      .filter(col("record_op").isNotNull)
      .select(key, col("record_op"), col("new_price").cast(DecimalType(18, 2)).as("new_price"))
  }

  /** Month-after-month replay: fold both change files over the base
    * snapshot (`CdcMerge.applyAll`) — the reference's maintenance loop
    * / rewind notebook as one composed plan, oracle-checked against a
    * DuckDB reformulation of the two chained merges. */
  def replayResult(spark: SparkSession, dir: String): DataFrame =
    CdcMerge.applyAll(
      baseTable(spark, dir),
      Seq(changeSet(spark, dir).withColumnRenamed("new_price", "price"),
          changeSet2(spark, dir).withColumnRenamed("new_price", "price")),
      key = "o_orderkey", compareCols = Seq("price"))
      .withColumn("price", col("price").cast(DoubleType))
      .orderBy("o_orderkey")

  /** INCREMENTAL fingerprint maintenance — the XOR homomorphism of
    * `Reconcile.fingerprint` exercised end-to-end: because the group
    * checksum is a xor-fold, applying an update to a fingerprinted
    * table costs O(|update|), never a base re-scan:
    *
    *   fp(final) = fp(base) ⊕ xor(base rows of TOUCHED keys)
    *                        ⊕ xor(final rows of TOUCHED keys)
    *
    * with TOUCHED = the change file's keys — any superset of the
    * really-changed keys works, because an unchanged touched row
    * cancels itself. Row counts ride the same pass as +1/−1 weights.
    * The registered query computes the incremental side; the ORACLE
    * computes the fingerprint DIRECTLY from the merged state in
    * DuckDB — a hash-match proves the homomorphism across engines.
    * Sharded by key so the checksum table is a fixed small report. */
  def fingerprintIncremental(spark: SparkSession, dir: String): DataFrame = {
    val base = baseTable(spark, dir)
    val finalT = CdcMerge.applied(merged(spark, dir))
      .select(col("o_orderkey"), col("price"), col("is_deleted"))
    val touched = changeSet(spark, dir).select("o_orderkey").distinct()
    def canon(df: DataFrame, w: Long): DataFrame = df.select(
      (col("o_orderkey") % 16).as("shard"),
      Reconcile.canonical(Seq(col("o_orderkey").cast("string"),
        col("price").cast("string"), col("is_deleted"))).as("payload"),
      lit(w).as("w"))
    val all = canon(base, 1L)
      .unionByName(canon(base.join(touched, Seq("o_orderkey"), "left_semi"), -1L))
      .unionByName(canon(finalT.join(touched, Seq("o_orderkey"), "left_semi"), 1L))
    all
      .withColumn("__h",
        conv(substring(md5(col("payload")), 1, 15), 16, 10).cast("long"))
      .groupBy("shard")
      .agg(sum("w").as("n_rows"), expr("bit_xor(__h)").as("xor_hash"))
      .orderBy("shard")
  }

  /** The broadcast-merge path bound to the same synthetic inputs — the
    * never-shuffle-the-base plan for the real monthly regime (small
    * change file vs huge base). Semantics are identical to
    * mergeResult, so it registers against the SAME DuckDB oracle:
    * the driver hash-compares both plans to one truth. */
  def mergeResultBroadcast(spark: SparkSession, dir: String): DataFrame =
    CdcMerge.applied(CdcMerge.mergeBroadcast(
      baseTable(spark, dir),
      changeSet(spark, dir).withColumnRenamed("new_price", "price"),
      key = "o_orderkey", compareCols = Seq("price")))
      .withColumn("price", col("price").cast(DoubleType))
      .orderBy("o_orderkey")

  private val sqlFixtures = new graft.util.Scratch.Fixture[String]("cdc_merge_sql")

  /** The SAME decision matrix routed through ANSI `MERGE INTO` against
    * the snapshot store — and answering the SAME DuckDB oracle as
    * `q_cdc_merge`, so the driver hash-compares the SQL row-level
    * surface, the DataFrame full-outer plan and the broadcast plan to
    * ONE relational truth. The matrix maps onto MERGE clauses exactly
    * (soft deletes are UPDATEs of the `is_deleted` flag, never SQL
    * DELETEs): a clause no row matches leaves the row untouched, which
    * IS every `…_ignored` outcome; identical-row tests are the same
    * null-safe `<=>` the reference's row comparison uses. The final
    * state (price, is_deleted) is read back from the MERGE-written
    * chain head — those hashed cells come from the SQL write path, not
    * from the classification — and only the report-side `outcome`
    * label is joined in from the shared classification plan.
    * Fixture once per JVM; the query times the chain-merged census. */
  def mergeResultSql(spark: SparkSession, dir: String): DataFrame = {
    val fixture = sqlFixtures(dir) { f =>
      val t = s"$f/t"
      graft.sources.Sinks.publishSnapshot(
        baseTable(spark, dir).withColumn("odate", lit(java.sql.Date.valueOf("2024-01-01"))),
        "odate", t, retainVersions = 4)
      changeSet(spark, dir).createOrReplaceTempView("cdc_sql_changes")
      spark.sql(
        s"""MERGE INTO graft.`$t` t USING cdc_sql_changes c
           |ON t.o_orderkey = c.o_orderkey
           |WHEN MATCHED AND t.is_deleted = 'T' AND c.record_op = 'A'
           |  THEN UPDATE SET price = c.new_price, is_deleted = 'F'
           |WHEN MATCHED AND t.is_deleted = 'F' AND c.record_op = 'D'
           |  THEN UPDATE SET price = c.new_price, is_deleted = 'T'
           |WHEN MATCHED AND t.is_deleted = 'F' AND c.record_op IN ('A', 'C')
           |    AND NOT (t.price <=> c.new_price)
           |  THEN UPDATE SET price = c.new_price
           |WHEN NOT MATCHED AND c.record_op IN ('A', 'C')
           |  THEN INSERT (o_orderkey, price, is_deleted, odate)
           |    VALUES (coalesce(c.o_orderkey, 0L), c.new_price, 'F', DATE'2024-01-01')
           |""".stripMargin)
      f
    }
    val outcomes = merged(spark, dir).select(col("o_orderkey"), col("outcome"))
    spark.sql(s"SELECT o_orderkey, price, is_deleted FROM graft.`$fixture/t`")
      .withColumn("price", col("price").cast(DoubleType))
      .join(outcomes, Seq("o_orderkey"))
      .orderBy("o_orderkey")
  }
}
