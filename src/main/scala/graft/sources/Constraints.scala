package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, coalesce, col, concat_ws, expr, filter, lit, not, raise_error, size, struct, to_json, when}

/** A write was refused because rows violate a table CHECK constraint.
  * Nothing was committed; the refusing publish reclaims its own
  * staged dir and claim before this surfaces (a crash mid-refusal
  * degrades to ordinary vacuumable debris). */
class ConstraintViolation(msg: String) extends RuntimeException(msg)

/** Table CHECK constraints — the Delta `ALTER TABLE ADD CONSTRAINT`
  * surface for the snapshot store (reference anchor: the hand-rolled
  * validation every `database_upload` service performs before it
  * writes — here the TABLE carries the rule and every writer is
  * bound by it, not just the disciplined ones).
  *
  * A constraint is a named boolean SQL expression stored as one file
  * under `tablePath/_constraints/<name>` (content = the expression).
  * Add/drop are single-file create/delete; the namespace rides the
  * store like `_manifests` does, so constraints survive restores and
  * replications that copy the tree.
  *
  * SEMANTICS (Delta's): a row violates when the expression evaluates
  * to FALSE; NULL passes (constrain nullability with an explicit
  * `IS NOT NULL`). `addConstraint` scans the CURRENT merged state
  * first and refuses if existing rows violate — a committed table
  * always satisfies its constraints, so readers never need to
  * re-check and content-neutral rewrites (compaction) re-validate
  * for free.
  *
  * HONEST WINDOW: `addConstraint`'s existing-data scan reads the
  * merged state at one instant — a publish already past its own
  * enforcement check when the add lands can commit rows the brand-new
  * constraint would have refused (the classic add-vs-in-flight-write
  * race; Delta closes it inside its transaction protocol). Practical
  * stance: add constraints on a quiesced table, or run [[validate]]
  * afterwards — it re-scans the live merged state against every
  * constraint and refuses if anything slipped through the window.
  *
  * ENFORCEMENT is IN-FLIGHT on every publish path ([[Sinks
  * .publishSnapshot]]; [[DeletionVectors.publishDeletes]] /
  * `publishDeletesToBranch` when the link carries arriving rows —
  * which is also the SQL INSERT/MERGE/UPDATE staged path and the
  * streaming sink; [[Branches.publishToBranch]]): the input frame is
  * wrapped with ONE row-level check projection evaluating every
  * declared constraint ([[guard]] — the Delta invariant-checker
  * idiom), so K constraints cost K boolean expressions inside the
  * write pass itself — zero extra Spark jobs, no read-back of the
  * just-written files, one pass over the data total. A violating row
  * aborts the write mid-flight; [[stagedWrite]] then reclaims the
  * claimed version dir and claim (for ANY deliberate failure, not
  * just violations — a refused publish must never wedge the head+1
  * claim space until vacuum) and surfaces a [[ConstraintViolation]],
  * with the marker never created — readers cannot observe a
  * constrained table in a violating state. Zero cost for
  * unconstrained tables (one directory-existence probe). */
object Constraints {

  private val dirName = "_constraints"
  private val nameRe = "[A-Za-z0-9_]{1,64}".r

  private def dir(tablePath: String) =
    new org.apache.hadoop.fs.Path(tablePath, dirName)

  /** All constraints of a table: name → expression. */
  def constraintsOf(spark: SparkSession, tablePath: String): Map[String, String] = {
    val d = dir(tablePath)
    val fs = Sinks.hadoopFs(spark, d)
    if (!fs.exists(d)) Map.empty
    else fs.listStatus(d).map { s =>
      val in = fs.open(s.getPath)
      val content =
        try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8).trim
        finally in.close()
      s.getPath.getName -> content
    }.toMap
  }

  /** Violating rows of `df` under `checkExpr` — FALSE violates, NULL
    * passes. */
  private def violations(df: DataFrame, checkExpr: String): DataFrame =
    df.filter(not(coalesce(expr(checkExpr), lit(true))))

  /** Refuse (loudly, with samples) if any row of `df` violates any of
    * `constraints` — ONE pass regardless of how many constraints are
    * declared: a single projection evaluates every check expression
    * into a (name, violated) struct array, and `limit(3)` over the
    * rows violating ANY of them collects the samples. Reads only the
    * columns the expressions reference when `df` is a file read. */
  private[sources] def enforce(df: DataFrame, constraints: Map[String, String],
                               tablePath: String, what: String): Unit = {
    if (constraints.isEmpty) return
    val checks = array(constraints.toSeq.sortBy(_._1).map { case (n, ce) =>
      struct(lit(n).as("name"), not(coalesce(expr(ce), lit(true))).as("bad"))
    }: _*)
    val bad = df.withColumn("__graft_violated", filter(checks, c => c("bad")))
      .filter(size(col("__graft_violated")) > 0).limit(3).collect()
    if (bad.nonEmpty) {
      val names = bad.flatMap(
        _.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("__graft_violated")
          .map(_.getString(0))).distinct.sorted
      throw new ConstraintViolation(
        s"$what of $tablePath violates CHECK constraint(s) " +
        s"${names.map(n => s"'$n' (${constraints(n)})").mkString(", ")} — e.g. " +
        s"${bad.mkString("; ")}. Nothing was committed; fix the rows or drop " +
        "the constraint")
    }
  }

  /** The marker token the in-flight check embeds in its raised error;
    * [[stagedWrite]] looks for it in the failure's cause chain to
    * tell a refusal from an ordinary write failure. */
  private val violationToken = "GRAFT_CHECK_CONSTRAINT: "

  /** Wrap `df` with the table's CHECK constraints as an IN-FLIGHT
    * row-level check (the Delta invariant-checker idiom): a single
    * filter evaluates every declared expression per row during the
    * write pass itself — K constraints never cost a second scan, let
    * alone K of them. A violating row raises mid-write with the
    * constraint's name and the row as JSON; passing rows flow through
    * unchanged. No-op (the input frame itself) for unconstrained
    * tables. Run the write under [[stagedWrite]] so the raise
    * surfaces as [[ConstraintViolation]] with the stage reclaimed. */
  private[sources] def guard(df: DataFrame, tablePath: String,
                             what: String): DataFrame = {
    val cs = constraintsOf(df.sparkSession, tablePath)
    if (cs.isEmpty) return df
    val ordered = cs.toSeq.sortBy(_._1)
    val flags: Seq[(String, String, Column)] = ordered.map { case (n, ce) =>
      (n, ce, not(coalesce(expr(ce), lit(true))))
    }
    val anyViolated = flags.map(_._3).reduce(_ || _)
    val firstName = coalesce(flags.map { case (n, _, v) => when(v, lit(n)) }: _*)
    val firstExpr = coalesce(flags.map { case (_, ce, v) => when(v, lit(ce)) }: _*)
    val msg = concat_ws("", lit(violationToken), lit(s"$what of $tablePath "),
      lit("violates CHECK constraint '"), firstName, lit("' ("), firstExpr,
      lit(") on row "), to_json(struct(df.columns.map(col).toSeq: _*)),
      lit(". Nothing was committed; fix the rows or drop the constraint"))
    df.filter(when(anyViolated, raise_error(msg).cast("boolean"))
      .otherwise(lit(true)))
  }

  /** First [[violationToken]]-marked message in the failure's cause
    * chain — the raise travels wrapped in Spark's task/job failure
    * envelopes, so the walk checks message TEXT, not exception type. */
  private def violationMessage(e: Throwable): Option[String] = {
    val seen = scala.collection.mutable.Set.empty[Throwable]
    var t: Throwable = e
    while (t != null && seen.add(t)) {
      val m = t.getMessage
      if (m != null && m.contains(violationToken))
        return Some(m.substring(m.indexOf(violationToken) + violationToken.length)
          .takeWhile(_ != '\n'))
      t = t.getCause
    }
    None
  }

  /** Run a claimed-version data write with refusal hygiene: ANY
    * deliberate (NonFatal) failure — a [[guard]] violation raising
    * mid-flight, an analysis error, a bad input frame — reclaims the
    * staged version dir and its claim BEFORE surfacing, so a refused
    * write never wedges the head+1 claim space until vacuum runs (a
    * process crash still leaves ordinary vacuumable debris — nothing
    * can reclaim from inside a dead JVM). A guard violation resurfaces
    * as [[ConstraintViolation]]; everything else rethrows as itself. */
  private[sources] def stagedWrite[T](spark: SparkSession, tablePath: String,
                                      claimedVersion: Long)(write: => T): T =
    try write
    catch {
      case scala.util.control.NonFatal(e) =>
        Sinks.dropUnmarked(Sinks.hadoopFs(spark, new org.apache.hadoop.fs.Path(tablePath)),
          tablePath, claimedVersion)
        violationMessage(e) match {
          case Some(msg) => throw new ConstraintViolation(msg)
          case None      => throw e
        }
    }

  /** Add a CHECK constraint. Validates the name and the expression
    * (must analyze as a boolean over the table's schema), then scans
    * the CURRENT merged state — existing violations refuse the add,
    * so a constrained table satisfies its constraints from the moment
    * the constraint exists. Refuses to replace an existing name
    * (drop first — silent redefinition is how two writers end up
    * enforcing different rules). */
  def addConstraint(spark: SparkSession, tablePath: String,
                    name: String, checkExpr: String): Unit = {
    val current = DeletionVectors.readMerged(spark, tablePath)
    val probe = violations(current, checkExpr) // analysis validates the expression
    require(probe.schema != null) // force analysis before any file is written
    val bad = probe.limit(3).collect()
    if (bad.nonEmpty) throw new ConstraintViolation(
      s"cannot add CHECK constraint '$name' ($checkExpr) to $tablePath: existing " +
      s"rows violate it — e.g. ${bad.mkString("; ")}")
    persistValidated(spark, tablePath, name, checkExpr)
  }

  /** Persist an ALREADY-VALIDATED constraint file — the back half of
    * [[addConstraint]], and the direct target of the SQL DDL path
    * (`ALTER TABLE … ADD CONSTRAINT … CHECK`): Spark's own
    * AddCheckConstraintExec has scanned existing data for violations
    * before it calls the catalog, so a second scan here would double
    * the DDL's cost for nothing. Refuses to replace an existing name
    * (drop first — silent redefinition is how two writers end up
    * enforcing different rules). */
  private[sources] def persistValidated(spark: SparkSession, tablePath: String,
                                        name: String, checkExpr: String): Unit = {
    require(nameRe.pattern.matcher(name).matches(),
      s"constraint name '$name' must match ${nameRe.pattern} — it becomes a file name")
    val d = dir(tablePath)
    val fs = Sinks.hadoopFs(spark, d)
    if (!fs.exists(d)) fs.mkdirs(d)
    val f = new org.apache.hadoop.fs.Path(d, name)
    val out = fs.create(f, false) // refuse-don't-replace
    try out.write(checkExpr.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Audit the LIVE merged state against every constraint — the
    * post-hoc closure of the add-vs-in-flight-write window above, and
    * an operations health probe. Throws [[ConstraintViolation]] with
    * samples on the first violated constraint; a pass means the
    * committed state satisfies everything currently declared. */
  def validate(spark: SparkSession, tablePath: String): Unit = {
    val cs = constraintsOf(spark, tablePath)
    if (cs.nonEmpty)
      enforce(DeletionVectors.readMerged(spark, tablePath), cs, tablePath, "state")
  }

  /** Drop a CHECK constraint; refuses if it does not exist (a typo'd
    * drop must not look like success). */
  def dropConstraint(spark: SparkSession, tablePath: String, name: String): Unit = {
    val f = new org.apache.hadoop.fs.Path(dir(tablePath), name)
    val fs = Sinks.hadoopFs(spark, f)
    if (!fs.exists(f)) throw new IllegalArgumentException(
      s"no CHECK constraint '$name' on $tablePath — " +
      s"existing: ${constraintsOf(spark, tablePath).keys.toSeq.sorted.mkString(", ")}")
    fs.delete(f, false)
    ()
  }

  /** Registered `q_constraints` (hash-oracled): the full constraint
    * lifecycle as a ledger. A fresh store publishes the class-1
    * orders subset, then: a satisfiable constraint ADDS; an
    * existing-data-violating one REFUSES; a violating upsert REFUSES
    * pre-marker (head version pinned unchanged); a valid upsert
    * LANDS; a violating full replace REFUSES; an unknown drop
    * REFUSES; after the real drop the previously-refused row LANDS.
    * The final row carries the state census (count, exact sum), so
    * the ledger is closed-form over `orders` — every refusal's
    * correctness is visible in the arithmetic (a leaked violating
    * row, or a lost valid one, moves the sum). */
  def constraintsResult(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, max, sum}
    val t = graft.util.Scratch.dir("constraints_q") + "/t"
    val base = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 10 === 1)
      .select(col("o_orderkey").cast("long").as("k"),
        col("o_orderdate").cast("date").as("d"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
    // colocated months: parallel per-month file commits instead of one
    // scan task writing every month's file serially (ledger unchanged)
    Sinks.publishSnapshot(base, "d", t, retainVersions = 100,
      colocateMonths = true)
    val maxK = base.agg(max(col("k"))).head().getLong(0)
    def row(k: Long, price: String): DataFrame = {
      import spark.implicits._
      Seq((k, java.sql.Date.valueOf("2024-03-15"), new java.math.BigDecimal(price)))
        .toDF("k", "d", "price")
        .select(col("k"), col("d"), col("price").cast("decimal(18,2)"))
    }
    def refused(body: => Unit): Long =
      try { body; 0L } catch { case _: ConstraintViolation => 1L }
    val noKeys = row(0L, "0").select("k").limit(0)

    addConstraint(spark, t, "price_nonneg", "price >= 0")
    val addOk = 1L
    val addRejected = try {
      addConstraint(spark, t, "price_million", "price >= 1000000"); 0L
    } catch { case _: ConstraintViolation => 1L }
    val headBefore = Sinks.currentVersion(spark, t).get
    val upsertRejected = refused(
      DeletionVectors.publishUpsert(spark, t, row(maxK + 1, "-5.00"), "k", noKeys))
    val headPinned = if (Sinks.currentVersion(spark, t).get == headBefore) 1L else 0L
    DeletionVectors.publishUpsert(spark, t, row(maxK + 1, "1.50"), "k", noKeys)
    val upsertOk = 1L
    val overwriteRejected = refused(
      Sinks.publishSnapshot(row(maxK + 2, "-7.00"), "d", t, retainVersions = 100))
    val dropUnknown = try { dropConstraint(spark, t, "no_such"); 0L }
      catch { case _: IllegalArgumentException => 1L }
    dropConstraint(spark, t, "price_nonneg")
    DeletionVectors.publishUpsert(spark, t, row(maxK + 2, "-5.00"), "k", noKeys)
    val afterDropOk = 1L

    val fin = DeletionVectors.readMerged(spark, t)
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        sum("price").cast("double").as("s")).head()
    import spark.implicits._
    Seq(
      ("add_ok", addOk, None: Option[Long], None: Option[Double]),
      ("add_rejected_existing", addRejected, None, None),
      ("upsert_rejected", upsertRejected, None, None),
      ("upsert_rejected_head_pinned", headPinned, None, None),
      ("upsert_ok", upsertOk, None, None),
      ("overwrite_rejected", overwriteRejected, None, None),
      ("drop_unknown_rejected", dropUnknown, None, None),
      ("after_drop_ok", afterDropOk, None, None),
      ("final_state", 1L, Some(fin.getLong(0)), Some(fin.getDouble(1))))
      .toDF("step", "ok", "n_rows", "sum_p").orderBy("step")
  }
}
