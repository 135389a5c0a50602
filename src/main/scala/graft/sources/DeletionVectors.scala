package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Merge-on-read DELETES for the versioned snapshot store — the
  * lakehouse answer to the reference's soft-delete problem
  * (`land_registry_monthly_update_database_updater.py` flips
  * `is_deleted` by rewriting rows): at 100 TB a monthly batch of a
  * few thousand deletes must not rewrite the base table. A
  * delete-publish commits a new version that holds ONLY a deletion
  * vector — a tiny parquet of deleted keys — plus a parent pointer;
  * the base data is never touched. Reads resolve the chain and apply
  * the union of vectors as ONE broadcast anti-join (delete batches
  * are small by nature; a delete set too big to broadcast is a
  * rewrite, not a vector). A materializing pass (`OPTIMIZE`-style)
  * folds the chain back into a plain data version on the maintenance
  * cadence, restoring single-scan reads and letting retention prune
  * the chain.
  *
  * Concurrency inherits [[Sinks.publishSnapshot]]'s optimistic
  * discipline: a delete-publish only ever commits as parent+1 via an
  * exact claim, so it can never silently revert a concurrent data
  * publish — if someone else claimed the number first, the publish
  * aborts having written nothing.
  *
  * Layout inside the version dir: the vector lives under `_dv/`
  * (underscore-prefixed → invisible to parquet scans, like the
  * `_graft_` metadata files) and the chain metadata rides a
  * `_graft_dv` file, so a committed DV version is never observable
  * without its parent pointer.
  */
object DeletionVectors {

  private[sources] val metaName = "dv" // → file `_graft_dv` in the version dir
  private val dvSubdir = "_dv"
  private val deltaSubdir = "_delta"

  /** Publish a deletion vector against the CURRENT version: commits
    * as current+1 holding only `deleteKeys` (one column, `keyCol`)
    * and the parent pointer. Aborts with [[ConcurrentSnapshotUpdate]]
    * — before writing anything — if another publisher claimed the
    * number first. Never prunes (a DV's whole chain must stay
    * readable until materialization). Returns the committed version. */
  /** `expectedParent`: when set, the publish ABORTS — before writing
    * anything — unless the live head is exactly this version. Callers
    * whose delta was DECIDED against a scanned version (the SQL
    * row-level operations) pass the version they scanned, so the
    * parent check is enforced inside this publish rather than as a
    * caller-side check-then-act whose window a foreign publish could
    * slip through: a stale decision can then never chain onto a head
    * it never saw. */
  def publishDeletes(spark: SparkSession, tablePath: String,
                     deleteKeys: DataFrame, keyCol: String,
                     deltaRows: Option[DataFrame] = None,
                     expectedParent: Option[Long] = None,
                     extraMeta: Map[String, String] = Map.empty): Long = {
    require(deleteKeys.columns.toSeq == Seq(keyCol),
      s"deleteKeys must be exactly ($keyCol), got ${deleteKeys.columns.mkString(",")}")
    val parent = Sinks.requireHead(spark, tablePath, "to delete from")
    expectedParent.foreach { e =>
      if (parent != e) throw new ConcurrentSnapshotUpdate(
        s"delete-publish of $tablePath was decided against version $e but the " +
        s"live version is now $parent; nothing was committed — re-run the " +
        "operation against the new state")
    }
    // the chain must share one key: a mixed-key union can't anti-join
    versionDvMeta(spark, tablePath, parent).foreach { case (_, k) =>
      require(k == keyCol, s"existing deletion chain keys on '$k', not '$keyCol'")
    }
    // parent+1 OCC, but the predicate is "no MAIN commit since parent":
    // settled BRANCH versions consumed numbers from the shared claim
    // space without ever being main commits, so walk past them — but
    // only while they stay branch-only, and re-check after the claim
    // (see [[Sinks.claimExpectedVersion]] for the fast-forward-
    // shadowing race both guards close)
    val next = Sinks.claimExpectedVersion(spark, tablePath, parent + 1,
      "delete-publish")
    // CHECK constraints ride IN-FLIGHT on the arriving rows — the SQL
    // INSERT/MERGE/UPDATE staged path and the streaming sink included
    // ([[Constraints.guard]]: one row-level projection inside this
    // write pass, no read-back job); pure deletes carry nothing to
    // check. A violation aborts with the stage reclaimed and the
    // marker never created ([[Constraints.stagedWrite]]).
    Constraints.stagedWrite(spark, tablePath, next) {
      writeLink(spark, tablePath, next, parent, deleteKeys, keyCol,
        deltaRows.map(Constraints.guard(_, tablePath, "link-publish")), extraMeta)
    }
    // pre-marker re-check (the publishSnapshot discipline): a ff merge
    // landing during the link write must abort this commit, not be
    // shadowed by it
    val landed = Sinks.mainMarkedVersions(spark, tablePath).filter(_ > parent)
    if (landed.nonEmpty)
      throw new ConcurrentSnapshotUpdate(
        s"delete-publish of $tablePath expected to commit as version ${parent + 1} " +
        s"but main commit(s) ${landed.toSeq.sorted.mkString(",")} landed while the " +
        "link was being written; nothing was committed — retry against the new head")
    Sinks.createCommitMarker(spark, tablePath, next)
    next
  }

  /** The link body both publish paths share: vector, optional delta,
    * and the parent-pointer metadata into an already-claimed version
    * dir. The caller owns the claim and the marker. */
  private def writeLink(spark: SparkSession, tablePath: String, next: Long,
                        parent: Long, deleteKeys: DataFrame, keyCol: String,
                        deltaRows: Option[DataFrame],
                        extraMeta: Map[String, String] = Map.empty): Unit = {
    val vdir = Sinks.versionDir(tablePath, next)
    val fs = Sinks.hadoopFs(spark, new org.apache.hadoop.fs.Path(vdir))
    Sinks.writeSingleParquetFile(deleteKeys.distinct(),
      s"$vdir/_staging_dv", s"$vdir/$dvSubdir/keys.parquet", ordered = false)
    deltaRows.foreach { d =>
      Sinks.writeSingleParquetFile(d,
        s"$vdir/_staging_delta", s"$vdir/$deltaSubdir/rows.parquet", ordered = false)
    }
    val meta = fs.create(
      new org.apache.hadoop.fs.Path(s"$vdir/${Sinks.metaPrefix}$metaName"), true)
    try meta.write(s"parent=$parent\nkey=$keyCol\ndelta=${deltaRows.isDefined}\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally meta.close()
    // caller-scoped link metadata (e.g. the streaming sink's batch-id
    // ledger); the chain pointer key is reserved
    (extraMeta - metaName).foreach { case (name, content) =>
      val out = fs.create(
        new org.apache.hadoop.fs.Path(s"$vdir/${Sinks.metaPrefix}$name"), true)
      try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  /** DV delete as a BRANCH commit — the O(changes) staging path:
    * where [[Branches.publishToBranch]] stages a full frame, this
    * stages only the vector (and optionally a delta), chained onto
    * the branch head exactly as [[publishDeletes]] chains onto main.
    * The branch head may be the ref's base (a main version, possibly
    * itself a chain) — the link's parent pointer is ref-agnostic.
    * Single-writer-per-ref contract (the rebase stance), so the claim
    * is a walk-up, not an OCC abort. Returns the branch's new head. */
  def publishDeletesToBranch(spark: SparkSession, tablePath: String,
                             branch: String, deleteKeys: DataFrame, keyCol: String,
                             deltaRows: Option[DataFrame] = None): Long = {
    require(deleteKeys.columns.toSeq == Seq(keyCol),
      s"deleteKeys must be exactly ($keyCol), got ${deleteKeys.columns.mkString(",")}")
    val parent = Branches.branchHead(spark, tablePath, branch).getOrElse(
      throw new java.io.FileNotFoundException(s"no branch '$branch' at $tablePath"))
    versionDvMeta(spark, tablePath, parent).foreach { case (_, k) =>
      require(k == keyCol, s"existing deletion chain keys on '$k', not '$keyCol'")
    }
    val next = Branches.claimBranchVersion(spark, tablePath)
    // branch commits enforce the TABLE's constraints too (in-flight,
    // like main): a branch is merge-bound for main, and a violating
    // merge would otherwise be discovered only at merge time (or
    // worse, fast-forwarded past)
    Constraints.stagedWrite(spark, tablePath, next) {
      writeLink(spark, tablePath, next, parent, deleteKeys, keyCol,
        deltaRows.map(Constraints.guard(_, tablePath,
          s"branch '$branch' link-publish")))
    }
    Branches.markBranchVersion(spark, tablePath, branch, next)
    next
  }

  /** Merge-on-read upsert as a BRANCH commit (see [[publishUpsert]]
    * for the semantics; see [[publishDeletesToBranch]] for the ref
    * mechanics). Validation runs against the branch's MERGED state. */
  def publishUpsertToBranch(spark: SparkSession, tablePath: String,
                            branch: String, changes: DataFrame, keyCol: String,
                            deleteKeys: DataFrame,
                            validate: Boolean = true): Long = {
    require(changes.columns.contains(keyCol), s"changes must carry $keyCol")
    if (validate) {
      val expected = Branches.readBranch(spark, tablePath, branch)
        .columns.toSet - "txn_month"
      require(changes.columns.toSet == expected,
        s"delta schema ${changes.columns.sorted.mkString(",")} must match the " +
        s"branch's merged ${expected.toSeq.sorted.mkString(",")}")
      val dups = changes.groupBy(col(keyCol)).count()
        .filter(col("count") > 1).limit(1).count()
      require(dups == 0,
        s"one image per $keyCol per commit — deduplicate the batch first")
    }
    val touched = changes.select(col(keyCol)).unionByName(deleteKeys).distinct()
    publishDeletesToBranch(spark, tablePath, branch, touched, keyCol,
      deltaRows = Some(changes))
  }

  /** Merge-on-read UPSERT (the Delta MERGE / Hudi MOR commit): one
    * version carries BOTH a deletion vector — every key the batch
    * touches — and a delta parquet of the arriving rows (updates'
    * new images + inserts), so the base is never rewritten and the
    * merged read is parent ∖ vector ∪ delta. A pure delete is the
    * degenerate case with an empty delta ([[publishDeletes]]); soft
    * deletes arrive as updates flipping their flag, hard deletes as
    * vector-only keys. Same parent+1 OCC claim, same chain walk,
    * same materialization path. `changes` must carry `keyCol`;
    * duplicate keys within one batch are rejected (one image per key
    * per commit — the reference's per-month uniqueness invariant). */
  /** `validate = false` skips the schema-parity and duplicate-key
    * publish guards (each costs a driver job / chain walk per commit)
    * — for callers that already guarantee both by construction, like
    * the streaming applier whose per-batch window dedups keys and
    * whose images come from the base's own schema. */
  def publishUpsert(spark: SparkSession, tablePath: String,
                    changes: DataFrame, keyCol: String,
                    deleteKeys: DataFrame,
                    validate: Boolean = true,
                    expectedParent: Option[Long] = None,
                    extraMeta: Map[String, String] = Map.empty): Long = {
    require(changes.columns.contains(keyCol), s"changes must carry $keyCol")
    if (validate) {
      val expected = readMerged(spark, tablePath).columns.toSet - "txn_month"
      require(changes.columns.toSet == expected,
        s"delta schema ${changes.columns.sorted.mkString(",")} must match the " +
        s"merged table's ${expected.toSeq.sorted.mkString(",")}")
      val dups = changes.groupBy(col(keyCol)).count()
        .filter(col("count") > 1).limit(1).count()
      require(dups == 0,
        s"one image per $keyCol per commit — deduplicate the batch first")
    }
    val touched = changes.select(col(keyCol)).unionByName(deleteKeys).distinct()
    publishDeletes(spark, tablePath, touched, keyCol, deltaRows = Some(changes),
      expectedParent = expectedParent, extraMeta = extraMeta)
  }

  /** The raw content of one MoR/DV link: (chain key, parent version,
    * vector keys, optional delta rows) — None when `version` is a
    * plain data version. O(changes) reads of the exact files the
    * publish wrote; the change-feed streaming source tails history
    * through this (and resolves preimages against the parent). */
  private[sources] def linkOf(spark: SparkSession, tablePath: String,
                              version: Long): Option[(String, Long, DataFrame, Option[DataFrame])] =
    versionDvMeta(spark, tablePath, version).map { case (parent, key) =>
      val (dv, delta) = linkFiles(spark, tablePath, version)
      (key, parent, dv, delta)
    }

  /** A link's vector and optional delta, read as the exact single files
    * the publish wrote: passing the underscore-prefixed DIRS would make
    * Spark's file index warn "all paths were ignored" on every chain
    * link (underscore paths are ignorable by convention; explicit files
    * are not). */
  private def linkFiles(spark: SparkSession, tablePath: String,
                        version: Long): (DataFrame, Option[DataFrame]) = {
    val vdir = Sinks.versionDir(tablePath, version)
    val fs = Sinks.hadoopFs(spark, new org.apache.hadoop.fs.Path(vdir))
    val delta =
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$vdir/$deltaSubdir")))
        Some(Sinks.cachedParquetRead(spark, s"$vdir/$deltaSubdir/rows.parquet"))
      else None
    (Sinks.cachedParquetRead(spark, s"$vdir/$dvSubdir/keys.parquet"), delta)
  }

  /** The chain's base DATA version: `version` itself when it carries
    * data, else where its parent pointers bottom out. DV/MoR commits
    * carry no publish metadata of their own (vector + delta + parent
    * only), so anything version-scoped — the evolved-schema id
    * mapping above all — lives at the base data version and must be
    * resolved THROUGH the chain: a reader that stopped at a DV
    * version would conclude the table has no schema history. */
  private[sources] def baseDataVersion(spark: SparkSession, tablePath: String,
                                       version: Long): Long = {
    var v = version
    var meta = versionDvMeta(spark, tablePath, v)
    while (meta.isDefined) { v = meta.get._1; meta = versionDvMeta(spark, tablePath, v) }
    v
  }

  /** Every version in `version`'s parent chain, the version itself
    * and the base data version included — the pin set a tag on a
    * chain head must hold against retention ([[Tags.pinnedVersions]]). */
  private[sources] def chainVersions(spark: SparkSession, tablePath: String,
                                     version: Long): Seq[Long] = {
    var v = version
    var out = List(v)
    var meta = versionDvMeta(spark, tablePath, v)
    while (meta.isDefined) { v = meta.get._1; out ::= v; meta = versionDvMeta(spark, tablePath, v) }
    out
  }

  /** The delete-chain key of `version` (None when it is a plain data
    * version) — later links and SQL row-level operations must agree
    * with it. */
  private[sources] def chainKeyOf(spark: SparkSession, tablePath: String,
                                  version: Long): Option[String] =
    versionDvMeta(spark, tablePath, version).map(_._2)

  /** (parent, keyCol) when `version` is a DV version, None when it
    * carries data. */
  private def versionDvMeta(spark: SparkSession, tablePath: String,
                            version: Long): Option[(Long, String)] =
    Sinks.versionMeta(spark, tablePath, version).get(metaName).map { content =>
      val kv = content.linesIterator.map(_.split("=", 2))
        .collect { case Array(k, v) => k -> v }.toMap
      (kv("parent").toLong, kv("key"))
    }

  /** Read `version` with its deletion chain applied: walk parent
    * pointers collecting vectors until a data version, then ONE
    * broadcast anti-join of the union. Refuses loudly if a link of
    * the chain was pruned (never serves a base missing its deletes or
    * deletes missing their base). */
  def readMergedAt(spark: SparkSession, tablePath: String, version: Long): DataFrame = {
    val readable = Sinks.refReadableVersions(spark, tablePath)
    var v = version
    var key: Option[String] = None
    // (version, vector, delta-if-any), newest link first
    var links = List.empty[(Long, DataFrame, Option[DataFrame])]
    var meta = {
      if (!readable(v)) throw new java.io.FileNotFoundException(
        s"version $v of $tablePath is not readable")
      versionDvMeta(spark, tablePath, v)
    }
    while (meta.isDefined) {
      val (parent, k) = meta.get
      key.foreach(k0 => require(k0 == k, s"mixed delete keys in chain: $k0 vs $k"))
      key = Some(k)
      val (dv, delta) = linkFiles(spark, tablePath, v)
      links = (v, dv, delta) :: links
      if (!readable(parent)) throw new java.io.FileNotFoundException(
        s"deletion-vector version $v of $tablePath points at parent $parent, " +
        "which is not readable (pruned?) — materialize before pruning")
      v = parent
      meta = versionDvMeta(spark, tablePath, v)
    }
    val baseRaw = Sinks.cachedParquetRead(spark, Sinks.versionDir(tablePath, v))
    key match {
      case None => baseRaw
      case Some(k) =>
        // the store's month partition column is derived, not payload —
        // drop it so base rows and delta rows share a schema (the
        // materializing publish re-derives it from the date column)
        val base =
          if (baseRaw.columns.contains("txn_month")) baseRaw.drop("txn_month")
          else baseRaw
        // every touched key leaves the base once, regardless of how
        // many links touched it
        val allKeys = links.map(_._2).reduce(_ unionByName _).distinct()
        val masked = base.join(broadcast(allKeys), Seq(k), "left_anti")
        // a delta image survives only if NO LATER link touched its key
        // (a later update supersedes it; a later delete removes it) —
        // chain-sized bookkeeping over commit-batch-sized frames
        val deltas = links.collect { case (ver, _, Some(d)) =>
          d.withColumn("__delta_ver", lit(ver)) }
        if (deltas.isEmpty) masked
        else {
          val deltaAll = deltas.reduce(_ unionByName _)
          val dvVers = links.map { case (ver, dv, _) =>
            dv.withColumn("__dv_ver", lit(ver)) }.reduce(_ unionByName _)
          val superseded = deltaAll.select(col(k), col("__delta_ver"))
            .join(dvVers, Seq(k))
            .filter(col("__dv_ver") > col("__delta_ver"))
            .select(col(k), col("__delta_ver")).distinct()
          val alive = deltaAll
            .join(broadcast(superseded), Seq(k, "__delta_ver"), "left_anti")
            .drop("__delta_ver")
          masked.unionByName(alive)
        }
    }
  }

  /** Read the LIVE state merged with its deletion chain. */
  def readMerged(spark: SparkSession, tablePath: String): DataFrame =
    readMergedAt(spark, tablePath, Sinks.requireHead(spark, tablePath))

  /** Fold the live deletion chain into a plain data version (the
    * `OPTIMIZE`-style maintenance pass): publishes the merged state
    * through the normal snapshot path, after which reads are a single
    * scan again and retention ages the chain out. Note the retention
    * interplay: pruning can orphan a RETAINED DV version's parent —
    * time-traveling to it then fails loudly (never silently serves
    * wrong data); size `retainVersions` to the materialization
    * cadence if DV-era history must stay readable. */
  def materializeDeletes(spark: SparkSession, tablePath: String, dateCol: String,
                         retainVersions: Int = 2): Long = {
    // the fold is content-neutral, so the BASE data version's publish
    // metadata (the evolved-schema id mapping above all) must ride
    // onto the materialized version — without this, materializing an
    // evolved table's deletes would strip its id map and break every
    // as-of read (caught by the cross-feature lakehouse walk). The
    // file-stats manifest describes the old files, so it is recomputed
    // for the new layout rather than carried.
    val live = Sinks.requireHead(spark, tablePath)
    val carried = Sinks.versionMeta(spark, tablePath,
      baseDataVersion(spark, tablePath, live))
    Sinks.publishSnapshot(readMerged(spark, tablePath), dateCol, tablePath,
      retainVersions = retainVersions, colocateMonths = true,
      extraMeta = carried - FileStats.metaName,
      statsCols = carried.get(FileStats.metaName)
        .map(FileStats.colsOf).getOrElse(Nil))
  }

  // — registered binding ———————————————————————————————————————————

  // fixture built once per JVM (the timeline idiom): the timed path
  // is the chain-resolved merged READ — the novel plan — not the
  // shared publish setup
  private val fixtures = new graft.util.Scratch.Fixture[String]("dv_q")

  private def buildFixture(spark: SparkSession, dir: String, tmp: String): String = {
    val table = s"$tmp/table"
    val base = baseOf(spark, dir)
    Sinks.publishSnapshot(base, "transaction_date", table, colocateMonths = true)
    publishDeletes(spark, table,
      base.filter(col("o_orderkey") % 7 === 0).select("o_orderkey"), "o_orderkey")
    publishDeletes(spark, table,
      base.filter(col("o_custkey") % 5 === 0).select("o_orderkey"), "o_orderkey")
    table
  }

  private def baseOf(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice").as("price"),
      to_date(col("o_orderdate")).as("transaction_date"))

  /** Registered `q_dv_merge_read`: base + a two-vector deletion chain
    * (every 7th orderkey, then every 5th custkey's orders), read
    * merged — the broadcast-anti-join merge-on-read path, hash-checked
    * against the plain filtered table. */
  def dvMergedResult(spark: SparkSession, dir: String): DataFrame = {
    val table = fixtures(dir)(buildFixture(spark, dir, _))
    // project away the txn_month partition dir column the store adds
    readMerged(spark, table)
      .select("o_orderkey", "o_custkey", "price", "transaction_date")
      .orderBy("o_orderkey")
  }

  def dvMergedOracle: String =
    """SELECT o_orderkey, o_custkey, o_totalprice AS price,
      |  CAST(o_orderdate AS DATE) AS transaction_date
      |FROM orders WHERE o_orderkey % 7 <> 0 AND o_custkey % 5 <> 0
      |ORDER BY o_orderkey""".stripMargin

  private val rtbfFixtures = new graft.util.Scratch.Fixture[String]("rtbf_q")

  /** Registered `q_rtbf_purge` — the RIGHT-TO-BE-FORGOTTEN
    * composition as a query surface (DeletionVectorsSpec's
    * checksum-proven spec, now DuckDB-verified): publish the event
    * log as a snapshot, resolve every data subject in the erasure
    * cohort (user_id ≡ 0 mod 97) with ONE read, publish their row
    * keys as a deletion vector — the base is never rewritten, the
    * legally-mandated delete costs O(|subject rows|) — then read
    * merged and report the per-event-type census with a 60-bit XOR
    * fingerprint over the surviving event ids. The oracle filters the
    * raw events table directly, so a hash-match proves the purge
    * removed EXACTLY the subjects' rows and left every other row
    * byte-identical. */
  def rtbfPurgeResult(spark: SparkSession, dir: String): DataFrame = {
    val table = rtbfFixtures(dir) { tmp =>
      val t = s"$tmp/table"
      val ev = Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          to_date(col("ts")).as("day"))
      Sinks.publishSnapshot(ev, "day", t)
      val subjects = readMerged(spark, t)
        .filter(col("user_id") % 97 === 0).select("event_id")
      publishDeletes(spark, t, subjects, "event_id")
      t
    }
    readMerged(spark, table)
      .withColumn("__h",
        graft.operators.Reconcile.xorHash60(col("event_id").cast("string")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        expr("bit_xor(__h)").as("event_xor"))
      .orderBy("event_type")
  }

  def rtbfPurgeOracle: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  bit_xor(CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)) AS event_xor
      |FROM events WHERE user_id % 97 <> 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  private val morFixtures = new graft.util.Scratch.Fixture[String]("mor_q")

  /** Two chained MoR upserts: commit A bumps every 9th key by 10,
    * inserts an offset twin of every 17th key at half price, and
    * hard-deletes every 13th (non-updated) key; commit B re-bumps
    * every 18th key by 25 (superseding A's image) and deletes every
    * other A-insert. Exercises update-over-update and
    * delete-of-earlier-insert across links. */
  private def buildMorFixture(spark: SparkSession, dir: String, tmp: String): String = {
    val table = s"$tmp/table"
    val base = baseOf(spark, dir)
    val k = col("o_orderkey")
    Sinks.publishSnapshot(base, "transaction_date", table, colocateMonths = true)
    val updA = base.filter(k % 9 === 0)
      .withColumn("price", col("price") + 10.0)
    val insA = base.filter(k % 17 === 0)
      .select((k + 10000000L).as("o_orderkey"), col("o_custkey"),
        (col("price") / 2.0).as("price"), col("transaction_date"))
    publishUpsert(spark, table, updA.unionByName(insA), "o_orderkey",
      base.filter(k % 13 === 0 && k % 9 =!= 0).select("o_orderkey"))
    val updB = base.filter(k % 18 === 0)
      .withColumn("price", col("price") + 25.0)
    publishUpsert(spark, table, updB, "o_orderkey",
      base.filter(k % 34 === 0).select((k + 10000000L).as("o_orderkey")))
    table
  }

  /** Registered `q_mor_upsert`: the two-link upsert chain read merged
    * — base never rewritten, later links superseding earlier images —
    * hash-checked against the directly-computed final state. */
  def morUpsertResult(spark: SparkSession, dir: String): DataFrame = {
    val table = morFixtures(dir)(buildMorFixture(spark, dir, _))
    readMerged(spark, table)
      .select("o_orderkey", "o_custkey", "price", "transaction_date")
      .orderBy("o_orderkey")
  }

  def morUpsertOracle: String =
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey % 18 = 0 THEN o_totalprice + 25.0
      |       WHEN o_orderkey % 9 = 0 THEN o_totalprice + 10.0
      |       ELSE o_totalprice END AS price,
      |  CAST(o_orderdate AS DATE) AS transaction_date
      |FROM orders WHERE NOT (o_orderkey % 13 = 0 AND o_orderkey % 9 <> 0)
      |UNION ALL
      |SELECT o_orderkey + 10000000, o_custkey, o_totalprice / 2.0,
      |  CAST(o_orderdate AS DATE)
      |FROM orders WHERE o_orderkey % 17 = 0 AND o_orderkey % 34 <> 0
      |ORDER BY o_orderkey""".stripMargin
}
