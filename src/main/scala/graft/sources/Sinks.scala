package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** A snapshot publish lost an optimistic-concurrency race: the version
  * number it required (`expectedVersion`) was claimed by a concurrent
  * publisher first. Nothing was written; safe to re-read the live
  * version and retry. */
class ConcurrentSnapshotUpdate(msg: String) extends java.io.IOException(msg)

/** Write-side of the engine — the Spark analog of the reference's
  * database-upload services. Instead of row-inserts into Postgres
  * (pp_complete_db_upload.py), the table IS a partitioned parquet
  * dataset: month-partitioned snapshots, overwritable per partition.
  */
object Sinks {

  /** Full-replace snapshot upload, partitioned by transaction month —
    * the layout that makes the reference's analyst queries ("one
    * category, one period") partition-prunable at 100 TB. Dynamic
    * partition overwrite replaces only the months present in `df`
    * (the monthly update case) instead of the whole table.
    *
    * `colocateMonths`: repartition on the month key before writing,
    * so each month's rows land in ONE task → one file per month
    * instead of (tasks × months) small files. This is the right shape
    * for merge outputs republished every micro-batch (the streaming
    * CDC path was paying file-count × publish-count in write commits
    * AND in the next batch's re-read listing/footers). Left OFF where
    * the caller already shaped the partitioning ([[compactSnapshot]]'s
    * salted/z-ordered layouts — a repartition would destroy them) or
    * where one month is huge enough to need multi-file parallelism
    * (that's [[compactSnapshot]]'s salt-sized job, applied on its own
    * cadence). */
  def writeMonthlySnapshot(df: DataFrame, dateCol: String, path: String,
                           writerOptions: Map[String, String] = Map.empty,
                           colocateMonths: Boolean = false): Unit = {
    val withMonth = df.withColumn("txn_month", date_format(col(dateCol), "yyyy-MM"))
    // EXPLICIT partition count: a bare repartition(col) lets AQE
    // coalesce the tiny post-shuffle bytes into ONE task, which then
    // writes every month's file serially (measured ~2.2 s for an
    // 80-month snapshot — file open/commit latency × months, not
    // bytes). Pinning the session's shuffle parallelism keeps months
    // colocated (hash on the month) while writers run in parallel; on
    // a cluster spark.sql.shuffle.partitions is the scale-appropriate
    // cap and each month still lands in exactly one task's files.
    val shaped =
      if (colocateMonths)
        withMonth.repartition(
          df.sparkSession.sessionState.conf.numShufflePartitions, col("txn_month"))
      else withMonth
    shaped
      .write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .options(writerOptions)
      .partitionBy("txn_month")
      .parquet(path)
  }

  // ---- Versioned snapshot protocol -------------------------------------
  //
  // The reference's consumers read Postgres, so a snapshot replacement is
  // a transaction: readers never observe a missing table or a half-swapped
  // one (land_registry_pp_complete_db_upload.py). The Spark analog is NOT
  // a directory rename-swap (a reader whose scan starts between the two
  // renames fails on a missing path; a long scan can read half-old files).
  // Instead:
  //
  //   tablePath/v00000001/…          immutable snapshot versions
  //   tablePath/v00000002/…          (month-partitioned)
  //   tablePath/_manifests/m00000002 commit markers — the NAME is the
  //                                  version; current = max name
  //
  // A publish writes the next version dir in full, then creates its
  // commit marker. Because the marker is a NEW file name (never an
  // overwrite or delete+recreate of a live one), commit is atomic on any
  // filesystem — an overwrite-rename of a single `_CURRENT` file is
  // delete+rename on local/HDFS-like filesystems, leaving a window with
  // no manifest at all. Readers list the marker dir, take the max, and
  // scan an immutable version directory: a swap mid-scan is invisible,
  // and `retainVersions` previous versions stay on disk as the grace
  // window for scans that resolved before the swap.
  //
  // This section is the one resolver of that layout: nothing outside it
  // and the publish/prune code below spells a version dir, a marker name
  // or a `_manifests` listing (`versionDirName` is private, so the
  // compiler holds the rule). Every other module resolves through:
  //
  //   versionDir, marker      the only spellings of vNNNNNNNN/ and
  //                           _manifests/mNNNNNNNN
  //   committed               the one `_manifests` listing: committed
  //                           versions with their marker paths
  //   listVersions            main-readable: committed ∩ version dirs
  //   refReadableVersions     readable from any ref: marked by main or a
  //                           branch, dir present
  //   requireHead, noSnapshot the live head, or the one "no published
  //                           snapshot" FileNotFoundException
  //   requireReadable         one version, or the refusal naming the
  //                           readable range (readSnapshotAt's check)
  //   resolvePoint            head, or one of versionAsOf,
  //                           timestampAsOf, tag or branch
  //   versionFiles            the one walk of a version's parquet files

  private val versionRe = "v(\\d{8})".r
  private val markerRe = "m(\\d{8})".r
  private val claimRe = "c(\\d{8})".r
  private def versionDirName(v: Long): String = f"v$v%08d"
  private val noMarker = "(no commit marker in _manifests)"

  /** The directory of version `v`. */
  private[graft] def versionDir(tablePath: String, v: Long): String =
    s"$tablePath/${versionDirName(v)}"

  private def manifestsDir(tablePath: String): Path = new Path(tablePath, "_manifests")

  /** The marker of version `v` in a marker dir: `_manifests` (main) or
    * a branch's ref dir ([[Branches]]). */
  private[graft] def markerIn(dir: Path, v: Long): Path = new Path(dir, f"m$v%08d")

  /** The main commit marker of version `v`. */
  private def marker(tablePath: String, v: Long): Path =
    markerIn(manifestsDir(tablePath), v)

  private def listOrEmpty(fs: FileSystem, dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** The versions marked in one marker dir, with their marker paths —
    * one listing; empty when the dir does not exist. */
  private[graft] def markersIn(fs: FileSystem, dir: Path): Seq[(Long, Path)] =
    listOrEmpty(fs, dir).flatMap(s => s.getPath.getName match {
      case markerRe(n) => Some(n.toLong -> s.getPath)
      case _           => None
    })

  /** The one `_manifests` listing: every committed main version with
    * its marker path. */
  private[graft] def committed(spark: SparkSession, tablePath: String): Seq[(Long, Path)] =
    markersIn(hadoopFs(spark, manifestsDir(tablePath)), manifestsDir(tablePath))

  /** Numbers of the version dirs under the table root: committed,
    * branch-only, in flight or abandoned. */
  private def versionDirs(fs: FileSystem, tablePath: String): Set[Long] =
    listOrEmpty(fs, new Path(tablePath)).flatMap(s =>
      if (!s.isDirectory) None
      else s.getPath.getName match {
        case versionRe(n) => Some(n.toLong)
        case _            => None
      }).toSet

  /** Main-readable commits, ascending: `marks` whose version dir
    * survived retention pruning (a marker whose dir a concurrent
    * pruner has deleted is mid-removal debris, not readable history). */
  private def readable(spark: SparkSession, tablePath: String,
                       marks: Seq[(Long, Path)]): Seq[(Long, Path)] =
    if (marks.isEmpty) marks
    else {
      val dirs = versionDirs(hadoopFs(spark, new Path(tablePath)), tablePath)
      marks.filter(m => dirs(m._1)).sortBy(_._1)
    }

  /** Readable from ANY ref: versions marked by main or by a branch
    * whose dir exists (branch MoR links chain over the shared version
    * space; a GC'd branch's numbers drop out and refuse again). */
  private[graft] def refReadableVersions(spark: SparkSession, tablePath: String): Set[Long] = {
    val marked = mainMarkedVersions(spark, tablePath) ++
      Branches.branchMarkedVersions(spark, tablePath)
    if (marked.isEmpty) marked
    else marked.intersect(versionDirs(hadoopFs(spark, new Path(tablePath)), tablePath))
  }

  /** The one "no published snapshot" refusal; `what` says what the
    * caller needed a head for. */
  private[graft] def noSnapshot(tablePath: String,
                                what: String = noMarker): java.io.FileNotFoundException =
    new java.io.FileNotFoundException(s"no published snapshot at $tablePath $what")

  /** The live head, or [[noSnapshot]]. */
  private[graft] def requireHead(spark: SparkSession, tablePath: String,
                                 what: String = noMarker): Long =
    currentVersion(spark, tablePath).getOrElse(throw noSnapshot(tablePath, what))

  /** `version` when it is main-readable, else the refusal naming the
    * readable range ([[readSnapshotAt]]'s contract). Checks the one
    * version — its marker and its dir — and lists the rest only to
    * build the message. */
  private def requireReadable(spark: SparkSession, tablePath: String,
                              version: Long): Long = {
    val fs = hadoopFs(spark, new Path(tablePath))
    if (!fs.exists(marker(tablePath, version)) ||
        !fs.exists(new Path(versionDir(tablePath, version))))
      throw new java.io.FileNotFoundException(
        s"snapshot version $version of $tablePath is not readable " +
        s"(committed + retained: ${listVersions(spark, tablePath).mkString("[", ", ", "]")}) — " +
        "it was never committed, or retention pruned it")
    version
  }

  /** Resolve which committed version a read binds to (None = empty
    * store): the live head, or exactly one of `branch`, `versionAsOf`,
    * `tag` or `timestampAsOf` (keys lower-cased). The refuse-don't-guess
    * contracts are [[readSnapshotAt]]'s. */
  private[graft] def resolvePoint(spark: SparkSession, root: String,
                                  opts: Map[String, String]): Option[Long] = {
    val points = Seq("branch", "versionasof", "tag", "timestampasof").flatMap(k =>
      opts.get(k).map(k -> _))
    require(points.size <= 1,
      "graft-table: 'branch', 'versionAsOf', 'tag' and 'timestampAsOf' are mutually " +
      "exclusive — each names one point to read; pick one")
    points.headOption match {
      case Some(("branch", b)) =>
        Some(Branches.branchHead(spark, root, b).getOrElse(
          throw new java.io.FileNotFoundException(s"no branch '$b' at $root")))
      case Some(("versionasof", v)) => Some(requireReadable(spark, root, v.toLong))
      case Some(("tag", t))         => Some(Tags.tagVersion(spark, root, t))
      case Some((_, ts)) => // timestampasof
        Some(versionAsOfTimestamp(spark, root, parseTsMillis(ts)))
      case None => currentVersion(spark, root)
    }
  }

  /** `timestampAsOf` accepts epoch millis, `yyyy-MM-dd` or a full
    * `yyyy-MM-dd HH:mm:ss[.f…]` timestamp (interpreted in the JVM
    * default zone, matching java.sql parsing elsewhere). */
  private[sources] def parseTsMillis(s: String): Long =
    scala.util.Try(s.toLong)
      .orElse(scala.util.Try(java.sql.Timestamp.valueOf(s).getTime))
      .orElse(scala.util.Try(java.sql.Date.valueOf(s).getTime))
      .getOrElse(throw new IllegalArgumentException(
        s"timestampAsOf '$s' is neither epoch millis, 'yyyy-MM-dd', nor " +
        "'yyyy-MM-dd HH:mm:ss[.f]'"))

  /** A parquet file under a version dir: its path relative to the dir
    * (`txn_month=2024-06/part-….parquet`, `_dv/keys.parquet`), its full
    * path and its length. */
  private[graft] case class VersionFile(rel: String, path: Path, len: Long) {
    /** The first-level dir the file sits in (`txn_month=…`, `_dv`,
      * `_delta`); "" for a file at the version dir's root. */
    def partition: String =
      if (rel.indexOf('/') < 0) "" else rel.substring(0, rel.indexOf('/'))
  }

  /** The one walk of a version dir's parquet files, at every depth —
    * O(files) listing; empty when the dir is gone. */
  private[graft] def versionFiles(spark: SparkSession, vdir: String): Seq[VersionFile] = {
    val root = new Path(vdir)
    val fs = hadoopFs(spark, root)
    def walk(p: Path, rel: String): Seq[VersionFile] = listOrEmpty(fs, p).flatMap { s =>
      val r = rel + s.getPath.getName
      if (s.isDirectory) walk(s.getPath, r + "/")
      else if (r.endsWith(".parquet")) Seq(VersionFile(r, s.getPath, s.getLen))
      else Nil
    }
    walk(root, "")
  }

  /** Claim the first free number past every version dir — committed,
    * branch-only or abandoned — by walking [[claimNumber]] up. */
  private[sources] def claimNext(fs: FileSystem, tablePath: String): Long =
    claimNumber(fs, new Path(tablePath, "_claims"), (versionDirs(fs, tablePath) + 0L).max + 1, "c")

  /** Delete an UNMARKED version's dir and its claim: a refused stage, a
    * deleted branch's own versions, vacuumed crash debris. */
  private[sources] def dropUnmarked(fs: FileSystem, tablePath: String, v: Long): Unit = {
    fs.delete(new Path(versionDir(tablePath, v)), true)
    fs.delete(new Path(tablePath, f"_claims/c$v%08d"), false)
  }

  /** Prune a COMMITTED version, marker FIRST: readers stop resolving it
    * before its data disappears, and a crash in between leaves an
    * unmarked dir, which readers already ignore. */
  private def dropCommitted(fs: FileSystem, tablePath: String, v: Long): Unit = {
    fs.delete(marker(tablePath, v), false)
    fs.delete(new Path(versionDir(tablePath, v)), true)
  }

  /** Create main's marker of `v` by the bare conditional create — the
    * fast-forward merge's commit act ([[Branches.mergeBranch]]); true
    * iff this caller created it. */
  private[sources] def tryMark(fs: FileSystem, tablePath: String, v: Long): Boolean =
    tryClaim(fs, manifestsDir(tablePath), v, "m")

  /** Filename prefix of publish-supplied version metadata (the
    * `extraMeta` files of [[publishSnapshot]]). */
  private[sources] val metaPrefix = "_graft_"

  /** The `extraMeta` map committed with `version` (empty if none) —
    * the read half of the publish-metadata contract, used by
    * consumers like SchemaEvolution and by maintenance passes that
    * must carry metadata forward through a content rewrite. */
  def versionMeta(spark: org.apache.spark.sql.SparkSession, tablePath: String,
                  version: Long): Map[String, String] = {
    val vdir = new Path(versionDir(tablePath, version))
    val fs = hadoopFs(spark, vdir)
    val st =
      try Some(fs.getFileStatus(vdir))
      catch { case _: java.io.IOException => None } // incl. FileNotFound
    st match {
      case None => Map.empty
      // no usable dir mtime (object-store-like semantics): read fresh
      case Some(s) if s.getModificationTime <= 0 => readVersionMetaFiles(fs, vdir)
      case Some(s) =>
        // committed version dirs are immutable (data + meta land before
        // the marker; no writer adds to a marked dir), and any write
        // INTO the dir — including a later meta file of an in-flight
        // publish — bumps the dir mtime, so the (path, mtime) key can't
        // serve a stale map on local/HDFS filesystems. The DV/MoR chain
        // walks call this per link per read; without the cache each
        // call is a listStatus + one open per meta file.
        val key = (vdir.toString, s.getModificationTime)
        val hit = metaCache.get(key)
        if (hit != null) hit
        else {
          val m = readVersionMetaFiles(fs, vdir)
          metaCache.put(key, m)
          m
        }
    }
  }

  private val metaCacheCap = 4096
  private val metaCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long), Map[String, String]](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long), Map[String, String]]): Boolean =
          size() > metaCacheCap
      })

  private def readVersionMetaFiles(fs: org.apache.hadoop.fs.FileSystem,
                                   vdir: org.apache.hadoop.fs.Path): Map[String, String] =
    fs.listStatus(vdir).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith(metaPrefix))
      .map { s =>
        val in = fs.open(s.getPath)
        val content = try {
          val out = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          var n = in.read(buf)
          while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
          out.toString(java.nio.charset.StandardCharsets.UTF_8)
        } finally in.close()
        s.getPath.getName.drop(metaPrefix.length) -> content
      }.toMap
  private[sources] def hadoopFs(spark: org.apache.spark.sql.SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Create the commit marker for `version` with the commit time
    * recorded IN ITS CONTENT (epoch millis). Filesystem mtimes do not
    * survive store copies/migrations and are not settable on some
    * object stores — the lakehouse formats persist commit timestamps
    * in the log content for exactly this reason; after a `cp -r`
    * migration, `TIMESTAMP AS OF`, history and expiration horizons
    * must reflect COMMIT time, not copy time. The marker NAME is still
    * what commits the version (its creation is the atomic act — a
    * reader listing the name before the few content bytes land falls
    * back to mtime, which at that instant IS the commit time). */
  private[sources] def createCommitMarker(spark: SparkSession, tablePath: String,
                                          v: Long): Unit = {
    val m = marker(tablePath, v)
    val out = hadoopFs(spark, m).create(m, false)
    try out.write(System.currentTimeMillis().toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The commit time of a committed version: the marker's recorded
    * content timestamp, falling back to its filesystem mtime for
    * markers without one (stores written before content timestamps
    * existed, and fast-forward merge markers — [[Branches]] commits
    * those through the bare conditional create). */
  def commitTimeMs(spark: org.apache.spark.sql.SparkSession, tablePath: String,
                   version: Long): Long = {
    val m = marker(tablePath, version)
    commitTimeOf(hadoopFs(spark, m), m)
  }

  private[sources] def commitTimeOf(fs: org.apache.hadoop.fs.FileSystem,
                                    marker: org.apache.hadoop.fs.Path): Long = {
    val st = fs.getFileStatus(marker)
    if (st.getLen > 0 && st.getLen <= 32) {
      val in = fs.open(marker)
      val content = try {
        val buf = new Array[Byte](st.getLen.toInt)
        in.readFully(0, buf)
        new String(buf, java.nio.charset.StandardCharsets.UTF_8)
      } finally in.close()
      scala.util.Try(content.trim.toLong).getOrElse(st.getModificationTime)
    } else st.getModificationTime
  }

  /** Fixture/spec seam: re-plant a committed version's RECORDED commit
    * time (the content timestamp readers prefer). Overwrites a live
    * marker's bytes, which only a deterministic single-writer fixture
    * may do — production code must never rewrite a committed marker. */
  private[graft] def plantCommitTime(spark: org.apache.spark.sql.SparkSession,
                                     tablePath: String, version: Long,
                                     tsMillis: Long): Unit = {
    val m = marker(tablePath, version)
    val out = hadoopFs(spark, m).create(m, true)
    try out.write(tsMillis.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** One ATOMIC conditional create of `dir/<prefix><n>`: true iff this
    * caller won the name. HDFS `create(overwrite = false)` is atomic
    * (namenode check), but Hadoop's LOCAL filesystem implements it as
    * check-then-create, which two racing threads both pass — so the
    * `file` scheme goes through `java.nio.Files.createFile`
    * (O_CREAT|O_EXCL, atomic in the kernel) instead. Object stores
    * only qualify when the connector maps it to a conditional write
    * (If-None-Match / Hadoop 3.4+ `fs.s3a.create.conditional`);
    * classic S3A's HEAD-then-PUT is NOT atomic, and the multi-writer
    * guarantee does not extend there (see [[publishSnapshot]]). */
  private[sources] def tryClaim(fs: org.apache.hadoop.fs.FileSystem,
                                dir: org.apache.hadoop.fs.Path,
                                n: Long, prefix: String): Boolean = {
    val claim = new org.apache.hadoop.fs.Path(dir, f"$prefix$n%08d")
    if (fs.getScheme == "file") {
      val p = java.nio.file.Paths.get(claim.toUri.getPath)
      java.nio.file.Files.createDirectories(p.getParent)
      try { java.nio.file.Files.createFile(p); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      try { fs.create(claim, false).close(); true }
      catch {
        case e: java.io.IOException =>
          if (fs.exists(claim)) false else throw e
      }
    }
  }

  /** Claim the first free number >= `start` by walking [[tryClaim]]
    * upward — two concurrent writers can never claim the same number;
    * the loser observes the collision and retries with the next. */
  private[sources] def claimNumber(fs: org.apache.hadoop.fs.FileSystem,
                                   dir: org.apache.hadoop.fs.Path,
                                   start: Long, prefix: String): Long = {
    var n = start
    while (!tryClaim(fs, dir, n, prefix))
      n += 1 // lost the race — take the next number
    n
  }

  /** All committed main-marker numbers (the raw `_manifests` listing,
    * no dir-existence intersection — see [[listVersions]] for the
    * readable subset). */
  private[sources] def mainMarkedVersions(spark: org.apache.spark.sql.SparkSession,
                                          tablePath: String): Set[Long] =
    committed(spark, tablePath).map(_._1).toSet

  /** One ATOMIC exact-version claim for an OCC publisher expecting to
    * commit as `expected` (built on main state `expected - 1`): skips
    * numbers a settled BRANCH consumed — but ONLY while they are not
    * main commits — claims the first eligible number, then re-reads
    * `_manifests` and aborts if ANY main marker >= `expected` exists.
    *
    * Why both guards: a fast-forward merge turns a branch-marked
    * number into a live MAIN commit without consuming a new claim.
    * The old "skip every branch-marked number" walk would step PAST
    * that merged commit, claim the next number, and let the caller
    * commit a state built on the stale pre-merge head — silently
    * shadowing the merge. With the main-marker intersection the walk
    * stops AT a ff-merged number (whose claim the branch publish
    * already consumed → the conditional create loses → clean abort),
    * and the post-claim re-list catches a merge that lands between the
    * caller's head read and the claim. The final window (a ff whose
    * markers all land after this re-list but before the caller's own
    * marker) is closed by [[publishSnapshot]]'s pre-marker re-check
    * and, from the other side, by the fast-forward path's own
    * head-verification ([[Branches.mergeBranch]]); an N≥3-writer
    * pile-up inside that sub-second window degrades to the documented
    * object-store caveat — run coordination there. */
  private[graft] def claimExpectedVersion(spark: org.apache.spark.sql.SparkSession,
                                          tablePath: String, expected: Long,
                                          what: String): Long = {
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = hadoopFs(spark, root)
    val branchMarked = Branches.branchMarkedVersions(spark, tablePath)
    val mainMarked = mainMarkedVersions(spark, tablePath)
    var n = expected
    while (branchMarked.contains(n) && !mainMarked.contains(n)) n += 1
    if (!tryClaim(fs, new org.apache.hadoop.fs.Path(root, "_claims"), n, "c"))
      throw new ConcurrentSnapshotUpdate(
        s"$what of $tablePath expected version $n but its claim is already " +
        "taken (a concurrent publisher owns it); no data was written")
    val landed = mainMarkedVersions(spark, tablePath).filter(_ >= expected)
    if (landed.nonEmpty)
      throw new ConcurrentSnapshotUpdate(
        s"$what of $tablePath expected to commit as version $expected but main " +
        s"commit(s) ${landed.toSeq.sorted.mkString(",")} landed since the head was " +
        "read (a concurrent publish or fast-forward merge); no data was written — " +
        "re-read the live version and retry")
    n
  }

  /** The live (committed) version number: the newest commit marker. */
  def currentVersion(spark: org.apache.spark.sql.SparkSession, tablePath: String): Option[Long] =
    committed(spark, tablePath).map(_._1).maxOption

  /** Resolved directory of the live snapshot version. */
  def currentVersionDir(spark: org.apache.spark.sql.SparkSession, tablePath: String): String =
    versionDir(tablePath, requireHead(spark, tablePath))

  // ---- Version-dir read cache -----------------------------------------
  //
  // Committed version directories are IMMUTABLE by the publish protocol
  // (data + `_graft_` metadata land before the marker; no writer ever
  // adds to a marked dir), yet every `spark.read.parquet(versionDir)`
  // re-resolves the directory from scratch: a fresh InMemoryFileIndex
  // lists every month partition — and above
  // `spark.sql.sources.parallelPartitionDiscovery.threshold` paths that
  // listing is a whole distributed Spark JOB (~0.15 s of pure scheduling
  // at local[32]; profiled at 15.5 s across one bench pass of the top-19
  // queries, with the feed/view lifecycle re-listing ONE immutable
  // version 52×). Caching the resolved DataFrame per (session, dir,
  // dir-mtime) makes every repeat read of a version free of listing and
  // schema-resolution cost — the Spark-native analog of what manifest
  // metadata buys Iceberg/Delta readers (optimization-guide §6).
  //
  // Sound because the key carries the dir's mtime AND the publish
  // protocol keeps committed version dirs immutable: a drop+recreate
  // at the same path produces a fresh directory whose mtime differs
  // (a parquet write spans well over one clock tick), and pre-commit
  // staged dirs (WAP audits) gain DIRECT children as they are written,
  // which bumps the dir mtime and misses the cache. The mtime guard is
  // NOT sufficient for mutable paths in general — a write landing
  // inside an existing subdirectory never bumps the top-level mtime —
  // so callers must only pass paths that are immutable or replaced
  // whole (see cachedParquetRead); filesystems with no usable dir
  // mtime (object stores report 0) bypass the cache entirely below. Only METADATA (file listing + schema) is reused —
  // every query still scans the parquet data itself; a fresh JVM
  // starts empty.
  private val readCacheCap = 256
  private val readCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(Int, String, Long), DataFrame](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(Int, String, Long), DataFrame]): Boolean =
          size() > readCacheCap
      })

  /** `spark.read.parquet(path)` with the resolved plan cached per
    * (session, path, mtime) — for paths that are never modified in
    * place: committed version dirs, the single files a link commit
    * wrote, and materialized-view dirs. A view dir is the one path
    * served here that is REPLACED: `CREATE OR REPLACE MATERIALIZED
    * VIEW` overwrites it at a fixed path, which deletes the dir and
    * writes a fresh one whose mtime differs, so the next read misses
    * and lists the new files (FeedView's view states are versioned
    * dirs, immutable once renamed into place). The short reads —
    * catalog loads, the view rewrite, skipping reads — take a version's
    * or view's schema from here instead of inferring it. A missing
    * path falls through to the plain read so the caller's error
    * contract is untouched. */
  private[graft] def cachedParquetRead(spark: org.apache.spark.sql.SparkSession,
                                       path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val mtime =
      try hadoopFs(spark, p).getFileStatus(p).getModificationTime
      catch { case _: java.io.IOException => -1L }
    // <= 0 covers both the missing-path fallback AND object-store-like
    // filesystems that report no usable directory mtime — there the
    // staleness guard below doesn't hold, so don't cache at all
    if (mtime <= 0) return spark.read.parquet(path)
    val key = (System.identityHashCode(spark), path, mtime)
    val hit = readCache.get(key)
    // the hit must belong to THIS live session: identityHashCode can
    // collide after a session is GC'd, and a stopped session's plan
    // must not be served to a fresh one — verify identity and liveness
    // on every hit (both checks are driver-side field reads)
    if (hit != null && (hit.sparkSession eq spark)
        && !hit.sparkSession.sparkContext.isStopped) hit
    else {
      val df = spark.read.parquet(path)
      readCache.put(key, df)
      // bound the stopped-session footprint: entries pinning a stopped
      // session are dead weight until LRU age-out — purge them eagerly
      readCache.synchronized {
        val it = readCache.entrySet().iterator()
        while (it.hasNext) {
          if (it.next().getValue.sparkSession.sparkContext.isStopped) it.remove()
        }
      }
      df
    }
  }

  /** Read the live snapshot — the plan is pinned to one immutable
    * version directory, so concurrent publishes can't disturb it. */
  def readSnapshot(spark: org.apache.spark.sql.SparkSession, tablePath: String): DataFrame =
    cachedParquetRead(spark, currentVersionDir(spark, tablePath))

  /** Read the live snapshot through the manifest's per-file stats
    * ([[FileStats]]): files whose recorded (min, max) interval cannot
    * satisfy `ranges` are dropped from the scan's file list BEFORE any
    * parquet footer is opened, and the residual row-level filter is
    * applied on what remains — result-identical to
    * `readSnapshot(..).filter(...)` by construction (pruning only
    * removes files with evidence no row can match; the residual
    * predicate does the rest). A version published without stats, or
    * whose stats don't cover a ranged column, degrades to the plain
    * filtered read — never to silent wrong answers.
    *
    * Both branches start no job before the answer's: the plain read is
    * the cached version read ([[cachedParquetRead]]), and the pruned
    * file list is read with that read's schema. Versions published
    * without `statsCols` carry no manifest and always take the plain
    * read — [[graft.Pipeline.initialize]] and `applyMonthly` publish
    * that way, because collecting stats ([[FileStats.collect]]) costs
    * the write a job, so their stores prune no file. */
  def readSnapshotSkipping(spark: org.apache.spark.sql.SparkSession, tablePath: String,
                           ranges: Seq[FileStats.ColRange]): DataFrame = {
    require(ranges.nonEmpty, "skipping read needs at least one column range")
    val v = requireHead(spark, tablePath)
    val vdir = versionDir(tablePath, v)
    val residual = FileStats.rangeFilter(ranges)
    val whole = cachedParquetRead(spark, vdir)
    versionMeta(spark, tablePath, v).get(FileStats.metaName) match {
      case None => whole.filter(residual)
      case Some(manifest) =>
        val kept = FileStats.prune(manifest, ranges)
        if (kept.isEmpty)
          // right schema (incl. the txn_month partition column), no data
          whole.filter(lit(false))
        else
          // basePath keeps the txn_month partition column when scanning
          // an explicit file list; the version's schema spares the
          // footer-inference job
          spark.read.option("basePath", vdir).schema(whole.schema)
            .parquet(kept.map(p => s"$vdir/$p"): _*)
            .filter(residual)
    }
  }

  /** Every COMMITTED version still resolvable (main-readable),
    * ascending — the manifest numbers intersected with the version dirs
    * that survived retention pruning. */
  def listVersions(spark: org.apache.spark.sql.SparkSession, tablePath: String): Seq[Long] =
    readable(spark, tablePath, committed(spark, tablePath)).map(_._1)

  /** TIME TRAVEL: read a specific committed snapshot version — the
    * versioned store's historical-read half (`VERSION AS OF` in a
    * lakehouse table format). Versions stay readable as long as
    * retention keeps them (`retainVersions` at publish); asking for a
    * version that was never committed, or that retention already
    * pruned, fails with the available range rather than silently
    * reading debris — an uncommitted version DIRECTORY may be a
    * concurrent publisher mid-write and must never be served. */
  def readSnapshotAt(spark: org.apache.spark.sql.SparkSession, tablePath: String,
                     version: Long): DataFrame =
    cachedParquetRead(spark, versionDir(tablePath, requireReadable(spark, tablePath, version)))

  /** RESTORE (Delta `RESTORE TABLE … TO VERSION AS OF` / Iceberg
    * rollback): make a retained historical version the LIVE state
    * again, as a NEW commit — history is append-only, so the restore
    * is itself a versioned, auditable event (the bad intermediate
    * versions stay readable until retention ages them out; nothing is
    * rewound in place). Chain-resolved: restoring a DV/MoR chain head
    * publishes its MERGED state, folding the chain exactly as
    * [[DeletionVectors.materializeDeletes]] would. Version-scoped
    * metadata of the restored state (the evolved-schema id mapping
    * above all) rides onto the new version — the merge-publish
    * precedent; file stats are recomputed for the new layout. OCC:
    * commits as head+1 or aborts ([[ConcurrentSnapshotUpdate]]) if a
    * concurrent publisher moved the head — a restore decided against
    * a stale head must never shadow newer commits. Returns the new
    * version number. */
  /** DEEP CLONE (Delta's `CREATE TABLE … DEEP CLONE`): materialize the
    * chain-resolved state of `source` at `version` (default: the live
    * head) into `target` as a NEW table's version 1 — fresh history,
    * same rows, same stable-id mapping (evolution on the clone
    * continues the source's id line at the cloned point, high-water
    * mark included, so retired ids never resurrect — see
    * [[SchemaEvolution.mappingMetaOf]]), same CHECK constraints.
    * Refs (tags/branches) and history deliberately do NOT clone: they
    * name the SOURCE's version chain, which the clone does not carry.
    *
    * Constraints persist onto the target FIRST, so the clone's own
    * publish enforces them IN-FLIGHT on the write pass (zero extra
    * jobs — the [[Constraints.guard]] wiring inside
    * [[publishSnapshot]]): cloning an OLD version whose state predates
    * a constraint refuses loudly instead of minting a table that
    * violates its own declared rules; the refused target is wiped back
    * to pristine. The target must have no committed history —
    * clone bootstraps, never overwrites. Returns
    * (source version, files, bytes) of the cloned data. */
  def cloneSnapshot(spark: org.apache.spark.sql.SparkSession, source: String,
                    target: String, dateCol: String,
                    version: Option[Long] = None,
                    retainVersions: Int = 2): (Long, Long, Long) = {
    require(new org.apache.hadoop.fs.Path(source).toUri !=
      new org.apache.hadoop.fs.Path(target).toUri,
      s"clone source and target are the same path ($source)")
    val srcV = version.getOrElse(requireHead(spark, source, "to clone"))
    require(currentVersion(spark, target).isEmpty,
      s"clone target $target already has committed history — clone bootstraps a " +
      "NEW table; pick an empty path (or CALL graft.system.drop_table first)")
    // readMergedAt validates readability and resolves any DV/MoR chain
    val state0 = DeletionVectors.readMergedAt(spark, source, srcV)
    val state =
      if (state0.columns.contains("txn_month")) state0.drop("txn_month") else state0
    val cs = Constraints.constraintsOf(spark, source)
    cs.foreach { case (n, ce) => Constraints.persistValidated(spark, target, n, ce) }
    try publishSnapshot(state, dateCol, target, retainVersions,
      extraMeta = SchemaEvolution.mappingMetaOf(spark, source, srcV))
    catch {
      case scala.util.control.NonFatal(e) =>
        // refusal hygiene: a failed clone leaves no half-built table —
        // reclaim the constraint files this call created (the staged
        // data dir is already reclaimed by the publish's own hygiene)
        cs.keys.foreach(n =>
          scala.util.Try(Constraints.dropConstraint(spark, target, n)))
        throw e
    }
    val dir = new Path(versionDir(target, 1L))
    val sum = hadoopFs(spark, dir).getContentSummary(dir)
    (srcV, sum.getFileCount, sum.getLength)
  }

  def restoreSnapshot(spark: org.apache.spark.sql.SparkSession, tablePath: String,
                      version: Long, dateCol: String,
                      retainVersions: Int = 2): Long = {
    val head = requireHead(spark, tablePath, "to restore")
    if (version == head) return head // restoring the live state is a no-op
    val state = DeletionVectors.readMergedAt(spark, tablePath, version)
    val df = if (state.columns.contains("txn_month")) state.drop("txn_month") else state
    val carried = versionMeta(spark, tablePath,
      DeletionVectors.baseDataVersion(spark, tablePath, version)) - FileStats.metaName
    publishSnapshot(df, dateCol, tablePath, retainVersions = retainVersions,
      expectedVersion = Some(head + 1), extraMeta = carried)
  }

  /** DESCRIBE HISTORY: the commit log as a small DataFrame — one row
    * per committed, retained version: number, commit time (the
    * marker's recorded timestamp — [[commitTimeMs]], copy-surviving),
    * kind (`data` / `upsert-link` / `delete-link`), the chain parent
    * for links, and the live flag. O(versions) driver-side metadata
    * reads, bounded by the retention window exactly as [[vacuum]] is —
    * never a data scan. */
  def history(spark: org.apache.spark.sql.SparkSession, tablePath: String): DataFrame = {
    val marks = committed(spark, tablePath)
    if (marks.isEmpty) throw noSnapshot(tablePath)
    val head = marks.map(_._1).max
    val fs = hadoopFs(spark, new Path(tablePath))
    val rows = readable(spark, tablePath, marks).map { case (v, m) =>
      val (kind, parent) = versionKind(spark, tablePath, v)
      (v, new java.sql.Timestamp(commitTimeOf(fs, m)), kind, parent, v == head)
    }
    import spark.implicits._
    rows.toDF("version", "commit_time", "kind", "parent", "is_current")
  }

  /** A version's kind — `data`, `upsert-link` or `delete-link` — and
    * a link's chain parent. */
  private[sources] def versionKind(spark: SparkSession, tablePath: String,
                                   v: Long): (String, Option[Long]) =
    versionMeta(spark, tablePath, v).get(DeletionVectors.metaName) match {
      case None => ("data", None)
      case Some(content) =>
        val m = content.linesIterator.map(_.split("=", 2))
          .collect { case Array(k, x) => k -> x }.toMap
        (if (m.get("delta").contains("true")) "upsert-link" else "delete-link",
          m.get("parent").map(_.toLong))
    }

  /** AGE-BASED snapshot expiration (Iceberg `expireSnapshots` /
    * Delta's retention horizon — the count-based `retainVersions`
    * prune's calendar-time complement: "keep 90 days of history"
    * instead of "keep 8 versions"). Expires committed versions whose
    * COMMIT TIME (marker mtime) is older than `olderThanMs`, except:
    *
    *   - the newest `keepLast` versions (a table always keeps a live
    *     tail, however old),
    *   - tag-pinned versions and their DV/MoR chains (the
    *     reproducibility contract retention already honors),
    *   - the CHAIN CLOSURE of every kept version — a link's parents
    *     stay readable while the link lives, so expiration can never
    *     manufacture the pruned-parent refusal; the chain ages out
    *     only when its newest link does.
    *
    * Marker-first deletion (readers stop resolving before data
    * disappears — the publish-prune discipline), O(versions) metadata
    * work. Returns the full classification ledger, one row per
    * committed version: `expired`, `kept:recent`, `kept:last`,
    * `kept:pinned`, or `kept:chain` (first matching reason). */
  def expireSnapshots(spark: org.apache.spark.sql.SparkSession, tablePath: String,
                      olderThanMs: Long, keepLast: Int = 1,
                      nowMs: Long = System.currentTimeMillis()): Seq[(Long, String)] = {
    require(keepLast >= 1, "keepLast must keep at least the live version")
    val fs = hadoopFs(spark, new Path(tablePath))
    val commits = readable(spark, tablePath, committed(spark, tablePath))
    if (commits.isEmpty) return Seq.empty
    val horizon = nowMs - olderThanMs
    val last = commits.map(_._1).reverse.take(keepLast).toSet
    val recent = commits.collect { case (v, m) if commitTimeOf(fs, m) > horizon => v }.toSet
    val pinned = Tags.pinnedVersions(spark, tablePath)
    // chain-close every kept version: a link's parents live as long as
    // the link does
    val roots = last ++ recent ++ pinned
    val kept = roots.flatMap(v =>
      DeletionVectors.chainVersions(spark, tablePath, v))
    val ledger = commits.map { case (v, _) =>
      val status =
        if (recent(v)) "kept:recent"
        else if (last(v)) "kept:last"
        else if (pinned(v)) "kept:pinned"
        else if (kept(v)) "kept:chain"
        else "expired"
      (v, status)
    }
    ledger.collect { case (v, "expired") => v }.foreach(dropCommitted(fs, tablePath, _))
    ledger
  }

  /** TIMESTAMP-based time travel: resolve the newest committed version
    * whose COMMIT TIME is at or before `tsMillis` (`TIMESTAMP AS OF`
    * in a lakehouse table format — "the table as the March report saw
    * it"). Commit time is the marker's RECORDED timestamp
    * ([[commitTimeMs]]): written by the atomic commit act itself, so
    * it is the moment the version became visible AND it survives store
    * copies/migrations, which filesystem mtimes do not (pre-timestamp
    * markers fall back to mtime). Refuse-don't-guess holds in both
    * directions: a timestamp before the oldest RETAINED commit fails
    * with the retained range (history past the retention window is
    * pruned, not approximable), and a timestamp before the table
    * existed fails rather than serving the oldest state. Resolution is
    * bounded by retention exactly as version reads are; tag pins
    * extend it (a pinned version keeps marker AND timestamp). Ties
    * inside one millisecond resolve to the highest version — commit
    * order and recorded-time order agree beyond that. */
  def versionAsOfTimestamp(spark: org.apache.spark.sql.SparkSession, tablePath: String,
                           tsMillis: Long): Long = {
    val commits = commitTimes(spark, tablePath)
    val eligible = commits.filter(_._2 <= tsMillis)
    if (eligible.isEmpty)
      throw new java.io.FileNotFoundException(
        s"no committed version of $tablePath at or before timestamp $tsMillis — the " +
        s"oldest retained commit is version ${commits.minBy(c => (c._2, c._1))._1} at " +
        s"${commits.map(_._2).min}; earlier history was never committed or is pruned")
    eligible.maxBy(c => (c._2, c._1))._1
  }

  /** The FIRST committed, still-readable version whose recorded commit
    * time is at or after `tsMillis` — the change feed's
    * `startingTimestamp` resolution (the forward-looking mirror of
    * [[versionAsOfTimestamp]]'s newest-at-or-before). Refuses when
    * every retained commit predates the timestamp: a typo'd future
    * date must not look like a healthy idle stream ("tail only future
    * commits" is spelled `startingVersion = head + 1`). */
  def firstVersionAtOrAfter(spark: org.apache.spark.sql.SparkSession,
                            tablePath: String, tsMillis: Long): Long = {
    val commits = commitTimes(spark, tablePath)
    val eligible = commits.filter(_._2 >= tsMillis)
    if (eligible.isEmpty)
      throw new java.io.FileNotFoundException(
        s"no committed version of $tablePath at or after timestamp $tsMillis — the " +
        s"newest commit is version ${commits.maxBy(c => (c._2, c._1))._1} at " +
        s"${commits.map(_._2).max}; to tail only future commits pass " +
        "startingVersion = head + 1")
    eligible.minBy(c => (c._2, c._1))._1
  }

  /** (version, recorded commit time) of every main-readable commit;
    * [[noSnapshot]] when there is none. */
  private def commitTimes(spark: SparkSession, tablePath: String): Seq[(Long, Long)] = {
    val fs = hadoopFs(spark, new Path(tablePath))
    val commits = readable(spark, tablePath, committed(spark, tablePath))
      .map { case (v, m) => (v, commitTimeOf(fs, m)) }
    if (commits.isEmpty) throw noSnapshot(tablePath)
    commits
  }

  /** Writer options enabling a parquet BLOOM FILTER on each given
    * column: the point-lookup complement of min/max footer stats —
    * on a high-cardinality key (the reference's
    * `transaction_unique_id`) every file's min/max box spans the whole
    * domain, so range stats prune nothing, while a bloom filter lets a
    * key-equality scan skip row groups that definitely lack the key.
    * Pass to [[publishSnapshot]]/[[writeMonthlySnapshot]] via
    * `writerOptions` (write-side cost only; readers benefit
    * automatically through parquet's row-group filtering). */
  def bloomFilterOptions(cols: Seq[String], expectedNdv: Long = 1L << 20): Map[String, String] =
    cols.flatMap(c => Seq(
      s"parquet.bloom.filter.enabled#$c" -> "true",
      s"parquet.bloom.filter.expected.ndv#$c" -> expectedNdv.toString)).toMap

  /** Publish `df` as the next snapshot version and atomically commit it;
    * prunes versions older than the newest `retainVersions`. Returns the
    * published version number.
    *
    * Crash-safe: a failure before the marker create leaves an orphan
    * version dir (and claim) with no marker — never visible to readers
    * and skipped past by the next publish's claim loop. Unmarked dirs
    * are deliberately NOT pruned: a version number can't distinguish a
    * crashed writer's debris from a SLOW concurrent writer mid-write,
    * and deleting the latter's dir under it would break the
    * multi-writer contract — orphans are bounded by crash count and
    * left to age-based maintenance. Commit itself is the creation of
    * one new file name, atomic on any filesystem, so readers see
    * either the old version or the new one, never neither.
    *
    * Multi-writer-safe numbering: the version number is CLAIMED first
    * by a conditional create under `_claims` (see [[claimNumber]]), so
    * two concurrent publishers can never write into the same version
    * directory — the reference gets the same guarantee from Postgres
    * serial PKs; this is its filesystem analog. The claim/commit
    * guarantees hold on filesystems with an atomic conditional create
    * (local via O_CREAT|O_EXCL, HDFS via the namenode, object stores
    * with conditional-write support such as Hadoop 3.4+ `fs.s3a.create
    * .conditional`); on an object store where create(overwrite=false)
    * is HEAD-then-PUT, two racing writers can both pass the check —
    * run single-writer there, or front the store with a coordination
    * layer.
    *
    * `expectedVersion`: when set, the publish ABORTS (before writing
    * any data — only an orphan claim file is left) unless the claimed
    * number is exactly this. Content-rewriting maintenance passes use
    * it as optimistic concurrency control (see [[compactSnapshot]]):
    * a compaction of version V may only ever commit as V+1, so a
    * concurrent content-ADDING publisher — which claims a later
    * number and commits a later marker — always shadows it, and stale
    * compacted data can never revert a newer snapshot. */
  def publishSnapshot(df: DataFrame, dateCol: String, tablePath: String,
                      retainVersions: Int = 2,
                      writerOptions: Map[String, String] = Map.empty,
                      expectedVersion: Option[Long] = None,
                      extraMeta: Map[String, String] = Map.empty,
                      colocateMonths: Boolean = false,
                      statsCols: Seq[String] = Nil): Long = {
    require(retainVersions >= 1, "retainVersions must keep at least the live version")
    val spark = df.sparkSession
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = hadoopFs(spark, root)
    // own the number before writing a byte of data: a concurrent
    // publisher that guessed the same max+1 loses the conditional
    // create and moves on to the next number
    val next = expectedVersion match {
      // exact-version publish: ONE conditional create of that claim —
      // an abort burns nothing (no walk-up claim, no data). The OCC
      // predicate is "no MAIN commit since e-1", not number density:
      // settled BRANCH versions consumed numbers from the shared claim
      // space without ever being main commits, so the expectation
      // walks past them — but only while they stay branch-only; see
      // [[claimExpectedVersion]] for the fast-forward-shadowing race
      // this guards. (An in-flight branch publisher that claimed but
      // has not yet marked still aborts this publish — spurious but
      // safe; retry after it settles.)
      case Some(e) => claimExpectedVersion(spark, tablePath, e, "publish")
      case None => claimNext(fs, tablePath)
    }
    // CHECK constraints ride IN-FLIGHT: the frame is wrapped with one
    // row-level check projection ([[Constraints.guard]]) evaluated
    // during this very write pass — no read-back scan, no extra job —
    // and a violation aborts with the stage reclaimed and the marker
    // never created ([[Constraints.stagedWrite]])
    Constraints.stagedWrite(spark, tablePath, next) {
      writeMonthlySnapshot(Constraints.guard(df, tablePath, "publish"), dateCol,
        versionDir(tablePath, next), writerOptions, colocateMonths)
    }
    // version-scoped metadata (e.g. the evolved-schema mapping) lands
    // INSIDE the version dir, before the marker: a committed version is
    // never observable without its metadata, and the `_graft_` prefix
    // keeps parquet scans blind to it while staying distinguishable
    // from Spark's own _SUCCESS-style files (so maintenance passes can
    // carry exactly these files forward)
    // per-file min/max stats manifest ("zone maps", see [[FileStats]]):
    // extracted from the footers the write itself just produced —
    // footer-only reads, exact by construction — and committed WITH the
    // version, so skipping reads never race a stats backfill. The key
    // is reserved: a caller-supplied entry is shadowed (stale stats
    // describing other files must never survive a rewrite).
    val statsMeta: Map[String, String] =
      if (statsCols.isEmpty) Map.empty
      else Map(FileStats.metaName ->
        FileStats.collect(spark, versionDir(tablePath, next), statsCols))
    (extraMeta ++ statsMeta).foreach { case (name, content) =>
      val out = fs.create(new Path(s"${versionDir(tablePath, next)}/$metaPrefix$name"), true)
      try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    // OCC pre-marker re-check: the data write above can take minutes —
    // a fast-forward merge landing during it would be shadowed by our
    // marker. One cheap listing right before the commit shrinks that
    // window to listing→create; the abandoned dir+claim left by this
    // abort is ordinary vacuumable crash debris.
    expectedVersion.foreach { e =>
      val landed = mainMarkedVersions(spark, tablePath).filter(_ >= e)
      if (landed.nonEmpty)
        throw new ConcurrentSnapshotUpdate(
          s"publish of $tablePath expected to commit as version $e but main " +
          s"commit(s) ${landed.toSeq.sorted.mkString(",")} landed while its data " +
          "was being written; the staged version was NOT committed (unmarked " +
          "debris, vacuumable) — re-read the live version and retry")
    }
    // commit marker: a NEW file name under _manifests — version encoded
    // in the name (the atomic act), commit time in the content
    createCommitMarker(spark, tablePath, next)
    // grace-window prune over COMMITTED versions only (those with a
    // marker): a bare version dir may be a concurrent publisher still
    // writing, and its number gives no way to tell — so unmarked dirs
    // are never touched here (see the crash-safety note above)
    val commits = committed(spark, tablePath).map(_._1).sorted.reverse
    // tag pins survive the window: a tagged version (and its full
    // DV/MoR chain) keeps marker AND dir — reproducibility must not
    // depend on sizing the window for the oldest consumer
    val pinned = Tags.pinnedVersions(spark, tablePath)
    commits.drop(retainVersions).filterNot(pinned).foreach(dropCommitted(fs, tablePath, _))
    // claim sweep: every claim strictly below the oldest RETAINED
    // committed version is unreachable debris — the claims of pruned
    // versions, plus abandoned claims from crashed or expectedVersion-
    // aborted publishers. No live writer can re-claim one (the claim
    // scan starts past the retained version dirs), so inode growth
    // stays bounded by the retain window, not by publish count.
    val keepFloor = commits.take(retainVersions).lastOption.getOrElse(0L)
    val cdir = new org.apache.hadoop.fs.Path(root, "_claims")
    if (fs.exists(cdir)) fs.listStatus(cdir).foreach { s =>
      s.getPath.getName match {
        case claimRe(n) if n.toLong < keepFloor => fs.delete(s.getPath, false)
        case _                                  => ()
      }
    }
    next
  }

  /** DESTROY a whole table — the explicit lifecycle verb behind
    * `CALL graft.system.drop_table` ([[GraftProcedures]]). The
    * catalog's `DROP TABLE` refusal stands on purpose (deleting 100 TB
    * of committed history must never be a side-effect of generic DDL);
    * this is the named, ledger-returning spelling an operator reaches
    * for deliberately. Refuses while ANY ref pins history — tags
    * (reproducibility pins) or branches (in-flight lines of work) —
    * naming them: delete the refs first, which is its own auditable
    * act. Returns the `(versions, files, bytes)` ledger of what was
    * removed, measured BEFORE the delete (the number an operations
    * dashboard records). O(files) metadata for the census plus the
    * recursive delete itself. */
  def dropTable(spark: org.apache.spark.sql.SparkSession, tablePath: String)
      : (Long, Long, Long) = {
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = hadoopFs(spark, root)
    val versions = listVersions(spark, tablePath)
    if (versions.isEmpty) throw new java.io.FileNotFoundException(
      s"no committed table at $tablePath — nothing to drop")
    val tags = Tags.listTags(spark, tablePath)
    if (tags.nonEmpty) throw new IllegalStateException(
      s"refusing to drop $tablePath: tag(s) ${tags.keys.toSeq.sorted.mkString(", ")} " +
      "pin its history for reproducibility — delete the tags first " +
      "(Tags.deleteTag), which is its own auditable act")
    val bdir = new org.apache.hadoop.fs.Path(tablePath, "_branches")
    val branches =
      if (!fs.exists(bdir)) Seq.empty[String]
      else fs.listStatus(bdir).toSeq.filter(_.isDirectory).map(_.getPath.getName)
    if (branches.nonEmpty) throw new IllegalStateException(
      s"refusing to drop $tablePath: branch(es) ${branches.sorted.mkString(", ")} " +
      "are live lines of work — merge or delete them first")
    val summary = fs.getContentSummary(root)
    val ledger = (versions.size.toLong, summary.getFileCount, summary.getLength)
    fs.delete(root, true)
    ledger
  }

  /** VACUUM abandoned write debris — the maintenance op the publish
    * prune deliberately does NOT do. Prune only ever touches MARKED
    * versions, because an unmarked dir is indistinguishable from a
    * concurrent publisher still writing; that safety leaves two kinds
    * of debris growing forever at 100 TB write rates: version dirs a
    * crashed publisher claimed and part-wrote but never marked (real
    * bytes), and bare claim files from `expectedVersion`-aborted or
    * crashed publishers that never wrote a dir (inodes above the
    * keep-floor sweep). Vacuum removes both, guarded by age: an entry
    * is debris only if NO ref marks it (neither `_manifests` nor any
    * `_branches` namespace) AND nothing under it was modified within
    * `olderThanMs`. The age guard is the operator contract (Delta
    * VACUUM's): choose it longer than any writer could possibly run —
    * a publisher alive but silent past the horizon would lose its
    * in-flight dir (and then fail loudly at its own marker step,
    * never silently corrupt a committed state, since vacuum touches
    * nothing marked).
    *
    * Returns the reclaimed entries as `(version, kind)` —
    * `abandoned_dir` / `orphan_claim` — the ledger an operations
    * dashboard records. O(versions) metadata work; the only data I/O
    * is the deletes themselves. */
  def vacuum(spark: org.apache.spark.sql.SparkSession, tablePath: String,
             olderThanMs: Long = 24L * 3600 * 1000): Seq[(Long, String)] = {
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = hadoopFs(spark, root)
    if (!fs.exists(root)) return Seq.empty
    val cutoff = System.currentTimeMillis() - olderThanMs
    val marked = mainMarkedVersions(spark, tablePath) ++
      Branches.branchMarkedVersions(spark, tablePath)
    def newestMtime(p: org.apache.hadoop.fs.Path): Long = {
      val st = fs.getFileStatus(p)
      if (!st.isDirectory) st.getModificationTime
      else (st.getModificationTime +:
        fs.listStatus(p).map(s => newestMtime(s.getPath)).toSeq).max
    }
    val dirs = versionDirs(fs, tablePath)
    val vacuumedDirs = dirs.toSeq.filterNot(marked)
      .filter(v => newestMtime(new Path(versionDir(tablePath, v))) < cutoff)
      .sorted.map { v => dropUnmarked(fs, tablePath, v); v -> "abandoned_dir" }
    val dirSet = dirs -- vacuumedDirs.map(_._1)
    val cdir = new org.apache.hadoop.fs.Path(root, "_claims")
    val vacuumedClaims = (if (!fs.exists(cdir)) Seq.empty[(Long, String)]
      else fs.listStatus(cdir).toSeq.flatMap { s =>
        s.getPath.getName match {
          case claimRe(n) if !dirSet(n.toLong) && !marked(n.toLong) &&
              s.getModificationTime < cutoff =>
            fs.delete(s.getPath, false)
            Some(n.toLong -> "orphan_claim")
          case _ => None
        }
      }).sortBy(_._1)
    vacuumedDirs ++ vacuumedClaims
  }

  /** The crash seam vacuum exists for, exposed for specs and the
    * registered fixture: claim the next number and write its version
    * dir WITHOUT ever marking it — exactly what a publisher that died
    * between data write and marker create leaves behind. Returns the
    * abandoned version number. */
  private[graft] def plantAbandonedVersion(df: DataFrame, dateCol: String,
                                           tablePath: String): Long = {
    val v = claimNext(hadoopFs(df.sparkSession, new Path(tablePath)), tablePath)
    writeMonthlySnapshot(df, dateCol, versionDir(tablePath, v), Map.empty)
    v
  }

  /** The other half of the crash seam: a claim with no dir at all (a
    * publisher that died between claim and first byte, or an
    * `expectedVersion` abort above the keep-floor sweep). */
  private[graft] def plantOrphanClaim(spark: org.apache.spark.sql.SparkSession,
                                      tablePath: String): Long =
    claimNext(hadoopFs(spark, new Path(tablePath)), tablePath)

  /** Registered `q_vacuum` (hash-oracled): the full crash-debris
    * lifecycle against a constant oracle. The fixture (once per JVM)
    * publishes v1+v2, opens a branch whose publish claims v3, plants
    * two abandoned dirs (v4, v5 — claimed and written, never marked)
    * and one orphan claim (c6, never written), then vacuums with NO
    * age floor (the fixture's debris is deterministic; the age guard
    * itself is spec-pinned in VacuumSpec). The ledger is the vacuum
    * result PLUS the survivors — committed history and the branch
    * version must come through untouched — so every row is a
    * closed-form constant. */
  def vacuumResult(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (tbl, ledger) = vacuumFixtures(dir) { tmp =>
      val t = s"$tmp/t"
      val base = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      publishSnapshot(base, "o_orderdate", t, retainVersions = 4)
      publishSnapshot(base.filter(col("o_orderkey") % 2 === 0), "o_orderdate", t,
        retainVersions = 4)
      Branches.createBranch(spark, t, "side")
      Branches.publishToBranch(base.filter(col("o_orderkey") % 4 === 0),
        "o_orderdate", t, "side")
      plantAbandonedVersion(base.limit(100), "o_orderdate", t)
      plantAbandonedVersion(base.limit(100), "o_orderdate", t)
      plantOrphanClaim(spark, t)
      (t, vacuum(spark, t, olderThanMs = -1000L))
    }
    val survivors =
      listVersions(spark, tbl).map(v => ("survivor_committed", v)) ++
      Branches.branchHead(spark, tbl, "side").map(v => ("survivor_branch", v))
    (ledger.map { case (v, kind) => (kind, v) } ++ survivors)
      .toDF("entry", "version").orderBy("entry", "version")
  }

  private val vacuumFixtures = new graft.util.Scratch.Fixture[(String, Seq[(Long, String)])]("vacuum_fx")

  /** Small-file compaction for the versioned snapshot store — the
    * maintenance pass every append-heavy table needs at scale: many
    * small files (one per shuffle task per month, accumulating with
    * every publish) are rewritten into ~`targetFileBytes` files per
    * month partition, published as the NEXT snapshot version. Readers
    * are never disturbed (the manifest swap is the same transactional
    * commit as any publish; the fragmented version ages out through
    * `retainVersions`).
    *
    * Parallel even within one giant month: each month is split into
    * ceil(rows / rowsPerFile) content-hash salt groups — sized from
    * the live version's bytes-per-row (directory listing + footer-only
    * row count), one tiny count row per month on the driver — and the
    * shuffle spreads the groups over that many tasks, so a 100 TB hot
    * month compacts with full write parallelism instead of
    * serializing onto one task. The per-write `maxRecordsPerFile`
    * option (NOT a session-conf mutation — concurrent writes in the
    * same session are unaffected) caps every file at the exact target
    * regardless of salt-bucket skew or hash collisions between
    * groups; a small month still compacts to exactly one file. A
    * deterministic per-month row number would give the minimal file
    * count exactly, but computing it IS the bottleneck being removed
    * (a row_number window over a month serializes that month); the
    * salt trades ≤√n per-group fill variance for full parallelism.
    *
    * `zorderCols` switches the pass to Delta-style OPTIMIZE ZORDER:
    * the same republish also CLUSTERS rows, range-partitioning on
    * (month, z-value) and sorting within partitions, so each file
    * covers a z-hypercube and post-compaction scans prune on any
    * z-column's footer stats. File sizing there is the range
    * partitioner's (sampled) balance, capped by `maxRecordsPerFile`.
    *
    * Concurrency: compaction is a content-neutral rewrite of version
    * V, so it publishes with `expectedVersion = V+1` — if any other
    * publisher claimed V+1 first, the publish aborts before writing
    * and retries against the new live version (up to `maxAttempts`).
    * A publisher that starts mid-compaction claims a number above
    * V+1 and its later marker wins `currentVersion`, so stale
    * compacted data can never shadow newer content (see
    * [[publishSnapshot]]). Consequence of always yielding: an ORPHAN
    * claim at V+1 (a publisher that crashed between claim and write)
    * stalls compaction — every attempt aborts, cheaply — until the
    * next real publish commits past it; maintenance then succeeds on
    * its next cadence. Returns the published version. */
  def compactSnapshot(spark: org.apache.spark.sql.SparkSession, tablePath: String,
                      dateCol: String, targetFileBytes: Long = 128L << 20,
                      retainVersions: Int = 2, zorderCols: Seq[String] = Nil,
                      maxAttempts: Int = 3, hilbertCurve: Boolean = false): Long = {
    require(targetFileBytes >= 1, "targetFileBytes must be positive")
    require(maxAttempts >= 1, "maxAttempts must be positive")
    var lastRace: ConcurrentSnapshotUpdate = null
    (1 to maxAttempts).foreach { _ =>
      val compacting0 = requireHead(spark, tablePath)
      // a deletion-vector / MoR commit has no data files of its own —
      // its version dir holds only the vector and delta. Maintenance
      // must FOLD THE CHAIN first (the Delta/Hudi "compaction is
      // materialization" contract) and then bin-pack the folded data
      // version; compacting the raw DV dir would publish an EMPTY
      // live version. Discovered by MorPropertySpec's random walk.
      val compacting =
        if (versionMeta(spark, tablePath, compacting0)
              .contains(DeletionVectors.metaName)) {
          try DeletionVectors.materializeDeletes(spark, tablePath, dateCol,
            retainVersions = retainVersions)
          catch { case e: ConcurrentSnapshotUpdate =>
            lastRace = e
            -1L // someone else committed meanwhile — re-read and retry
          }
        } else compacting0
      if (compacting >= 0) {
      val vdir = versionDir(tablePath, compacting)
      val totalBytes = versionFiles(spark, vdir)
        .filter(_.partition.startsWith("txn_month=")).map(_.len).sum
      val df = spark.read.parquet(vdir).drop("txn_month")
      val totalRows = df.count() // parquet footer counts — no data read
      val bytesPerRow = math.max(1L, totalBytes / math.max(1L, totalRows))
      val rowsPerFile = math.max(1L, targetFileBytes / bytesPerRow)
      // null-safe month key: null dates form a group like any other
      val monthKey = coalesce(date_format(col(dateCol), "yyyy-MM"), lit("__null__"))
      val packed =
        if (zorderCols.nonEmpty) {
          val totalFiles = math.max(1L,
            (totalBytes + targetFileBytes - 1) / targetFileBytes).min(1 << 20).toInt
          val (withS, z, sCols, _) = ZOrder.zPrepared(df, zorderCols, 256, hilbertCurve)
          withS.withColumn("__mk", monthKey).withColumn("__z", z)
            .repartitionByRange(totalFiles, col("__mk"), col("__z"))
            .sortWithinPartitions("__mk", "__z")
            .drop(sCols ++ Seq("__mk", "__z"): _*)
        } else {
          val counts = df.groupBy(monthKey.as("__mk"))
            .agg(count(lit(1)).as("__n")).collect() // one row per month
          val fileCounts = counts.map { r =>
            (r.getString(0), math.max(1L, (r.getLong(1) + rowsPerFile - 1) / rowsPerFile))
          }
          val totalFiles = math.max(1L, fileCounts.map(_._2).sum).min(1 << 20).toInt
          import spark.implicits._
          val nfDf = fileCounts.toSeq.toDF("__mk", "__nf")
          df.withColumn("__mk", monthKey)
            .join(broadcast(nfDf), "__mk")
            .withColumn("__salt", pmod(xxhash64(df.columns.map(col): _*), col("__nf")))
            .repartition(totalFiles, col("__mk"), col("__salt"))
            .drop("__mk", "__nf", "__salt")
        }
      val carried = versionMeta(spark, tablePath, compacting)
      try return publishSnapshot(packed, dateCol, tablePath, retainVersions,
        writerOptions = Map("maxRecordsPerFile" -> rowsPerFile.toString),
        expectedVersion = Some(compacting + 1),
        // a compaction is content-neutral, so the compacted version's
        // publish metadata (e.g. the evolved-schema mapping) must ride
        // along — otherwise a maintenance pass would strip an evolved
        // table of its id map and break as-of reads. The file-stats
        // manifest is the one exception: it describes the OLD files, so
        // it is recomputed for the rewritten layout (same column list)
        // instead of carried
        extraMeta = carried - FileStats.metaName,
        statsCols = carried.get(FileStats.metaName)
          .map(FileStats.colsOf).getOrElse(Nil))
      catch { case e: ConcurrentSnapshotUpdate => lastRace = e } // re-read and retry
      }
    }
    throw lastRace
  }

  /** Write `df` as exactly ONE parquet file at `destFile`, staged in a
    * private dir and moved by a single-file rename. Two guarantees the
    * plain `df.write` path lacks: concurrent writers into one
    * directory never race each other's shared `_temporary` committer
    * dir, and the rename's RESULT is checked — Hadoop filesystems
    * report most rename failures by returning false, not throwing, and
    * a silently dropped file here is a silently lost log row. The
    * single-file rename is atomic on local/HDFS filesystems; on object
    * stores rename is copy+delete, so the crash window there is a
    * duplicated (never lost) staged file. */
  /** @param ordered true keeps the input's row order in the file
    *   (`coalesce(1)` concatenates partitions in order — but collapses
    *   the WHOLE upstream computation into one task, so a join/window
    *   feeding the write runs single-threaded). Callers whose file is
    *   order-insensitive (keyed merge inputs, vector key sets) pass
    *   false: the upstream computes at full parallelism and only the
    *   final write task is serial. */
  def writeSingleParquetFile(df: DataFrame, stagingDir: String, destFile: String,
                             ordered: Boolean = true): Unit = {
    val spark = df.sparkSession
    val dest = new org.apache.hadoop.fs.Path(destFile)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val one = if (ordered) df.coalesce(1) else df.repartition(1)
    one.write.mode(SaveMode.Overwrite).parquet(stagingDir)
    val stage = new org.apache.hadoop.fs.Path(stagingDir)
    val part = fs.listStatus(stage).map(_.getPath)
      .find(_.getName.startsWith("part-"))
      .getOrElse(throw new java.io.IOException(s"no part file staged under $stagingDir"))
    fs.mkdirs(dest.getParent)
    if (!fs.rename(part, dest))
      throw new java.io.IOException(s"rename $part -> $dest failed")
    fs.delete(stage, true)
    ()
  }

  /** Bucketed write for co-located joins: repeated joins on `keyCol`
    * (e.g. reconciliations) read both sides pre-partitioned, no
    * shuffle. Parquet `bucketBy` requires saveAsTable (metastore);
    * repartition-by-key + sorted files is the metastore-free variant
    * that still gives one file per key range. */
  def writeKeyPartitioned(df: DataFrame, keyCol: String, path: String,
                          numFiles: Int = 32): Unit =
    df.repartition(numFiles, col(keyCol))
      .sortWithinPartitions(keyCol)
      .write.mode(SaveMode.Overwrite)
      .parquet(path)

  /** TRUE bucketed table (metastore variant of [[writeKeyPartitioned]]):
    * `bucketBy` records the hash-partitioning in the catalog, so a
    * join of two tables bucketed on the same key with the same count
    * plans with ZERO Exchange — the 100 TB answer for a join both
    * sides of which are reused across many queries (fact-to-dim
    * reconciliations, repeated key lookups). The bucket files are
    * written once; every subsequent join reads them co-located.
    * External path + explicit DROP keeps re-publishes idempotent. */
  def writeBucketedTable(df: DataFrame, table: String, path: String,
                         keyCol: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    df.write.mode(SaveMode.Overwrite)
      .option("path", path)
      .bucketBy(buckets, keyCol)
      .sortBy(keyCol)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Training-corpus export layout: the packed manifest (or any doc
    * table) written as split-partitioned, shard-distributed compressed
    * JSONL — the interchange format trainer data loaders consume.
    * Partitioning by split keeps train/val/test physically separate;
    * repartitioning by shard gives each loader worker one file set. */
  def writeCorpusJsonl(df: DataFrame, path: String,
                       splitCol: String = "split",
                       shardCol: String = "shard"): Unit =
    df.repartition(col(shardCol))
      .write.mode(SaveMode.Overwrite)
      .partitionBy(splitCol)
      .option("compression", "gzip")
      .json(path)

  // ——— multi-table ATOMIC group commit ———————————————————————————————
  //
  //   groupPath/_commits/g00000002   the group marker: its CONTENT maps
  //                                  tablePath → committed version
  //   groupPath/_commits/_claims/    group-number claims (same
  //                                  conditional-create protocol as
  //                                  snapshot versions)
  //
  // Single-table publishes are transactional per TABLE; a pipeline that
  // publishes a decision table AND its archive log (or a corpus AND its
  // band index) needs both to move together — a reader joining a fresh
  // decision snapshot against a stale archive sees a state no writer
  // ever produced. The group commit is one level of indirection: each
  // table publishes normally (its own claim + marker), then ONE group
  // marker names the exact (table → version) vector. Pair-readers
  // resolve versions ONLY through the newest group marker, so a crash
  // after some table publishes but before the group marker leaves them
  // on the previous consistent vector — the half-published versions are
  // committed but unreferenced, aging out through table retention.
  //
  // The marker has content (the version vector), so bare create-and-
  // write is not enough — a reader could list the name before the
  // bytes land. It is staged as `.tmp_g<n>` (a name the reader regex
  // never matches) and RENAMED to its final fresh name: rename to a
  // NEW name is atomic on POSIX and HDFS (one namespace op; contrast
  // the overwrite-rename of a `_CURRENT` file, which is delete+rename
  // with a no-manifest window — the same argument as the version
  // markers above). Racing group publishers are serialized by the
  // claim, so the destination name is owned before staging. The same
  // object-store caveat as [[tryClaim]] applies.

  private val groupRe = "g(\\d{8})".r

  /** Atomically publish one consistent version VECTOR across several
    * snapshot tables. Each `(tablePath, df, dateCol)` publishes as a
    * normal [[publishSnapshot]] (own claim, own marker, own
    * retention); the group then commits the mapping in one marker.
    * Returns the committed tablePath → version vector.
    *
    * `retainVersions` must be ≥ `retainGroups`: a retained group
    * marker that names a pruned table version would fail its reads —
    * table retention is the grace window group history lives in. The
    * same applies to DIRECT member publishes between group commits:
    * enough solo publishes age a group-referenced version out of the
    * member's retention, after which [[readGroupTable]] refuses with
    * the available range ([[readSnapshotAt]]'s contract) rather than
    * serving debris — size the member retention to cover the solo
    * cadence, or route all member publishes through the group. The
    * walk spec pins both behaviors. */
  def publishGroup(tables: Seq[(String, DataFrame, String)], groupPath: String,
                   retainGroups: Int = 2, retainVersions: Int = 2,
                   statsCols: Map[String, Seq[String]] = Map.empty): Map[String, Long] = {
    require(tables.nonEmpty, "empty table group")
    require(tables.map(_._1).distinct.size == tables.size,
      "a table appears twice in the group")
    require(retainVersions >= retainGroups,
      s"retainVersions ($retainVersions) must cover retainGroups ($retainGroups): " +
      "group markers outliving their table versions would name unreadable history")
    val spark = tables.head._2.sparkSession
    val cdir = new org.apache.hadoop.fs.Path(groupPath, "_commits")
    val fs = hadoopFs(spark, cdir)
    // publish every member table FIRST — all work that can fail
    // happens before the group becomes visible
    val vector = tables.map { case (tablePath, df, dateCol) =>
      tablePath -> publishSnapshot(df, dateCol, tablePath,
        retainVersions = retainVersions,
        statsCols = statsCols.getOrElse(tablePath, Nil))
    }
    // own the group number, stage the vector, rename into visibility
    val existing = if (!fs.exists(cdir)) Seq.empty[Long]
      else fs.listStatus(cdir).toSeq.flatMap(_.getPath.getName match {
        case groupRe(n) => Some(n.toLong)
        case _          => None
      })
    val n = claimNumber(fs, new org.apache.hadoop.fs.Path(cdir, "_claims"),
      (existing :+ 0L).max + 1, "c")
    val tmp = new org.apache.hadoop.fs.Path(cdir, f".tmp_g$n%08d")
    val out = fs.create(tmp, true)
    // member tables nested under the group store record GROUP-RELATIVE
    // paths, so the whole tree is relocatable (copy/rename the store,
    // markers stay valid); outside tables record their absolute path
    try out.write(vector.map { case (t, v) =>
      val key = if (t.startsWith(groupPath + "/")) t.substring(groupPath.length + 1) else t
      s"$key\t$v"
    }.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val marker = new org.apache.hadoop.fs.Path(cdir, f"g$n%08d")
    if (!fs.rename(tmp, marker))
      throw new ConcurrentSnapshotUpdate(
        s"group commit rename to $marker failed despite an owned claim")
    // prune group history past the grace window (markers only — table
    // versions age through their own retention)
    existing.sorted.reverse.drop(retainGroups - 1).foreach { g =>
      fs.delete(new org.apache.hadoop.fs.Path(cdir, f"g$g%08d"), false)
    }
    // group-claim sweep (the keepFloor discipline of [[publishSnapshot]]):
    // every claim strictly below the oldest RETAINED group marker is
    // unreachable debris — without this, each group commit leaks one
    // inode forever (table-level vacuum never looks inside `_commits`)
    val keepFloor = (existing.sorted.reverse.take(retainGroups - 1) :+ n).min
    val gclaims = new org.apache.hadoop.fs.Path(cdir, "_claims")
    if (fs.exists(gclaims)) fs.listStatus(gclaims).foreach { s =>
      s.getPath.getName match {
        case claimRe(c) if c.toLong < keepFloor => fs.delete(s.getPath, false)
        case _                                  => ()
      }
    }
    vector.toMap
  }

  /** The live committed version vector of a table group (empty if no
    * group was ever committed). */
  def currentGroup(spark: org.apache.spark.sql.SparkSession,
                   groupPath: String): Map[String, Long] = {
    val cdir = new org.apache.hadoop.fs.Path(groupPath, "_commits")
    val fs = hadoopFs(spark, cdir)
    if (!fs.exists(cdir)) return Map.empty
    val newest = fs.listStatus(cdir).toSeq.flatMap(_.getPath.getName match {
      case groupRe(n) => Some(n.toLong)
      case _          => None
    }).maxOption
    newest.fold(Map.empty[String, Long]) { n =>
      val in = fs.open(new org.apache.hadoop.fs.Path(cdir, f"g$n%08d"))
      val content = try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var r = in.read(buf)
        while (r >= 0) { out.write(buf, 0, r); r = in.read(buf) }
        out.toString(java.nio.charset.StandardCharsets.UTF_8)
      } finally in.close()
      content.split("\n").filter(_.nonEmpty).map { line =>
        val Array(t, v) = line.split("\t")
        // group-relative member → resolve against THIS groupPath (the
        // relocatability contract); absolute/scheme-qualified → as-is
        val abs = if (t.startsWith("/") || t.contains("://")) t else s"$groupPath/$t"
        abs -> v.toLong
      }.toMap
    }
  }

  /** Read one member table at the version the LIVE GROUP names —
    * never the table's own newest version, which may belong to a
    * group commit that hasn't happened (or never will). */
  def readGroupTable(spark: org.apache.spark.sql.SparkSession, groupPath: String,
                     tablePath: String): DataFrame = {
    val vector = currentGroup(spark, groupPath)
    val v = vector.getOrElse(tablePath,
      throw new java.io.FileNotFoundException(
        s"$tablePath is not part of the committed group at $groupPath " +
        s"(members: ${vector.keys.toSeq.sorted.mkString(", ")})"))
    readSnapshotAt(spark, tablePath, v)
  }

  /** Registered `q_group_publish` (hash-oracled): the torn-publish
    * contract exercised end to end. Phase 1 group-commits the
    * (even-key, odd-key) orders pair; then table A advances ALONE —
    * exactly the state a crash between a member publish and the group
    * marker leaves behind — and the "torn"-phase censuses prove group
    * readers still resolve the phase-1 vector for BOTH tables. Phase 2
    * group-commits the halved pair and the "committed" censuses
    * advance together. All four (phase, table) censuses are closed-form
    * row counts + 60-bit key XORs over `orders` — DuckDB derives every
    * cell without seeing a snapshot. */
  def groupPublishResult(spark: org.apache.spark.sql.SparkSession,
                         dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderdate", "o_totalprice")
    val a1 = orders.filter(col("o_orderkey") % 2 === 0)
    val b1 = orders.filter(col("o_orderkey") % 2 === 1)
    // per-JVM fixture (the q_gated_publish precedent — both contract
    // halves built once, the query READS them): phase 1 publishes the
    // pair, table A advances alone (the torn window), the torn-phase
    // group reads are CENSUSED AND PERSISTED while the group still
    // names phase 1 (they cannot be recomputed afterwards — that is
    // the point of the test), then phase 2 group-commits; member
    // tables nest under the group (relative markers, relocatable)
    def census(grp: String, phase: String, table: String): DataFrame =
      readGroupTable(spark, grp, s"$grp/t$table")
        .select(graft.operators.Reconcile.xorHash60(
          col("o_orderkey").cast("string")).as("h"))
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("key_xor"))
        .select(lit(phase).as("phase"), lit(table).as("table_name"),
          col("n_rows"), col("key_xor"))
    val fixture = groupFixtures(dir) { f =>
      val grp = s"$f/grp"
      publishGroup(Seq((s"$grp/ta", a1, "o_orderdate"),
        (s"$grp/tb", b1, "o_orderdate")), grp)
      publishSnapshot(a1.filter(col("o_orderkey") % 4 === 0), "o_orderdate", s"$grp/ta")
      census(grp, "torn", "a").unionByName(census(grp, "torn", "b"))
        .coalesce(1).write.parquet(s"$f/torn")
      publishGroup(Seq(
        (s"$grp/ta", a1.filter(col("o_orderkey") % 4 === 0), "o_orderdate"),
        (s"$grp/tb", b1.filter(col("o_orderkey") % 4 === 1), "o_orderdate")), grp)
      f
    }
    spark.read.parquet(s"$fixture/torn")
      .unionByName(census(s"$fixture/grp", "committed", "a"))
      .unionByName(census(s"$fixture/grp", "committed", "b"))
      .orderBy("phase", "table_name")
  }

  private val groupFixtures = new graft.util.Scratch.Fixture[String]("group_fx")
  private val lifecycleFixtures = new graft.util.Scratch.Fixture[String]("restore_fixture")

  /** Shared restore/history fixture: v1 class-0 data publish, v2 MoR
    * upsert link (class-20 bumps + class-7 inserts), v3 DV delete link
    * (class-30), v4 = RESTORE to version 1 — the rollback of both
    * links as a new auditable commit. Built once per JVM. */
  private def lifecycleFixture(spark: org.apache.spark.sql.SparkSession, dir: String): String =
    lifecycleFixtures(dir) { tmp =>
      import org.apache.spark.sql.functions._
      val f = s"$tmp/t"
      val base = Tables.orders(spark, dir).select(
        col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_orderdate").cast("date").as("odate"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      publishSnapshot(base.filter(col("o_orderkey") % 10 === 0), "odate", f,
        retainVersions = 100)
      val updates = base.filter(col("o_orderkey") % 20 === 0)
        .withColumn("price",
          expr("CAST(price + CAST('5.00' AS DECIMAL(3,2)) AS DECIMAL(18,2))"))
      DeletionVectors.publishUpsert(spark, f,
        updates.unionByName(base.filter(col("o_orderkey") % 10 === 7)),
        "o_orderkey", updates.select("o_orderkey").limit(0), validate = false)
      DeletionVectors.publishDeletes(spark, f,
        base.filter(col("o_orderkey") % 30 === 0).select("o_orderkey"), "o_orderkey")
      restoreSnapshot(spark, f, 1L, "odate", retainVersions = 100)
      f
    }

  /** Registered `q_clone` (hash-oracled): `CALL graft.system.clone` of
    * the lifecycle fixture's CHAIN-HEAD version (v3 = base + upsert
    * link + delete link, retained behind the restore): the clone must
    * land the chain-RESOLVED state as a fresh SINGLE-VERSION table —
    * censused through the catalog against the same closed form the
    * mat-view fixture uses, with the procedure's ledger
    * (source_version=3, clone_versions=1) riding as columns. A FRESH
    * target per call: the clone itself is the timed surface (the
    * operation a user pays for), not a cached read of one. */
  def cloneResult(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val t = lifecycleFixture(spark, dir)
    val tgt = graft.util.Scratch.dir("clone_tgt") + "/t"
    val ledger = spark.sql(
      s"CALL graft.system.clone('$t', '$tgt', 'odate', version => 3)")
      .collect().head // bounded: the one-row procedure ledger
    spark.sql(s"SELECT * FROM graft.`$tgt`")
      .withColumn("h", graft.operators.Reconcile.xorHash60(
        col("o_orderkey").cast("string")))
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("key_xor"),
        sum("price").cast("double").as("price_sum"))
      .select(col("n_rows"), col("key_xor"), col("price_sum"),
        lit(ledger.getLong(0)).as("source_version"),
        lit(listVersions(spark, tgt).size.toLong).as("clone_versions"))
  }

  /** Registered `q_restore` (hash-oracled): after the lifecycle
    * above, the LIVE state must be class-0 verbatim (the restore
    * folded both links away), while the pre-restore chain head (v3
    * merged) stays readable as history — both censused closed-form
    * over `orders`. */
  def restoreResult(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val t = lifecycleFixture(spark, dir)
    def census(phase: String, df: DataFrame): DataFrame =
      df.withColumn("h", graft.operators.Reconcile.xorHash60(
          col("o_orderkey").cast("string")))
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("key_xor"),
          sum("price").cast("double").as("price_sum"))
        .select(lit(phase).as("phase"), col("n_rows"), col("key_xor"),
          col("price_sum"))
    census("live", readSnapshot(spark, t).drop("txn_month"))
      .unionByName(census("pre_restore",
        DeletionVectors.readMergedAt(spark, t, 3L)))
      .orderBy("phase")
  }

  /** Registered `q_expire` (hash-oracled, constant): age-based
    * expiration over a planted four-commit history — old data version,
    * old MoR link, old full replace, fresh head — with a tag on the
    * link. The horizon expires exactly the unprotected old replace:
    * the tag pins its chain (link AND parent), keepLast holds the
    * fresh head. Fresh store per invocation (expiration mutates);
    * constant ledger vs a DuckDB VALUES oracle. */
  def expireResult(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val f = graft.util.Scratch.dir("expire_q") + "/t"
    val base = Tables.orders(spark, dir).select(
      col("o_orderkey").cast("long").as("o_orderkey"),
      col("o_orderdate").cast("date").as("odate"),
      col("o_totalprice").cast("decimal(18,2)").as("price"))
    // colocated months: each publish commits one file per month written
    // by parallel tasks, instead of ONE scan task opening/committing
    // every month's file serially (~80 file commits × 3 publishes was
    // the bulk of this ledger query's wall) — ledger values unchanged
    publishSnapshot(base.filter(col("o_orderkey") % 10 === 0), "odate", f,
      retainVersions = 100, colocateMonths = true)
    DeletionVectors.publishUpsert(spark, f,
      base.filter(col("o_orderkey") % 20 === 0), "o_orderkey",
      base.select("o_orderkey").limit(0), validate = false)
    publishSnapshot(base.filter(col("o_orderkey") % 10 === 4), "odate", f,
      retainVersions = 100, colocateMonths = true)
    publishSnapshot(base.filter(col("o_orderkey") % 10 === 6), "odate", f,
      retainVersions = 100, colocateMonths = true)
    val now = System.currentTimeMillis()
    (1L to 3L).foreach(v =>
      plantCommitTime(spark, f, v, now - 3L * 24 * 3600 * 1000))
    Tags.createTag(spark, f, "audit", Some(2L))
    import spark.implicits._
    expireSnapshots(spark, f, olderThanMs = 24L * 3600 * 1000, keepLast = 1,
      nowMs = now)
      .toDF("version", "status").orderBy("version")
  }

  /** Registered `q_history` (hash-oracled, constant): the commit log
    * of the same lifecycle — versions, kinds, chain parents, live
    * flag — read through BOTH surfaces: the library call and the SQL
    * verb (`CALL graft.system.history(…)`, [[GraftProcedures]]). Both
    * phases answer the same VALUES oracle: two resolution paths, one
    * ledger. `commit_time` is real but volatile, so the registered
    * output projects the deterministic columns; HistoryRestoreSpec
    * pins the time column's monotonicity. */
  def historyResult(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val t = lifecycleFixture(spark, dir)
    def shaped(df: DataFrame, via: String): DataFrame =
      df.select(lit(via).as("via"), col("version"), col("kind"), col("parent"),
        col("is_current"))
    shaped(history(spark, t), "library")
      .unionByName(shaped(
        spark.sql(s"CALL graft.system.history(table => '$t')"), "sql"))
      .orderBy("via", "version")
  }
}

/** Read-side for JSONL corpora — the standard LLM training-data
  * interchange format. Schema-FIRST: at 100 TB, schema inference
  * would be a full extra pass over the data before the real job
  * starts, so a reader without an explicit schema is a bug, not a
  * convenience. */
object JsonlDocs {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.types._

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = true),
    StructField("source", StringType, nullable = true)))

  /** Read a JSONL corpus (optionally gzipped — Spark decompresses by
    * extension). Corrupt lines land in `_corrupt_record` instead of
    * failing the job (PERMISSIVE), mirroring how a web-scale crawl
    * always contains malformed documents. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** Clean view: parseable rows only, contract columns only. */
  def readClean(spark: SparkSession, path: String): DataFrame =
    read(spark, path)
      .filter(org.apache.spark.sql.functions.col("_corrupt_record").isNull)
      .select("doc_id", "text", "lang", "source")

  // — registered round-trip ——————————————————————————————————————————

  private val fixtures = new graft.util.Scratch.Fixture[String]("jsonl")

  /** One JSONL export per data dir per JVM: the corpus written
    * through the REAL export writer (split-partitioned, shard-
    * distributed, gzipped) plus one planted corrupt line that the
    * PERMISSIVE read must quarantine. */
  private def jsonlFixture(spark: SparkSession, dir: String): String =
    fixtures(dir) { out =>
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          when(col("doc_id") % 10 === 0, "val").otherwise("train").as("split"),
          (col("doc_id") % 4).as("shard"))
      Sinks.writeCorpusJsonl(docs, out)
      val bad = new java.io.FileOutputStream(s"$out/split=train/zz_corrupt.json")
      bad.write("{\"doc_id\": this is not json\n".getBytes("UTF-8")); bad.close()
      out
    }

  /** Registered `q_jsonl_roundtrip`: corpus → gzipped partitioned
    * JSONL → schema-first PERMISSIVE read → per-(lang, source)
    * aggregate of count, total text chars, and the 60-bit md5 XOR of
    * the text itself. The DuckDB oracle computes the same aggregate
    * from the parquet corpus directly, so a hash-match proves the
    * JSON encode/decode round-trip is BYTE-identical for every
    * document (escapes, unicode, embedded newlines) — with the
    * planted corrupt line quarantined by the reader, unable to
    * perturb the result. Order-independent aggregates only: no sort,
    * any partitioning. */
  def jsonlRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val fx = jsonlFixture(spark, dir)
    readClean(spark, fx)
      .withColumn("__h", graft.operators.Reconcile.xorHash60(col("text")))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("n_chars"),
        expr("bit_xor(__h)").as("text_xor"))
      .orderBy("lang", "source")
  }

}
