package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable ingest/decision log — the Spark analog of the reference's
  * Postgres `*_download_file_log` tables
  * (create_table_pp_complete_download_file_log.py): one row per
  * downloaded file with its content hash and the archive /
  * garbage_collect decision, surviving process restarts so the
  * data-decision service can compare against the LAST INGESTED hash
  * after a crash or redeploy.
  *
  * Storage is an append-only parquet directory: each append writes a
  * new file, so no committed row is ever mutated. All paths go through
  * the Hadoop `FileSystem` API, so the log is durable on any cluster
  * filesystem, not just the local disk. The sequence number is CLAIMED
  * by a conditional create under `_seq` (a new file name per seq —
  * create fails if it exists), giving the Postgres-serial semantics
  * the reference relies on: seq values are UNIQUE and MONOTONE per
  * claimant, but possibly GAPPED — a claimant that crashes between
  * claim and commit leaves its number permanently unused — and commit
  * order is not strictly seq order under concurrency (a slow appender
  * can land a lower seq after a faster one's higher seq is already
  * visible). Readers therefore key on seq, never on file arrival.
  *
  * One append = one tiny parquet file, so a long-lived log accretes
  * files without bound; [[compactLog]] is the maintenance pass that
  * folds the existing rows into one segment file. During (or after a
  * crash of) a compaction the same seq may briefly exist in both its
  * original file and a segment, so [[read]] collapses duplicates on
  * seq — rows are immutable, so any copy is the row.
  */
object FileLog {

  case class Entry(seq: Long, file_name: String, sha256: String,
                   decision: String, logged_at: java.sql.Timestamp)

  private def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Compacted segment name: hi seq zero-padded first so a directory
    * listing sorts by coverage; the trailing claim number keeps racing
    * compactions' outputs name-unique. */
  private val segmentRe = "log-hi(\\d{8})-c(\\d{8})\\.parquet".r

  /** Highest seq covered by any compacted segment (-1 when none) —
    * read from segment NAMES, so it costs one listing. */
  private def compactedHi(fs: org.apache.hadoop.fs.FileSystem,
                          root: org.apache.hadoop.fs.Path): Long =
    if (!fs.exists(root)) -1L
    else fs.listStatus(root).toSeq.flatMap(_.getPath.getName match {
      case segmentRe(hi, _) => Some(hi.toLong)
      case _                => None
    }).maxOption.getOrElse(-1L)

  /** The fixed row schema: reads name it instead of inferring it from
    * a footer, which would cost a Spark job per read. */
  private val entrySchema = org.apache.spark.sql.Encoders.product[Entry].schema

  /** The raw scan of every log file (duplicate seqs included), or None
    * when nothing was ever appended. Existence is checked through the
    * Hadoop FS (a `java.io.File` probe would silently read any
    * non-local log as empty and reset the sequence); `_`-prefixed
    * coordination dirs are invisible to the parquet scan, so a
    * claimed-but-unwritten append is never read. */
  private def scan(spark: SparkSession, logDir: String): Option[DataFrame] = {
    val root = new org.apache.hadoop.fs.Path(logDir)
    val fs = fsOf(spark, root)
    val hasData = fs.exists(root) &&
      fs.listStatus(root).exists(s => !s.getPath.getName.startsWith("_"))
    if (hasData) Some(spark.read.schema(entrySchema).parquet(logDir)) else None
  }

  /** The full log, empty-schema-safe when nothing was ever appended.
    * Duplicate seqs (the compaction window / crash-debris case —
    * identical rows) collapse here, so every consumer sees each
    * committed row exactly once. */
  def read(spark: SparkSession, logDir: String): DataFrame = {
    import spark.implicits._
    scan(spark, logDir).map(_.dropDuplicates("seq")).getOrElse(Seq.empty[Entry].toDF())
  }

  /** The decision columns of one committed row. */
  private[graft] final case class Logged(seq: Long, sha256: String, decision: String)

  /** Every committed row's decision columns in seq order, from ONE
    * scan job; duplicate seqs collapse on the driver (any copy is the
    * row). A data-decision reads this once and derives both the last
    * ingested hash and the next seq guess from it. */
  private[graft] def entries(spark: SparkSession, logDir: String): Seq[Logged] =
    scan(spark, logDir).toSeq
      .flatMap(_.select("seq", "sha256", "decision").collect()
        .map(r => Logged(r.getLong(0), r.getString(1), r.getString(2))))
      .distinctBy(_.seq).sortBy(_.seq)

  /** The first seq an append after `log` tries to claim. */
  private[graft] def nextSeq(log: Seq[Logged]): Long = log.lastOption.fold(0L)(_.seq + 1L)

  /** Append one decision row; returns the assigned sequence number.
    * Concurrent appenders both read the same max(seq), but only one
    * wins the conditional create of the `_seq` claim for it; the other
    * retries with the next number. A claim that lands at or below the
    * compacted watermark (possible only for an appender whose log
    * listing predates a whole compaction — the compaction pruned that
    * claim file as unreachable) is abandoned and re-claimed above the
    * watermark, so a pruned number can never be committed twice. */
  def append(spark: SparkSession, logDir: String, fileName: String,
             sha256: String, decision: String): Long =
    append(spark, logDir, fileName, sha256, decision, nextSeq(entries(spark, logDir)))

  /** [[append]] starting its claims at `guess`, typically [[nextSeq]]
    * of a log the caller has just read. Any guess is safe: a taken
    * number loses its conditional create and the claim walks on, and
    * the watermark re-check lifts a claim above compacted seqs. */
  private[graft] def append(spark: SparkSession, logDir: String, fileName: String,
                            sha256: String, decision: String, guess: Long): Long = {
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(logDir)
    val fs = fsOf(spark, root)
    var seq = Sinks.claimNumber(fs, new org.apache.hadoop.fs.Path(root, "_seq"),
      guess, "s")
    // re-check the watermark AFTER winning each claim: compactions only
    // prune claims whose seq is already durable in a segment, so a
    // fresh listing here closes the stale-guess re-claim race
    var floor = compactedHi(fs, root)
    while (seq <= floor) {
      seq = Sinks.claimNumber(fs, new org.apache.hadoop.fs.Path(root, "_seq"),
        floor + 1, "s")
      floor = compactedHi(fs, root)
    }
    // staged in a PRIVATE dir, renamed to the claim-unique final name:
    // concurrent appends through Spark's shared `_temporary` job-commit
    // dir would race each other's cleanup, and the checked single-file
    // rename is atomic where the committer isn't
    Sinks.writeSingleParquetFile(
      Seq(Entry(seq, fileName, sha256, decision,
          new java.sql.Timestamp(System.currentTimeMillis()))).toDF(),
      f"$logDir%s/_staging/s$seq%08d",
      f"$logDir%s/part-s$seq%08d.parquet")
    seq
  }

  /** Fold every currently visible log file into ONE compacted segment,
    * then delete exactly those source files and prune their `_seq`
    * claims — the maintenance pass that keeps a years-old log at
    * O(segments), not O(appends), files and claim inodes.
    *
    * Safety: the source file list is PINNED first, so files appended
    * mid-compaction are untouched; the segment lands via the same
    * staged single-file rename as an append (name-unique through a
    * `_compact` claim), and only then are sources deleted — a reader
    * in the window sees some seqs twice and [[read]] collapses them; a
    * crash leaves either an invisible staging dir or duplicates the
    * next compaction folds away. Claims at or below the segment's hi
    * seq are durably covered, so pruning them is safe — the one stale
    * appender who could have re-claimed such a number re-checks the
    * watermark after every claim win (see [[append]]). A reader whose
    * file listing predates the segment and whose scan outlives the
    * source deletes fails LOUDLY and retries — deliberately: [[read]]
    * does not set `ignoreMissingFiles`, which would silently truncate
    * committed rows in exactly that window. Returns the number of rows
    * in the new segment (0 = nothing to compact; the log, including an
    * in-flight append's file, is left as-is). */
  def compactLog(spark: SparkSession, logDir: String): Long = {
    val root = new org.apache.hadoop.fs.Path(logDir)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) return 0L
    val sources = fs.listStatus(root).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .map(_.getPath)
    if (sources.size < 2) return 0L // nothing worth folding
    val df = spark.read.schema(entrySchema).parquet(sources.map(_.toString): _*)
      .dropDuplicates("seq")
      .orderBy("seq") // one small file; ordered rows make it scannable
      .localCheckpoint() // sever lineage from the files about to be deleted
    val rows = df.count()
    val hi = df.agg(max(col("seq"))).head().getLong(0)
    val c = Sinks.claimNumber(fs, new org.apache.hadoop.fs.Path(root, "_compact"), 0L, "k")
    Sinks.writeSingleParquetFile(df,
      f"$logDir%s/_staging/compact-k$c%08d",
      f"$logDir%s/log-hi$hi%08d-c$c%08d.parquet")
    sources.foreach(fs.delete(_, false)) // includes segments this one subsumes
    // claim prune: every seq ≤ hi is durable in the new segment
    val seqDir = new org.apache.hadoop.fs.Path(root, "_seq")
    if (fs.exists(seqDir)) fs.listStatus(seqDir).foreach { s =>
      val n = s.getPath.getName.stripPrefix("s")
      if (n.forall(_.isDigit) && n.toLong <= hi) fs.delete(s.getPath, false)
    }
    rows
  }

  /** The content hash of the most recently INGESTED file (decision
    * `archive`) — what the reference's data-decision service compares
    * a fresh download against. Garbage-collected (duplicate) entries
    * never advance it. */
  private[graft] def latestIngestedHash(log: Seq[Logged]): Option[String] =
    log.reverseIterator.collectFirst { case Logged(_, sha, "archive") => sha }

  def latestIngestedHash(spark: SparkSession, logDir: String): Option[String] =
    latestIngestedHash(entries(spark, logDir))
}
