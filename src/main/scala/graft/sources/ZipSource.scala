package graft.sources

import java.io.{ByteArrayInputStream, BufferedOutputStream, FileOutputStream}
import java.security.MessageDigest
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** ZIP-archive extraction source — the Spark realization of the
  * reference's zip unpack stage (Land-Registry-Download/
  * minio_extract_s3_zip_files.py:93-131: fetch archive, list entries,
  * select the TARGET entry by name — one zip there carries a
  * wrong-month sibling that must be ignored — extract, sha256 the
  * content, report missing/odd archives instead of failing).
  *
  * Spark-first shape: `binaryFile` scans the archive set (one row per
  * archive, bytes in hand), and a partition-wise `java.util.zip`
  * explode turns each archive into entry rows — the Media.scala codec
  * pattern: real JDK decoding where no Catalyst expression exists,
  * with payload bytes read ONCE and never shuffled before the
  * entry-level projection. A corrupt archive quarantines as a row
  * (`ok = false`), never an exception: at 100 TB some archive in the
  * feed is always truncated, and one bad file must not kill the scan.
  * Scale: archives are the unit of parallelism (each monthly pp zip
  * is tens of MB — bounded memory per task); 10⁶ archives spread over
  * the cluster like any other binary corpus.
  */
object ZipSource {

  /** One extracted entry (or one quarantined archive when `ok` is
    * false — then `entry` is empty and `err` says why). `sha256` is
    * the reference's content checksum (the dedup-decision input of
    * the file-log path, row 9). */
  case class ZipEntryRow(archive: String, entry: String, n_bytes: Long,
                         sha256: String, content: Array[Byte],
                         ok: Boolean, err: String)

  private def sha256Hex(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"$x%02x").mkString

  /** Explode every archive matched by `pathGlob` into entry rows.
    * `maxEntryBytes` bounds decompressed size per entry (zip-bomb
    * guard): an oversized entry quarantines like a corrupt one. */
  def entries(spark: SparkSession, pathGlob: String,
              maxEntryBytes: Long = 1L << 30): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(pathGlob)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { archives =>
        archives.flatMap { case (path, bytes) =>
          try {
            val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
            val out = Iterator.continually(zin.getNextEntry)
              .takeWhile(_ != null)
              .filterNot(_.isDirectory)
              .map { e =>
                val buf = new java.io.ByteArrayOutputStream()
                val chunk = new Array[Byte](64 * 1024)
                var n = zin.read(chunk)
                var total = 0L
                while (n >= 0 && total <= maxEntryBytes) {
                  buf.write(chunk, 0, n); total += n; n = zin.read(chunk)
                }
                if (total > maxEntryBytes)
                  // report the DECLARED decompressed size when the zip
                  // header carries one; the partial read count would
                  // understate a zip bomb as roughly the cap value
                  ZipEntryRow(path, e.getName,
                    if (e.getSize >= 0) e.getSize else total,
                    "", Array.emptyByteArray,
                    ok = false, err = s"entry exceeds maxEntryBytes " +
                      s"(read $total${if (e.getSize < 0) "+, size undeclared" else ""})")
                else {
                  val content = buf.toByteArray
                  ZipEntryRow(path, e.getName, content.length.toLong,
                    sha256Hex(content), content, ok = true, err = "")
                }
              }.toVector // drain before the stream closes
            zin.close()
            if (out.isEmpty) // reference asserts 'zero files' — quarantine here
              Vector(ZipEntryRow(path, "", bytes.length.toLong, "",
                Array.emptyByteArray, ok = false, err = "no entries in archive"))
            else out
          } catch { case e: Exception =>
            Vector(ZipEntryRow(path, "", bytes.length.toLong, "",
              Array.emptyByteArray, ok = false,
              err = s"unreadable archive: ${e.getClass.getSimpleName}"))
          }
        }
      }.toDF()
  }

  /** Text view of the healthy entries: one row per line (the shape
    * the CSV ingest path consumes). The split happens AFTER the
    * entry-level projection, so archive bytes are long gone. */
  def textLines(entries: DataFrame): DataFrame =
    entries.filter(col("ok"))
      .select(col("archive"), col("entry"),
        explode(split(decode(col("content"), "UTF-8"), "\r?\n")).as("line"))
      .filter(length(col("line")) > 0)

  /** Write one zip per distinct `fileCol` value, each holding one
    * `entryName(file)` text entry built from that group's `lineCol`
    * rows (newline-joined, partition-streamed — no group ever
    * collects). Groups co-locate by repartition + sortWithinPartitions
    * on the file key, so each task streams its groups in order and
    * opens one ZipOutputStream at a time: O(1) archive memory per
    * task. Plus one decoy `README.txt` entry per archive — the
    * reference's multi-entry zips (wrong-month siblings) are the norm,
    * and readers must SELECT their target entry, not trust the
    * archive. Local-path writer: the unit test / registered-fixture
    * surface; a cluster deployment points it at a mounted DFS path. */
  def writeZips(rows: DataFrame, fileCol: String, lineCol: String,
                outDir: String, entryName: String => String): Unit = {
    import rows.sparkSession.implicits._
    new java.io.File(outDir).mkdirs()
    rows.select(col(fileCol), col(lineCol)).as[(String, String)]
      .repartition(col(fileCol))
      .sortWithinPartitions(fileCol)
      .foreachPartition { it: Iterator[(String, String)] =>
        var current: String = null
        var zos: ZipOutputStream = null
        var first = true
        def close(): Unit = if (zos != null) {
          zos.closeEntry()
          zos.putNextEntry(new ZipEntry("README.txt"))
          zos.write("decoy entry - readers must select their target\n"
            .getBytes("UTF-8"))
          zos.closeEntry(); zos.close()
        }
        it.foreach { case (file, line) =>
          if (file != current) {
            // the group key is DATA, interpolated into a path: a key
            // carrying a separator or dot-dot would write outside
            // outDir — reject loudly, whatever the caller promised
            require(file.nonEmpty && !file.contains('/') &&
              !file.contains('\\') && !file.contains("..") && file != ".",
              s"writeZips: group key '${file.take(80)}' is not a safe file name")
            close(); current = file; first = true
            zos = new ZipOutputStream(new BufferedOutputStream(
              new FileOutputStream(s"$outDir/$file.zip")))
            zos.putNextEntry(new ZipEntry(entryName(file)))
          }
          if (!first) zos.write('\n'); first = false
          zos.write(line.getBytes("UTF-8"))
        }
        close()
      }
  }

  // — registered bindings ————————————————————————————————————————————

  /** One fixture per data dir per JVM:
    * monthly zips built from `orders` plus one planted corrupt
    * archive, so every read exercises the quarantine branch. */
  private val fixtures = new graft.util.Scratch.Fixture[String]("zips")

  private[graft] def monthlyZipFixture(spark: SparkSession, dir: String): String =
    fixtures(dir) { out =>
      val lines = Tables.orders(spark, dir).select(
        date_format(col("o_orderdate"), "yyyy-MM").as("order_month"),
        concat_ws(",", col("o_orderkey").cast("string"),
          col("o_totalprice").cast(DecimalType(18, 2)).cast("string"))
          .as("line"))
      writeZips(lines, "order_month", "line", out,
        m => s"PPMS_update_$m.txt")
      // three planted corruption classes — each must quarantine, not
      // kill the scan, and each lands in a distinct deterministic
      // class of the q_zip_quarantine ledger:
      // 1. garbage bytes (no zip structure at all) → no_entries
      val bad = new FileOutputStream(s"$out/PPMS_update_corrupt.zip")
      bad.write("this is not a zip archive".getBytes("UTF-8")); bad.close()
      // 2. a real archive cut at byte 100 (mid-deflate-stream; past
      // the first local header, before its data ends) → unreadable
      val firstZip = new java.io.File(out).listFiles()
        .filter(_.getName.matches("\\d{4}-\\d{2}\\.zip")).minBy(_.getName)
      val firstBytes = java.nio.file.Files.readAllBytes(firstZip.toPath)
      require(firstBytes.length >= 100, s"fixture zip too small to truncate")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$out/PPMS_update_truncated.zip"),
        firstBytes.take(100))
      // 3. a valid archive whose single STORED entry declares exactly
      // 2 MiB — over the quarantine query's 1 MiB cap (oversized_entry
      // there, by declared size) but clean under the round-trip
      // queries' default cap, where its non-monthly entry name is
      // filtered out; STORED so the size rides the local header and
      // every read path sees the declared value
      val big = Array.fill[Byte](2 * 1024 * 1024)('x')
      val crc = new java.util.zip.CRC32(); crc.update(big)
      val oz = new ZipOutputStream(new BufferedOutputStream(
        new FileOutputStream(s"$out/PPMS_update_oversized.zip")))
      val oe = new ZipEntry("BULK_dump.bin")
      oe.setMethod(ZipEntry.STORED); oe.setSize(big.length.toLong)
      oe.setCrc(crc.getValue)
      oz.putNextEntry(oe); oz.write(big); oz.closeEntry(); oz.close()
      out
    }

  /** The shared round-trip verification aggregate: select the target
    * monthly entries by name (past the decoy, the reference's
    * wrong-month-sibling rule), parse the CSV lines, and reduce to
    * the per-month count / exact-decimal revenue / key-XOR census —
    * ONE definition for all three read paths (batch scan, DSv2
    * connector, streaming drain), so they cannot drift from the one
    * oracle they share. */
  private def monthlyAggregate(ents: DataFrame): DataFrame = {
    val parsed = textLines(ents)
      .filter(col("entry").rlike("^PPMS_update_\\d{4}-\\d{2}\\.txt$"))
      .select(
        regexp_extract(col("entry"), "PPMS_update_(\\d{4}-\\d{2})\\.txt", 1)
          .as("order_month"),
        split(col("line"), ",").getItem(0).as("k"),
        split(col("line"), ",").getItem(1).cast(DecimalType(18, 2)).as("price"))
    parsed
      .withColumn("__h", graft.operators.Reconcile.xorHash60(col("k")))
      .groupBy("order_month")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("price")).cast(DoubleType).as("revenue"),
        expr("bit_xor(__h)").as("key_xor"))
      .orderBy("order_month")
  }

  /** Registered `q_zip_ingest`: the archive lifecycle end-to-end —
    * publish monthly zips from `orders`, scan them back through
    * `binaryFile` + the partition-wise unzip, SELECT the target entry
    * per archive (the decoy README is skipped by name, as the
    * reference skips its wrong-month sibling), parse the CSV lines,
    * and aggregate per month taken FROM THE ENTRY NAME. The DuckDB
    * oracle computes the same aggregate from `orders` directly, so a
    * hash-match proves zip write → scan → extract → parse lost and
    * altered nothing — with the planted corrupt archive quarantined
    * in-path (it contributes no entries and cannot perturb the
    * result). Sums ride DECIMAL and keys fold through the 60-bit
    * md5 XOR, both order-independent, so no sort anywhere. */
  def zipIngest(spark: SparkSession, dir: String): DataFrame =
    monthlyAggregate(entries(spark, s"${monthlyZipFixture(spark, dir)}/*.zip"))

  /** Registered `q_zip_dsv2`: the SAME round-trip aggregate as
    * [[zipIngest]] read through the DataSource V2 connector
    * (`format("graft-zip")`, one InputPartition per archive, pruned
    * columns) instead of the binaryFile+mapPartitions plan — both
    * implementations answer to the one DuckDB oracle. */
  def zipIngestDsv2(spark: SparkSession, dir: String): DataFrame =
    monthlyAggregate(spark.read.format("graft-zip")
      .load(s"${monthlyZipFixture(spark, dir)}/*.zip"))

  /** Registered `q_zip_stream`: the archive feed drained as a STREAM
    * — `readStream.format("graft-zip")` over the same monthly fixture
    * with `maxFilesPerTrigger = 7`, so the AvailableNow drain
    * sequences the feed across MANY micro-batches under checkpointed
    * name offsets (the reference's real regime: archives land over
    * months, the pipeline catches up batch by batch). The parquet
    * sink's accumulated rows run the same parse + aggregate, against
    * the SAME oracle: batch scan, DSv2 scan and stream drain answer
    * to one truth. Timing note: the checkpointed multi-batch drain is
    * deliberately re-run per invocation — the drain IS the read path
    * this query times (the archive fixture itself is JVM-cached); a
    * cached drain result would time a parquet read instead. */
  def zipIngestStream(spark: SparkSession, dir: String): DataFrame = {
    val fx = monthlyZipFixture(spark, dir)
    val tmp = graft.util.Scratch.dir("zip_stream_q")
    spark.readStream.format("graft-zip")
      .option("maxFilesPerTrigger", "7")
      .load(s"$fx/*.zip")
      .writeStream
      .option("checkpointLocation", s"$tmp/ckpt")
      .format("parquet")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(s"$tmp/out")
      .awaitTermination()
    monthlyAggregate(spark.read.parquet(s"$tmp/out"))
  }

  /** Registered `q_zip_quarantine` (HASH-ORACLED): the classed
    * corrupt-archive ledger — basename, entry, size, and failure
    * CLASS of everything the scan (1 MiB entry cap) could not read.
    * The raw `err` strings are engine-private (they quote JDK
    * exception class names), but the LEDGER is fully deterministic:
    * the fixture plants one archive per corruption class with fixed
    * bytes, so a constant DuckDB twin pins all three rows —
    * no_entries (25 garbage bytes), unreadable (a real zip cut at
    * byte 100), oversized_entry (a STORED entry declaring 2 MiB
    * against the 1 MiB cap; the declared size is reported, the bomb
    * is never fully buffered). */
  def zipQuarantine(spark: SparkSession, dir: String): DataFrame = {
    val fx = monthlyZipFixture(spark, dir)
    quarantineLedger(entries(spark, s"$fx/*.zip", maxEntryBytes = 1L << 20))
  }

  /** The classed quarantine ledger of any entry frame (binaryFile plan
    * or the `graft-zip` connector — both share the schema and the
    * builder-authored err prefixes, so the ledger is read-path
    * independent; parity is spec-pinned). */
  def quarantineLedger(ents: DataFrame): DataFrame =
    ents.filter(!col("ok"))
      .select(element_at(split(col("archive"), "/"), -1).as("archive"),
        col("entry"), col("n_bytes"),
        when(col("err").startsWith("no entries"), "no_entries")
          .when(col("err").startsWith("entry exceeds"), "oversized_entry")
          .otherwise("unreadable").as("kind"))
      .orderBy("archive")
}
