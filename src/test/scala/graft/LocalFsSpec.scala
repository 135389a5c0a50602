package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileContext, FileStatus, FileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{GraftLocalFileSystem, GraftLocalFs, GraftRawLocalFileSystem,
  GraftRawLocalFs, PricePaidCsv}
import graft.streaming.CdcStream

/** graft's `file:` filesystem does the stock local filesystem's work —
  * same permission bits, same link status, same checksums — without
  * starting a process. */
class LocalFsSpec extends AnyFunSuite {
  import TestSpark._

  private def rawFs(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = rawFs(new RawLocalFileSystem)
  private lazy val ours = rawFs(new GraftRawLocalFileSystem)

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xFFF

  private def pathOf(p: java.nio.file.Path) = new Path(p.toUri)

  test("a GraftSession resolves file: to graft's classes through FileSystem and FileContext") {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = pathOf(Files.createTempDirectory("localfs"))
    assert(p.getFileSystem(conf).isInstanceOf[GraftLocalFileSystem])
    assert(FileSystem.getLocal(conf).getRaw.isInstanceOf[GraftRawLocalFileSystem])
    val fc = FileContext.getFileContext(p.toUri, conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[GraftLocalFs])
    assert(fc.getDefaultFileSystem.asInstanceOf[GraftLocalFs].getRawFs
      .isInstanceOf[GraftRawLocalFs])
  }

  test("setPermission sets the bits stock RawLocalFileSystem sets, all 512 modes, file and dir") {
    val tmp = Files.createTempDirectory("localfs_modes")
    val kinds = Seq[(String, java.nio.file.Path => java.nio.file.Path)](
      "file" -> (Files.createFile(_)), "dir" -> (Files.createDirectory(_)))
    for ((kind, make) <- kinds) {
      val a = make(tmp.resolve(s"stock_$kind"))
      val b = make(tmp.resolve(s"ours_$kind"))
      // the 512 plain modes, then sticky ones (which go to the stock code)
      for (m <- (0 until 512) ++ Seq(0x3ED, 0x3FF, 0x200)) {
        val perm = new FsPermission(m.toShort)
        stock.setPermission(pathOf(a), perm)
        ours.setPermission(pathOf(b), perm)
        assert(mode(b) === mode(a), f"$kind mode $m%o")
        if (m < 512) assert(mode(b) === m, f"$kind mode $m%o")
      }
    }
  }

  test("setPermission keeps a directory's setgid bit, as the stock chmod does") {
    val tmp = Files.createTempDirectory("localfs_setgid")
    val dirs = Seq("stock", "ours").map(n => Files.createDirectory(tmp.resolve(n)))
    for (d <- dirs) assert(new ProcessBuilder("chmod", "2775", d.toString).start().waitFor() === 0)
    assume(dirs.forall(d => (mode(d) & 0x400) != 0), "this store does not keep setgid")
    stock.setPermission(pathOf(dirs(0)), new FsPermission(0x1ED.toShort))
    ours.setPermission(pathOf(dirs(1)), new FsPermission(0x1ED.toShort))
    assert(mode(dirs(1)) === mode(dirs(0)))
  }

  private def same(a: FileStatus, b: FileStatus): Unit = {
    assert(b.getPath === a.getPath)
    assert(b.isDirectory === a.isDirectory)
    assert(b.isSymlink === a.isSymlink)
    if (a.isSymlink) assert(b.getSymlink === a.getSymlink)
    assert(b.getLen === a.getLen)
    assert(b.getModificationTime === a.getModificationTime)
    assert(b.getPermission === a.getPermission)
    assert(b.getOwner === a.getOwner)
    assert(b.getGroup === a.getGroup)
  }

  test("getFileLinkStatus equals the stock result: file, directory, symlink, missing path") {
    val tmp = Files.createTempDirectory("localfs_links")
    val file = Files.write(tmp.resolve("f.txt"), "x".getBytes("UTF-8"))
    val dir = Files.createDirectory(tmp.resolve("d"))
    val link = Files.createSymbolicLink(tmp.resolve("l"), file)
    for (p <- Seq(file, dir, link); path <- Seq(pathOf(p), new Path(p.toString)))
      same(stock.getFileLinkStatus(path), ours.getFileLinkStatus(path))
    assert(ours.getFileLinkStatus(new Path(link.toString)).isSymlink)
    val missing = pathOf(tmp.resolve("missing"))
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
  }

  test("a flipped byte still fails the checksum on read, written through FileSystem or FileContext") {
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = Files.createTempDirectory("localfs_crc")
    val bytes = Array.tabulate[Byte](4096)(i => (i % 251).toByte)
    val flags = java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE)
    assert(FileSystem.get(tmp.toUri, conf).isInstanceOf[GraftLocalFileSystem])
    // the stock failure report moves the bad file to a `bad_files` dir
    // at the top of the device; keep it where it is
    val fs = new GraftLocalFileSystem {
      override def reportChecksumFailure(p: Path, in: org.apache.hadoop.fs.FSDataInputStream,
          inPos: Long, sums: org.apache.hadoop.fs.FSDataInputStream, sumsPos: Long) = false
    }
    fs.initialize(tmp.toUri, conf)
    val fc = FileContext.getFileContext(tmp.toUri, conf)
    val stockFc = FileContext.getLocalFSFileContext(new Configuration())
    val writers = Seq[(String, Path => java.io.OutputStream)](
      "fs" -> (fs.create(_)), "fc" -> (fc.create(_, flags)), "stock_fc" -> (stockFc.create(_, flags)))
    def raises(open: => java.io.InputStream): Boolean =
      try { val in = open; try in.readAllBytes() finally in.close(); false }
      catch { case _: ChecksumException => true }
    for ((name, create) <- writers) withClue(name) {
      val p = pathOf(tmp.resolve(s"$name.bin"))
      val out = create(p)
      out.write(bytes); out.close()
      assert(Files.exists(tmp.resolve(s".$name.bin.crc")))
      val f = new java.io.RandomAccessFile(tmp.resolve(s"$name.bin").toFile, "rw")
      try { f.seek(1000); val b = f.read(); f.seek(1000); f.write(b ^ 0xFF) } finally f.close()
      assert(raises(fs.open(p)))
      assert(raises(fc.open(p)))
    }
  }

  private def ppRow(tuid: String, price: Long, date: String, op: String) =
    s""""{$tuid}","$price","$date 00:00","PC1 1AA","F","N","L","1","","ST","","TOWN","DIST","COUNTY","A","$op""""

  private val streamSchema = StructType(StructField("seq", LongType) +:
    PricePaidCsv.columns.map {
      case "price" => StructField("price", LongType)
      case "transaction_date" => StructField("transaction_date", DateType)
      case c => StructField(c, StringType)
    })

  private def write(root: java.nio.file.Path, name: String, lines: Seq[String]): String = {
    val f = root.resolve(name)
    Files.createDirectories(f.getParent)
    Files.write(f, lines.mkString("\n").getBytes("UTF-8")).toString
  }

  /** One streamed change file under `root/incoming` (the CDC stream's
    * CSV layout: `seq` first, then the price-paid columns). */
  private def incoming(root: java.nio.file.Path, name: String, seq: Long, tuid: String,
                       price: Long): Unit =
    write(root, s"incoming/$name", Seq(
      Seq(seq.toString, tuid, price.toString, "2024-04-10", "PC1 1AA", "F", "N", "L", "1", "",
        "ST", "", "TOWN", "DIST", "COUNTY", "A", "C").map(f => "\"" + f + "\"").mkString(",")))

  /** One available-now trigger of the CDC stream over `root/incoming`,
    * checkpointed under `root/ckpt`. */
  private def streamOnce(root: java.nio.file.Path, table: String): Unit =
    CdcStream.applyUpdates(
        spark.readStream.schema(streamSchema).option("quote", "\"").option("escape", "\"")
          .csv(root.resolve("incoming").toString),
        table, "transaction_unique_id", Pipeline.compareCols, "seq")
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** initialize + decideAndLog + applyMonthly + one available-now CDC
    * stream trigger, on a small table under `root`. */
  private def monthlyCycle(root: java.nio.file.Path): Unit = {
    val complete = write(root, "pp-complete.csv",
      (1 to 40).map(i => ppRow(s"T$i", 100000 + i, f"2024-${1 + i % 6}%02d-10", "A")))
    val update = write(root, "pp-monthly-update.csv", Seq(
      ppRow("T1", 150000, "2024-02-10", "C"), ppRow("T2", 100002, "2024-03-10", "D"),
      ppRow("T99", 990000, "2024-05-10", "A")))
    incoming(root, "update_1.csv", 1, "{T3}", 180000)
    val table = root.resolve("price_paid").toString
    Pipeline.initialize(spark, complete, table)
    val (decision, _) = Pipeline.decideAndLog(spark, root.resolve("log").toString,
      "pp-monthly-update.csv", PricePaidCsv.normalized(spark, update))
    assert(decision === "archive")
    assert(Pipeline.applyMonthly(spark, update, table)("add_and_added") === 1L)
    streamOnce(root, table)
    assert(Pipeline.current(spark, table)
      .filter("transaction_unique_id = '{T3}'").select("price").head().getLong(0) === 180000L)
  }

  test("a flipped byte in a stream checkpoint's offset log fails the restarted query") {
    val root = Files.createTempDirectory("localfs_ckpt")
    val complete = write(root, "pp-complete.csv",
      (1 to 12).map(i => ppRow(s"T$i", 100000 + i, f"2024-${1 + i % 6}%02d-10", "A")))
    val table = root.resolve("price_paid").toString
    Pipeline.initialize(spark, complete, table)
    incoming(root, "update_1.csv", 1, "{T3}", 180000)
    streamOnce(root, table)
    val offsets = root.resolve("ckpt/offsets")
    val last = Files.list(offsets).iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).maxBy(_.toLong)
    assert(Files.exists(offsets.resolve(s".$last.crc")))
    val f = new java.io.RandomAccessFile(offsets.resolve(last).toFile, "rw")
    try { f.seek(f.length / 2); val b = f.read(); f.seek(f.length / 2); f.write(b ^ 0x01) }
    finally f.close()
    incoming(root, "update_2.csv", 2, "{T4}", 190000)
    val e = intercept[Exception](streamOnce(root, table))
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(_.isInstanceOf[ChecksumException]), e)
  }

  test("the monthly write path starts no process: initialize, decide, apply, stream") {
    // one unrecorded cycle first: JVM-lifetime probes (Hadoop's setsid
    // check and the like) happen once per process, not per write
    monthlyCycle(Files.createTempDirectory("localfs_warm"))
    val root = Files.createTempDirectory("localfs_forks")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try monthlyCycle(root) finally rec.stop()
    val dump = Files.createTempFile("localfs_forks", ".jfr")
    rec.dump(dump)
    rec.close()
    val started = RecordingFile.readAllEvents(dump).asScala.map(_.getString("command"))
    assert(started.isEmpty, started.mkString(s"${started.size} processes started: ", "; ", ""))
    // the checkpoint's renamed files keep their checksums and leave no
    // sidecar behind
    val crcs = Files.walk(root.resolve("ckpt")).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".crc")).toSeq
    assert(crcs.nonEmpty)
    for (c <- crcs)
      assert(Files.walk(root.resolve("ckpt")).iterator().asScala
        .exists(_.getFileName.toString == c.stripPrefix(".").stripSuffix(".crc")), c)
  }
}
