package graft.util

/** Per-JVM scratch space for registered queries that materialize a
  * working copy (a published snapshot, a persisted index, a streaming
  * checkpoint). Everything lives under one temp root that a shutdown
  * hook removes, so repeated benchmark/verify runs in one JVM — and
  * across JVMs on one host — never accumulate disk.
  */
object Scratch {

  private lazy val root: java.nio.file.Path = {
    val r = java.nio.file.Files.createTempDirectory("graft_scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(r.toFile)))
    r
  }

  private[graft] def deleteRec(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRec)
    f.delete()
    ()
  }

  /** A fresh directory under the self-cleaning root. */
  def dir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(root, prefix).toString

  /** A mutable copy of the fixture tree at `template` (which stays
    * untouched) as `<into>/<last segment of template>`; returns its path. */
  def copy(spark: org.apache.spark.sql.SparkSession, template: String, into: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(template)
    val dst = new org.apache.hadoop.fs.Path(into, src.getName)
    org.apache.hadoop.fs.FileUtil.copy(
      src.getFileSystem(conf), src, dst.getFileSystem(conf), dst, false, conf)
    dst.toString
  }

  /** One per-JVM cache of what a registered query builds once per
    * source directory and then reuses: `fx(dir) { tmp => … }` runs the
    * build on the first call for `dir` only, handing it a fresh
    * directory under the root, and returns the cached value on every
    * later call. Each key holds a lazy cell evaluated outside the map's
    * lock, so a build may call other fixtures (or this one with another
    * key) and concurrent callers of one key wait for one build. A build
    * that throws caches nothing; the next call builds again. */
  final class Fixture[T](prefix: String) {
    private final class Cell(build: String => T) {
      lazy val value: T = build(dir(prefix))
    }
    private val cells = new java.util.concurrent.ConcurrentHashMap[String, Cell]()

    def apply(key: String)(build: String => T): T = {
      val cell = cells.computeIfAbsent(key, _ => new Cell(build))
      try cell.value
      catch { case e: Throwable => cells.remove(key, cell); throw e }
    }
  }
}
