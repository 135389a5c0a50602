package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** GIT-STYLE TAGS over the versioned snapshot store — immutable named
  * pointers to committed versions (Iceberg/Nessie tag refs; the
  * reference's analogue is keeping a dated database dump around for a
  * specific report run). Where a branch is a moving ref with its own
  * commit history, a tag never moves: it names one committed version
  * — "the corpus the March model trained on" — and PINS it against
  * retention, so reproducibility doesn't depend on sizing
  * `retainVersions` for the oldest consumer.
  *
  * Layout: `tablePath/_tags/<name>` holds the version number; the
  * create is conditional (tag uniqueness is atomic, the
  * [[Branches.createBranch]] discipline; re-pointing means delete +
  * recreate, exactly `git tag -d`).
  *
  * Retention interplay ([[Sinks.publishSnapshot]]'s prune): a pinned
  * version keeps its commit marker AND its version dir past the
  * retain window — and a tag on a DV/MoR chain head pins the WHOLE
  * chain (every parent link down to the base data version), because a
  * chain head whose parent was pruned is unreadable by design
  * (refuse-don't-guess). Deleting a tag releases the pin; the data
  * ages out on the next publish's prune, it is not reclaimed eagerly.
  * At 100 TB this is the difference between "reproducible training
  * set" and "retention ate my experiment": pins are O(tags) metadata
  * files read once per publish, never a data copy.
  */
object Tags {

  private def tagsRoot(tablePath: String) = s"$tablePath/_tags"

  private def tagPath(tablePath: String, name: String): org.apache.hadoop.fs.Path = {
    // the branch-ref precedent: a tag name is a single path segment
    require(name.nonEmpty && !name.contains('/') && !name.contains('\\') &&
      name != "." && name != "..",
      s"tag name must be a single path segment, got '$name'")
    new org.apache.hadoop.fs.Path(tagsRoot(tablePath), name)
  }

  /** Tag `version` (default: the current main head) as `name`.
    * Conditional create — tagging an existing name fails atomically.
    * Only COMMITTED versions are taggable: a branch-only version's
    * lifetime belongs to its ref (deleteBranch would GC the data out
    * from under the tag), and an unmarked dir may be a publisher
    * still writing. */
  def createTag(spark: SparkSession, tablePath: String, name: String,
                version: Option[Long] = None): Long = {
    val v = version.getOrElse(Sinks.requireHead(spark, tablePath, "to tag"))
    val committed = Sinks.listVersions(spark, tablePath)
    require(committed.contains(v),
      s"cannot tag version $v of $tablePath: not a committed, retained version " +
      s"(committed + retained: ${committed.mkString("[", ", ", "]")}); branch-only " +
      "versions are not taggable — merge first")
    val tp = tagPath(tablePath, name)
    val fs = Sinks.hadoopFs(spark, tp)
    fs.mkdirs(tp.getParent)
    val created =
      if (fs.getScheme == "file") {
        val p = java.nio.file.Paths.get(tp.toUri.getPath)
        try { java.nio.file.Files.write(p, v.toString.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else {
        try { val out = fs.create(tp, false)
          try out.write(v.toString.getBytes("UTF-8")) finally out.close(); true }
        catch { case _: java.io.IOException if fs.exists(tp) => false }
      }
    if (!created) throw new java.io.IOException(
      s"tag '$name' already exists at $tablePath (tags are immutable; " +
      "delete and recreate to re-point)")
    // the create races a concurrent publish's retention prune: the
    // prune reads pinnedVersions ONCE, so a tag created after that
    // listing but before the marker/dir deletes finish can point at a
    // version the prune is removing — the committed-version check
    // above passed a moment before the delete. Re-verify the pin took:
    // the version AND its whole DV/MoR chain must still be readable;
    // if not, release the half-taken pin and fail loudly (the caller
    // retries against the new live version) rather than leave a tag
    // whose reads fail forever and whose "pins against retention"
    // guarantee is silently void.
    val chain = DeletionVectors.chainVersions(spark, tablePath, v)
    val readable = Sinks.listVersions(spark, tablePath).toSet
    val gone = chain.filterNot(readable)
    if (gone.nonEmpty) {
      fs.delete(tp, false)
      throw new ConcurrentSnapshotUpdate(
        s"tag '$name' on version $v of $tablePath did not take: chain version(s) " +
        s"${gone.sorted.mkString(",")} were pruned by a concurrent publish's " +
        "retention sweep before the pin landed — the tag was released; re-tag a " +
        "still-retained version")
    }
    v
  }

  /** The version `name` pins. */
  def tagVersion(spark: SparkSession, tablePath: String, name: String): Long = {
    val tp = tagPath(tablePath, name)
    val fs = Sinks.hadoopFs(spark, tp)
    if (!fs.exists(tp)) throw new java.io.FileNotFoundException(
      s"no tag '$name' at $tablePath")
    val in = fs.open(tp)
    try {
      val buf = new Array[Byte](32)
      val n = in.read(buf)
      new String(buf, 0, n, "UTF-8").trim.toLong
    } finally in.close()
  }

  /** Every tag and the version it pins. */
  def listTags(spark: SparkSession, tablePath: String): Map[String, Long] = {
    val root = new org.apache.hadoop.fs.Path(tagsRoot(tablePath))
    val fs = Sinks.hadoopFs(spark, root)
    if (!fs.exists(root)) Map.empty
    else fs.listStatus(root).toSeq.filter(_.isFile).map { s =>
      s.getPath.getName -> tagVersion(spark, tablePath, s.getPath.getName)
    }.toMap
  }

  /** Read the tagged state, DV/MoR chain resolved (the [[Branches.readBranch]]
    * posture: a tag may pin a chain head, whose state exists only merged). */
  def readTag(spark: SparkSession, tablePath: String, name: String): DataFrame =
    DeletionVectors.readMergedAt(spark, tablePath,
      tagVersion(spark, tablePath, name))

  /** Release the pin. The data ages out through the NEXT publish's
    * retention prune — nothing is reclaimed eagerly, so a reader that
    * resolved the tag a moment ago keeps its pinned immutable dir. */
  def deleteTag(spark: SparkSession, tablePath: String, name: String): Unit = {
    val tp = tagPath(tablePath, name)
    val fs = Sinks.hadoopFs(spark, tp)
    fs.delete(tp, false)
  }

  /** Versions retention must never prune: every tagged version plus
    * its full DV/MoR parent chain (a pinned chain head with a pruned
    * parent would be unreadable by design). O(tags · chain-length)
    * metadata reads, once per publish. */
  private[sources] def pinnedVersions(spark: SparkSession, tablePath: String): Set[Long] =
    listTags(spark, tablePath).values.toSet.flatMap {
      (v: Long) => DeletionVectors.chainVersions(spark, tablePath, v)
    }
}
