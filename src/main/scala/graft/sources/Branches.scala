package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.SnapshotDiff

/** Conflict found by a three-way [[Branches.mergeBranch]] under the
  * `fail` policy: both main and the branch changed the same key since
  * the branch base, and not to the same state. */
class BranchMergeConflict(msg: String) extends java.io.IOException(msg)

/** GIT-STYLE BRANCHES over the versioned snapshot store — the
  * lakehouse workflow (Nessie / LakeFS "data as code") the reference
  * approximates by hand: its monthly updater effectively prepares next
  * month's state "on the side" and swaps it in
  * (`land_registry_monthly_update_database_upload.py` builds the
  * changed rows before any consumer sees them). A branch makes that
  * side-state first-class: publish experiments or staged updates on an
  * isolated ref, validate them, then merge — fast-forward when main
  * has not moved, three-way when it has.
  *
  * Layout (extends [[Sinks]]' claim/marker protocol; nothing about the
  * main read path changes):
  *
  *   tablePath/_branches/<name>/base       branch-off version (digits);
  *                                         conditional create = branch
  *                                         uniqueness
  *   tablePath/_branches/<name>/m????????  branch commit markers —
  *                                         same NAME-IS-VERSION scheme
  *                                         as `_manifests`
  *
  * Version NUMBERS stay global: a branch publish claims through the
  * same `_claims` conditional-create as main, so branch and main
  * writers can never collide on a directory, and a branch version dir
  * is just another immutable `v????????` — invisible to main readers
  * because only `_manifests` markers make a version live on main.
  * Main's retention prune only ever deletes `_manifests`-marked
  * versions, so branch-only versions are never swept from under a
  * branch reader. Consequences, stated honestly:
  *
  *  - the branch BASE is a main version and ages out through main's
  *    `retainVersions` like any other — a three-way merge needs the
  *    base readable and fails loudly if retention already pruned it.
  *    Branch lifetimes must fit the retention window (or publish with
  *    a window sized for the branching workflow).
  *  - FAST-FORWARD merge is one conditional marker create — zero data
  *    movement at any scale, the same O(1) commit as a publish.
  *  - merges follow [[Sinks.compactSnapshot]]'s concurrency stance:
  *    the three-way publish carries `expectedVersion = mainHead + 1`,
  *    so a concurrent main publisher makes the merge ABORT before
  *    writing (retry against the new head) rather than bury the
  *    publisher's commit; the fast-forward path verifies after its
  *    marker lands that no foreign marker slipped into the gap and
  *    fails loudly on the (slow-publisher) race it cannot prevent.
  */
object Branches {

  private def branchesRoot(tablePath: String) = s"$tablePath/_branches"

  private def branchPath(tablePath: String, name: String): org.apache.hadoop.fs.Path = {
    // the writeZips precedent: a ref name is a single path segment,
    // never a traversal
    require(name.nonEmpty && !name.contains('/') && !name.contains('\\') &&
      name != "." && name != "..",
      s"branch name must be a single path segment, got '$name'")
    new org.apache.hadoop.fs.Path(branchesRoot(tablePath), name)
  }

  /** Versions marked by ANY ref under `_branches` — the claim-space
    * numbers an OCC main publisher must look PAST: a settled branch
    * version consumed a global number but is not, and will never
    * become (short of a fast-forward merge), a concurrent MAIN
    * commit. Consumed by [[Sinks.publishSnapshot]]'s exact-version
    * path and [[DeletionVectors.publishDeletes]]; without the skip, a
    * branch publish would make every subsequent parent+1 OCC commit
    * on main abort spuriously. */
  private[sources] def branchMarkedVersions(spark: SparkSession,
                                            tablePath: String): Set[Long] = {
    val root = new org.apache.hadoop.fs.Path(branchesRoot(tablePath))
    val fs = Sinks.hadoopFs(spark, root)
    if (!fs.exists(root)) Set.empty
    else fs.listStatus(root).toSeq.filter(_.isDirectory)
      .flatMap(b => Sinks.markersIn(fs, b.getPath).map(_._1)).toSet
  }

  /** Create `name` at the current main head and return the base
    * version. The `base` file is a conditional create, so creating an
    * existing branch fails (atomically) instead of re-pointing it. */
  def createBranch(spark: SparkSession, tablePath: String, name: String): Long = {
    val base = Sinks.requireHead(spark, tablePath, "to branch from")
    val bdir = branchPath(tablePath, name)
    val fs = Sinks.hadoopFs(spark, bdir)
    fs.mkdirs(bdir)
    val baseFile = new org.apache.hadoop.fs.Path(bdir, "base")
    val created =
      if (fs.getScheme == "file") {
        val p = java.nio.file.Paths.get(baseFile.toUri.getPath)
        try { java.nio.file.Files.write(p, base.toString.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else {
        try { val out = fs.create(baseFile, false)
          try out.write(base.toString.getBytes("UTF-8")) finally out.close(); true }
        catch { case _: java.io.IOException if fs.exists(baseFile) => false }
      }
    if (!created) throw new java.io.IOException(
      s"branch '$name' already exists at $tablePath")
    // head starts at base: a marker for the base version
    fs.create(Sinks.markerIn(bdir, base), false).close()
    base
  }

  /** The version this branch branched off. */
  def branchBase(spark: SparkSession, tablePath: String, name: String): Long = {
    val baseFile = new org.apache.hadoop.fs.Path(branchPath(tablePath, name), "base")
    val fs = Sinks.hadoopFs(spark, baseFile)
    if (!fs.exists(baseFile)) throw new java.io.FileNotFoundException(
      s"no branch '$name' at $tablePath")
    val in = fs.open(baseFile)
    try {
      val buf = new Array[Byte](32)
      val n = in.read(buf)
      new String(buf, 0, n, "UTF-8").trim.toLong
    } finally in.close()
  }

  /** The branch head: newest branch commit marker, if the branch
    * exists. A branch whose `base` file exists but whose initial head
    * marker is missing — the crash window of [[createBranch]], which
    * writes them as two separate creates — is treated as head == base
    * (the state the crashed create was about to record), so merge /
    * rebase / publish on a half-created branch behave exactly as on a
    * fresh one instead of throwing on a missing marker or silently
    * publishing without carried schema metadata. */
  def branchHead(spark: SparkSession, tablePath: String, name: String): Option[Long] = {
    val bdir = branchPath(tablePath, name)
    val fs = Sinks.hadoopFs(spark, bdir)
    if (!fs.exists(bdir)) None
    else Sinks.markersIn(fs, bdir).map(_._1).maxOption.orElse {
      val baseFile = new org.apache.hadoop.fs.Path(bdir, "base")
      if (fs.exists(baseFile)) Some(branchBase(spark, tablePath, name)) else None
    }
  }

  /** Claim the next free number from the shared `_claims` space past
    * every version dir that exists, committed or branch-only — the
    * walk-up every branch-side publish uses (single-writer-per-ref,
    * so no OCC abort). */
  private[sources] def claimBranchVersion(spark: SparkSession,
                                          tablePath: String): Long =
    Sinks.claimNext(Sinks.hadoopFs(spark, new org.apache.hadoop.fs.Path(tablePath)), tablePath)

  /** Advance `name`'s head to `v` (a marker create in the ref's own
    * namespace — invisible to main readers). */
  private[sources] def markBranchVersion(spark: SparkSession, tablePath: String,
                                         name: String, v: Long): Unit = {
    val bdir = branchPath(tablePath, name)
    val fs = Sinks.hadoopFs(spark, bdir)
    if (!fs.exists(new org.apache.hadoop.fs.Path(bdir, "base")))
      throw new java.io.FileNotFoundException(s"no branch '$name' at $tablePath")
    fs.create(Sinks.markerIn(bdir, v), false).close()
  }

  /** Read the branch head state, DV/MoR chain resolved — a head may be
    * the ref's base (a main version, possibly itself a chain), a plain
    * branch data dir, or a branch-staged MoR link
    * ([[DeletionVectors.publishDeletesToBranch]]); `readMergedAt`
    * resolves all three (it reads anything marked by any ref). */
  def readBranch(spark: SparkSession, tablePath: String, name: String): DataFrame = {
    val head = branchHead(spark, tablePath, name).getOrElse(
      throw new java.io.FileNotFoundException(s"no branch '$name' at $tablePath"))
    DeletionVectors.readMergedAt(spark, tablePath, head)
  }

  /** Publish `df` as the branch's next commit. The version number is
    * claimed through the SAME `_claims` space as main publishes, the
    * data lands in an ordinary immutable version dir, and only the
    * branch's marker namespace advances — main readers cannot observe
    * any of it. Returns the branch's new head version.
    *
    * SCHEMA metadata rides along: the id mapping governing the ref
    * head (or, after a rebase, `metaFromVersion`) is carried onto the
    * branch version — resolved through any DV chain at the source —
    * so an EVOLVED table's branch commits keep their id lineage and a
    * fast-forward never puts a mapping-less version live. Branch
    * publishes cannot CHANGE schema (names must match the carried
    * mapping; evolve on main, then rebase) — without this guard a
    * renamed branch frame would ship under a stale mapping and every
    * as-of read through it would lie. */
  def publishToBranch(df: DataFrame, dateCol: String, tablePath: String,
                      name: String,
                      writerOptions: Map[String, String] = Map.empty,
                      metaFromVersion: Option[Long] = None): Long = {
    val spark = df.sparkSession
    val bdir = branchPath(tablePath, name)
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = Sinks.hadoopFs(spark, root)
    if (!fs.exists(new org.apache.hadoop.fs.Path(bdir, "base")))
      throw new java.io.FileNotFoundException(s"no branch '$name' at $tablePath")
    val metaSrc = metaFromVersion.orElse(branchHead(spark, tablePath, name))
    val carried: Map[String, String] = metaSrc match {
      case Some(v) => Sinks.versionMeta(spark, tablePath,
        DeletionVectors.baseDataVersion(spark, tablePath, v)) - FileStats.metaName
      case None => Map.empty
    }
    carried.get(SchemaEvolution.schemaMetaName).foreach { content =>
      val names = SchemaEvolution.parseSchema(content).map(_.name).toSet
      require(df.columns.toSet == names,
        s"branch '$name' publish columns ${df.columns.sorted.mkString(",")} must match " +
        s"the governing schema ${names.toSeq.sorted.mkString(",")} — branch publishes " +
        "cannot change schema; evolve on main, then rebase")
    }
    val next = claimBranchVersion(spark, tablePath)
    val vdir = Sinks.versionDir(tablePath, next)
    // branch full-frame publishes enforce the TABLE's CHECK
    // constraints like every other write path (in-flight, one pass —
    // [[Constraints.guard]]): a branch is merge-bound for main
    Constraints.stagedWrite(spark, tablePath, next) {
      Sinks.writeMonthlySnapshot(
        Constraints.guard(df, tablePath, s"branch '$name' publish"),
        dateCol, vdir, writerOptions)
    }
    carried.foreach { case (mname, content) =>
      val out = fs.create(
        new org.apache.hadoop.fs.Path(s"$vdir/${Sinks.metaPrefix}$mname"), true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    markBranchVersion(spark, tablePath, name, next)
    next
  }

  /** Chain- and schema-resolved state of `v` for merge arithmetic:
    * every side resolves its full DV/MoR chain
    * ([[DeletionVectors.readMergedAt]], which reads anything marked
    * by any ref — a raw read of a vector-only version dir would find
    * no data files at all). When `target` is an evolved mapping, the
    * state projects onto it BY ID, so every side of a three-way diff
    * speaks main's CURRENT names even when the branch predates a
    * rename. */
  private def mergeState(spark: SparkSession, tablePath: String, v: Long,
                         target: Option[Seq[SchemaEvolution.ColMeta]]): DataFrame = {
    val phys = DeletionVectors.readMergedAt(spark, tablePath, v)
    target match {
      case Some(t) =>
        val atV = SchemaEvolution.schemaOf(spark, tablePath, v).getOrElse(
          throw new IllegalStateException(
            s"version $v of $tablePath has no schema mapping but the merge " +
            "target does — it predates evolution and cannot be id-resolved"))
        SchemaEvolution.projectByIds(phys, atV, t)
      case None => phys
    }
  }

  /** The three-way divergence of a branch against main: branch-side
    * and main-side change feeds since the base (both change-sized —
    * one keyed full-outer join each, see [[SnapshotDiff.diffOf]]) and
    * the CONFLICTS between them — keys BOTH sides changed, minus keys
    * both sides drove to the identical state (same change type, all
    * new values null-safe equal — Git's "both added the same line").
    * All three states are chain-resolved and id-projected onto main's
    * current schema first ([[mergeState]]), so a rename on main while
    * the branch was open diffs as itself and a DV/MoR-amended head
    * diffs by its MERGED rows. Exposed for dry-run tooling;
    * [[mergeBranch]] consumes it. */
  def divergence(spark: SparkSession, tablePath: String, name: String,
                 key: String, compareCols: Seq[String])
      : (DataFrame, DataFrame, DataFrame) = {
    val base = branchBase(spark, tablePath, name)
    val bHead = branchHead(spark, tablePath, name).getOrElse(
      throw new java.io.FileNotFoundException(s"no branch '$name' at $tablePath"))
    val mHead = Sinks.requireHead(spark, tablePath)
    val target = SchemaEvolution.schemaOf(spark, tablePath, mHead)
    val baseDf = mergeState(spark, tablePath, base, target)
    val theirs = SnapshotDiff.diffOf(baseDf, mergeState(spark, tablePath, bHead, target),
      key, compareCols)
    val ours = SnapshotDiff.diffOf(baseDf, mergeState(spark, tablePath, mHead, target),
      key, compareCols)
    val sameState = compareCols.map(c =>
        col(s"t.new_$c") <=> col(s"o.new_$c")).reduce(_ && _) &&
      col(s"t.change_type") === col(s"o.change_type")
    val conflicts = theirs.as("t").join(ours.as("o"), col(s"t.$key") === col(s"o.$key"))
      .filter(!sameState)
      .select(col(s"t.$key").as(key),
        col(s"t.change_type").as("branch_change"),
        col(s"o.change_type").as("main_change"))
    (theirs, ours, conflicts)
  }

  /** MERGE the branch into main and return the new main head.
    *
    *  - branch head == base: nothing to merge; returns main head.
    *  - main head == base (main never moved): FAST-FORWARD — one
    *    conditional create of `_manifests/m<branchHead>`; the branch's
    *    immutable version dir simply BECOMES the live main version,
    *    zero bytes rewritten. Afterwards the marker list is re-checked:
    *    a foreign marker inside (base, branchHead) means a slow
    *    concurrent publisher committed into the gap — detected and
    *    raised (the one race conditional creates cannot close; see the
    *    class doc), never silently buried.
    *  - diverged: three-way row merge. Keys changed only on the branch
    *    take the branch state; keys changed only on main keep main's;
    *    keys changed on BOTH to different states are conflicts —
    *    `onConflict = "fail"` (default) raises [[BranchMergeConflict]]
    *    with a count and sample, `"ours"` keeps main, `"theirs"` takes
    *    the branch. The merged state is main + the branch feed applied
    *    ([[SnapshotDiff.applyDiff]] — change-sized work over one keyed
    *    join), published with `expectedVersion = mainHead + 1` so a
    *    racing main publisher aborts the merge instead of being
    *    shadowed (the compaction OCC precedent).
    *
    * The merge commits on MAIN only; the branch ref stays where it was
    * (delete it with [[deleteBranch]] when done, or keep publishing to
    * it and merge again later — its base does not move).
    *
    * Columns ADDED on main while the branch was open: the merge is
    * row-image, not cell-wise. The branch's id-projected state
    * NULL-FILLS columns it never knew, and the publish that populated
    * the new column made every key a main-side update — so every
    * branch-changed key surfaces as an update/update CONFLICT (fail
    * raises; "theirs" takes the branch row WITH the null; "ours"
    * keeps main's populated row, dropping the branch's edit). The
    * branch diverged before the column existed and has no cell to
    * offer — no resolution can keep both the branch's edit and main's
    * new cell; rebase the branch after the add and re-publish with
    * the column populated when that outcome matters. Spec-pinned in
    * BranchSpec; the branch walk pins the null-free interactions
    * (renames and drops mid-branch). */

  /** Classify main markers above a just-fast-forwarded head: a DV/MoR
    * commit whose parent chain walks THROUGH `bHead` provably built on
    * the post-merge state — a legitimate successor that includes this
    * merge in its history, not a shadow. Everything else (a plain
    * rebuild, or a link chained past the then-branch-only numbers onto
    * the stale pre-merge head) cannot be proven to include the merged
    * content and is reported as a shadow. Unresolvable provenance
    * (e.g. a version still settling) classifies conservatively. */
  private[graft] def ffShadows(spark: SparkSession, tablePath: String,
                               bHead: Long, allMarkers: Seq[Long]): Seq[Long] =
    allMarkers.filter(_ > bHead).filter { v =>
      try !DeletionVectors.chainVersions(spark, tablePath, v).contains(bHead)
      catch { case scala.util.control.NonFatal(_) => true }
    }
  def mergeBranch(spark: SparkSession, tablePath: String, name: String,
                  key: String, compareCols: Seq[String], dateCol: String,
                  onConflict: String = "fail",
                  retainVersions: Int = 2): Long = {
    require(Set("fail", "ours", "theirs")(onConflict),
      s"onConflict must be fail|ours|theirs, got '$onConflict'")
    // the merged state is rebuilt from (key, compareCols) alone — the
    // publish's partition column must be among them or it would vanish
    require((key +: compareCols).contains(dateCol),
      s"dateCol '$dateCol' must be the key or a compare column to survive the merge")
    val base = branchBase(spark, tablePath, name)
    val bHead = branchHead(spark, tablePath, name).get
    val mHead = Sinks.requireHead(spark, tablePath)
    if (bHead == base) return mHead // branch never moved: nothing to merge
    if (mHead == base) {
      // fast-forward: the branch head becomes live via marker creates.
      // A branch-staged MoR head chains over branch-only parent links —
      // adopting only the head would leave main history with parents no
      // `_manifests` marker makes readable — so every chain link above
      // the base is adopted too, OLDEST FIRST: each prefix a concurrent
      // reader may momentarily resolve is a consistent state the branch
      // itself passed through, and the head marker completes the
      // adoption. A plain (full-frame) head has no links: one create.
      val chainLinks = DeletionVectors.chainVersions(spark, tablePath, bHead)
        .filter(v => v > base && v < bHead).sorted
      (chainLinks :+ bHead).foreach { v =>
        if (!Sinks.tryMark(Sinks.hadoopFs(spark, new org.apache.hadoop.fs.Path(tablePath)),
            tablePath, v))
          throw new ConcurrentSnapshotUpdate(
            s"fast-forward of '$name' onto $tablePath: marker m$v already exists")
      }
      // detection of the slow-publisher race: any FOREIGN marker that
      // landed strictly inside (base, bHead) is now shadowed by ours,
      // and any foreign marker ABOVE bHead is an OCC publisher that
      // walked past the (then branch-only) numbers and committed a
      // state built on the stale pre-merge head — it now shadows THIS
      // merge. Both are detected and raised, never silently buried;
      // this check is the ff side of the mutual detection pair with
      // [[Sinks.claimExpectedVersion]]'s post-claim / pre-marker
      // re-checks (whichever commitment act lands second, that side's
      // re-list sees the other's marker).
      val allMarkers = Sinks.committed(spark, tablePath).map(_._1)
      val interleaved = allMarkers
        .filter(v => v > base && v < bHead && !chainLinks.contains(v))
      if (interleaved.nonEmpty)
        throw new ConcurrentSnapshotUpdate(
          s"fast-forward of '$name' onto $tablePath raced a concurrent publish " +
          s"(markers ${interleaved.mkString(",")} inside ($base, $bHead)); the " +
          "branch content is committed but does NOT include those versions — " +
          "merge their changes forward before trusting the head")
      // provenance before raising: a DV/MoR commit above bHead whose
      // parent chain walks THROUGH bHead provably built on the
      // post-merge head — a legitimate, consistent successor, not a
      // shadow — so a publisher landing in the sub-second window after
      // our markers must not turn a successful merge into a reported
      // failure (callers like runWapIngest would fail and replay a
      // batch whose state had in fact advanced). Only commits whose
      // history does NOT include this merge (a plain rebuild, or a
      // link chained past the then-branch-only numbers onto the stale
      // pre-merge head) raise.
      val shadows = ffShadows(spark, tablePath, bHead, allMarkers)
      if (shadows.nonEmpty)
        throw new ConcurrentSnapshotUpdate(
          s"fast-forward of '$name' onto $tablePath is committed but main " +
          s"commit(s) ${shadows.sorted.mkString(",")} landed above it without this " +
          "merge in their parent chain — if that publisher built on the pre-merge " +
          "head its state does not include this branch's content; verify and " +
          "re-merge forward before trusting the head")
      bHead
    } else {
      val target = SchemaEvolution.schemaOf(spark, tablePath, mHead)
      requireFullPayload(target, key, compareCols, "merge")
      val (theirs, _, conflicts) = divergence(spark, tablePath, name, key, compareCols)
      val feed = onConflict match {
        case "theirs" => theirs
        case "ours"   => theirs.join(conflicts.select(key), Seq(key), "left_anti")
        case "fail" =>
          // one bounded action: count + a small sample for the message
          val sample = conflicts.limit(6).collect()
          if (sample.nonEmpty) {
            val n = conflicts.count()
            throw new BranchMergeConflict(
              s"merge of '$name' into $tablePath: $n conflicting key(s), e.g. " +
              sample.take(5).map(r => s"${r.get(0)}(${r.getString(1)}/${r.getString(2)})")
                .mkString(", ") +
              " — resolve with onConflict=ours|theirs or rebase the branch")
          }
          theirs
      }
      val mainDf = mergeState(spark, tablePath, mHead, target)
      val merged = SnapshotDiff.applyDiff(mainDf, feed, key, compareCols)
      // the merged publish is content-rebuilding but schema-neutral,
      // so main's id mapping (and the maxid high-water mark) must ride
      // onto it — the materializeDeletes precedent; file stats are
      // recomputed for the new layout rather than carried
      val carried = Sinks.versionMeta(spark, tablePath,
        DeletionVectors.baseDataVersion(spark, tablePath, mHead))
      Sinks.publishSnapshot(merged, dateCol, tablePath,
        retainVersions = retainVersions, expectedVersion = Some(mHead + 1),
        extraMeta = carried - FileStats.metaName,
        statsCols = carried.get(FileStats.metaName)
          .map(FileStats.colsOf).getOrElse(Nil))
    }
  }

  /** A three-way merge/rebase rebuilds FULL row images from
    * `(key, compareCols)` — on an evolved table those must cover the
    * live schema exactly, or the rebuilt publish would silently drop
    * (or invent) columns its carried id mapping still declares. */
  private def requireFullPayload(target: Option[Seq[SchemaEvolution.ColMeta]],
                                 key: String, compareCols: Seq[String],
                                 what: String): Unit =
    target.foreach { t =>
      val declared = t.map(_.name).toSet
      val given = (key +: compareCols).toSet
      require(given == declared,
        s"evolved-table $what rebuilds full rows: key+compareCols " +
        s"${given.toSeq.sorted.mkString(",")} must equal the live schema " +
        s"${declared.toSeq.sorted.mkString(",")}")
    }

  /** REBASE the branch onto the current main head: replay the branch's
    * change feed since its base onto main's CURRENT state as a new
    * branch commit, then advance the branch base to the main head —
    * after which [[mergeBranch]] is a pure marker-only fast-forward
    * (as long as main holds still). This is the resolution path the
    * conflict message points at: rebase, re-validate on the branch,
    * merge clean.
    *
    * Conflict policy matches [[mergeBranch]] AND Git's rebase seats:
    * `"ours"` is main (the side being rebased ONTO — the conflicting
    * branch change is dropped), `"theirs"` is the branch. Returns the
    * branch's new head version.
    *
    * Concurrency contract, stated honestly: a branch ref has ONE
    * writer (the Git model — nobody rebases a branch from two clients
    * at once), so the base advance is a plain overwrite, not a
    * conditional create. Crash between the replayed publish and the
    * base advance leaves base stale with the replayed head live on the
    * branch; the stale-base divergence then re-reports main's own
    * changes as branch changes, which are identical-state against
    * main's feed and therefore merge as NON-conflicts — a redundant
    * but correct three-way merge, never a wrong state. */
  def rebaseBranch(spark: SparkSession, tablePath: String, name: String,
                   key: String, compareCols: Seq[String], dateCol: String,
                   onConflict: String = "fail"): Long = {
    require(Set("fail", "ours", "theirs")(onConflict),
      s"onConflict must be fail|ours|theirs, got '$onConflict'")
    require((key +: compareCols).contains(dateCol),
      s"dateCol '$dateCol' must be the key or a compare column to survive the rebase")
    val base = branchBase(spark, tablePath, name)
    val bHead = branchHead(spark, tablePath, name).get
    val mHead = Sinks.requireHead(spark, tablePath)
    if (mHead == base) return bHead // already based on main's head
    val bdir = branchPath(tablePath, name)
    val fs = Sinks.hadoopFs(spark, bdir)
    if (bHead == base) {
      // no branch commits to replay: just advance the ref. mHead is a
      // committed main version, so deleteBranch can never GC it.
      fs.create(Sinks.markerIn(bdir, mHead), false).close()
      overwriteBase(fs, bdir, mHead)
      return mHead
    }
    val target = SchemaEvolution.schemaOf(spark, tablePath, mHead)
    requireFullPayload(target, key, compareCols, "rebase")
    val (theirs, _, conflicts) = divergence(spark, tablePath, name, key, compareCols)
    val feed = onConflict match {
      case "theirs" => theirs
      case "ours"   => theirs.join(conflicts.select(key), Seq(key), "left_anti")
      case "fail" =>
        val sample = conflicts.limit(6).collect()
        if (sample.nonEmpty) {
          val n = conflicts.count()
          throw new BranchMergeConflict(
            s"rebase of '$name' onto $tablePath head $mHead: $n conflicting key(s), e.g. " +
            sample.take(5).map(r => s"${r.get(0)}(${r.getString(1)}/${r.getString(2)})")
              .mkString(", ") +
            " — resolve with onConflict=ours|theirs")
        }
        theirs
    }
    val rebased = SnapshotDiff.applyDiff(
      mergeState(spark, tablePath, mHead, target), feed, key, compareCols)
    // publish the replayed state FIRST, then advance the base — the
    // reverse order would leave a window where base > head (a diff in
    // the wrong direction); this order's window is the crash case the
    // doc comment proves redundant-but-correct. The replayed state
    // speaks main's CURRENT names, so it carries mHead's id mapping,
    // not the stale ref head's — after this the branch IS in the
    // evolved schema
    val v = publishToBranch(rebased, dateCol, tablePath, name,
      metaFromVersion = Some(mHead))
    overwriteBase(fs, bdir, mHead)
    v
  }

  /** Single-writer ref advance (see [[rebaseBranch]]'s contract). */
  private def overwriteBase(fs: org.apache.hadoop.fs.FileSystem,
                            bdir: org.apache.hadoop.fs.Path, v: Long): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(bdir, "base"), true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
  }

  // ---- Registered surface ----------------------------------------------

  /** `q_branch_merge`: both merge paths exercised end-to-end and
    * censused against one CLOSED-FORM DuckDB oracle over `orders`.
    * Scenario (the reference's staged-monthly-update workflow):
    * publish the base → branch `staged` → the branch updates key class
    * 7, deletes class 5 and inserts new keys derived from class 2
    * (offset by max(key), collision-free at any sf — the e2e
    * precedent) → MAIN independently updates class 3 (diverged, but
    * disjoint classes: zero conflicts by construction) → THREE-WAY
    * merge → census; then branch `ff` flips class 1 while main holds
    * still → FAST-FORWARD merge (marker-only commit) → census; then
    * branch `rb` flips class 9 while main flips class 8 → REBASE
    * (replays the branch feed onto the moved main) → ff merge of the
    * replayed commit → census. All three censuses are per-bucket
    * (count, exact decimal price sum surfaced as DOUBLE, 60-bit
    * key|status XOR) — every cell derivable from `orders` by modular
    * arithmetic without seeing a snapshot. Fixture builds once per
    * JVM (the group-publish precedent); each census is taken while
    * its state is live and PERSISTED (the next phase advances the
    * head past it). */
  def branchMergeResult(spark: SparkSession, dir: String): DataFrame = {
    def census(st: DataFrame, phase: String): DataFrame = st
      .select((col("o_orderkey") % 10).cast("long").as("bucket"), col("price"),
        graft.operators.Reconcile.xorHash60(
          concat_ws("|", col("o_orderkey").cast("string"), col("status"))).as("h"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        sum("price").cast("double").as("sum_price"),
        expr("bit_xor(h)").as("row_xor"))
      .select(lit(phase).as("phase"), col("bucket"), col("n_rows"),
        col("sum_price"), col("row_xor"))
    val fixture = branchFixtures(dir) { f =>
      val tbl = s"$f/tbl"
      val base = Tables.orders(spark, dir).select(
        col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_orderdate").cast("date").as("odate"),
        col("o_orderstatus").cast("string").as("status"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      // retention must keep the branch base readable through the walk
      Sinks.publishSnapshot(base, "odate", tbl, retainVersions = 6)
      createBranch(spark, tbl, "staged")
      // one bounded driver value: the insert-key offset (scale-proof)
      val maxKey = base.agg(max("o_orderkey")).head().getLong(0)
      val inserts = base.filter(col("o_orderkey") % 10 === 2).select(
        (col("o_orderkey") + lit(maxKey)).as("o_orderkey"),
        col("odate"), lit("N").as("status"),
        expr("CAST(100.00 + (o_orderkey % 50) AS DECIMAL(18,2))").as("price"))
      val branchSt = base.filter(col("o_orderkey") % 10 =!= 5)
        .withColumn("status",
          when(col("o_orderkey") % 10 === 7, lit("B")).otherwise(col("status")))
        .withColumn("price", expr(
          "CAST(CASE WHEN o_orderkey % 10 = 7 THEN price + CAST('11.11' AS DECIMAL(4,2)) " +
          "ELSE price END AS DECIMAL(18,2))"))
        .unionByName(inserts)
      publishToBranch(branchSt, "odate", tbl, "staged")
      val mainSt = base
        .withColumn("status",
          when(col("o_orderkey") % 10 === 3, lit("M")).otherwise(col("status")))
        .withColumn("price", expr(
          "CAST(CASE WHEN o_orderkey % 10 = 3 THEN price + CAST('5.00' AS DECIMAL(3,2)) " +
          "ELSE price END AS DECIMAL(18,2))"))
      Sinks.publishSnapshot(mainSt, "odate", tbl, retainVersions = 6)
      mergeBranch(spark, tbl, "staged", "o_orderkey",
        Seq("odate", "status", "price"), "odate", retainVersions = 6)
      census(Sinks.readSnapshot(spark, tbl), "merged")
        .coalesce(1).write.parquet(s"$f/merged")
      createBranch(spark, tbl, "ff")
      val ffSt = Sinks.readSnapshot(spark, tbl)
        .select("o_orderkey", "odate", "status", "price")
        .withColumn("status",
          when(col("o_orderkey") % 10 === 1, lit("F")).otherwise(col("status")))
      publishToBranch(ffSt, "odate", tbl, "ff")
      mergeBranch(spark, tbl, "ff", "o_orderkey",
        Seq("odate", "status", "price"), "odate", retainVersions = 6)
      census(Sinks.readSnapshot(spark, tbl), "ff")
        .coalesce(1).write.parquet(s"$f/ff")
      // REBASE phase: branch flips class 9 while main independently
      // flips class 8 (disjoint — zero conflicts); the rebase replays
      // the class-9 change onto main's moved state and the follow-up
      // merge is a pure fast-forward of the replayed commit
      createBranch(spark, tbl, "rb")
      val ffLive = Sinks.readSnapshot(spark, tbl)
        .select("o_orderkey", "odate", "status", "price")
      publishToBranch(ffLive.withColumn("status",
        when(col("o_orderkey") % 10 === 9, lit("R")).otherwise(col("status"))),
        "odate", tbl, "rb")
      Sinks.publishSnapshot(ffLive.withColumn("status",
        when(col("o_orderkey") % 10 === 8, lit("Z")).otherwise(col("status"))),
        "odate", tbl, retainVersions = 6)
      rebaseBranch(spark, tbl, "rb", "o_orderkey",
        Seq("odate", "status", "price"), "odate")
      mergeBranch(spark, tbl, "rb", "o_orderkey",
        Seq("odate", "status", "price"), "odate", retainVersions = 6)
      census(Sinks.readSnapshot(spark, tbl), "rebased")
        .coalesce(1).write.parquet(s"$f/rebased")
      f
    }
    spark.read.parquet(s"$fixture/merged")
      .unionByName(spark.read.parquet(s"$fixture/ff"))
      .unionByName(spark.read.parquet(s"$fixture/rebased"))
      .orderBy("phase", "bucket")
  }

  private val branchFixtures = new graft.util.Scratch.Fixture[String]("branch_fx")

  /** Registered `q_branch_mor` (hash-oracled): the O(changes) staging
    * workflow end-to-end against one closed-form `orders` oracle —
    * base publish (v1) → branch `stage` → DV-DELETE key class 5 as a
    * chain link (v2) → MoR-UPSERT class 7 (+11.11, status 'B') plus
    * class-2-derived inserts as a second link (v3) → chain-adopting
    * FAST-FORWARD (markers only; the staged link dirs BECOME main
    * history, zero rewrite) → census of the adopted intermediate
    * delete link (provably real history) and of the live merged head.
    * Per-bucket count, exact price sum as DOUBLE, 60-bit key|status
    * XOR — every cell modular arithmetic over `orders`. Fixture once
    * per JVM; the query times the merged reads. */
  def branchMorResult(spark: SparkSession, dir: String): DataFrame = {
    def census(st: DataFrame, phase: String): DataFrame = st
      .select((col("o_orderkey") % 10).cast("long").as("bucket"), col("price"),
        graft.operators.Reconcile.xorHash60(
          concat_ws("|", col("o_orderkey").cast("string"), col("status"))).as("h"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        sum("price").cast("double").as("sum_price"),
        expr("bit_xor(h)").as("row_xor"))
      .select(lit(phase).as("phase"), col("bucket"), col("n_rows"),
        col("sum_price"), col("row_xor"))
    val fixture = morFixtures(dir) { f =>
      val tbl = s"$f/tbl"
      val base = Tables.orders(spark, dir).select(
        col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_orderdate").cast("date").as("odate"),
        col("o_orderstatus").cast("string").as("status"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      Sinks.publishSnapshot(base, "odate", tbl, retainVersions = 8) // v1
      createBranch(spark, tbl, "stage")
      DeletionVectors.publishDeletesToBranch(spark, tbl, "stage",
        base.filter(col("o_orderkey") % 10 === 5).select("o_orderkey"),
        "o_orderkey") // v2: vector only
      val maxKey = base.agg(max("o_orderkey")).head().getLong(0)
      val changes = base.filter(col("o_orderkey") % 10 === 7)
        .withColumn("status", lit("B"))
        .withColumn("price", expr(
          "CAST(price + CAST('11.11' AS DECIMAL(4,2)) AS DECIMAL(18,2))"))
        .unionByName(base.filter(col("o_orderkey") % 10 === 2).select(
          (col("o_orderkey") + lit(maxKey)).as("o_orderkey"),
          col("odate"), lit("N").as("status"),
          expr("CAST(100.00 + (o_orderkey % 50) AS DECIMAL(18,2))").as("price")))
      DeletionVectors.publishUpsertToBranch(spark, tbl, "stage", changes,
        "o_orderkey",
        spark.emptyDataFrame.select(lit(0L).as("o_orderkey")).limit(0)) // v3
      mergeBranch(spark, tbl, "stage", "o_orderkey",
        Seq("odate", "status", "price"), "odate", retainVersions = 8) // ff: adopts v2+v3
      census(DeletionVectors.readMergedAt(spark, tbl, 2L), "link_delete")
        .unionByName(census(DeletionVectors.readMerged(spark, tbl), "live"))
        .coalesce(1).write.parquet(s"$f/census")
      f
    }
    spark.read.parquet(s"$fixture/census").orderBy("phase", "bucket")
  }

  private val morFixtures = new graft.util.Scratch.Fixture[String]("branch_mor_fx")

  /** Delete the branch ref and garbage-collect its UNMERGED version
    * dirs: versions the branch marked that no `_manifests` marker ever
    * adopted (a fast-forwarded or otherwise merged head has one and is
    * live main history — never touched). Ref dir goes first, so a
    * concurrent reader resolving the branch fails on the missing ref
    * rather than on vanishing data mid-scan. */
  def deleteBranch(spark: SparkSession, tablePath: String, name: String): Unit = {
    val bdir = branchPath(tablePath, name)
    val fs = Sinks.hadoopFs(spark, bdir)
    if (!fs.exists(bdir)) return
    val branchVersions = Sinks.markersIn(fs, bdir).map(_._1)
    val mainMarked = Sinks.mainMarkedVersions(spark, tablePath)
    fs.delete(bdir, true)
    branchVersions.filterNot(mainMarked).foreach(Sinks.dropUnmarked(fs, tablePath, _))
  }
}
