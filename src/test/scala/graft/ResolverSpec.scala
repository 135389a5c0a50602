package graft

import java.io.FileNotFoundException
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Branches, DeletionVectors, Sinks}

/** The version resolver's contract, table-driven: every entry point
  * that resolves a version of a snapshot store agrees on which
  * versions are readable, serves those, and refuses the rest with a
  * `FileNotFoundException`. The store holds one version of each
  * unreadable kind:
  *
  *   v1 expired           marker and dir removed by expireSnapshots
  *   v2 committed         readable
  *   v3 branch-only       marked by branch `b` only
  *   v4 pruned dir        marker left, dir gone
  *   v5 in flight         dir written, never marked
  *   v6 committed (head)  readable
  *
  * Main-readable is {2, 6}; readable from any ref adds the branch
  * version, {2, 3, 6}. Version v's rows carry `ver = v` and its
  * recorded commit time is t0 + v seconds. */
class ResolverSpec extends AnyFunSuite {
  import TestSpark._

  private def rows(v: Long): DataFrame =
    spark.range(3).select(lit(v).as("ver"), col("id"),
      to_date(lit("2024-01-15")).as("transaction_date"))

  private lazy val (tbl, t0) = {
    val t = graft.util.Scratch.dir("resolver") + "/t"
    def publish(v: Long): Unit =
      assert(Sinks.publishSnapshot(rows(v), "transaction_date", t, retainVersions = 100) === v)
    publish(1); publish(2)
    Branches.createBranch(spark, t, "b")
    assert(Branches.publishToBranch(rows(3), "transaction_date", t, "b") === 3L)
    publish(4)
    assert(Sinks.plantAbandonedVersion(rows(5), "transaction_date", t) === 5L)
    publish(6)
    val t0 = System.currentTimeMillis() - 3600L * 1000
    Sinks.plantCommitTime(spark, t, 1L, t0 - 3L * 24 * 3600 * 1000)
    Seq(2L, 4L, 6L).foreach(v => Sinks.plantCommitTime(spark, t, v, t0 + v * 1000))
    assert(Sinks.expireSnapshots(spark, t, olderThanMs = 24L * 3600 * 1000)
      .filter(_._2 == "expired").map(_._1) === Seq(1L))
    val v4 = new java.io.File(Sinks.versionDir(t, 4L))
    graft.util.Scratch.deleteRec(v4)
    assert(!v4.exists())
    (t, t0)
  }

  private val versions = 1L to 6L
  private val mainReadable = Set(2L, 6L)
  private val anyRefReadable = Set(2L, 3L, 6L)

  private def verOf(df: DataFrame): Long =
    df.select("ver").distinct().collect().map(_.getLong(0)).toSeq match {
      case Seq(v) => v
      case vs     => fail(s"one version per read expected, got ${vs.mkString(",")}")
    }

  /** Point reads: version v in, the version served (or a refusal) out. */
  private val pointReads: Seq[(String, Set[Long], Long => Long)] = Seq(
    ("readSnapshotAt", mainReadable, v => verOf(Sinks.readSnapshotAt(spark, tbl, v))),
    ("graft-table versionAsOf", mainReadable, v =>
      verOf(spark.read.format("graft-table").option("versionAsOf", v).load(tbl))),
    ("history", mainReadable, v =>
      if (Sinks.history(spark, tbl).filter(col("version") === v).isEmpty)
        throw new FileNotFoundException(s"v$v is not in the history")
      else v),
    ("change feed startingVersion", mainReadable, v =>
      spark.read.format("graft-table").option("readChangeFeed", "true")
        .option("startingVersion", v).option("endingVersion", v).load(tbl)
        .select("_commit_version").distinct().collect().map(_.getLong(0)).toSeq match {
          case Seq(got) => got
          case got      => fail(s"feed of v$v emitted versions ${got.mkString(",")}")
        }),
    ("readMergedAt", anyRefReadable, v => verOf(DeletionVectors.readMergedAt(spark, tbl, v))))

  test("both notions of readable are the resolver's") {
    assert(Sinks.listVersions(spark, tbl) === mainReadable.toSeq.sorted)
    assert(Sinks.refReadableVersions(spark, tbl) === anyRefReadable)
    assert(Sinks.currentVersion(spark, tbl) === Some(6L))
  }

  for ((name, readable, read) <- pointReads)
    test(s"$name serves the readable versions and refuses the rest") {
      for (v <- versions) withClue(s"v$v: ") {
        Try(read(v)) match {
          case Success(got) =>
            assert(readable(v), s"served unreadable v$v")
            assert(got === v)
          case Failure(e) =>
            assert(!readable(v), s"refused readable v$v: $e")
            assert(e.isInstanceOf[FileNotFoundException], e)
        }
      }
    }

  /** Timestamp resolution at version v's planted moment: the newest
    * readable commit at or before it, or the first at or after it —
    * never an unreadable version; a refusal only when none qualifies. */
  private val timestampReads: Seq[(String, Long => Option[Long])] = Seq(
    ("versionAsOfTimestamp", v => mainReadable.filter(_ <= v).maxOption),
    ("firstVersionAtOrAfter", v => mainReadable.filter(_ >= v).minOption))

  for ((name, expected) <- timestampReads)
    test(s"$name resolves only to readable versions") {
      val resolve: Long => Long = name match {
        case "versionAsOfTimestamp" => Sinks.versionAsOfTimestamp(spark, tbl, _)
        case _                      => Sinks.firstVersionAtOrAfter(spark, tbl, _)
      }
      for (v <- versions :+ 7L) withClue(s"v$v: ") {
        Try(resolve(t0 + v * 1000)) match {
          case Success(got) => assert(expected(v) === Some(got))
          case Failure(e) =>
            assert(expected(v).isEmpty, e)
            assert(e.isInstanceOf[FileNotFoundException], e)
        }
      }
    }

  test("an empty store refuses every entry point with FileNotFoundException") {
    val empty = graft.util.Scratch.dir("resolver_empty") + "/t"
    val reads: Seq[() => Any] = Seq(
      () => Sinks.readSnapshot(spark, empty),
      () => Sinks.readSnapshotAt(spark, empty, 1L),
      () => Sinks.history(spark, empty),
      () => Sinks.versionAsOfTimestamp(spark, empty, 0L),
      () => Sinks.firstVersionAtOrAfter(spark, empty, 0L),
      () => DeletionVectors.readMerged(spark, empty),
      () => spark.read.format("graft-table").load(empty))
    reads.foreach(r => intercept[FileNotFoundException](r()))
    assert(Sinks.currentVersion(spark, empty) === None)
    assert(Sinks.listVersions(spark, empty) === Nil)
  }
}
