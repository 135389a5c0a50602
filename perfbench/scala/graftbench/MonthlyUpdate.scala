package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.Pipeline
import graft.sources.PricePaidCsv
import graft.streaming.CdcStream

/** The reference's cron updater as a closed loop with one caller: load
  * a pp-complete file, decide on and apply monthly update files (one
  * offered twice), apply one more through the streaming updater,
  * compact, and verify against the generator's expected final file. */
final class MonthlyUpdate extends Workload {
  val name = "monthly_update"
  private val rows = 3000
  private val months = 24
  /** Batch update files; one more file is then applied by the streaming updater. */
  private val files = 3
  private val perCell = 8
  private val reofferAfter = 1

  private var sc: Gen.PpScenario = _
  private var expectedBytes = 0L

  def setup(spark: SparkSession, dir: String, seed: Long, ledger: Ledger): Unit = {
    sc = Gen.ppScenario(seed, rows, months, files + 1, perCell)
    Gen.writeLines(s"$dir/complete.csv", sc.base.iterator.map(_.csv("A")))
    sc.updates.zipWithIndex.foreach { case (recs, u) =>
      Gen.writeLines(s"$dir/update_$u.csv", recs.iterator.map { case (r, op) => r.csv(op) })
    }
    expectedBytes = Gen.writeLines(s"$dir/expected_final.csv",
      sc.states.last.live.map(_.csv("A")))
    // one small cycle before timing, so code paths are compiled and warm
    val warm = Gen.ppScenario(seed + 1, 200, months, 1, 2)
    Gen.writeLines(s"$dir/warm/complete.csv", warm.base.iterator.map(_.csv("A")))
    Gen.writeLines(s"$dir/warm/update.csv", warm.updates.head.iterator.map { case (r, op) => r.csv(op) })
    ledger.op("warm-up") {
      Pipeline.initialize(spark, s"$dir/warm/complete.csv", s"$dir/warm/table")
      Pipeline.decideAndLog(spark, s"$dir/warm/log", "update.csv",
        PricePaidCsv.normalized(spark, s"$dir/warm/update.csv"))
      Pipeline.applyMonthly(spark, s"$dir/warm/update.csv", s"$dir/warm/table")
    }
  }

  def pass(spark: SparkSession, dir: String, seconds: Double, ledger: Ledger): Pass = {
    val lat = Seq.newBuilder[Double]
    val load, maintainS, verifyS, streamS, amp = Seq.newBuilder[Double]
    var applied = 0L
    var updateNs = 0L
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var cycle = 0
    while (cycle == 0 || System.nanoTime() < deadline) {
      val cdir = s"$dir/cycle-$cycle-${System.nanoTime()}"
      val table = s"$cdir/table"
      val log = s"$cdir/log"
      if (Trace.on) Trace.span(spark, "sources.pp_csv") {
        ledger.op("pp_csv") {
          PricePaidCsv.normalized(spark, s"$dir/complete.csv")
            .write.format("noop").mode("overwrite").save()
        }
      }
      val t0 = System.nanoTime()
      ledger.op("initialize") {
        Trace.span(spark, "pipeline.initialize")(Pipeline.initialize(spark, s"$dir/complete.csv", table))
      }.foreach(n => ledger.check("initialize rows")(n == rows, s"$n != $rows"))
      load += (System.nanoTime() - t0) / 1e9
      Census.record(table)
      var lastHash = ""
      (0 until files).foreach { u =>
        val f = s"$dir/update_$u.csv"
        val t1 = System.nanoTime()
        ledger.op(s"decide_and_log $u") {
          Trace.span(spark, "pipeline.decide_and_log") {
            Pipeline.decideAndLog(spark, log, s"update_$u.csv", PricePaidCsv.normalized(spark, f))
          }
        }.foreach { case (d, h) =>
          lastHash = h
          ledger.check(s"decision $u")(d == "archive", d)
        }
        ledger.op(s"apply_monthly $u") {
          Trace.span(spark, "pipeline.apply_monthly")(Pipeline.applyMonthly(spark, f, table))
        }.foreach { stats =>
          val want = Gen.expectedStats(rows, perCell, u).map { case (k, n) => k -> Plant(n) }
          ledger.check(s"cdc outcomes $u")(stats == want, s"got $stats want $want")
        }
        val dt = System.nanoTime() - t1
        updateNs += dt
        lat += dt / 1e6
        applied += sc.updates(u).size
        Census.record(table)
        if (u == reofferAfter) {
          // the same file offered again: content-hash dedup must refuse it
          ledger.op("re-offer") {
            Trace.span(spark, "pipeline.decide_and_log") {
              Pipeline.decideAndLog(spark, log, s"update_$u.csv", PricePaidCsv.normalized(spark, f))
            }
          }.foreach { case (d, h) =>
            ledger.check("re-offer is garbage_collect")(d == "garbage_collect" && h == lastHash, d)
          }
        }
      }
      // the last file arrives through the streaming updater instead
      val s0 = System.nanoTime()
      ledger.op("stream apply") {
        Trace.span(spark, "streaming.apply_updates")(streamFile(spark, dir, cdir, table))
      }
      streamS += (System.nanoTime() - s0) / 1e9
      Census.record(table)
      amp += Census.bytesUnder(table).toDouble / expectedBytes
      Heap.sample()
      val t2 = System.nanoTime()
      ledger.op("maintain") {
        Trace.span(spark, "pipeline.maintain")(Pipeline.maintain(spark, table))
      }
      maintainS += (System.nanoTime() - t2) / 1e9
      val t3 = System.nanoTime()
      ledger.op("verify") {
        Trace.span(spark, "pipeline.verify_and_fix") {
          Pipeline.verifyAndFix(spark, s"$dir/expected_final.csv", table)
        }
      }.foreach { v =>
        val live = Plant(sc.states.last.live.size.toLong)
        ledger.check("verify")(v("n_database_only") == 0 && v("n_file_only") == 0 &&
          v("n_both") == live, s"$v, live $live")
      }
      verifyS += (System.nanoTime() - t3) / 1e9
      Heap.sample()
      Census.deleteRec(new File(cdir))
      cycle += 1
    }
    Pass(Stats.median(lat.result()), applied.toDouble, updateNs / 1e9, Map(
      "monthly.load_s" -> (Stats.median(load.result()), "s"),
      "monthly.maintain_s" -> (Stats.median(maintainS.result()), "s"),
      "monthly.verify_s" -> (Stats.median(verifyS.result()), "s"),
      "monthly.store_amplification" -> (Stats.median(amp.result()), "ratio"),
      "monthly.stream_apply_s" -> (Stats.median(streamS.result()), "s"),
      "monthly.cycles" -> (cycle.toDouble, "count")))
  }

  /** The change-file schema of the stream: a sequence number, then the pp columns. */
  private val streamSchema = StructType(StructField("seq", LongType) +:
    PricePaidCsv.columns.map {
      case "price" => StructField("price", LongType)
      case "transaction_date" => StructField("transaction_date", DateType)
      case c => StructField(c, StringType)
    })

  /** Land the last update file in a watched directory and drain it through
    * `CdcStream.applyUpdates` (one available-now trigger). */
  private def streamFile(spark: SparkSession, dir: String, cdir: String, table: String): Unit = {
    val watch = s"$cdir/incoming"
    Gen.writeLines(s"$watch/update_$files.csv", sc.updates(files).iterator.map { case (r, op) =>
      ("1" +: Seq(r.tuid, r.price.toString, r.date, r.postcode, r.propertyType, r.newTag, r.lease,
        r.paon, r.saon, r.street, r.locality, r.town, r.district, r.county, r.ppdCat, op))
        .map(f => "\"" + f + "\"").mkString(",")
    })
    CdcStream.applyUpdates(
        spark.readStream.schema(streamSchema).option("quote", "\"").option("escape", "\"").csv(watch),
        table, "transaction_unique_id", Pipeline.compareCols, "seq")
      .option("checkpointLocation", s"$cdir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
  }

  def layers(p: Pass): Map[String, Double] =
    Layers.pipeline() ++ Layers.streaming() ++ Layers.sources() ++ Layers.session()
}
