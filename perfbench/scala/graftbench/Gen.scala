package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded input generators. Every input the program sees is written
  * here from a seed; the same seed gives byte-identical files, and
  * every expected answer the checkers use is derived here, outside
  * the program. */
object Gen {

  // ---- price-paid rows -------------------------------------------------

  /** One price-paid record in the reference's 16-column layout
    * (record_op is carried separately). */
  final case class PpRow(tuid: String, price: Long, date: String, postcode: String,
                         propertyType: String, newTag: String, lease: String,
                         paon: String, saon: String, street: String, locality: String,
                         town: String, district: String, county: String, ppdCat: String) {
    /** The value columns the CDC merge compares (everything but the key). */
    def values: Seq[Any] = Seq(price, date, postcode, propertyType, newTag, lease,
      paon, saon, street, locality, town, district, county, ppdCat)
    def month: String = date.substring(0, 7)
    def year: Int = date.substring(0, 4).toInt

    /** A fully quoted, headerless pp-CSV line, as the Land Registry ships it. */
    def csv(op: String): String =
      Seq(tuid, price.toString, s"$date 00:00", postcode, propertyType, newTag, lease,
        paon, saon, street, locality, town, district, county, ppdCat, op)
        .map(f => "\"" + f + "\"").mkString(",")
  }

  val propertyTypes: Seq[String] = Seq("D", "S", "T", "F", "O")
  private val districts = (0 until 24).map(i => f"DISTRICT $i%02d")
  private val towns = (0 until 12).map(i => f"TOWN $i%02d")
  private val counties = (0 until 6).map(i => f"COUNTY $i%02d")
  private val streets = (0 until 40).map(i => f"STREET $i%02d")
  private val outward = (0 until 30).map(i => f"A${i % 10}%d${i / 10}%d")

  def tuid(seed: Long, key: Long): String =
    f"{${seed & 0xffffffffL}%08X-${(key >>> 32) & 0xffff}%04X-4000-8000-${key & 0xffffffffffffL}%012X}"

  /** Month `m` counted from 1995-01 (0 ⇒ 1995-01, 359 ⇒ 2024-12). */
  def monthStr(m: Int): String = f"${1995 + m / 12}%04d-${m % 12 + 1}%02d"

  /** The base row of `key`: a pure function of (seed, key, month). */
  def ppRow(seed: Long, key: Long, month: Int): PpRow = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + key)
    val district = r.nextInt(districts.size)
    PpRow(
      tuid = tuid(seed, key),
      price = 20000L + r.nextInt(980) * 1000L + r.nextInt(1000),
      date = f"${monthStr(month)}-${1 + r.nextInt(28)}%02d",
      postcode = s"${outward(r.nextInt(outward.size))} ${r.nextInt(10)}" +
        s"${('A' + r.nextInt(26)).toChar}${('A' + r.nextInt(26)).toChar}",
      propertyType = propertyTypes(r.nextInt(propertyTypes.size)),
      newTag = if (r.nextInt(10) == 0) "Y" else "N",
      lease = if (r.nextInt(4) == 0) "L" else "F",
      paon = (1 + r.nextInt(200)).toString,
      saon = if (r.nextInt(5) == 0) s"FLAT ${1 + r.nextInt(20)}" else "",
      street = streets(r.nextInt(streets.size)),
      locality = if (r.nextInt(3) == 0) "" else s"LOCALITY ${r.nextInt(8)}",
      town = towns(district % towns.size),
      district = districts(district),
      county = counties(district % counties.size),
      ppdCat = if (r.nextInt(8) == 0) "B" else "A")
  }

  // ---- monthly updates over the CdcMerge decision matrix -------------------

  /** The cells of the CdcMerge decision matrix a change record can land
    * in, with the pool its key is drawn from. `unchanged` and
    * `unchanged_deleted` are the untouched rows and follow from the
    * pools. */
  sealed abstract class Pool
  case object Live extends Pool
  case object Deleted extends Pool
  case object Missing extends Pool
  final case class Cell(outcome: String, op: String, pool: Pool, identical: Boolean)

  val cells: Seq[Cell] = Seq(
    Cell("add_but_already_identical_and_ignored", "A", Live, identical = true),
    Cell("add_but_changed", "A", Live, identical = false),
    Cell("change_but_already_identical_and_ignored", "C", Live, identical = true),
    Cell("change_and_changed", "C", Live, identical = false),
    Cell("delete_and_deleted", "D", Live, identical = true),
    Cell("delete_but_not_identical_and_changed_and_deleted", "D", Live, identical = false),
    Cell("invalid_op_ignored", "X", Live, identical = true),
    Cell("add_but_deleted_and_changed", "A", Deleted, identical = false),
    Cell("change_but_deleted_and_ignored", "C", Deleted, identical = false),
    Cell("delete_but_deleted_and_ignored", "D", Deleted, identical = true),
    Cell("add_and_added", "A", Missing, identical = false),
    Cell("change_but_missing_and_added", "C", Missing, identical = false),
    Cell("delete_but_missing_and_ignored", "D", Missing, identical = false),
    Cell("invalid_op_missing_and_ignored", "X", Missing, identical = false))

  /** Closed form: records of `cell` (its index `j`) in update file `u`
    * when each file carries about `m` records per cell. Cells on
    * deleted keys are empty in file 0 (the base has no deleted rows)
    * and a quarter the size afterwards, so the deleted pool — two
    * delete cells per file feed it, one undelete cell drains it —
    * always holds enough distinct keys. */
  def cellCount(m: Int, u: Int, j: Int): Int = cells(j).pool match {
    case Deleted => if (u == 0) 0 else m / 4 + u + j % 3
    case _       => m + j + u
  }

  /** Closed form of the live/deleted row counts before file `u`
    * (applied in order, the re-offer not applied). */
  def poolsBefore(n: Int, m: Int, u: Int): (Long, Long) = {
    var live = n.toLong
    var deleted = 0L
    (0 until u).foreach { f =>
      def c(name: String) = cellCount(m, f, cells.indexWhere(_.outcome == name)).toLong
      val deletes = c("delete_and_deleted") + c("delete_but_not_identical_and_changed_and_deleted")
      val undeletes = c("add_but_deleted_and_changed")
      val adds = c("add_and_added") + c("change_but_missing_and_added")
      live += adds + undeletes - deletes
      deleted += deletes - undeletes
    }
    (live, deleted)
  }

  /** Expected CdcMerge stats of file `u`, all 16 outcomes, in closed form. */
  def expectedStats(n: Int, m: Int, u: Int): Map[String, Long] = {
    val (live, deleted) = poolsBefore(n, m, u)
    val touched = cells.indices.map(j => cells(j) -> cellCount(m, u, j).toLong)
    val liveTouched = touched.collect { case (c, k) if c.pool == Live => k }.sum
    val delTouched = touched.collect { case (c, k) if c.pool == Deleted => k }.sum
    (touched.map { case (c, k) => c.outcome -> k } ++
      Seq("unchanged" -> (live - liveTouched), "unchanged_deleted" -> (deleted - delTouched)))
      .filter(_._2 > 0).toMap
  }

  /** Simulated table state: key → (row, deleted). */
  final class PpState(val rows: scala.collection.mutable.LinkedHashMap[Long, (PpRow, Boolean)]) {
    def live: Iterator[PpRow] = rows.valuesIterator.collect { case (r, false) => r }
    def all: Iterator[(PpRow, Boolean)] = rows.valuesIterator
    def copy(): PpState = new PpState(rows.clone())
  }

  /** The monthly-update scenario: base rows, update files, and every
    * intermediate state. */
  final case class PpScenario(seed: Long, base: Seq[PpRow],
                              updates: Seq[Seq[(PpRow, String)]],
                              states: Seq[PpState]) // states(u) = state before file u

  /** `n` base rows spread evenly over the last `months` months ending
    * 2024-12, then `files` update files of ~`m` records per cell. New
    * keys land in the last twelve months, as real monthly files do. */
  def ppScenario(seed: Long, n: Int, months: Int, files: Int, m: Int): PpScenario = {
    require(months >= 1 && months <= 360, "months must be in 1..360")
    val first = 360 - months
    val base = (0 until n).map(k => ppRow(seed, k.toLong, first + k % months))
    val state = new PpState(scala.collection.mutable.LinkedHashMap(
      base.zipWithIndex.map { case (r, k) => k.toLong -> ((r, false)) }: _*))
    val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)
    var nextKey = n.toLong
    val states = Seq.newBuilder[PpState]
    val updates = (0 until files).map { u =>
      states += state.copy()
      // draw each cell's keys without replacement: one record per key per file
      val liveKeys = shuffled(state.rows.collect { case (k, (_, false)) => k }.toArray, rng)
      val delKeys = shuffled(state.rows.collect { case (k, (_, true)) => k }.toArray, rng)
      var li = 0
      var di = 0
      val recs = cells.indices.flatMap { j =>
        val c = cells(j)
        (0 until cellCount(m, u, j)).map { _ =>
          val key = c.pool match {
            case Live    => li += 1; liveKeys(li - 1)
            case Deleted => di += 1; delKeys(di - 1)
            case Missing => nextKey += 1; nextKey - 1
          }
          val cur = state.rows.get(key).map(_._1)
            .getOrElse(ppRow(seed, key, 348 + (key % 12).toInt))
          val rec = if (c.identical) cur else cur.copy(price = cur.price + 1000L * (u + 1) + j)
          (rec, c)
        }
      }
      // the decision matrix, applied to the simulated state
      recs.foreach { case (rec, c) =>
        val key = keyOf(rec.tuid)
        c.outcome match {
          case "add_but_changed" | "change_and_changed" | "add_and_added" |
               "change_but_missing_and_added" | "add_but_deleted_and_changed" =>
            state.rows(key) = (rec, false)
          case "delete_and_deleted" | "delete_but_not_identical_and_changed_and_deleted" =>
            state.rows(key) = (rec, true)
          case _ => ()
        }
      }
      // file order is shuffled so no cell sits in one partition
      shuffled(recs.map { case (r, c) => (r, c.op) }.toArray, rng).toSeq
    }
    states += state.copy()
    PpScenario(seed, base, updates, states.result())
  }

  def keyOf(tuid: String): Long =
    java.lang.Long.parseLong(tuid.substring(tuid.lastIndexOf('-') + 1, tuid.length - 1), 16)

  private def shuffled[T](a: Array[T], rng: SplittableRandom): Array[T] = {
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  def writeLines(path: String, lines: Iterator[String]): Long = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    f.length()
  }

  // ---- corpus with planted near-duplicate clusters --------------------------

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** A corpus of `n` documents with planted near-duplicate clusters of
    * known membership, plus `junk` documents that fail the quality
    * gate (too few tokens). Cluster `c`'s original is document
    * `c * stride`; its copies (ids ≥ n) each rewrite ~5% of the
    * original's words, which keeps word-trigram Jaccard ≈ 0.7 against
    * the original, well above the 0.5 dedup threshold. Unplanted
    * documents draw from a 6000-word vocabulary and share no trigram
    * runs by chance. */
  final case class Corpus(docs: Seq[Doc], clusters: Seq[Seq[Long]], junk: Set[Long])

  private val langs = Seq("en", "de", "fr", "es", "zh")

  def corpus(seed: Long, n: Int, nClusters: Int, copies: Int, junk: Int): Corpus = {
    val rng = new SplittableRandom(seed * 31 + 7)
    val vocab = (0 until 6000).map { _ =>
      val len = 3 + rng.nextInt(7)
      (0 until len).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    }
    def words(r: SplittableRandom, k: Int): Array[String] =
      Array.fill(k)(vocab(r.nextInt(vocab.size)))
    val originals = (0 until n).map { i =>
      val r = new SplittableRandom(seed * 1000003L + i)
      Doc(i.toLong, words(r, 60 + r.nextInt(80)).mkString(" "),
        langs(i % langs.size), s"src${i % 7}")
    }
    val stride = math.max(1, n / math.max(1, nClusters))
    var nextId = n.toLong
    val planted = (0 until nClusters).map { c =>
      val orig = originals(c * stride)
      val r = new SplittableRandom(seed * 7919L + c)
      val ws = orig.text.split(" ")
      val cps = (0 until copies).map { _ =>
        val cp = ws.clone()
        (0 until math.max(1, cp.length / 20)).foreach { _ =>
          cp(r.nextInt(cp.length)) = vocab(r.nextInt(vocab.size))
        }
        nextId += 1
        Doc(nextId - 1, cp.mkString(" "), orig.lang, s"src${(c + 3) % 7}")
      }
      (orig.id +: cps.map(_.id), cps)
    }
    val junkDocs = (0 until junk).map { i =>
      nextId += 1
      Doc(nextId - 1, s"${1000 + i} ${2000 + i}", "en", "src0")
    }
    Corpus(originals ++ planted.flatMap(_._2) ++ junkDocs, planted.map(_._1),
      junkDocs.map(_.id).toSet)
  }

  /** JSON-lines rendering of a document (the corpus's on-disk format). */
  def docJson(d: Doc): String =
    s"""{"doc_id":${d.id},"text":"${d.text}","lang":"${d.lang}","source":"${d.source}"}"""
}
