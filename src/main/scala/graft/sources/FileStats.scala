package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.json4s._
import org.json4s.jackson.JsonMethods

import scala.jdk.CollectionConverters._

/** Manifest-level per-file column statistics ("zone maps") for the
  * versioned snapshot store — the Iceberg/Delta data-skipping idea:
  * min/max per (file, column) recorded ONCE at publish time in the
  * version's commit metadata, so a filtered read prunes its file list
  * against one small manifest instead of opening every parquet footer.
  *
  * Why this matters at 100 TB: parquet footers already carry min/max,
  * but the reader must OPEN each of ~100k files to see them — at scale
  * the listing + footer round-trips dominate a selective scan (and on
  * an object store each footer is a ranged GET). The manifest moves
  * that cost to one publish-time pass (itself footer-only — no data
  * pages are read) and makes every subsequent selective read
  * O(matching files). This complements the clustered layouts
  * ([[ZOrder]]): clustering makes per-file ranges NARROW; the manifest
  * makes them visible without touching the files.
  *
  * Stats are extracted from the parquet footers the write itself
  * produced — never recomputed from data — so they are exact by
  * construction. Columns whose physical type has no sound total order
  * here (booleans, decimals, nested) record flag `u` (unknown) and
  * never prune; a column that is entirely null in a file records `n`
  * and IS prunable under any bounded range (a range predicate never
  * matches null). String min/max compare in parquet's unsigned
  * UTF-8-byte order, which this module reproduces exactly — Java
  * String.compareTo (UTF-16 code units) would disagree above the BMP.
  *
  * The manifest rides the publish-metadata channel
  * ([[Sinks.publishSnapshot]] `extraMeta`), so a committed version is
  * never observable without its stats, and [[Sinks.compactSnapshot]]
  * RECOMPUTES it for the rewritten files (a carried-forward manifest
  * would describe files that no longer exist).
  */
object FileStats {

  /** Reserved key of the stats manifest in the publish metadata. */
  val metaName = "filestats"

  /** Inclusive range predicate on one column; an open side is None.
    * At least one side must be bounded. */
  final case class ColRange(column: String, lo: Option[Any], hi: Option[Any]) {
    require(lo.nonEmpty || hi.nonEmpty, s"range on $column has no bounds")
  }

  // flag values: m = min/max present (exact), t = min/max present but
  // TRUNCATED to sound outer bounds (long strings — lower bound is a
  // prefix ≤ the true min, upper bound increments the last kept code
  // point > the true max; pruning may use them, extremum serving must
  // not), n = all values null, u = unknown.
  // `nulls` is the file's exact null count for the column when every
  // chunk recorded one — tracked independently of the min/max domain,
  // so a column whose type has no sound total order here (decimal,
  // boolean — flag u) still answers count(col) from the manifest.
  private final case class ColStat(tpe: String, flag: String, min: String, max: String,
                                   nulls: Option[Long] = None)
  private final case class FileEntry(path: String, rows: Long, stats: Map[String, ColStat])

  // ---- collection (publish side) ---------------------------------------

  /** Scan the parquet footers under `versionDir` (its `txn_month=*`
    * partition dirs) and build the stats manifest JSON for `cols`.
    * Footer-only: no data pages are read. The per-file footer opens
    * are DISTRIBUTED over the cluster (one small ranged read each —
    * exactly the cost the manifest will save every subsequent reader),
    * so a 100k-file version collects in one short cluster-wide wave
    * instead of a serial driver loop. */
  def collect(spark: SparkSession, versionDir: String, cols: Seq[String]): String = {
    require(cols.nonEmpty, "statsCols must name at least one column")
    val files: Seq[(String, String)] = Sinks.versionFiles(spark, versionDir)
      .filter(_.partition.startsWith("txn_month=")).map(f => (f.path.toString, f.rel))
    if (files.isEmpty) return render(cols, Nil)
    val sc = spark.sparkContext
    // Configuration is a Writable, not Serializable — ship it wrapped
    val bconf = sc.broadcast(new org.apache.spark.SerializableWritable(
      sc.hadoopConfiguration))
    val colList = cols // avoid capturing `this`-adjacent state
    val entries = sc
      .parallelize(files, math.max(1, math.min(files.size, sc.defaultParallelism)))
      .map { case (abs, rel) =>
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(abs), bconf.value.value))
        try {
          val blocks = reader.getFooter.getBlocks.asScala.toSeq
          val rows = blocks.map(_.getRowCount).sum
          val stats = colList.flatMap(c => statOf(blocks, c).map(c -> _)).toMap
          FileEntry(rel, rows, stats)
        } finally reader.close()
      }
      .collect().toSeq.sortBy(_.path) // stable manifest order
    render(cols, entries)
  }

  /** Merge one column's chunk statistics across a file's row groups. */
  private def statOf(blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
                     name: String): Option[ColStat] = {
    val chunks = blocks.flatMap(_.getColumns.asScala.find(_.getPath.toDotString == name))
    if (chunks.isEmpty) return None // column absent (e.g. partition col) → no entry, never prunes
    // exact null count when every chunk recorded one — independent of
    // whether the min/max domain below is supported
    var nullsKnown = true
    var nulls = 0L
    chunks.foreach { cc =>
      val st = cc.getStatistics
      if (st == null || !st.isNumNullsSet || st.getNumNulls < 0) nullsKnown = false
      else nulls = math.addExact(nulls, st.getNumNulls)
    }
    val nullsOpt = if (nullsKnown) Some(nulls) else None
    val tpe = typeTag(chunks.head.getPrimitiveType)
    if (tpe.isEmpty) return Some(ColStat("?", "u", "", "", nullsOpt))
    var unknown = false
    var minS: String = null
    var maxS: String = null
    chunks.foreach { cc =>
      val st = cc.getStatistics
      if (st == null) unknown = true
      else if (st.hasNonNullValue) {
        val (lo, hi) = (serialize(tpe.get, st.genericGetMin), serialize(tpe.get, st.genericGetMax))
        if (minS == null || compareStored(tpe.get, lo, minS) < 0) minS = lo
        if (maxS == null || compareStored(tpe.get, hi, maxS) > 0) maxS = hi
      } else if (!(st.isNumNullsSet && st.getNumNulls == cc.getValueCount)) {
        // no values recorded and the null count doesn't account for the
        // chunk → stats were dropped by the writer (e.g. NaN handling,
        // oversized binary); this file must never be pruned
        unknown = true
      }
    }
    Some(
      if (unknown) ColStat(tpe.get, "u", "", "", nullsOpt)
      else if (minS == null) ColStat(tpe.get, "n", "", "", nullsOpt)
      else if (tpe.get == "string" &&
               (codePoints(minS) > StringStatsCap || codePoints(maxS) > StringStatsCap))
        // a 100k-file manifest over a free-text column must not embed
        // two full documents per file — keep sound OUTER bounds instead
        truncUpper(maxS) match {
          case Some(hi) => ColStat("string", "t", truncLower(minS), hi, nullsOpt)
          case None     => ColStat("string", "u", "", "", nullsOpt)
        }
      else ColStat(tpe.get, "m", minS, maxS, nullsOpt))
  }

  /** Bound (in code points) past which string extrema are truncated in
    * the manifest ([[truncLower]]/[[truncUpper]], flag `t`). */
  private[sources] val StringStatsCap = 64

  private def codePoints(s: String): Int = s.codePointCount(0, s.length)

  /** Prefix of ≤ [[StringStatsCap]] code points — ≤ the input in
    * unsigned UTF-8 order (UTF-8 preserves code-point order and a
    * prefix sorts before any extension), so a sound LOWER bound. */
  private def truncLower(s: String): String = {
    val cps = s.codePoints().toArray
    if (cps.length <= StringStatsCap) s else new String(cps, 0, StringStatsCap)
  }

  /** Prefix with the last kept code point incremented — STRICTLY
    * greater than the input (they share the shorter prefix and differ
    * upward at the incremented position), so a sound UPPER bound.
    * Increments skip the surrogate gap; a prefix of all U+10FFFF has
    * no incrementable position → None (bound unknowable). */
  private def truncUpper(s: String): Option[String] = {
    val cps = s.codePoints().toArray
    if (cps.length <= StringStatsCap) return Some(s)
    var i = math.min(StringStatsCap, cps.length) - 1
    while (i >= 0) {
      var cp = cps(i) + 1
      if (cp >= 0xD800 && cp <= 0xDFFF) cp = 0xE000
      if (cp <= 0x10FFFF) {
        val kept = java.util.Arrays.copyOf(cps, i + 1)
        kept(i) = cp
        return Some(new String(kept, 0, i + 1))
      }
      i -= 1
    }
    None
  }

  /** Physical+logical type → comparison domain; None = unsupported. */
  private def typeTag(pt: PrimitiveType): Option[String] = {
    import PrimitiveType.PrimitiveTypeName._
    import LogicalTypeAnnotation._
    pt.getPrimitiveTypeName match {
      case INT32 => pt.getLogicalTypeAnnotation match {
        case _: DateLogicalTypeAnnotation    => Some("date")
        case _: DecimalLogicalTypeAnnotation => None
        case _                               => Some("long")
      }
      case INT64 => pt.getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit match {
          case TimeUnit.MILLIS => Some("ts-millis")
          case TimeUnit.MICROS => Some("ts-micros")
          case TimeUnit.NANOS  => Some("ts-nanos")
        }
        case _: DecimalLogicalTypeAnnotation => None
        case _                               => Some("long")
      }
      case FLOAT | DOUBLE => Some("double")
      case BINARY => pt.getLogicalTypeAnnotation match {
        case _: StringLogicalTypeAnnotation => Some("string")
        case _                              => None
      }
      case _ => None // BOOLEAN, INT96, FIXED_LEN_BYTE_ARRAY (incl. decimals)
    }
  }

  private def serialize(tpe: String, v: Any): String = (tpe, v) match {
    case ("string", b: org.apache.parquet.io.api.Binary) =>
      new String(b.getBytes, java.nio.charset.StandardCharsets.UTF_8)
    case ("double", f: java.lang.Float) => f.doubleValue.toString
    case _ => v.toString // Integer/Long for long/date/ts-*, Double for double
  }

  // ---- comparison domain ----------------------------------------------

  /** Sign of (stored − bound) in the column's total order. Throws on a
    * bound whose runtime type doesn't fit the column — wrong pruning
    * must never be silent. */
  private def compare(tpe: String, stored: String, bound: Any): Int = tpe match {
    case "long"      => java.lang.Long.compare(stored.toLong, toLong(bound))
    case "date"      => java.lang.Long.compare(stored.toLong, toEpochDay(bound))
    case "double"    => java.lang.Double.compare(stored.toDouble, toDouble(bound))
    case "string"    => unsignedUtf8Compare(stored, bound match {
      case s: String => s
      case other => fail(tpe, other)
    })
    case "ts-millis" => java.lang.Long.compare(stored.toLong, toMicros(bound) / 1000L)
    case "ts-micros" => java.lang.Long.compare(stored.toLong, toMicros(bound))
    case "ts-nanos"  => java.lang.Long.compare(stored.toLong,
      math.multiplyExact(toMicros(bound), 1000L))
    case other => throw new IllegalStateException(s"no comparison for type tag $other")
  }

  /** Sign of (a − b) with BOTH sides in the serialized (manifest
    * string) domain — merging chunk extrema within a file and file
    * extrema across a manifest. [[compare]] takes a RUNTIME-typed
    * bound; feeding it a serialized string for a numeric column would
    * throw, which is exactly the multi-row-group case a single-block
    * test file never exercises. */
  private def compareStored(tpe: String, a: String, b: String): Int = tpe match {
    case "long" | "date" | "ts-millis" | "ts-micros" | "ts-nanos" =>
      java.lang.Long.compare(a.toLong, b.toLong)
    case "double" => java.lang.Double.compare(a.toDouble, b.toDouble)
    case "string" => unsignedUtf8Compare(a, b)
    case other => throw new IllegalStateException(s"no comparison for type tag $other")
  }

  private def fail(tpe: String, v: Any): Nothing =
    throw new IllegalArgumentException(
      s"range bound ${v.getClass.getName} is not comparable to a $tpe stats column")

  private def toLong(v: Any): Long = v match {
    case n: Byte  => n.toLong
    case n: Short => n.toLong
    case n: Int   => n.toLong
    case n: Long  => n
    case other    => fail("long", other)
  }
  private def toDouble(v: Any): Double = v match {
    case n: java.lang.Number => n.doubleValue
    case other => fail("double", other)
  }
  private def toEpochDay(v: Any): Long = v match {
    case d: java.time.LocalDate => d.toEpochDay
    case d: java.sql.Date       => d.toLocalDate.toEpochDay
    case other => fail("date", other)
  }
  private def toMicros(v: Any): Long = v match {
    case t: java.sql.Timestamp =>
      math.addExact(math.multiplyExact(t.getTime / 1000L, 1000000L),
        (t.getNanos / 1000L) % 1000000L)
    case i: java.time.Instant =>
      math.addExact(math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
    case other => fail("timestamp", other)
  }

  /** Parquet's binary order: unsigned byte-wise over UTF-8 — equal to
    * code-point order, NOT to String.compareTo beyond the BMP. */
  private def unsignedUtf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  // ---- manifest (de)serialization -------------------------------------

  private def render(cols: Seq[String], entries: Seq[FileEntry]): String = {
    val json = JObject(
      "cols" -> JArray(cols.map(JString(_)).toList),
      "files" -> JArray(entries.map { e =>
        JObject(
          "path" -> JString(e.path),
          "rows" -> JLong(e.rows),
          "stats" -> JObject(e.stats.toList.sortBy(_._1).map { case (c, s) =>
            val base =
              if (s.flag == "m" || s.flag == "t")
                List("t" -> JString(s.tpe), "f" -> JString(s.flag),
                  "min" -> JString(s.min), "max" -> JString(s.max))
              else List("t" -> JString(s.tpe), "f" -> JString(s.flag))
            c -> JObject(base ++ s.nulls.map(n => "nulls" -> (JLong(n): JValue)).toList)
          })
        )
      }.toList))
    JsonMethods.compact(JsonMethods.render(json))
  }

  private def parse(json: String): (Seq[String], Seq[FileEntry]) = {
    val root = JsonMethods.parse(json)
    val cols = (root \ "cols") match {
      case JArray(xs) => xs.collect { case JString(s) => s }
      case _          => Nil
    }
    val files = (root \ "files") match {
      case JArray(xs) => xs.map { f =>
        val path = (f \ "path") match { case JString(s) => s; case _ => "" }
        val rows = (f \ "rows") match {
          case JLong(n) => n; case JInt(n) => n.toLong; case _ => 0L
        }
        val stats = (f \ "stats") match {
          case JObject(fields) => fields.map { case (c, v) =>
            val t = (v \ "t") match { case JString(s) => s; case _ => "?" }
            val fl = (v \ "f") match { case JString(s) => s; case _ => "u" }
            val mn = (v \ "min") match { case JString(s) => s; case _ => "" }
            val mx = (v \ "max") match { case JString(s) => s; case _ => "" }
            // absent in manifests written before null counts existed →
            // unknown, and count(col) facts refuse for the column
            val nl = (v \ "nulls") match {
              case JLong(n) => Some(n); case JInt(n) => Some(n.toLong); case _ => None
            }
            c -> ColStat(t, fl, mn, mx, nl)
          }.toMap
          case _ => Map.empty[String, ColStat]
        }
        FileEntry(path, rows, stats)
      }
      case _ => Nil
    }
    (cols, files)
  }

  /** The column list a manifest covers (for recomputation after a
    * content rewrite). */
  def colsOf(json: String): Seq[String] = parse(json)._1

  // ---- whole-manifest aggregate facts (plan side) -----------------------

  private def manifestPath(tablePath: String, version: Long) =
    new Path(s"${Sinks.versionDir(tablePath, version)}/${Sinks.metaPrefix}$metaName")

  /** (mtime, length) of the version's stats manifest FILE — the cheap
    * identity probe [[graft.plans.MetaAggregate]] keys its facts cache
    * on (one FS stat, no content read). None = the version carries no
    * manifest; that answer is NOT cached upstream, so a table dropped
    * and re-created at the same path is re-probed every query. */
  def manifestStatus(spark: SparkSession, tablePath: String,
                     version: Long): Option[(Long, Long)] = {
    val p = manifestPath(tablePath, version)
    val fs = Sinks.hadoopFs(spark, p)
    try { val s = fs.getFileStatus(p); Some((s.getModificationTime, s.getLen)) }
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** The version's stats manifest content (just that one meta file —
    * not the whole [[Sinks.versionMeta]] map). */
  def manifestContent(spark: SparkSession, tablePath: String,
                      version: Long): Option[String] = {
    val p = manifestPath(tablePath, version)
    val fs = Sinks.hadoopFs(spark, p)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      Some(out.toString(java.nio.charset.StandardCharsets.UTF_8))
    } finally in.close()
  }

  /** One column's decisive whole-version facts. `nonNull` is the exact
    * non-null value count when EVERY file recorded a null count for
    * the column; `min`/`max` (manifest-serialized) are defined when
    * `decisive` — every file has flag m or n, so the extrema over the
    * m files ARE the column extrema — and are None-with-decisive for
    * an all-null column (the aggregate is NULL). Absence of evidence
    * is never treated as evidence: a single u-flagged or uncovered
    * file makes the column indecisive, and so does a `t` flag — a
    * truncated bound brackets the extremum but is not a value that
    * occurs in the data, fine for pruning, wrong to SERVE. */
  final case class ColAggFacts(tpe: String, nonNull: Option[Long],
                               decisive: Boolean,
                               min: Option[String], max: Option[String])

  /** Whole-version facts: exact row count plus per-column
    * [[ColAggFacts]]. */
  final case class AggFacts(rows: Long, cols: Map[String, ColAggFacts])

  /** Reduce a stats manifest to the whole-version facts a plan-time
    * metadata-only aggregate ([[graft.plans.MetaAggregate]]) may
    * serve. `rows` is always exact (every entry records its footer row
    * count); per-column facts demand decisive evidence from EVERY file
    * — one file without the column's entry (stats were not collected
    * for it, or the column lives only in the partition path) poisons
    * that column, never the others.
    *
    * The layout's `txn_month` partition column never appears in the
    * footers (it lives only in the path), but its per-file facts are
    * EXACT by construction — every row of a file carries the file's
    * one path value — so a synthetic entry is injected per file:
    * min = max = the dir value (zero nulls), or all-null for the Hive
    * default partition. A path that is not `txn_month=…/`, or an
    * escaped value (`%` — the writer escaped a character we will not
    * guess at), injects nothing, and the column refuses as uncovered
    * rather than guessing. */
  def aggFacts(json: String): AggFacts = {
    val (requested, files) = parse(json)
    reduceFacts(requested, files.map(withPartitionStat))
  }

  /** Per-month facts, keyed by the partition value (None = the Hive
    * default/null-date partition); outer None when any entry's path
    * does not sit in a `txn_month=` dir (a foreign layout — the
    * caller refuses rather than mis-grouping). An empty version is
    * Some(empty): GROUP BY over no rows has no groups. */
  def aggFactsByMonth(json: String): Option[Map[Option[String], AggFacts]] = {
    val (requested, files) = parse(json)
    if (files.exists(f => partitionOf(f.path).isEmpty)) return None
    Some(files.groupBy(f => partitionOf(f.path).get)
      .map { case (m, fs) => m -> reduceFacts(requested, fs.map(withPartitionStat)) })
  }

  /** The `txn_month=` dir value of an entry path: Some(Some(v)) for a
    * plain value, Some(None) for the Hive default (null) partition,
    * None for a foreign path shape or an escaped value. */
  private def partitionOf(path: String): Option[Option[String]] = {
    val slash = path.indexOf('/')
    if (slash < 0 || !path.startsWith("txn_month=")) return None
    val v = path.substring("txn_month=".length, slash)
    if (v == "__HIVE_DEFAULT_PARTITION__") Some(None)
    else if (v.isEmpty || v.contains('%')) None
    else Some(Some(v))
  }

  private def withPartitionStat(f: FileEntry): FileEntry =
    if (f.stats.contains("txn_month")) f
    else partitionOf(f.path) match {
      case Some(Some(v)) =>
        f.copy(stats = f.stats + ("txn_month" -> ColStat("string", "m", v, v, Some(0L))))
      case Some(None) =>
        f.copy(stats = f.stats + ("txn_month" -> ColStat("string", "n", "", "", Some(f.rows))))
      case None => f
    }

  private def reduceFacts(requested: Seq[String], files: Seq[FileEntry]): AggFacts = {
    if (files.isEmpty)
      // an EMPTY published version: zero rows, and every collected
      // column decisively has no values (count 0, extrema NULL)
      return AggFacts(0L,
        requested.map(_ -> ColAggFacts("?", Some(0L), decisive = true, None, None)).toMap)
    val rows = files.map(_.rows).sum
    val colNames = files.flatMap(_.stats.keys).distinct
    val cols = colNames.map { c =>
      val entries = files.map(f => (f.rows, f.stats.get(c)))
      if (entries.exists(_._2.isEmpty))
        c -> ColAggFacts("?", None, decisive = false, None, None)
      else {
        val ss = entries.map { case (r, s) => (r, s.get) }
        val tpes = ss.map(_._2.tpe).distinct
        val tpe = if (tpes.size == 1) tpes.head else "?"
        val nonNull =
          if (ss.forall(_._2.nulls.isDefined))
            Some(ss.map { case (r, s) => r - s.nulls.get }.sum)
          else None
        val decisive = tpe != "?" && !ss.exists(s =>
          s._2.flag != "m" && s._2.flag != "n")
        val ms = ss.map(_._2).filter(_.flag == "m")
        val (mn, mx) =
          if (!decisive || ms.isEmpty) (None, None)
          else (Some(ms.map(_.min).reduce((a, b) =>
                  if (compareStored(tpe, a, b) <= 0) a else b)),
                Some(ms.map(_.max).reduce((a, b) =>
                  if (compareStored(tpe, a, b) >= 0) a else b)))
        c -> ColAggFacts(tpe, nonNull, decisive, mn, mx)
      }
    }.toMap
    AggFacts(rows, cols)
  }

  // ---- pruning (read side) --------------------------------------------

  /** Version-dir-relative paths of the files that can satisfy every
    * range. A file is dropped only on evidence: its recorded interval
    * misses the range, or the column is entirely null in it (a range
    * predicate never matches null). Unknown stats keep the file. */
  def prune(json: String, ranges: Seq[ColRange]): Seq[String] = {
    val (_, files) = parse(json)
    files.filter { f =>
      ranges.forall { r =>
        f.stats.get(r.column) match {
          case None => true
          case Some(s) => s.flag match {
            case "n" => false // all-null column: no range can match
            case "m" | "t" =>
              // "t" bounds are OUTER (widened) — the interval only
              // grew, so a drop decision is still evidence-based
              r.lo.forall(l => compare(s.tpe, s.max, l) >= 0) &&
              r.hi.forall(h => compare(s.tpe, s.min, h) <= 0)
            case _ => true // unknown → never prune
          }
        }
      }
    }.map(_.path)
  }

  /** The residual predicate the pruned scan must still apply — file
    * granularity only narrows IO, row-level filtering is Spark's. */
  def rangeFilter(ranges: Seq[ColRange]): Column =
    ranges.flatMap { r =>
      r.lo.map(l => col(r.column) >= lit(l)).toSeq ++
        r.hi.map(h => col(r.column) <= lit(h)).toSeq
    }.reduceOption(_ && _).getOrElse(lit(true))

  /** Registered driver query: publish the orders table as a snapshot
    * version carrying per-file stats on (o_custkey, o_totalprice) —
    * range-clustered on custkey so file intervals are narrow — then
    * answer a 2-D box filter through the manifest-pruned scan. The
    * whole publish→manifest→pruned-read lifecycle runs under the
    * driver's hash check against a plain filter oracle: skipping must
    * never change results. The PRUNING property (files actually
    * dropped from the scan) is spec-measured in ScaleSpec. */
  private val aggFixtures = new graft.util.Scratch.Fixture[String]("metaagg_q")

  /** Registered driver query (`q_meta_agg`): publish orders as a
    * snapshot version carrying per-file stats (incl. a deliberately
    * nullable column), then answer a whole-table
    * count(*) / count(col) / min / max through the graft catalog —
    * which [[graft.plans.MetaAggregate]] serves ENTIRELY from the
    * committed manifest, no data scan (plan shape pinned in
    * MetaAggregateSpec). Hash-checked against a plain DuckDB
    * aggregate over the same source: serving from metadata must never
    * change results. Fixture once per JVM; the query times the
    * metadata-only reads. */
  def metaAggregate(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val tmp = aggTable(spark, dir)
    spark.sql(
      s"""SELECT count(*) AS n_rows,
         |       count(o_prio_n) AS n_prio,
         |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
         |       min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
         |       min(o_orderstatus) AS min_status, max(o_orderstatus) AS max_status,
         |       min(o_orderdate) AS min_date, max(o_orderdate) AS max_date,
         |       min(o_prio_n) AS min_prio
         |FROM graft.`$tmp`""".stripMargin)
  }

  private def aggTable(spark: SparkSession, dir: String): String =
    aggFixtures(dir) { t =>
      import org.apache.spark.sql.functions.{expr, to_date}
      val df = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), to_date(col("o_orderdate")).as("o_orderdate"),
          expr("CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderpriority END")
            .as("o_prio_n"))
      Sinks.publishSnapshot(df, "o_orderdate", t,
        statsCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate", "o_prio_n"))
      t
    }

  /** Registered driver query (`q_meta_agg_month`): the PARTITION-GRAIN
    * metadata aggregate — `GROUP BY txn_month` over the same published
    * store, read path-mode (the partition column is visible there),
    * answered one manifest-summed row per month with no scan
    * ([[graft.plans.MetaAggregate]]'s grouped serving; partition
    * values are exact per file by construction of the layout).
    * Hash-checked against DuckDB's plain month-grouped aggregate over
    * the source parquet. Shares [[metaAggregate]]'s fixture. */
  def metaAggregateMonthly(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val tmp = aggTable(spark, dir)
    spark.read.format("graft-table").load(tmp).createOrReplaceTempView("meta_agg_m")
    spark.sql(
      """SELECT txn_month, count(*) AS n_rows, count(o_prio_n) AS n_prio,
        |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |       min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        |       min(o_orderstatus) AS min_status, max(o_orderstatus) AS max_status,
        |       min(o_orderdate) AS min_date, max(o_orderdate) AS max_date
        |FROM meta_agg_m
        |GROUP BY txn_month
        |ORDER BY txn_month""".stripMargin)
  }

  /** Registered driver query (`q_partitions`): the `partitions`
    * metadata-table verb (`CALL graft.system.partitions`,
    * [[GraftProcedures]]) over a month-colocated publish — one file
    * per month by construction, so the per-month (file_count,
    * row_count) census is fully deterministic and hash-checks against
    * DuckDB's plain month-grouped count over the source parquet. The
    * call itself is one directory listing + one manifest read —
    * nothing scales with data. */
  def partitionsCensus(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.to_date
    val tmp = partFixtures(dir) { t =>
      val df = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          to_date(col("o_orderdate")).as("o_orderdate"))
      Sinks.publishSnapshot(df, "o_orderdate", t,
        colocateMonths = true, statsCols = Seq("o_orderkey"))
      t
    }
    spark.sql(s"CALL graft.system.partitions(table => '$tmp')")
      .select("txn_month", "file_count", "row_count")
      .orderBy("txn_month")
  }
  private val partFixtures = new graft.util.Scratch.Fixture[String]("partcensus_q")

  def statsSkipScan(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{to_date, lit => flit}
    val tmp = graft.util.Scratch.dir("statskip_q")
    // a recent-period publish (the monthly-refresh shape): month
    // partitioning bounds the dirs, custkey range-clustering keeps
    // each file's (custkey, price) box narrow so the manifest prunes
    val df = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        to_date(col("o_orderdate")).as("o_orderdate"))
      .filter(col("o_orderdate") >= to_date(flit("1997-01-01")))
      .repartitionByRange(8, col("o_custkey"))
    Sinks.publishSnapshot(df, "o_orderdate", tmp,
      statsCols = Seq("o_custkey", "o_totalprice"))
    Sinks.readSnapshotSkipping(spark, tmp, Seq(
      ColRange("o_custkey", None, Some(500L)),
      ColRange("o_totalprice", None, Some(50000.0))))
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      .orderBy("o_orderkey")
  }
}
