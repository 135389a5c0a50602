package graft.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables

/** Multimodal-column plumbing (SURVEY.md §2 #30): image/audio/video
  * payloads travel as opaque `binary` columns with a typed metadata
  * struct; decode / feature-extract run per-partition in batches.
  *
  * ALL THREE modality paths are real JDK codecs. IMAGE: genuine PNGs
  * decoded with `javax.imageio` (true width/height from the
  * bitstream), resized through `Graphics2D` with a real re-encode.
  * AUDIO: genuine 16-bit PCM WAV streams, sample rate / frame count
  * from the RIFF header via `javax.sound.sampled.AudioSystem`. VIDEO:
  * genuine multi-frame (animated) GIF containers — the one
  * moving-picture format the JDK ships a codec for — with the true
  * frame count and frame dimensions read back through the GIF
  * `ImageReader` (`getNumImages`). A modern-codec container (H.264
  * etc.) would still need an external library; `decodeStub` remains
  * only as the corrupt-payload fall-back. Everything Spark-side is
  * real and tested for all three kinds: the
  * schema, the binary column, the partition-wise batch processing
  * shape (the Scala analog of `mapInPandas`: one iterator of rows per
  * partition, codec setup amortized across the batch), and the
  * deterministic metadata contract.
  */
object Media {

  /** Typed decoded-media record. */
  case class MediaMeta(media_id: Long, kind: String, n_bytes: Long,
                       width: Int, height: Int, n_frames: Int, sample_rate: Int)

  // ImageIO's default scratch-file cache would do disk IO per decode;
  // executors decode in memory
  ImageIO.setUseCache(false)

  /** Deterministic synthetic bitmap for media_id: size and colors are
    * pure functions of the id, so specs and the driver's rows-only
    * verification are stable across runs and partitionings. Pixels are
    * written as one bulk array (per-pixel setRGB is ~3× slower), and
    * the size range is kept modest — the codec work is real at any
    * size; the fixture doesn't need megapixels to prove it. */
  private[graft] def syntheticImage(id: Long): BufferedImage = {
    val w = 16 + ((id * 7) % 120).toInt
    val h = 16 + ((id * 13) % 90).toInt
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val pix = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        // id-seeded gradient (non-constant pixels so resize is real work)
        val r = ((id * 31 + x) % 256).toInt
        val g = ((id * 17 + y) % 256).toInt
        val b = ((id + x + y) % 256).toInt
        pix(y * w + x) = (r << 16) | (g << 8) | b
        x += 1
      }
      y += 1
    }
    img.setRGB(0, 0, w, h, pix, 0, w)
    img
  }

  private[graft] def encodePng(img: BufferedImage): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Sample rates the synthetic audio fixture draws from — the common
    * telephony/speech/CD/studio ladder. */
  private[graft] val wavRates = Array(8000, 16000, 44100, 48000)

  /** Deterministic synthetic WAV for media_id: a real RIFF/WAVE
    * container (16-bit PCM mono sine) whose sample rate and frame
    * count are pure functions of the id. Like the PNG fixture, size is
    * kept modest — the header parse is identical work at any length. */
  private[graft] def syntheticWav(id: Long): Array[Byte] = {
    val rate = wavRates(((id % 4) + 4).toInt % 4)
    val nFrames = 200 + ((id * 11) % 1800).toInt
    val pcm = new Array[Byte](nFrames * 2)
    val freq = (id % 40) + 1
    var i = 0
    while (i < nFrames) {
      val s = (math.sin(2 * math.Pi * freq * i / 100.0) * 12000).toInt.toShort
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val out = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Frame count of the synthetic GIF for media_id: 4..11, id-derived
    * — enough frames that every-Nth sampling is exercised, small
    * enough that the fixture encode stays cheap. */
  private[graft] def gifFramesFor(id: Long): Int = (4 + (id % 8)).toInt

  /** Deterministic synthetic VIDEO for media_id: a real multi-frame
    * GIF container (the JDK's only animated-picture codec). Frames are
    * small INDEXED-color thumbnails (the GIF writer re-quantizes
    * true-color frames pixel by pixel — the dominant cost at corpus
    * scale — while indexed frames encode directly) with an id-seeded
    * moving block, so frame content differs per frame like a real
    * clip. */
  private[graft] def syntheticGif(id: Long): Array[Byte] = {
    val n = gifFramesFor(id)
    val w = 32; val h = 24
    val out = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(out)
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < n) {
        val frame = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED)
        val g = frame.createGraphics()
        g.setColor(new java.awt.Color(((id * 31 + f * 7) % 256).toInt,
          ((id * 17 + f * 13) % 256).toInt, ((id + f) % 256).toInt))
        g.fillRect(0, 0, w, h)
        g.setColor(java.awt.Color.WHITE)
        g.fillRect(((id + f * 5) % (w - 8)).toInt, ((id + f * 3) % (h - 8)).toInt, 8, 8)
        g.dispose()
        writer.writeToSequence(new javax.imageio.IIOImage(frame, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    out.toByteArray
  }

  /** Build a media table from the documents corpus. All payloads are
    * real encoded containers rendered per partition, like a
    * fetch+transcode stage would produce: PNG images, PCM WAV audio,
    * multi-frame GIF video.
    *
    * @param onlyKind restrict the table to one kind BEFORE any payload
    *   rendering — consumers that touch a single modality (frame
    *   sampling reads only videos, resize only images) must not pay
    *   the PNG encode for rows they immediately filter out, because a
    *   filter cannot push through the render `mapPartitions`. */
  /** @param plantCorrupt when true, every 25th document additionally
    *   contributes a TRUNCATED payload (10 bytes — a recognizable
    *   magic prefix with the body cut off, the classic interrupted-
    *   fetch shape) under an offset-derived id, one per modality in
    *   round-robin — the fixture for the quarantine path. */
  def mediaTable(spark: SparkSession, dir: String,
                 onlyKind: Option[String] = None,
                 plantCorrupt: Boolean = false): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val base = docs
      .select(
        col("doc_id").as("media_id"),
        // deterministic kind assignment: image/audio/video round-robin
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast(IntegerType)).as("kind"),
        lit(false).as("corrupt"))
    val withPlanted =
      if (!plantCorrupt) base
      else {
        // planted ids live at max(id)+1-based offsets — id-disjoint
        // from every real row at any corpus size (the repo-wide
        // planting idiom)
        val off = docs.agg(max(col("doc_id"))).head() match {
          case r if r.isNullAt(0) => 1L
          case r                  => r.getLong(0) + 1L
        }
        base.unionByName(base.filter(col("media_id") % 25 === 0)
          .select((col("media_id") + lit(off)).as("media_id"), col("kind"),
            lit(true).as("corrupt")))
      }
    val narrowed = onlyKind.fold(withPlanted)(k => withPlanted.filter(col("kind") === k))
    narrowed
      .as[(Long, String, Boolean)]
      .mapPartitions { rows =>
        rows.map { case (id, kind, corrupt) =>
          val payload = kind match {
            case "image" => encodePng(syntheticImage(id))
            case "audio" => syntheticWav(id)
            case _       => syntheticGif(id)
          }
          (id, kind, if (corrupt) payload.take(10) else payload)
        }
      }
      .toDF("media_id", "kind", "payload")
  }

  /** Fall-back pseudo-decoder for UNDECODABLE payloads of any kind
    * (every healthy path now has a real JDK codec): deterministic
    * pseudo-metadata derived from the payload bytes, so a corrupt row
    * degrades instead of failing the batch. When corrupt rows must be
    * audited instead, [[decodeMetaTagged]] carries the decode outcome
    * and [[mediaQuarantine]] routes the failures to a side output. */
  private def decodeStub(id: Long, kind: String, payload: Array[Byte]): MediaMeta = {
    val n = payload.length
    val b0 = if (n > 0) payload(0) & 0xff else 0
    val b1 = if (n > 1) payload(1) & 0xff else 0
    kind match {
      case "audio" => MediaMeta(id, kind, n, 0, 0, 0, wavRates(b0 % 4))
      case _       => MediaMeta(id, kind, n, 16 + b0 % 1920, 16 + b1 % 2160, 1 + n % 300, 0)
    }
  }

  /** Decode one payload: images through the REAL `javax.imageio` codec
    * (width/height read from the PNG/JPEG bitstream), audio through
    * the REAL `javax.sound.sampled` parser (sample rate / frame count
    * from the RIFF header — no PCM decode needed for metadata), video
    * through the REAL GIF `ImageReader` (true container frame count
    * via `getNumImages` plus first-frame dimensions — headers only,
    * no pixel decode). None = undecodable — the caller picks the
    * degradation (stub metadata or quarantine). */
  private def decodeOneOpt(id: Long, kind: String, payload: Array[Byte]): Option[MediaMeta] =
    kind match {
      case "image" =>
        Option(readImage(payload)).map(img =>
          MediaMeta(id, kind, payload.length, img.getWidth, img.getHeight, 1, 0))
      case "audio" =>
        try {
          val aff = AudioSystem.getAudioFileFormat(new ByteArrayInputStream(payload))
          Some(MediaMeta(id, kind, payload.length, 0, 0,
            math.max(aff.getFrameLength, 0), aff.getFormat.getSampleRate.toInt))
        } catch { case _: Exception => None }
      case _ =>
        try {
          val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(payload))
          try {
            val readers = ImageIO.getImageReaders(iis)
            if (!readers.hasNext) None
            else {
              val r = readers.next()
              try {
                r.setInput(iis)
                Some(MediaMeta(id, kind, payload.length, r.getWidth(0), r.getHeight(0),
                  r.getNumImages(true), 0))
              } finally r.dispose()
            }
          } finally iis.close()
        } catch { case _: Exception => None }
    }

  /** Partition-wise batch decode with an optional pass-through column:
    * binary in, (typed metadata, extra, decoded-ok) out. `mapPartitions`
    * (not a per-row UDF) so codec setup amortizes once per partition —
    * the ONE decode loop every public entry point shares. Undecodable
    * rows carry the stub's pseudo-metadata and `false`. */
  private def decodeWith(media: DataFrame, extra: org.apache.spark.sql.Column): Dataset[(MediaMeta, String, Boolean)] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("payload"), extra.as("extra"))
      .as[(Long, String, Array[Byte], String)]
      .mapPartitions { rows =>
        rows.map { case (id, kind, payload, x) =>
          decodeOneOpt(id, kind, payload) match {
            case Some(m) => (m, x, true)
            case None    => (decodeStub(id, kind, payload), x, false)
          }
        }
      }
  }

  def decodeMeta(media: DataFrame): Dataset[MediaMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    decodeWith(media, lit("")).map(_._1)
  }

  /** Decode with the outcome carried as a `decode_ok` column — the
    * release-pipeline shape: one pass over the payloads, then split
    * into the healthy corpus and the audited quarantine with cheap
    * filters (persist the tagged frame when consuming both sides). */
  def decodeMetaTagged(media: DataFrame): DataFrame =
    decodeWith(media, lit(""))
      .select(col("_1.*"), col("_3").as("decode_ok"))

  /** Registered quarantine query (rows-only): the planted-corrupt
    * media table routes every undecodable payload — id, kind, and
    * size, the audit a release pipeline files instead of silently
    * degrading — while healthy rows are untouched (spec-pinned; the
    * un-planted `m_media_meta` row count is unchanged). */
  def mediaQuarantine(spark: SparkSession, dir: String): DataFrame =
    decodeMetaTagged(spark.read.parquet(fixtures(s"media-corrupt|$dir")(
        spread(mediaTable(spark, dir, plantCorrupt = true)))))
      .filter(!col("decode_ok"))
      .select(col("media_id"), col("kind"), col("n_bytes"))
      .orderBy("media_id")

  /** Metadata extraction query (rows-only oracle): decoded metadata of
    * every media object plus a payload content hash for dedup — sha
    * computed in the SAME pass as the decode (one corpus scan, no
    * join; the payload is never read twice). */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame =
    decodeWith(spark.read.parquet(fixtures(s"media|$dir")(spread(mediaTable(spark, dir)))),
        sha2(col("payload"), 256))
      .select(col("_1.*"), col("_2").as("payload_sha"))
      .orderBy("media_id")

  /** Frame-sampling plumbing for video payloads: explode a
    * deterministic every-Nth-frame index list — the downstream shape
    * of a real frame extractor. */
  def sampleFrames(meta: DataFrame, everyN: Int = 30): DataFrame =
    meta.filter(col("kind") === "video" && col("n_frames") > 0)
      .select(col("media_id"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(everyN))).as("frame_idx"))

  /** Registered frame-sample query: decode → sample in one pipeline
    * (rows-only oracle — one row per sampled frame per video). Only
    * the video rows are built and decoded; with every-8th-frame
    * sampling over the 4..11-frame GIF fixtures, videos with ≥9
    * frames sample two rows and the rest one — both branches of the
    * stride arithmetic are exercised. */
  def mediaFrames(spark: SparkSession, dir: String): DataFrame =
    sampleFrames(decodeMeta(spark.read.parquet(fixtures(s"media|$dir")(
        spread(mediaTable(spark, dir)))).filter(col("kind") === "video")).toDF(),
      everyN = 8)
      .orderBy("media_id", "frame_idx")

  /** Resized-image record: target box + the re-encoded payload. */
  case class ResizedImage(media_id: Long, src_width: Int, src_height: Int,
                          width: Int, height: Int, payload: Array[Byte])

  /** Image resize: fit each image into a `maxSide` box preserving
    * aspect ratio — a REAL decode → `Graphics2D` bilinear scale → PNG
    * re-encode, all through the JDK codec. An image already inside the
    * box passes through byte-identical (no decode/re-encode loss); an
    * UNDECODABLE payload is dropped rather than failing the whole
    * batch (same robustness contract as `decodeOne`'s stub fall-back —
    * user-supplied media tables always carry some corrupt rows). The
    * Spark-side shape is the production one: binary in / binary out,
    * codec contexts amortized per partition, metadata computed with
    * the pixels in hand. */
  def resizeImages(media: DataFrame, maxSide: Int = 256): Dataset[ResizedImage] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "image")
      .select(col("media_id"), col("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, _, payload) => resizeOne(id, payload, maxSide) }
      }
  }

  /** Decode an image payload, null when undecodable. ImageIO signals
    * corruption TWO ways — null for an unrecognized format, but an
    * IIOException for a recognized-then-truncated bitstream (a valid
    * PNG signature with cut-off IDAT data) — and both must degrade,
    * not fail the batch. */
  private def readImage(payload: Array[Byte]): BufferedImage =
    try ImageIO.read(new ByteArrayInputStream(payload))
    catch { case _: Exception => null }

  private def resizeOne(id: Long, payload: Array[Byte], maxSide: Int): Option[ResizedImage] = {
    val img = readImage(payload)
    if (img == null) None
    else {
      val (sw, sh) = (img.getWidth, img.getHeight)
      val scale = math.min(1.0, maxSide.toDouble / math.max(sw, sh))
      if (scale >= 1.0) Some(ResizedImage(id, sw, sh, sw, sh, payload))
      else {
        val w = math.max(1, (sw * scale).round.toInt)
        val h = math.max(1, (sh * scale).round.toInt)
        val dst = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        val g = dst.createGraphics()
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, w, h, null)
        g.dispose()
        Some(ResizedImage(id, sw, sh, w, h, encodePng(dst)))
      }
    }
  }

  /** Registered resize query (rows-only): per-image target geometry +
    * payload size — scalar columns only for the driver dump. */
  def mediaResize(spark: SparkSession, dir: String): DataFrame =
    resizeImages(spark.read.parquet(fixtures(s"media|$dir")(spread(mediaTable(spark, dir))))
      .filter(col("kind") === "image")).toDF()
      .select(col("media_id"), col("src_width"), col("src_height"),
        col("width"), col("height"), length(col("payload")).as("n_bytes"))
      .orderBy("media_id")

  /** 64-bit difference hash (dHash) of a decoded image — the standard
    * perceptual fingerprint for image near-dup detection: downscale to
    * 9×8 grayscale (bilinear, so every source pixel contributes), set
    * bit y·8+x iff gray(x,y) > gray(x+1,y). Robust to re-encoding,
    * mild brightness shifts (monotone maps preserve the comparisons)
    * and small local edits (each bit depends on two pooled blocks). */
  private[graft] def dHash(img: BufferedImage): Long = {
    val scaled = new BufferedImage(9, 8, BufferedImage.TYPE_INT_RGB)
    val g = scaled.createGraphics()
    g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
      java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
    g.drawImage(img, 0, 0, 9, 8, null)
    g.dispose()
    var bits = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        val a = scaled.getRGB(x, y); val b = scaled.getRGB(x + 1, y)
        val ga = ((a >> 16 & 0xff) * 299 + (a >> 8 & 0xff) * 587 + (a & 0xff) * 114)
        val gb = ((b >> 16 & 0xff) * 299 + (b >> 8 & 0xff) * 587 + (b & 0xff) * 114)
        if (ga > gb) bits |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    bits
  }

  /** Per-image perceptual hashes: decode → dHash, undecodable rows
    * dropped (the resize path's degradation contract). Partition-wise
    * batches; output is one long per image. */
  def imageHashes(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "image")
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          Option(readImage(payload)).map(img => (id, dHash(img)))
        }
      }
      .toDF("media_id", "dhash")
  }

  /** Exact multi-index Hamming pair search, shared by all three
    * modality dedup paths (the SimHash band idiom made EXACT): split
    * each 64-bit hash into 8 bands of 8 bits; by pigeonhole, two
    * hashes within Hamming distance ≤ 7 agree on at least one whole
    * band, so the band equi-join is a COMPLETE candidate generator
    * for `maxHamming` ≤ 7 — no all-pairs term, no probabilistic
    * recall. Input (id, part, hash): `part` scopes the match (0 for
    * whole-item hashes; the frame index for video, so only aligned
    * frames pair). Scale shape: one explode (8 rows per hash) + one
    * band-keyed shuffle join + a distinct on the pair key; candidate
    * volume is controlled by band selectivity (at larger corpora,
    * widen bands over a longer hash — same plan shape). */
  private[graft] def hammingBandPairs(hashes: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 7, "8 bands of 8 bits guarantee recall only to Hamming 7")
    val bands = hashes.select(col("id"), col("part"), col("hash"),
      explode(array((0 until 8).map(i =>
        struct(lit(i).as("band_idx"),
          shiftrightunsigned(col("hash"), i * 8).bitwiseAND(lit(0xffL))
            .as("band_bits"))): _*)).as("band"))
      .select(col("id"), col("part"), col("hash"),
        col("band.band_idx").as("band_idx"), col("band.band_bits").as("band_bits"))
    val a = bands.as("a"); val b = bands.as("b")
    a.join(b,
        col("a.part") === col("b.part") &&
          col("a.band_idx") === col("b.band_idx") &&
          col("a.band_bits") === col("b.band_bits") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.part").as("part"), col("a.hash").as("h_a"), col("b.hash").as("h_b"))
      .dropDuplicates("id_a", "id_b", "part")
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast(LongType))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("part"), col("hamming"))
  }

  /** Image near-dup pairs by perceptual hash through the shared
    * multi-index search. */
  def imageNearDupOf(media: DataFrame, maxHamming: Int = 7): DataFrame =
    hammingBandPairs(
        imageHashes(media).select(col("media_id").as("id"),
          lit(0).as("part"), col("dhash").as("hash")),
        maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy("id_a", "id_b")

  /** Image table with planted perceptual near-dups: every 8th image id
    * re-appears at a derived offset (max(id)+1 — the repo-wide
    * planting idiom) with a mild global brightness lift plus a local
    * corner edit: visibly "the same picture", byte-different payload —
    * exactly what exact/binary-hash dedup cannot see and dHash must. */
  def imageTableWithNearDups(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val off = docs.agg(max(col("doc_id"))).head() match {
      case r if r.isNullAt(0) => 1L
      case r                  => r.getLong(0) + 1L
    }
    val imgIds = docs.filter(col("doc_id") % 3 === 0).select(col("doc_id"))
    val base = imgIds.select(col("doc_id").as("media_id"), lit(false).as("perturbed"))
    val planted = imgIds.filter(col("doc_id") % 24 === 0)
      .select((col("doc_id") + lit(off)).as("media_id"), lit(true).as("perturbed"))
    base.unionByName(planted)
      .as[(Long, Boolean)]
      .mapPartitions { rows =>
        rows.map { case (id, pert) =>
          val img = syntheticTexturedImage(if (pert) id - off else id)
          (id, "image", encodePng(if (pert) perturbImage(img) else img))
        }
      }
      .toDF("media_id", "kind", "payload")
  }

  /** Id-seeded textured image for the perceptual-dedup fixture: 8×8
    * blocks of LCG-derived colors. [[syntheticImage]]'s smooth shared
    * gradient is right for codec/resize work but perceptually
    * near-identical across ids once pooled to 9×8 — every image would
    * be everyone's near-dup. Distinct textures give near-uniform
    * dHashes (distinct pairs land at the ~32-bit random baseline),
    * while a perturbed COPY stays within a few bits. */
  private[graft] def syntheticTexturedImage(id: Long): BufferedImage = {
    val w = 16 + ((id * 7) % 120).toInt
    val h = 16 + ((id * 13) % 90).toInt
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val pix = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var s = id * 6364136223846793005L + (x / 8).toLong * 2862933555777941757L +
          (y / 8).toLong * 3202034522624059733L
        s ^= s >>> 33; s *= 0xff51afd7ed558ccdL; s ^= s >>> 33
        pix(y * w + x) = (s & 0xffffff).toInt
        x += 1
      }
      y += 1
    }
    img.setRGB(0, 0, w, h, pix, 0, w)
    img
  }

  /** Mild perceptual perturbation: +6 brightness everywhere (monotone,
    * preserves most dHash comparisons) and a small bright patch in the
    * top-left corner (flips at most the bits pooled from that patch). */
  private def perturbImage(src: BufferedImage): BufferedImage = {
    val w = src.getWidth; val h = src.getHeight
    val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = src.getRGB(x, y)
        val corner = x < w / 8 && y < h / 8
        def lift(c: Int): Int = math.min(255, c + (if (corner) 24 else 6))
        out.setRGB(x, y,
          (lift(p >> 16 & 0xff) << 16) | (lift(p >> 8 & 0xff) << 8) | lift(p & 0xff))
        x += 1
      }
      y += 1
    }
    out
  }

  /** One synthetic media fixture per (variant, source dir) per JVM,
    * materialized to scratch parquet and shared by every registered
    * media query: the synthetic ENCODE of the fixture corpus
    * (PNG/WAV/GIF writers) is setup, not the work the queries claim —
    * and the video dedup query's two consumers (frame counts + band
    * join) would otherwise re-encode the whole clip table twice per
    * pass. The timed path keeps everything real: payload DECODE,
    * metadata extraction, resize re-encode, fingerprinting, band
    * search. */
  private val fixtures = new graft.util.Scratch.Fixture[String]("media_fixture")

  /** A fixture build: writes `media` under `tmp` one file per core (the
    * parquet read splits by file, so the downstream per-partition
    * decode actually parallelizes) and returns the table's path. */
  private def spread(media: => DataFrame)(tmp: String): String = {
    val df = media
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .write.parquet(s"$tmp/table")
    s"$tmp/table"
  }

  /** Registered image near-dup query (rows-only: the dHash depends on
    * the JDK's bilinear downscale — no SQL oracle can reproduce it;
    * planted-pair recovery is spec-pinned instead): perceptual
    * duplicate pairs over the planted table. */
  def mediaDedup(spark: SparkSession, dir: String): DataFrame =
    imageNearDupOf(spark.read.parquet(fixtures(s"image|$dir")(
      spread(imageTableWithNearDups(spark, dir)))))

  // ——— audio perceptual dedup ————————————————————————————————————

  /** 56-bit audio fingerprint: pairwise hysteresis zero-crossing
    * profile. Decode the PCM, split into 8 equal windows, count
    * per-window sign alternations that swing beyond ±`hyst` (plain
    * zero crossings flip on inaudible noise around 0 — hysteresis
    * makes the count a PITCH profile that ignores low-level noise),
    * then emit one bit per ORDERED window pair i≠j: set iff
    * crossings(i) > crossings(j) + `margin`. Coarse windows + the
    * margin make every bit stable under volume scaling (crossings
    * don't move while peaks clear the threshold), sub-threshold
    * noise, and ±1 crossing-migration at window edges — while
    * windows of genuinely different pitch differ by many crossings,
    * so distinct material still draws distinct profiles. The audio
    * analogue of the brightness/local-edit robustness dHash gives
    * images. */
  private[graft] def audioFingerprint(samples: Array[Int], hyst: Int = 1000,
                                      margin: Int = 2): Long = {
    val n = samples.length
    if (n < 16) return 0L
    val cross = new Array[Int](8)
    var w = 0
    while (w < 8) {
      val from = (n.toLong * w / 8).toInt
      val until = (n.toLong * (w + 1) / 8).toInt
      var c = 0; var sign = 0; var i = from
      while (i < until) {
        val s = samples(i)
        if (s > hyst) { if (sign < 0) c += 1; sign = 1 }
        else if (s < -hyst) { if (sign > 0) c += 1; sign = -1 }
        i += 1
      }
      cross(w) = c
      w += 1
    }
    var bits = 0L
    var k = 0
    var i = 0
    while (i < 8) {
      var j = 0
      while (j < 8) {
        if (i != j) {
          if (cross(i) > cross(j) + margin) bits |= 1L << k
          k += 1
        }
        j += 1
      }
      i += 1
    }
    bits
  }

  /** Decode a WAV payload to signed 16-bit samples (little-endian
    * mono, the fixture/production format), None when undecodable. */
  private def readPcm(payload: Array[Byte]): Option[Array[Int]] =
    try {
      val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
      val bytes = ais.readAllBytes()
      val out = new Array[Int](bytes.length / 2)
      var i = 0
      while (i < out.length) {
        out(i) = ((bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff))
        i += 1
      }
      Some(out)
    } catch { case _: Exception => None }

  /** Per-clip audio fingerprints: decode → hysteresis-ZCR hash,
    * undecodable rows dropped. */
  def audioFingerprints(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "audio")
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          readPcm(payload).map(s => (id, audioFingerprint(s)))
        }
      }
      .toDF("media_id", "fingerprint")
  }

  /** Audio near-dup pairs through the shared multi-index search. */
  def audioNearDupOf(media: DataFrame, maxHamming: Int = 7): DataFrame =
    hammingBandPairs(
        audioFingerprints(media).select(col("media_id").as("id"),
          lit(0).as("part"), col("fingerprint").as("hash")),
        maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy("id_a", "id_b")

  /** Id-seeded melody WAV for the audio-dedup fixture: 8 tone
    * segments with LCG-chosen frequencies. [[syntheticWav]]'s single
    * stationary tone has a FLAT crossing profile — every clip would
    * fingerprint alike; a melody's per-segment pitch steps give each
    * id a distinctive profile. */
  private[graft] def syntheticMelodyWav(id: Long, amplitude: Int = 12000,
                                        noise: Int = 0): Array[Byte] = {
    val rate = wavRates(((id % 4) + 4).toInt % 4)
    val segFrames = 260
    val nFrames = 8 * segFrames
    val pcm = new Array[Byte](nFrames * 2)
    var rng = id * 6364136223846793005L + 1442695040888963407L
    var seg = 0
    var i = 0
    while (seg < 8) {
      rng = rng * 6364136223846793005L + 1442695040888963407L
      val freq = 1 + ((rng >>> 33) % 60).toInt
      var j = 0
      while (j < segFrames) {
        rng = rng * 6364136223846793005L + 1442695040888963407L
        val n = if (noise == 0) 0 else (((rng >>> 33) % (2L * noise)) - noise).toInt
        val s0 = (math.sin(2 * math.Pi * freq * j / 100.0) * amplitude).toInt + n
        val s = math.max(-32768, math.min(32767, s0)).toShort
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
        j += 1; i += 1
      }
      seg += 1
    }
    val fmt = new AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val out = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Audio table with planted near-dups: every 8th audio id
    * re-appears at the derived offset, volume-dropped to 80% with
    * sub-threshold noise — same recording to the ear, byte-different
    * payload. */
  def audioTableWithNearDups(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val off = docs.agg(max(col("doc_id"))).head() match {
      case r if r.isNullAt(0) => 1L
      case r                  => r.getLong(0) + 1L
    }
    val audIds = docs.filter(col("doc_id") % 3 === 1).select(col("doc_id"))
    val base = audIds.select(col("doc_id").as("media_id"), lit(false).as("perturbed"))
    val planted = audIds.filter(col("doc_id") % 24 === 1)
      .select((col("doc_id") + lit(off)).as("media_id"), lit(true).as("perturbed"))
    base.unionByName(planted)
      .as[(Long, Boolean)]
      .mapPartitions { rows =>
        rows.map { case (id, pert) =>
          val src = if (pert) id - off else id
          val payload =
            if (pert) syntheticMelodyWav(src, amplitude = 9600, noise = 300)
            else syntheticMelodyWav(src)
          (id, "audio", payload)
        }
      }
      .toDF("media_id", "kind", "payload")
  }

  /** Registered audio near-dup query (rows-only — the fingerprint
    * rides the PCM decode; planted-pair recovery is spec-pinned). */
  def mediaDedupAudio(spark: SparkSession, dir: String): DataFrame =
    audioNearDupOf(spark.read.parquet(fixtures(s"audio|$dir")(
      spread(audioTableWithNearDups(spark, dir)))))

  // ——— video perceptual dedup ————————————————————————————————————

  /** Per-frame dHashes of a video payload: every frame of the GIF
    * container through the same perceptual hash images use. */
  def videoFrameHashes(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "video")
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          try {
            val ios = ImageIO.createImageInputStream(new ByteArrayInputStream(payload))
            val reader = ImageIO.getImageReadersByFormatName("gif").next()
            try {
              reader.setInput(ios)
              val n = reader.getNumImages(true)
              (0 until n).map(f => (id, f, dHash(reader.read(f))))
            } finally reader.dispose()
          } catch { case _: Exception => Seq.empty }
        }
      }
      .toDF("media_id", "frame_idx", "dhash")
  }

  /** Video near-dup pairs: frame-aligned dHash matches through the
    * shared multi-index search (`part` = frame index, so only frame k
    * pairs with frame k), then a pair-keyed count — two clips are
    * near-dups when at least `minMatchedPct`% of the SHORTER clip's
    * frames match. Frame-level work is clips × frames rows; the pair
    * aggregation is candidate-sized, never corpus². */
  def videoNearDupOf(media: DataFrame, maxHamming: Int = 7,
                     minMatchedPct: Int = 60): DataFrame = {
    val hashes = videoFrameHashes(media)
    val frameCounts = hashes.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_frames"))
    val framePairs = hammingBandPairs(
      hashes.select(col("media_id").as("id"),
        col("frame_idx").as("part"), col("dhash").as("hash")),
      maxHamming)
    framePairs
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_matched"))
      .join(frameCounts.select(col("media_id").as("id_a"), col("n_frames").as("nf_a")), "id_a")
      .join(frameCounts.select(col("media_id").as("id_b"), col("n_frames").as("nf_b")), "id_b")
      .withColumn("n_frames_min", least(col("nf_a"), col("nf_b")))
      .filter(col("n_matched") * 100 >= col("n_frames_min") * minMatchedPct)
      .select(col("id_a"), col("id_b"), col("n_matched"), col("n_frames_min"))
      .orderBy("id_a", "id_b")
  }

  /** Video table with planted near-dups: every 8th video id
    * re-appears at the derived offset with every frame
    * brightness-lifted (re-encoded through the same GIF writer) —
    * the same clip after a filter pass. */
  def videoTableWithNearDups(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val off = docs.agg(max(col("doc_id"))).head() match {
      case r if r.isNullAt(0) => 1L
      case r                  => r.getLong(0) + 1L
    }
    val vidIds = docs.filter(col("doc_id") % 3 === 2).select(col("doc_id"))
    val base = vidIds.select(col("doc_id").as("media_id"), lit(false).as("perturbed"))
    val planted = vidIds.filter(col("doc_id") % 24 === 2)
      .select((col("doc_id") + lit(off)).as("media_id"), lit(true).as("perturbed"))
    base.unionByName(planted)
      .as[(Long, Boolean)]
      .mapPartitions { rows =>
        rows.map { case (id, pert) =>
          val src = if (pert) id - off else id
          (id, "video",
            if (pert) perturbGif(syntheticTexturedGif(src)) else syntheticTexturedGif(src))
        }
      }
      .toDF("media_id", "kind", "payload")
  }

  /** Id-seeded textured GIF for the video-dedup fixture — the moving
    * analogue of [[syntheticTexturedImage]]: [[syntheticGif]]'s
    * flat-color frames pool to near-identical 9×8 thumbnails (every
    * clip would frame-match every other); per-(id, frame)-seeded 8×8
    * block textures give each clip a distinctive per-frame dHash
    * trail while a filter-passed COPY still matches frame-for-frame. */
  private[graft] def syntheticTexturedGif(id: Long): Array[Byte] = {
    val n = gifFramesFor(id)
    val w = 32; val h = 24
    val out = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(out)
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < n) {
        // indexed frames + per-8×8-block fillRect: the GIF writer
        // encodes indexed rasters directly, where a true-color frame
        // is re-quantized pixel by pixel (~7× slower end-to-end)
        val frame = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED)
        val g = frame.createGraphics()
        var by = 0
        while (by < h / 8) {
          var bx = 0
          while (bx < w / 8) {
            var s = id * 6364136223846793005L + f.toLong * 0x9E3779B97F4A7C15L +
              bx.toLong * 2862933555777941757L + by.toLong * 3202034522624059733L
            s ^= s >>> 33; s *= 0xff51afd7ed558ccdL; s ^= s >>> 33
            g.setColor(new java.awt.Color((s & 0xffffff).toInt))
            g.fillRect(bx * 8, by * 8, 8, 8)
            bx += 1
          }
          by += 1
        }
        g.dispose()
        writer.writeToSequence(new javax.imageio.IIOImage(frame, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    out.toByteArray
  }

  /** Re-encode a GIF with each frame brightness-lifted through
    * [[perturbImage]] — a filter pass over the whole clip. */
  private def perturbGif(payload: Array[Byte]): Array[Byte] = {
    val ios = ImageIO.createImageInputStream(new ByteArrayInputStream(payload))
    val reader = ImageIO.getImageReadersByFormatName("gif").next()
    val out = new ByteArrayOutputStream()
    val oos = ImageIO.createImageOutputStream(out)
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    try {
      reader.setInput(ios)
      writer.setOutput(oos)
      writer.prepareWriteSequence(null)
      val n = reader.getNumImages(true)
      var f = 0
      while (f < n) {
        val lifted = perturbImage(reader.read(f))
        writer.writeToSequence(new javax.imageio.IIOImage(lifted, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally {
      reader.dispose(); writer.dispose(); oos.close()
    }
    out.toByteArray
  }

  /** Registered video near-dup query (rows-only — frame dHashes ride
    * the GIF decode; planted-pair recovery is spec-pinned). */
  def mediaDedupVideo(spark: SparkSession, dir: String): DataFrame =
    videoNearDupOf(spark.read.parquet(fixtures(s"video|$dir")(
      spread(videoTableWithNearDups(spark, dir)))))

  // — SHOT SEGMENTATION (scene-cut detection) ————————————————————————

  /** The multi-shot clip table, one fixture per dir per JVM — shared
    * by the scene-cut and per-shot-sampling registrations so they can
    * never drift apart. */
  private def shotClipTable(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(fixtures(s"shots|$dir")(spread {
      import spark.implicits._
      Tables.documents(spark, dir)
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id").as("media_id"))
        .as[Long]
        .mapPartitions(_.map(id => (id, "video", syntheticShotGif(id))))
        .toDF("media_id", "kind", "payload")
    }))

  /** Shots per synthetic clip and frames per shot: 2-4 shots × 3
    * frames, id-derived — every clip has at least one true cut. */
  private[graft] def shotsFor(id: Long): Int = (2 + id % 3).toInt
  private[graft] val framesPerShot = 3

  /** Deterministic multi-SHOT clip: within a shot the background is a
    * constant gray and only a small block moves (histogram-invariant
    * motion); at each shot boundary the background jumps to a gray
    * THREE luminance bins away (67 mod 16 = 3, never 0), so planted
    * cuts are cleanly separable from motion by construction. */
  private[graft] def syntheticShotGif(id: Long): Array[Byte] = {
    val w = 32; val h = 24
    val out = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(out)
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      for (s <- 0 until shotsFor(id); f <- 0 until framesPerShot) {
        val gray = (((id * 37 + s * 67) % 16) * 16 + 8).toInt
        val frame = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED)
        val g = frame.createGraphics()
        g.setColor(new java.awt.Color(gray, gray, gray))
        g.fillRect(0, 0, w, h)
        g.setColor(java.awt.Color.WHITE)
        g.fillRect(((id + (s * framesPerShot + f) * 5) % (w - 8)).toInt,
          ((id + (s * framesPerShot + f) * 3) % (h - 8)).toInt, 8, 8)
        g.dispose()
        writer.writeToSequence(new javax.imageio.IIOImage(frame, null, null), null)
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    out.toByteArray
  }

  /** 16-bin luminance histogram — position-blind, so within-shot
    * motion (same pixels, new places) scores ~zero distance while a
    * background change moves most of the frame across bins. */
  private def lumaHist16(img: BufferedImage): Array[Long] = {
    val hist = new Array[Long](16)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        val luma = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
          (rgb & 0xff) * 114) / 1000
        hist(luma / 16) += 1
        x += 1
      }
      y += 1
    }
    hist
  }

  final case class SceneCut(media_id: Long, frame_idx: Long,
                            dist_ppm: Long, is_cut: Boolean)

  /** Shot-boundary detection over video payloads: decode every frame
    * (one GIF reader per payload, partition-amortized), histogram it,
    * and flag transitions whose L1 histogram distance exceeds
    * `cutThresholdPpm` of the maximum (2 × pixels). The standard
    * first pass of video curation — frame SAMPLING (row 30) should be
    * per-shot, not per-clip, or a 3-shot clip contributes 3 near-
    * identical frames from one shot and none from the others.
    * Integer ppm distances: deterministic at any parallelism.
    * Undecodable payloads contribute no rows (the quarantine path
    * owns them, same contract as resize). */
  def sceneCutsOf(media: DataFrame, cutThresholdPpm: Long = 200000L): Dataset[SceneCut] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "video")
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          try {
            val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(payload))
            val reader = ImageIO.getImageReadersByFormatName("gif").next()
            try {
              reader.setInput(iis)
              val n = reader.getNumImages(true)
              val hists = (0 until n).map(i => lumaHist16(reader.read(i)))
              // every pixel lands in exactly one bin — no extra decode
              val pixels = if (n > 0) math.max(hists(0).sum, 1L) else 1L
              (1 until n).map { i =>
                val l1 = hists(i).zip(hists(i - 1))
                  .map { case (a, b) => math.abs(a - b) }.sum
                val ppm = l1 * 1000000L / (2L * pixels)
                SceneCut(id, i.toLong, ppm, ppm > cutThresholdPpm)
              }
            } finally { reader.dispose(); iis.close() }
          } catch { case _: Exception => Seq.empty }
        }
      }
  }

  /** Per-SHOT representative frame selection — the composition the
    * scene detector exists for: instead of every-Nth sampling (row
    * 30, shot-blind), each detected shot contributes its MIDDLE frame
    * — one maximally-representative frame per shot, none of a long
    * shot's redundancy, no shot skipped. Frame→shot assignment is a
    * running cut-count window partitioned per clip (bounded by frames
    * per clip); the representative is `(start+end) div 2`, integer
    * and deterministic. Returns (media_id, shot_id, shot_start,
    * shot_len, rep_frame_idx). */
  def shotRepresentativeFrames(media: DataFrame,
                               cutThresholdPpm: Long = 200000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cuts = sceneCutsOf(media, cutThresholdPpm).toDF()
    val w = Window.partitionBy("media_id").orderBy("frame_idx")
      .rowsBetween(Window.unboundedPreceding, 0)
    val transitions = cuts
      .withColumn("shot_id",
        sum(when(col("is_cut"), 1L).otherwise(0L)).over(w))
      .select(col("media_id"), col("frame_idx"), col("shot_id"))
    // frame 0 opens shot 0 in every DECODABLE clip — seeded from the
    // media table (header decode only), not from the transition rows:
    // a one-frame clip has no transitions and would otherwise vanish
    // from the sample entirely
    val frames = transitions.unionByName(
      decodeMetaTagged(media.filter(col("kind") === "video"))
        .filter(col("decode_ok") && col("n_frames") >= 1)
        .select(col("media_id"), lit(0L).as("frame_idx"), lit(0L).as("shot_id")))
    frames.groupBy("media_id", "shot_id")
      .agg(min(col("frame_idx")).as("shot_start"),
        count(lit(1)).as("shot_len"),
        ((min(col("frame_idx")) + max(col("frame_idx"))) / 2)
          .cast(org.apache.spark.sql.types.LongType).as("rep_frame_idx"))
      .orderBy("media_id", "shot_id")
  }

  /** Registered `m_media_shot_frames` (rows-only): one representative
    * frame per detected shot over the multi-shot clip table. */
  def mediaShotFrames(spark: SparkSession, dir: String): DataFrame =
    shotRepresentativeFrames(shotClipTable(spark, dir))

  /** Registered `m_media_scenes` (rows-only — histograms ride the JDK
    * GIF decode): per-transition cut flags over the multi-shot clip
    * table, plus the planted-boundary recovery spec. */
  def mediaScenes(spark: SparkSession, dir: String): DataFrame =
    sceneCutsOf(shotClipTable(spark, dir)).toDF()
      .orderBy("media_id", "frame_idx")
}
