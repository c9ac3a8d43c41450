package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * payloads with typed metadata, decoded/feature-extracted in batches.
  *
  * IMAGE decode is REAL: payloads carrying a known still-image container
  * (PNG/JPEG/GIF/BMP, sniffed by magic bytes) go through JDK ImageIO and
  * report actual pixel dimensions. AUDIO decode is REAL for WAV/AIFF via
  * javax.sound. VIDEO decode is REAL for multi-frame GIF via the ImageIO
  * GIF reader (demux + frame seek + per-frame decode — the full video
  * pipeline shape); non-GIF video codecs (MP4/H.264 …) are the remaining
  * stub (no ffmpeg in this container) — payloads no JDK codec parses are
  * byte-wrapped into a REAL container ([[bmpFromBytes]], [[wavFromBytes]],
  * [[gifFromBytes]]) and sent through the same decoder, so synthetic
  * text-derived payloads flow through the actual codec path with
  * oracle-reproducible features.
  * Either way the Spark-side structure is real and tested: schema, batch
  * shape, partition-parallel execution, and the projection contract
  * (payload is pruned away the moment features are extracted, so the
  * wide binary column never travels through a shuffle).
  *
  * 100 TB notes: media payloads dominate bytes; the rules that matter are
  * (1) never groupBy/join on a plan that still carries `payload` — extract
  * features first, then shuffle the narrow rows; (2) decode per-partition
  * in batches (here via `mapPartitions` over an iterator — the Scala
  * analogue of Arrow-batched Pandas UDFs) so codec init cost amortizes.
  */
object Media {

  // In-memory image streams: ImageIO's default disk cache would wrap
  // every already-in-memory payload in a FileCacheImageInputStream —
  // one temp-file create/write/delete per decoded row on every
  // executor, exactly the per-row codec-setup I/O this pipeline must
  // not pay. Object init runs once per executor JVM.
  javax.imageio.ImageIO.setUseCache(false)

  /** An opaque media record: binary payload + typed envelope. */
  case class MediaRecord(
      media_id: Long,
      kind: String,            // image | audio | video
      payload: Array[Byte],
      source: String)

  /** Extracted features — narrow, shuffle-safe. */
  case class MediaFeatures(
      media_id: Long,
      kind: String,
      source: String,
      n_bytes: Long,
      width: Int,
      height: Int,
      n_frames: Int,
      checksum: String)

  /** Build a media table from `documents` (text bytes standing in for real
    * payloads — deterministic, schema-faithful). */
  def mediaFromDocuments(docs: DataFrame): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // a NULL text row carries no payload bytes — it is NOT a media
    // record, and letting it through NPEs every decode arm downstream
    // (DirtyCorpusSpec). Dropping at the boundary is the production
    // rule: absent payloads are filtered at ingest, not decoded.
    docs.filter(col("text").isNotNull).select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("payload"),
      col("source"))
      .as[MediaRecord]
  }

  /** Magic-byte sniff for still-image containers ImageIO can open. The
    * sniff is O(4 bytes), so non-image payloads (text-derived synthetics,
    * audio/video bitstreams) skip codec setup entirely — at 100 TB the
    * common case must not pay reader-probe allocation per row. */
  private def looksLikeImage(p: Array[Byte]): Boolean =
    p.length >= 4 && (
      (p(0) == 0x89.toByte && p(1) == 'P' && p(2) == 'N' && p(3) == 'G') ||
      (p(0) == 0xFF.toByte && p(1) == 0xD8.toByte) || // JPEG SOI
      (p(0) == 'G' && p(1) == 'I' && p(2) == 'F') ||
      (p(0) == 'B' && p(1) == 'M'))

  /** Real image decode via JDK ImageIO; None when the payload is not a
    * parseable image (caller falls back to the deterministic fake). A
    * corrupt container must degrade to fallback features, never kill the
    * partition — at scale some fraction of crawled media is always torn. */
  private def decodeImage(p: Array[Byte]): Option[(Int, Int)] =
    if (!looksLikeImage(p)) None
    else try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p)))
      .map(img => (img.getWidth, img.getHeight))
    catch { case _: Exception => None }

  /** GIF container sniff (subset of [[looksLikeImage]]) — the one
    * multi-frame container the JDK decodes natively, which closes the
    * video seam without ffmpeg: animated GIF IS a video bitstream as far
    * as the pipeline shape goes (demux → frame seek → per-frame decode). */
  private def looksLikeGif(p: Array[Byte]): Boolean =
    p.length >= 4 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F'

  /** Run `f` over an ImageIO GIF reader positioned on `gif`; None on any
    * parse failure (degrade-not-die, as [[decodeImage]]). */
  private def withGifReader[T](gif: Array[Byte])
      (f: javax.imageio.ImageReader => T): Option[T] = {
    val readers = javax.imageio.ImageIO.getImageReadersByFormatName("gif")
    if (!readers.hasNext) return None
    val reader = readers.next()
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(gif))
    try {
      reader.setInput(iis)
      Some(f(reader))
    } catch { case _: Exception => None }
    finally {
      reader.dispose()
      iis.close()
    }
  }

  /** Container metadata of a multi-frame GIF: (width, height, n_frames) —
    * the REAL codec answer to what [[decodeOne]] fakes for other video
    * containers. */
  private[multimodal] def gifMeta(gif: Array[Byte]): Option[(Int, Int, Int)] =
    withGifReader(gif) { r =>
      val n = r.getNumImages(true)
      (r.getWidth(0), r.getHeight(0), n)
    }

  /** Every `stride`-th frame of a GIF decoded and mapped with `f` —
    * frame seek is `ImageReader.read(i)`, the real demux-and-decode
    * shape shared by [[gifFrameEnergies]] (m02) and [[frameHashes]]
    * (m09). */
  private def gifFrames[T](gif: Array[Byte], stride: Int)
      (f: java.awt.image.BufferedImage => T): Option[Seq[(Int, T)]] =
    withGifReader(gif) { r =>
      (0 until r.getNumImages(true) by stride).map(i => (i, f(r.read(i))))
    }

  /** The GIF-or-wrap dispatch every frame-level op shares: a payload
    * that IS a GIF runs `read` directly; anything else (and a torn
    * direct GIF — `read` returns None on parse failure) byte-wraps into
    * a real animated GIF with (n mod 24)+1 frames ([[gifFromBytes]])
    * and runs the SAME codec path. */
  private def viaGif[T](payload: Array[Byte])
      (read: Array[Byte] => Option[T]): Option[T] =
    (if (looksLikeGif(payload)) read(payload) else None)
      .orElse(read(gifFromBytes(payload, (payload.length % 24 + 1).toInt)))

  /** Integer luminance energy of one frame: Σ over pixels of
    * (299r+587g+114b)/1000. */
  private def lumEnergy(img: java.awt.image.BufferedImage): Long = {
    var s = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        s += (299L * ((rgb >> 16) & 0xFF) + 587L * ((rgb >> 8) & 0xFF)
          + 114L * (rgb & 0xFF)) / 1000L
        x += 1
      }
      y += 1
    }
    s
  }

  /** Every `stride`-th frame of a GIF decoded to its integer luminance
    * energy. */
  private[multimodal] def gifFrameEnergies(gif: Array[Byte], stride: Int)
      : Option[Seq[(Int, Long)]] =
    gifFrames(gif, stride)(lumEnergy)

  /** Animated 8×8 grayscale GIF with `nFrames` frames wrapping `bytes` as
    * pixel data: frame f, pixel p (row-major) gets gray
    * b(f·64 + p) = bytes((f·64+p) mod length) (0 on empty) — the
    * multi-frame analogue of [[bmpFromBytes]]: a REAL decodable animated
    * GIF (the frame-sampling path demuxes it like any crawled clip)
    * whose pixel values stay a pure function of the source bytes, so a
    * SQL oracle recomputes per-frame features without parsing the
    * container. An explicit 256-gray palette makes the indexed encode
    * byte-exact (no quantization), and r=g=b means the integer luminance
    * (299v+587v+114v)/1000 = v exactly. */
  def gifFromBytes(bytes: Array[Byte], nFrames: Int): Array[Byte] = {
    def b(i: Int): Int = if (bytes.isEmpty) 0 else bytes(i % bytes.length) & 0xFF
    val grays = Array.tabulate(256)(_.toByte)
    val cm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
    val out = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      (0 until math.max(nFrames, 1)).foreach { f =>
        val img = new java.awt.image.BufferedImage(
          8, 8, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
        (0 until 64).foreach(p =>
          img.getRaster.setSample(p % 8, p / 8, 0, b(f * 64 + p)))
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    out.toByteArray
  }

  /** RIFF/WAVE container sniff — the audio analogue of [[looksLikeImage]]. */
  private def looksLikeWav(p: Array[Byte]): Boolean =
    p.length >= 12 &&
      p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
      p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E'

  /** Real audio header parse via `javax.sound.sampled` (WAV/AIFF ship
    * with the JDK — no external codec needed): (sampleRate, channels,
    * frames). None on anything unparseable, same degrade-not-die contract
    * as [[decodeImage]]. */
  private def decodeWav(p: Array[Byte]): Option[(Int, Int, Int)] =
    if (!looksLikeWav(p)) None
    else try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(p))
      try {
        val f = in.getFormat
        val frames = in.getFrameLength
        // streaming-encoder WAVs carry placeholder/unknown data-chunk
        // sizes (frame length reported negative/NOT_SPECIFIED or as an
        // absurd 0xFFFFFFFF-derived value) — those must take the
        // fallback, not poison downstream frame sums
        if (frames < 0 || frames > Int.MaxValue.toLong) None
        else Some((f.getSampleRate.toInt, f.getChannels, frames.toInt))
      } finally in.close()
    } catch { case _: Exception => None }

  /** Decoder: real ImageIO for decodable image payloads, real
    * javax.sound header parsing for WAV audio (feature mapping for
    * audio: width = sample rate, height = channels, n_frames = frame
    * count), and real multi-frame GIF demux for video — a video payload
    * that is not already a GIF is byte-wrapped into a real animated GIF
    * ([[gifFromBytes]], frame count (n mod 24)+1 — a pure function of
    * the payload, so the oracle expresses it) and decoded through the
    * SAME reader, so every video row reports container-read dimensions
    * and frame counts. Deterministic byte-derived fallback only for
    * image/audio payloads no JDK codec parses (non-GIF video codecs,
    * e.g. MP4/H.264, would slot in next to [[gifMeta]] via ffmpeg
    * bindings — absent in this container). */
  private def decodeOne(r: MediaRecord): MediaFeatures = {
    val n = r.payload.length.toLong
    val realImg = if (r.kind == "image") decodeImage(r.payload) else None
    val realWav = if (r.kind == "audio") decodeWav(r.payload) else None
    val realVid =
      if (r.kind != "video") None else viaGif(r.payload)(gifMeta)
    MediaFeatures(
      media_id = r.media_id,
      kind = r.kind,
      source = r.source,
      n_bytes = n,
      width = realImg.map(_._1)
        .orElse(realWav.map(_._1)).orElse(realVid.map(_._1))
        .getOrElse((n % 640).toInt),
      height = realImg.map(_._2)
        .orElse(realWav.map(_._2)).orElse(realVid.map(_._2))
        .getOrElse(((n * 7) % 480).toInt),
      n_frames = realWav.map(_._3).orElse(realVid.map(_._3)).getOrElse(1),
      checksum = checksumOf(r.payload))
  }

  /** Byte checksum of a payload: md5 over the UPPERCASE-HEX encoding of
    * the bytes (not the raw bytes) — DuckDB 1.0's md5() only accepts
    * VARCHAR, so hashing the hex string is the only oracle-expressible
    * checksum with BYTE semantics (a byte-truncated payload is a
    * substr() of its hex). Factored so the streaming ingest
    * ([[graft.streaming.StoreMediaDedup]]) fingerprints through the
    * identical formula as batch m06/m12 — no batch/stream drift. */
  def checksumOf(payload: Array[Byte]): String = {
    val hexStr = payload.map("%02X".format(_)).mkString
    java.security.MessageDigest.getInstance("MD5")
      .digest(hexStr.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Floor the decode input's parallelism at the session's core count —
    * [[graft.Tables.fanOut]] applied at the CONSUMER: the codec work in
    * the functions below is the expensive per-row pass that must run
    * full-width, while a one-row-group parquet scan plans as one task.
    * Applied here (after any kind/payload pre-filter, so only the rows
    * that will actually be decoded cross the exchange), not in the table
    * loaders — the r15 blanket loader fan-out taxed every light consumer
    * with a payload shuffle for zero downstream compute (PERF_r15). At
    * production row-group counts the `<` guard makes this a no-op. */
  private def fanOut(media: Dataset[MediaRecord]): Dataset[MediaRecord] = {
    val s = media.sparkSession
    val on = graft.Conf.flag(s, "spark.graft.scan.fanout", true)
    val target = s.sparkContext.defaultParallelism
    // streaming inputs pass through untouched: .rdd is illegal on them,
    // and micro-batch parallelism is the source's concern, not ours
    if (on && !media.isStreaming && media.rdd.getNumPartitions < target)
      media.repartition(target)
    else media
  }

  /** The video-kind pre-filter the frame/clip functions apply BEFORE the
    * [[fanOut]] exchange, so image/audio payloads never cross it. Column
    * expression (codegen), not a typed-lambda filter. */
  private def videosOnly(media: Dataset[MediaRecord]): Dataset[MediaRecord] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "video").as[MediaRecord]
  }

  /** Batched partition-parallel decode: iterator-in/iterator-out, one codec
    * "session" per partition (the amortization seam). */
  def decodeFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    fanOut(media).mapPartitions { it =>
      // per-partition init would happen here (codec contexts, model load)
      it.map(decodeOne)
    }
  }

  /** One sampled frame of a video payload — narrow, shuffle-safe. */
  case class FrameSample(
      media_id: Long,
      source: String,
      frame_idx: Int,
      feat: Long)

  /** Frame sampling: every `stride`-th frame of each video REALLY
    * decoded to its integer luminance energy through the ImageIO GIF
    * reader (frame seek = `ImageReader.read(i)` — [[gifFrameEnergies]]).
    * A payload that already is a GIF demuxes directly; anything else is
    * byte-wrapped into a real animated GIF ([[gifFromBytes]]) first, so
    * BOTH arms run the same codec path and the wrapped arm's features
    * stay a pure function of the payload bytes (oracle-expressible:
    * frame f's energy = Σ_{p<64} bytes((f·64+p) mod n)). Iterator-in/
    * iterator-out flatMap inside `mapPartitions`, so one reader session
    * amortizes across a partition and the wide payload never outlives
    * the partition — only the narrow (id, idx, feat) rows continue into
    * shuffles. */
  def sampleFrames(media: Dataset[MediaRecord], stride: Int = 4): Dataset[FrameSample] = {
    val spark = media.sparkSession
    import spark.implicits._
    fanOut(videosOnly(media)).mapPartitions { it =>
      // per-partition init would happen here (demuxer/decoder contexts)
      it.filter(_.kind == "video").flatMap { r =>
        val frames = viaGif(r.payload)(gifFrameEnergies(_, stride))
          .getOrElse(sys.error("self-encoded GIF failed to decode"))
        frames.iterator.map { case (i, feat) =>
          FrameSample(r.media_id, r.source, i, feat)
        }
      }
    }
  }

  /** Per-frame perceptual fingerprint — narrow, shuffle-safe. */
  case class FrameHash(media_id: Long, frame_idx: Int, fhash: Long)

  /** Every `stride`-th frame of each video REALLY decoded and
    * average-hashed ([[aHash60]]) through the ImageIO GIF reader — the
    * per-frame analogue of [[perceptualHashes]], feeding video-level
    * copy detection (m09): a re-encoded or re-contained copy of a clip
    * carries position-aligned frames with (near-)identical pixels, which
    * byte checksums can never see. GIF payloads demux directly; anything
    * else byte-wraps into a real animated GIF ([[gifFromBytes]]) and
    * runs the SAME codec path, so the wrapped arm's hashes stay a pure
    * function of the payload bytes (frame f, pixel p reads byte
    * (f·64+p) mod n; at 8×8 the box means are the pixels themselves and
    * r=g=b makes luminance = the byte — oracle-expressible). Only
    * (id, idx, 8-byte hash) rows leave the scan. */
  def frameHashes(media: Dataset[MediaRecord], stride: Int = 4)
      : Dataset[FrameHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    fanOut(videosOnly(media)).mapPartitions { it =>
      // per-partition init would happen here (demuxer/decoder contexts)
      it.filter(_.kind == "video").flatMap { r =>
        val frames = viaGif(r.payload)(gifFrames(_, stride)(aHash60))
          .getOrElse(sys.error("self-encoded GIF failed to decode"))
        frames.iterator.map { case (i, h) => FrameHash(r.media_id, i, h) }
      }
    }
  }

  // ---- AVI/MJPEG: the pure-JVM non-GIF video codec path ----------------

  /** RIFF/AVI container sniff — the video analogue of [[looksLikeWav]]. */
  private[multimodal] def looksLikeAvi(p: Array[Byte]): Boolean =
    p.length >= 12 &&
      p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
      p(8) == 'A' && p(9) == 'V' && p(10) == 'I' && p(11) == ' '

  /** Pure-JVM AVI demux: walk the RIFF chunk tree, descend into `movi`
    * (and legacy `rec ` grouping) LISTs, and return the video-stream
    * chunk payloads (`00dc` compressed / `00db` uncompressed, stream 0)
    * in file order — each one a complete JPEG bitstream in an MJPEG
    * file. This is the demuxer half of the video pipeline ffmpeg would
    * provide; word-aligned chunk padding is honored and torn containers
    * degrade to None (the [[decodeImage]] contract), never throw. */
  private[multimodal] def aviFrames(p: Array[Byte]): Option[Seq[Array[Byte]]] =
    if (!looksLikeAvi(p)) None
    else try {
      val buf = java.nio.ByteBuffer.wrap(p)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      def walk(start: Int, end: Int): Unit = {
        var pos = start
        var ok = true
        while (ok && pos + 8 <= end) {
          val id = new String(p, pos, 4, "US-ASCII")
          val sz = buf.getInt(pos + 4)
          if (sz < 0 || pos + 8 + sz > end) ok = false // torn — stop here
          else {
            if (id == "LIST" && sz >= 4) {
              val ltype = new String(p, pos + 8, 4, "US-ASCII")
              if (ltype == "movi" || ltype == "rec ")
                walk(pos + 12, pos + 8 + sz)
            } else if (id.startsWith("00") &&
                (id.endsWith("dc") || id.endsWith("db"))) {
              out += java.util.Arrays.copyOfRange(p, pos + 8, pos + 8 + sz)
            }
            pos += 8 + sz + (sz & 1) // chunks are word-aligned
          }
        }
      }
      val riffEnd = math.min(8L + buf.getInt(4), p.length.toLong).toInt
      walk(12, riffEnd)
      if (out.isEmpty) None else Some(out.toSeq)
    } catch { case _: Exception => None }

  /** Decode one demuxed MJPEG frame via the JDK JPEG codec. */
  private def decodeJpegFrame(frame: Array[Byte])
      : Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(frame)))
    catch { case _: Exception => None }

  private def fourcc(s: String): Array[Byte] = s.getBytes("US-ASCII")

  /** Minimal but REAL MJPEG-in-AVI muxer: RIFF('AVI ') with a proper
    * `hdrl` (main header + one 'vids'/'MJPG' stream with its
    * BITMAPINFOHEADER) and a `movi` LIST of `00dc` chunks, one complete
    * JPEG per frame, word-aligned. The output opens in any AVI-aware
    * player/demuxer and round-trips through [[aviFrames]]. */
  def aviFromJpegFrames(frames: Seq[Array[Byte]], w: Int, h: Int)
      : Array[Byte] = {
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad = body.length & 1
      val out = java.nio.ByteBuffer.allocate(8 + body.length + pad)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put(fourcc(id)).putInt(body.length).put(body)
      out.array()
    }
    def list(ltype: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", fourcc(ltype) ++ body)
    val maxFrame = if (frames.isEmpty) 0 else frames.map(_.length).max
    val avih = {
      val b = java.nio.ByteBuffer.allocate(56)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putInt(100000)          // usec per frame (10 fps)
        .putInt(maxFrame * 10)  // max bytes per sec
        .putInt(0)              // padding granularity
        .putInt(0x10)           // AVIF_HASINDEX off, AVIF_WASCAPTUREFILE off
        .putInt(frames.length)  // total frames
        .putInt(0)              // initial frames
        .putInt(1)              // streams
        .putInt(maxFrame)       // suggested buffer
        .putInt(w).putInt(h)
      b.array()                 // 4 reserved ints stay zero
    }
    val strh = {
      val b = java.nio.ByteBuffer.allocate(56)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(fourcc("vids")).put(fourcc("MJPG"))
        .putInt(0).putShort(0.toShort).putShort(0.toShort) // flags, prio, lang
        .putInt(0)                 // initial frames
        .putInt(1).putInt(10)      // scale/rate = 10 fps
        .putInt(0)                 // start
        .putInt(frames.length)     // length in frames
        .putInt(maxFrame)          // suggested buffer
        .putInt(-1)                // quality
        .putInt(0)                 // sample size (varies per frame)
        .putShort(0.toShort).putShort(0.toShort)
        .putShort(w.toShort).putShort(h.toShort)
      b.array()
    }
    val strf = {
      val b = java.nio.ByteBuffer.allocate(40)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putInt(40).putInt(w).putInt(h)
        .putShort(1.toShort).putShort(24.toShort)  // planes, bpp
        .put(fourcc("MJPG"))
        .putInt(w * h * 3)         // image size
        .putInt(0).putInt(0).putInt(0).putInt(0)
      b.array()
    }
    val hdrl = list("hdrl",
      chunk("avih", avih) ++ list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val movi = list("movi",
      frames.map(f => chunk("00dc", f)).foldLeft(Array.emptyByteArray)(_ ++ _))
    val body = fourcc("AVI ") ++ hdrl ++ movi
    val out = java.nio.ByteBuffer.allocate(8 + body.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put(fourcc("RIFF")).putInt(body.length).put(body)
    out.array()
  }

  /** JPEG-encode one 8×8 grayscale frame whose pixel p (row-major) is
    * `b(f·64+p)` — [[gifFromBytes]]'s frame rule pushed through the JDK
    * JPEG encoder. JPEG is LOSSY, so unlike the GIF arm the decoded
    * pixels are NOT a pure function a SQL oracle can recompute — which
    * is exactly why the m10/m11 gates are a container census and an
    * exactly-verified pair report, not a pixel recompute. */
  private def jpegFrameFromBytes(bytes: Array[Byte], f: Int): Array[Byte] = {
    def b(i: Int): Int = if (bytes.isEmpty) 0 else bytes(i % bytes.length) & 0xFF
    val img = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    (0 until 64).foreach(p =>
      img.getRaster.setSample(p % 8, p / 8, 0, b(f * 64 + p)))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpeg", out)
    out.toByteArray
  }

  /** A REAL MJPEG AVI wrapping `bytes`: `nFrames` 8×8 grayscale frames,
    * each a complete JDK-encoded JPEG — the non-GIF analogue of
    * [[gifFromBytes]], muxed by [[aviFromJpegFrames]]. */
  def aviFromBytes(bytes: Array[Byte], nFrames: Int): Array[Byte] =
    aviFromJpegFrames(
      (0 until math.max(nFrames, 1)).map(jpegFrameFromBytes(bytes, _)),
      8, 8)

  /** The AVI-or-wrap dispatch mirroring [[viaGif]]: a payload that IS an
    * AVI demuxes directly; anything else byte-wraps into a real MJPEG
    * AVI with (n mod 24)+1 frames and runs the SAME demux+decode path. */
  private def viaAvi[T](payload: Array[Byte])
      (read: Array[Byte] => Option[T]): Option[T] =
    (if (looksLikeAvi(payload)) read(payload) else None)
      .orElse(read(aviFromBytes(payload, (payload.length % 24 + 1).toInt)))

  /** Per-clip demux census — narrow, shuffle-safe. */
  case class ClipCensus(
      media_id: Long,
      source: String,
      n_frames: Int,
      frames_ok: Boolean)

  /** MJPEG demux census over the video rows: every payload runs the
    * REAL AVI path (direct AVIs demux as-is; others byte-wrap through
    * [[aviFromBytes]]) and reports the container-read frame count plus a
    * certificate that every demuxed frame JPEG-decoded at the container
    * dimensions. Payloads never outlive the partition — only narrow
    * census rows shuffle (the m01/m02 discipline). */
  def mjpegCensus(media: Dataset[MediaRecord]): Dataset[ClipCensus] = {
    val spark = media.sparkSession
    import spark.implicits._
    fanOut(videosOnly(media)).mapPartitions { it =>
      // per-partition init would happen here (demuxer/decoder contexts)
      it.filter(r => r.kind == "video" && r.payload.nonEmpty).map { r =>
        val frames = viaAvi(r.payload)(aviFrames)
          .getOrElse(sys.error("self-muxed AVI failed to demux"))
        val decoded = frames.map(decodeJpegFrame)
        val ok = decoded.forall(_.exists(im =>
          im.getWidth == 8 && im.getHeight == 8)) || {
          // a DIRECT real AVI may carry any dimensions — certificate is
          // "every frame decoded", 8×8 applies to the wrapped arm only
          looksLikeAvi(r.payload) && decoded.forall(_.isDefined)
        }
        ClipCensus(r.media_id, r.source, frames.size, ok)
      }
    }
  }

  /** Every `stride`-th MJPEG frame of each video demuxed ([[aviFrames]]),
    * JPEG-decoded, and average-hashed — [[frameHashes]] re-expressed over
    * the AVI/MJPEG codec path, feeding the exactly-verified copy report
    * (m11). Only (id, idx, 8-byte hash) rows leave the scan. */
  def mjpegFrameHashes(media: Dataset[MediaRecord], stride: Int = 4)
      : Dataset[FrameHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    fanOut(videosOnly(media)).mapPartitions { it =>
      it.filter(r => r.kind == "video" && r.payload.nonEmpty).flatMap { r =>
        val frames = viaAvi(r.payload)(aviFrames)
          .getOrElse(sys.error("self-muxed AVI failed to demux"))
        frames.iterator.zipWithIndex
          .filter(_._2 % stride == 0)
          .flatMap { case (f, i) =>
            decodeJpegFrame(f).map(im => FrameHash(r.media_id, i, aHash60(im)))
          }
      }
    }
  }

  /** 8×8 24-bit uncompressed BMP wrapping `bytes` as pixel data: pixel
    * p = y*8+x (top-left origin) gets (r,g,b) = bytes (3p, 3p+1, 3p+2)
    * cycled mod length (0 on empty). The container is a REAL decodable
    * BMP — the perceptual path ImageIO-decodes it like any crawled
    * image — while the pixel values stay a pure function of the source
    * bytes, so a SQL oracle recomputes the decoded grays without
    * parsing the container (the m06 oracle-contract trick). */
  def bmpFromBytes(bytes: Array[Byte]): Array[Byte] = {
    val w = 8; val h = 8
    def b(i: Int): Int = if (bytes.isEmpty) 0 else bytes(i % bytes.length) & 0xFF
    val dataSize = w * 3 * h // 24-byte rows: already 4-aligned, no padding
    val out = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize)
      .putShort(0.toShort).putShort(0.toShort).putInt(54)
    out.putInt(40).putInt(w).putInt(h).putShort(1.toShort).putShort(24.toShort)
      .putInt(0).putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
    for (y <- (h - 1) to 0 by -1; x <- 0 until w) { // bottom-up rows, BGR
      val p = (y * w + x) * 3
      out.put(b(p + 2).toByte).put(b(p + 1).toByte).put(b(p).toByte)
    }
    out.array()
  }

  /** 60-bit average-hash over decoded pixels: box-downscale to 8×8 with
    * integer block means (deterministic — no float resampling), integer
    * grayscale (299r + 587g + 114b)/1000, threshold at the integer mean.
    * Pixels 0..59 map to bits 0..59 — a 60-bit fingerprint keeps every
    * engine's signed-BIGINT arithmetic overflow-free (the same width
    * budget as [[graft.functions.Portable.hash60]]); pixels 60..63 still
    * count toward the mean. Strict `>` at the threshold: a constant
    * image hashes to 0, not all-ones. */
  def aHash60(img: java.awt.image.BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    val gray = Array.tabulate(64) { p =>
      val (bx, by) = (p % 8, p / 8)
      val (x0, y0) = (bx * w / 8, by * h / 8)
      val x1 = math.min(math.max((bx + 1) * w / 8, x0 + 1), w)
      val y1 = math.min(math.max((by + 1) * h / 8, y0 + 1), h)
      var sum = 0L
      for (y <- y0 until y1; x <- x0 until x1) {
        val rgb = img.getRGB(x, y)
        sum += (299L * ((rgb >> 16) & 0xFF) + 587L * ((rgb >> 8) & 0xFF)
          + 114L * (rgb & 0xFF)) / 1000L
      }
      sum / ((x1 - x0).toLong * (y1 - y0))
    }
    val mean = gray.sum / 64
    (0 until 60).foldLeft(0L)((acc, p) =>
      if (gray(p) > mean) acc | (1L << p) else acc)
  }

  /** Perceptual fingerprint — narrow, shuffle-safe. */
  case class MediaPHash(media_id: Long, kind: String, source: String,
      phash: Long)

  /** Perceptual fingerprint per payload: decodable images are REALLY
    * decoded (any container ImageIO reads — so a PNG re-encode of a BMP
    * hashes identically, which byte checksums like m06's can never see);
    * every other payload is byte-wrapped into an 8×8 BMP
    * ([[bmpFromBytes]]) and sent through the SAME decode + hash path.
    * One ImageIO "session" per partition batch; only (id, 8-byte hash)
    * rows leave the scan — the payload never shuffles. */
  def perceptualHashes(media: Dataset[MediaRecord]): Dataset[MediaPHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    fanOut(media).mapPartitions { it =>
      it.map(r =>
        MediaPHash(r.media_id, r.kind, r.source, imagePHashOf(r.payload)))
    }
  }

  /** The per-payload decode + aHash60, factored so the TIMED ingest
    * banding ([[graft.streaming.IncrementalDedup.bandFingerprintsTimed]])
    * hashes through the identical decode as batch m07 — one definition,
    * no batch/stream drift. */
  def imagePHashOf(payload: Array[Byte]): Long = {
    val direct =
      if (looksLikeImage(payload))
        try Option(javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload)))
        catch { case _: Exception => None }
      else None
    val img = direct.getOrElse {
      val bmp = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bmpFromBytes(payload)))
      require(bmp != null, "self-encoded BMP failed to decode")
      bmp
    }
    aHash60(img)
  }

  /** Minimal PCM WAV container (8-bit unsigned mono, 8 kHz) wrapping
    * `bytes` verbatim as sample data — the audio analogue of
    * [[bmpFromBytes]]: a REAL parseable RIFF/WAVE file (javax.sound
    * opens it like any crawled clip) whose samples stay a pure function
    * of the source bytes, so a SQL oracle recomputes the envelope
    * without parsing the container. */
  def wavFromBytes(bytes: Array[Byte]): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(44 + bytes.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + bytes.length)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort)       // PCM
      .putShort(1.toShort)       // mono
      .putInt(8000).putInt(8000) // sample rate, byte rate
      .putShort(1.toShort)       // block align
      .putShort(8.toShort)       // bits per sample (8-bit WAV = unsigned)
    out.put("data".getBytes("US-ASCII")).putInt(bytes.length).put(bytes)
    out.array()
  }

  /** Real WAV sample decode via javax.sound: channel-0 samples rescaled
    * to the unsigned 8-bit range (8-bit PCM verbatim; 16-bit PCM by its
    * high byte — the envelope hash only needs coarse amplitude). None on
    * anything unparseable or non-PCM, same degrade-not-die contract as
    * [[decodeImage]]. */
  private[multimodal] def readWavSamples(p: Array[Byte]): Option[Array[Int]] =
    if (!looksLikeWav(p)) None
    else try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(p))
      try {
        val f = in.getFormat
        val enc = f.getEncoding
        val bits = f.getSampleSizeInBits
        val frames = in.getFrameLength
        val pcm =
          enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
          enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
        if (frames < 0 || frames > Int.MaxValue.toLong || !pcm ||
            (bits != 8 && bits != 16)) None
        else {
          val data = in.readAllBytes()
          val fs = f.getFrameSize
          val n = math.min(frames.toInt, if (fs > 0) data.length / fs else 0)
          val unsigned8 =
            enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
          val samples = new Array[Int](n)
          var i = 0
          while (i < n) {
            val off = i * fs // channel 0 leads each frame
            samples(i) =
              if (bits == 8) {
                if (unsigned8) data(off) & 0xFF else data(off).toInt + 128
              } else {
                val v =
                  if (f.isBigEndian) (data(off).toInt << 8) | (data(off + 1) & 0xFF)
                  else (data(off + 1).toInt << 8) | (data(off) & 0xFF)
                (v >> 8) + 128
              }
            i += 1
          }
          Some(samples)
        }
      } finally in.close()
    } catch { case _: Exception => None }

  /** 60-bit envelope hash — [[aHash60]]'s contract lifted to audio: the
    * sample stream splits into 64 windows (sample i -> window i*64/n, the
    * integer-exact analogue of box downscale), per-window energy = sum of
    * unsigned samples, threshold at the integer mean of the total. Bits
    * 0..59 (windows 60..63 still count toward the mean); strict `>` so
    * silence hashes to 0. Loudness-preserving re-encodes (bit depth,
    * container) keep the envelope shape, so they land at hamming ~0 while
    * byte checksums see entirely different files. */
  def envHash60(samples: Array[Int]): Long = {
    val n = samples.length
    if (n == 0) return 0L
    val e = new Array[Long](64)
    var tot = 0L
    var i = 0
    while (i < n) {
      val k = (i.toLong * 64 / n).toInt
      e(k) += samples(i)
      tot += samples(i)
      i += 1
    }
    val mean = tot / 64
    (0 until 60).foldLeft(0L)((acc, p) =>
      if (e(p) > mean) acc | (1L << p) else acc)
  }

  /** Acoustic fingerprint per payload: parseable WAVs are REALLY decoded
    * (so an 8-bit re-encode of a 16-bit clip hashes identically — byte
    * checksums like m06's never see that); every other payload is
    * byte-wrapped into a real WAV ([[wavFromBytes]]) and sent through the
    * SAME javax.sound decode + hash path. Only (id, 8-byte hash) rows
    * leave the scan — the payload never shuffles. */
  def audioHashes(media: Dataset[MediaRecord]): Dataset[MediaPHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    // no fanOut here: WAV parse + envelope hash is the CHEAP decode
    // (m08 benched 0.60 s without the exchange vs 0.88 s with — the
    // exchange tax exceeds the serial-decode cost at any width)
    media.mapPartitions { it =>
      it.map(r =>
        MediaPHash(r.media_id, r.kind, r.source, audioEnvHashOf(r.payload)))
    }
  }

  /** The per-payload WAV parse + envHash60 — [[imagePHashOf]]'s audio
    * sibling, shared by batch m08 and the timed ingest banding. */
  def audioEnvHashOf(payload: Array[Byte]): Long = {
    val samples = readWavSamples(payload).getOrElse {
      readWavSamples(wavFromBytes(payload)).getOrElse(
        sys.error("self-encoded WAV failed to parse"))
    }
    envHash60(samples)
  }

  /** One fixed-size shard of a payload. */
  case class PayloadChunk(
      media_id: Long,
      kind: String,
      chunk_idx: Int,
      chunk: Array[Byte])

  /** Chunk payloads into fixed-size shards executor-side — the sharding
    * step before object-store upload / transport of large blobs. The
    * explosion happens inside `mapPartitions` (never a byte-level Spark
    * explode), and each output row carries one bounded chunk, so
    * downstream shuffles move at most `chunkBytes` per row. */
  def chunkPayloads(media: Dataset[MediaRecord],
      chunkBytes: Int): Dataset[PayloadChunk] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        val n = r.payload.length
        val nChunks = math.max((n + chunkBytes - 1) / chunkBytes, 1)
        (0 until nChunks).iterator.map { i =>
          PayloadChunk(r.media_id, r.kind, i,
            r.payload.slice(i * chunkBytes, math.min((i + 1) * chunkBytes, n)))
        }
      }
    }
  }

  /** Real image downscale: halve dimensions (bilinear) and re-encode PNG
    * until the payload fits `maxBytes` — the output stays a DECODABLE
    * image, which byte truncation never is. Gives up (returns None) if
    * even 1×1 doesn't fit or the payload isn't a parseable image. */
  private def resizeImage(p: Array[Byte], maxBytes: Int): Option[Array[Byte]] =
    if (!looksLikeImage(p)) None
    else try {
      var img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
      if (img == null) return None
      var out: Array[Byte] = null
      var attempts = 0
      while (out == null && attempts < 12 &&
          img.getWidth > 0 && img.getHeight > 0) {
        val buf = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", buf)
        val bytes = buf.toByteArray
        if (bytes.length <= maxBytes) out = bytes
        else {
          val (w2, h2) = (math.max(img.getWidth / 2, 1),
            math.max(img.getHeight / 2, 1))
          if (w2 == img.getWidth && h2 == img.getHeight) attempts = 12
          else {
            val scaled = new java.awt.image.BufferedImage(
              w2, h2, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = scaled.createGraphics()
            g.setRenderingHint(
              java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, w2, h2, null)
            g.dispose()
            img = scaled
          }
        }
        attempts += 1
      }
      Option(out)
    } catch { case _: Exception => None }

  /** Resize: same batch plumbing, payload-in/payload-out — the
    * transform-preserving path (thumbnailing before feature extraction).
    * Decodable images are REALLY downscaled (still decodable after);
    * everything else falls back to byte truncation, the deterministic
    * stand-in for the missing audio/video transcoders. */
  def resize(media: Dataset[MediaRecord], maxBytes: Int): Dataset[MediaRecord] = {
    val spark = media.sparkSession
    import spark.implicits._
    // fanOut BEFORE the map, not after: resize feeds decodeFeatures in
    // every caller, and an un-fanned resize would run the whole
    // object-deserialize/map/serialize chain in one task just to
    // repartition its output anyway (decodeFeatures' own floor then
    // no-ops on the already-wide input)
    fanOut(media).mapPartitions { it =>
      it.map(r => r.copy(payload = resizePayload(r.payload, maxBytes)))
    }
  }

  /** The per-payload resize [[resize]] maps — factored so the streaming
    * ingest ([[graft.streaming.StoreMediaDedup]]) derives the SAME
    * thumbnail-checksum the m12 index stores (m12Fingerprints checksums
    * the 64-byte resize, not the raw payload — one formula, no
    * batch/stream drift). */
  def resizePayload(p: Array[Byte], maxBytes: Int): Array[Byte] =
    if (p.length <= maxBytes) p
    else resizeImage(p, maxBytes).getOrElse(p.take(maxBytes))
}
