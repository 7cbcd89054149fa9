package graft.scale

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (SURVEY §7.1 scale/): image/audio/video
  * payloads ride as opaque `BINARY` columns with typed metadata beside them.
  *
  * What is REAL here, all from the public file-format specs with no codec
  * library: container header parsing for PNG/JPEG/WAV/MP4/AVI
  * ([[parseHeader]] — CRC-checked IHDR, SOFn marker walk, RIFF and
  * ISO-BMFF chunk/box walks, AVI hdrl/avih walk via [[AviMjpeg]]), full
  * PNG grayscale-8 PIXEL decode ([[pngDecodeGray]] — multi-IDAT zlib
  * inflate + all five scanline filters, gray-8 AND truecolor RGB-8),
  * baseline-JPEG PIXEL decode in grayscale AND 4:2:0 YCbCr color incl.
  * DRI/RSTn restart intervals ([[JpegGray]] — DHT Huffman entropy
  * decode, dequant, IDCT, ITU-T T.81), WAV PCM16 SAMPLE decode mono and
  * stereo ([[wavDecodePcm16]]), EXIF metadata in both TIFF byte orders
  * ([[Exif]]), and VIDEO FRAME decode for MJPEG in BOTH containers:
  * AVI movi demux ([[AviMjpeg]]) and real ISO-BMFF MP4
  * stsd/stts/stsc/stsz/stco sample tables ([[Mp4Mjpeg]]) — every sample
  * a complete baseline JPEG through the T.81 decoder. The image
  * operators dispatch on magic bytes ([[decodeGray]]) and run over
  * true decoded pixels from EITHER container; the audio queries operate
  * on true decoded samples; the video queries (scene cuts, keyframe
  * dedup, captions from AVI '01tx' or MP4 tx3g) operate on true
  * demuxed-and-decoded frames from either container.
  * What is NOT claimed (needs codec libraries this container lacks):
  * inter-coded video codecs (H.26x) and progressive/arithmetic JPEG;
  * every operator here decodes the real container or payload
  * ([[decodeHeaders]], [[sampleFramesParsed]], [[resizePngThumb]],
  * [[audioFrameEnergyPcm]], [[perceptualHashPng]]) in the
  * partition-batched typed shape (the Scala analog of `mapInPandas`
  * batch UDFs).
  *
  * At 100 TB: payloads stay columnar in parquet, the decode runs once per
  * partition with per-partition codec initialization (the expensive part the
  * mapPartitions shape amortizes), and metadata-only queries never touch the
  * binary column thanks to parquet column pruning.
  */
object Multimodal {

  /** A media row: opaque payload + routing metadata. */
  final case class MediaRecord(doc_id: Long, media_type: String, payload: Array[Byte])

  /** Extracted container metadata ([[decodeHeaders]] output). */
  final case class MediaMeta(doc_id: Long, media_type: String, byte_len: Long,
                             width: Int, height: Int, n_frames: Int)

  /** One sampled frame: the digest of the demuxed body at a frame index
    * ([[sampleFramesParsed]] output).
    */
  final case class FrameSample(doc_id: Long, frame_idx: Int, frame_digest: String)

  // ------------------------------------------------------------------
  // Real container headers: the fixture text is wrapped in byte-exact
  // PNG / JPEG / WAV / MP4 framing (public file-format specs, the same
  // from-the-spec discipline as functions/ProtoWire), and the decode
  // step SNIFFS the magic bytes and parses the real header structures —
  // PNG IHDR, the JPEG marker walk to SOF0, RIFF chunk walk to fmt/data,
  // ISO-BMFF box walk to moov/mvhd/tkhd. Only the pixel/sample DECODE
  // remains out of scope (no codec libs in this container); header
  // parsing, the part a 100 TB metadata pass actually runs, is real.
  // ------------------------------------------------------------------

  private def be2(v: Int): Array[Byte] = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def be4(v: Long): Array[Byte] = Array(((v >> 24) & 0xff).toByte,
    ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def le2(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le4(v: Long): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
    ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def ascii(s: String): Array[Byte] = s.getBytes("US-ASCII")

  /** PNG: signature + IHDR chunk (13-byte payload, real CRC32 over
    * type+data per the PNG spec) + the body bytes as trailing data.
    */
  private[graft] def pngWrap(w: Int, h: Int, body: Array[Byte]): Array[Byte] = {
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    val data = ascii("IHDR") ++ be4(w) ++ be4(h) ++
      Array(8.toByte, 6.toByte, 0.toByte, 0.toByte, 0.toByte)
    val crc = new java.util.zip.CRC32
    crc.update(data)
    sig ++ be4(13) ++ data ++ be4(crc.getValue) ++ body
  }

  /** JPEG: SOI + APP0(JFIF) + SOF0 (8-bit precision, 3 components) + body.
    * The SOF0 segment carries height then width, both big-endian.
    */
  private[graft] def jpegWrap(w: Int, h: Int, body: Array[Byte]): Array[Byte] = {
    val app0 = Array(0xff, 0xe0).map(_.toByte) ++ be2(16) ++ ascii("JFIF") ++
      Array(0, 1, 1, 0).map(_.toByte) ++ be2(1) ++ be2(1) ++ Array(0, 0).map(_.toByte)
    val comps = Array(1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1).map(_.toByte)
    val sof0 = Array(0xff, 0xc0).map(_.toByte) ++ be2(8 + 9) ++
      Array(8.toByte) ++ be2(h) ++ be2(w) ++ Array(3.toByte) ++ comps
    Array(0xff, 0xd8).map(_.toByte) ++ app0 ++ sof0 ++ body
  }

  /** WAV: RIFF/WAVE with a 16-byte PCM fmt chunk and the body as the data
    * chunk. All fields little-endian per the RIFF spec.
    */
  private[graft] def wavWrap(sampleRate: Int, channels: Int, bitsPerSample: Int,
                             body: Array[Byte]): Array[Byte] = {
    val blockAlign = channels * bitsPerSample / 8
    val fmt = ascii("fmt ") ++ le4(16) ++ le2(1) ++ le2(channels) ++
      le4(sampleRate) ++ le4(sampleRate.toLong * blockAlign) ++
      le2(blockAlign) ++ le2(bitsPerSample)
    val data = ascii("data") ++ le4(body.length)
    ascii("RIFF") ++ le4(4 + fmt.length + data.length + body.length) ++
      ascii("WAVE") ++ fmt ++ data ++ body
  }

  /** WAV with a RIFF `LIST INFO` metadata block (IART/INAM/ICRD & co. —
    * the audio sibling of EXIF) between fmt and data: each INFO subchunk
    * is a NUL-terminated, word-aligned string per the RIFF spec. The
    * sample-decode walk skips LIST like any unknown chunk, so metadata
    * never disturbs decoding.
    */
  private[graft] def wavWrapInfo(sampleRate: Int, channels: Int,
                                 bitsPerSample: Int, body: Array[Byte],
                                 info: Seq[(String, String)]): Array[Byte] = {
    val blockAlign = channels * bitsPerSample / 8
    val fmt = ascii("fmt ") ++ le4(16) ++ le2(1) ++ le2(channels) ++
      le4(sampleRate) ++ le4(sampleRate.toLong * blockAlign) ++
      le2(blockAlign) ++ le2(bitsPerSample)
    val infoBody = info.iterator.map { case (k, v) =>
      require(k.length == 4, s"INFO tag must be a fourcc: $k")
      val s = v.getBytes("US-ASCII") :+ 0.toByte
      val pad: Array[Byte] =
        if (s.length % 2 == 1) Array(0.toByte) else Array.empty
      ascii(k) ++ le4(s.length.toLong) ++ s ++ pad
    }.foldLeft(ascii("INFO"))(_ ++ _)
    val list = ascii("LIST") ++ le4(infoBody.length.toLong) ++ infoBody
    val data = ascii("data") ++ le4(body.length.toLong)
    ascii("RIFF") ++
      le4(4L + fmt.length + list.length + data.length + body.length) ++
      ascii("WAVE") ++ fmt ++ list ++ data ++ body
  }

  /** Parse the `LIST INFO` metadata of a WAV: tag fourcc → string (NUL
    * stripped). None on malformed structure; Some(empty) when the file
    * simply has no INFO list — absence is a fact, not an error.
    */
  private[graft] def wavInfo(b: Array[Byte]): Option[Map[String, String]] = {
    try {
      if (b.length < 12 || tag(b, 0) != "RIFF" || tag(b, 8) != "WAVE") return None
      var i = 12
      while (i + 8 <= b.length) {
        val ck = tag(b, i); val len = u32le(b, i + 4)
        if (len.toInt < 0) return None
        if (ck == "LIST" && len >= 4 && i + 12 <= b.length &&
            tag(b, i + 8) == "INFO") {
          val end = math.min(i + 8 + len.toInt, b.length)
          var j = i + 12
          val out = Map.newBuilder[String, String]
          while (j + 8 <= end) {
            val sub = tag(b, j); val slen = u32le(b, j + 4)
            if (slen.toInt < 0 || j + 8 + slen.toInt > end) return None
            val raw = new String(b, j + 8, slen.toInt, "US-ASCII")
            out += sub -> raw.takeWhile(_ != '\u0000') // strip NUL tail
            j += 8 + slen.toInt + (slen.toInt & 1)
          }
          return Some(out.result())
        }
        i += 8 + len.toInt + (len.toInt & 1)
      }
      Some(Map.empty)
    } catch { case _: Throwable => None }
  }

  /** MP4 (ISO-BMFF): ftyp + moov{mvhd(v0), trak{tkhd(v0)}} + mdat(body).
    * mvhd carries timescale/duration; tkhd carries width/height as 16.16
    * fixed point — the fields a container-metadata pass extracts.
    */
  private[graft] def mp4Wrap(w: Int, h: Int, timescale: Int, duration: Long,
                             body: Array[Byte]): Array[Byte] = {
    val ftyp = be4(20) ++ ascii("ftyp") ++ ascii("isom") ++ be4(0x200) ++ ascii("isom")
    val mvhd = be4(108) ++ ascii("mvhd") ++ be4(0) /* v0+flags */ ++
      be4(0) ++ be4(0) ++ be4(timescale) ++ be4(duration) ++
      be4(0x00010000L) ++ be2(0x0100) ++ be2(0) ++ new Array[Byte](8) ++
      (be4(0x00010000L) ++ be4(0) ++ be4(0) ++ be4(0) ++ be4(0x00010000L) ++
        be4(0) ++ be4(0) ++ be4(0) ++ be4(0x40000000L)) /* identity matrix */ ++
      new Array[Byte](24) ++ be4(2)
    val tkhd = be4(92) ++ ascii("tkhd") ++ be4(7) /* v0, enabled|in-movie|in-preview */ ++
      be4(0) ++ be4(0) ++ be4(1) ++ be4(0) ++ be4(duration) ++
      new Array[Byte](8) ++ be2(0) ++ be2(0) ++ be2(0) ++ be2(0) ++
      (be4(0x00010000L) ++ be4(0) ++ be4(0) ++ be4(0) ++ be4(0x00010000L) ++
        be4(0) ++ be4(0) ++ be4(0) ++ be4(0x40000000L)) ++
      be4(w.toLong << 16) ++ be4(h.toLong << 16)
    val trak = be4(8 + tkhd.length) ++ ascii("trak") ++ tkhd
    val moov = be4(8 + mvhd.length + trak.length) ++ ascii("moov") ++ mvhd ++ trak
    val mdat = be4(8L + body.length) ++ ascii("mdat") ++ body
    ftyp ++ moov ++ mdat
  }

  /** Deterministic header parameters for the fixture wrap — the formulas
    * the DuckDB oracle replays (the parse itself has no shortcut: Spark
    * reads the container bytes).
    */
  private def dims(docId: Long): (Int, Int) =
    ((16 + docId % 624).toInt, (16 + (docId * 7) % 464).toInt)

  /** Fixture docs wrapped in REAL container bytes: doc_id%3==0 → PNG
    * (even half) / JPEG (odd half); %3==1 → WAV; %3==2 → MP4.
    */
  def mediaWithHeaders(docs: DataFrame): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)].mapPartitions { it =>
      it.map { case (id, text) =>
        val body = text.getBytes("UTF-8")
        val (w, h) = dims(id)
        val payload = (id % 3) match {
          case 0 =>
            if (id % 2 == 0) pngWrap(w, h, body) else jpegWrap(w, h, body)
          case 1 =>
            wavWrap(8000 + (id % 8).toInt * 1000, 1 + (id % 2).toInt, 16, body)
          case _ =>
            mp4Wrap(w, h, timescale = 1000, duration = 1 + id % 240, body)
        }
        MediaRecord(id, if (id % 3 == 0) "image" else if (id % 3 == 1) "audio" else "video",
          payload)
      }
    }
  }

  // --- header parsers (sniff + parse; public-spec integer reads) ---

  private def u16be(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  private def u32be(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
  private def u16le(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def u32le(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
  private def tag(b: Array[Byte], i: Int): String =
    new String(b, i, 4, "US-ASCII")

  private val PngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)

  /** Sniff the container from magic bytes and parse its real header.
    * Returns (container, width, height, n_frames); unparseable payloads
    * come back as ("unknown", 0, 0, 0) — the poison-tolerance posture,
    * never a throw on the data path.
    */
  private[graft] def parseHeader(b: Array[Byte]): (String, Int, Int, Int) = {
    try {
      if (b.length >= 8 && PngSig.indices.forall(i => (b(i) & 0xff) == PngSig(i))) {
        // PNG: first chunk must be IHDR; width/height big-endian at its head
        if (b.length >= 24 && tag(b, 12) == "IHDR")
          ("png", u32be(b, 16).toInt, u32be(b, 20).toInt, 1)
        else ("unknown", 0, 0, 0)
      } else if (b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
        // JPEG: walk marker segments from SOI until a SOF frame header
        var i = 2
        while (i + 3 < b.length) {
          if ((b(i) & 0xff) != 0xff) return ("unknown", 0, 0, 0)
          val marker = b(i + 1) & 0xff
          if (marker == 0xff) { i += 1 } // fill byte
          else if (marker >= 0xd0 && marker <= 0xd9) { i += 2 } // RST/EOI: bare
          else {
            val len = u16be(b, i + 2)
            if ((marker >= 0xc0 && marker <= 0xcf) && marker != 0xc4 &&
                marker != 0xc8 && marker != 0xcc) {
              // SOFn: precision(1), height(2 BE), width(2 BE)
              if (i + 9 <= b.length)
                return ("jpeg", u16be(b, i + 7), u16be(b, i + 5), 1)
              return ("unknown", 0, 0, 0)
            }
            i += 2 + len
          }
        }
        ("unknown", 0, 0, 0)
      } else if (b.length >= 12 && tag(b, 0) == "RIFF" && tag(b, 8) == "WAVE") {
        // WAV: chunk walk; fmt carries rate/channels, data carries samples
        var i = 12
        var rate = 0; var channels = 0; var blockAlign = 0; var dataLen = 0L
        while (i + 8 <= b.length) {
          val ck = tag(b, i); val len = u32le(b, i + 4)
          if (ck == "fmt " && i + 24 <= b.length) {
            channels = u16le(b, i + 10)
            rate = u32le(b, i + 12).toInt
            blockAlign = u16le(b, i + 20)
          } else if (ck == "data") dataLen = len
          // forward-progress guard: a crafted length with the sign bit set
          // (len.toInt < 0) would make the step zero or negative and spin
          // the walk forever — treat it as malformed, same posture as the
          // JPEG (len >= 0 by u16) and BMFF (math.max(size, 8)) walks
          if (len.toInt < 0) return ("unknown", 0, 0, 0)
          i += 8 + len.toInt + (len.toInt & 1) // chunks are word-aligned
        }
        if (rate > 0 && blockAlign > 0)
          ("wav", rate, channels, (dataLen / blockAlign).toInt)
        else ("unknown", 0, 0, 0)
      } else if (AviMjpeg.isAvi(b)) {
        // AVI: hdrl walk to the AVIMAINHEADER (width/height/total frames)
        AviMjpeg.parseAviHeader(b) match {
          case Some((w, h, nf)) => ("avi", w, h, nf)
          case None             => ("unknown", 0, 0, 0)
        }
      } else if (b.length >= 12 && tag(b, 4) == "ftyp") {
        // ISO-BMFF: top-level box walk to moov, then child walk to
        // mvhd (timescale/duration) and trak/tkhd (16.16 width/height)
        var w = 0; var h = 0; var frames = 0
        var i = 0
        while (i + 8 <= b.length) {
          val size = u32be(b, i); val box = tag(b, i + 4)
          if (box == "moov") {
            var j = i + 8
            val end = i + size.toInt
            while (j + 8 <= end && j + 8 <= b.length) {
              val csize = u32be(b, j); val cbox = tag(b, j + 4)
              if (cbox == "mvhd" && (b(j + 8) & 0xff) == 0) {
                frames = u32be(b, j + 24).toInt // v0: duration at +24
              } else if (cbox == "trak") {
                // first child assumed tkhd (this writer's layout; a full
                // demuxer would walk children — out of scope here)
                val t = j + 8
                if (t + 8 <= b.length && tag(b, t + 4) == "tkhd" &&
                    (b(t + 8) & 0xff) == 0) {
                  w = (u32be(b, t + 84) >> 16).toInt
                  h = (u32be(b, t + 88) >> 16).toInt
                }
              }
              j += math.max(csize.toInt, 8)
            }
          }
          i += math.max(size.toInt, 8)
        }
        if (w > 0 || frames > 0) ("mp4", w, h, frames) else ("unknown", 0, 0, 0)
      } else ("unknown", 0, 0, 0)
    } catch { case _: Throwable => ("unknown", 0, 0, 0) }
  }

  /** Extract the media BODY from a container-framed payload by walking
    * the real structure (the demux step): PNG → bytes after the IHDR
    * chunk (this writer's layout carries the body as trailing data),
    * JPEG → bytes after the SOF segment (marker walk), WAV → the data
    * chunk's content (RIFF walk), ISO-BMFF → the mdat box content (box
    * walk). None on anything malformed — the poison-tolerance posture.
    */
  private[graft] def extractBody(b: Array[Byte]): Option[Array[Byte]] = {
    try {
      if (b.length >= 33 && PngSig.indices.forall(i => (b(i) & 0xff) == PngSig(i))) {
        // sig(8) + IHDR chunk: len(4) + type(4) + data(len) + crc(4)
        val len = u32be(b, 8).toInt
        if (len < 0 || 8 + 12 + len > b.length) None
        else Some(java.util.Arrays.copyOfRange(b, 8 + 12 + len, b.length))
      } else if (b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
        var i = 2
        while (i + 3 < b.length) {
          if ((b(i) & 0xff) != 0xff) return None
          val marker = b(i + 1) & 0xff
          if (marker == 0xff) i += 1
          else if (marker >= 0xd0 && marker <= 0xd9) i += 2
          else {
            val len = u16be(b, i + 2)
            val isSof = (marker >= 0xc0 && marker <= 0xcf) && marker != 0xc4 &&
              marker != 0xc8 && marker != 0xcc
            if (i + 2 + len > b.length) return None
            i += 2 + len
            if (isSof) return Some(java.util.Arrays.copyOfRange(b, i, b.length))
          }
        }
        None
      } else if (b.length >= 12 && tag(b, 0) == "RIFF" && tag(b, 8) == "WAVE") {
        var i = 12
        while (i + 8 <= b.length) {
          val ck = tag(b, i); val len = u32le(b, i + 4)
          if (len.toInt < 0) return None
          if (ck == "data") {
            val end = math.min(i + 8 + len.toInt, b.length)
            return Some(java.util.Arrays.copyOfRange(b, i + 8, end))
          }
          i += 8 + len.toInt + (len.toInt & 1)
        }
        None
      } else if (AviMjpeg.isAvi(b)) {
        AviMjpeg.moviBody(b) // the demuxable frames region
      } else if (b.length >= 12 && tag(b, 4) == "ftyp") {
        var i = 0
        while (i + 8 <= b.length) {
          val size = u32be(b, i); val box = tag(b, i + 4)
          if (box == "mdat") {
            val end = math.min(i + math.max(size.toInt, 8), b.length)
            return Some(java.util.Arrays.copyOfRange(b, i + 8, end))
          }
          i += math.max(size.toInt, 8)
        }
        None
      } else None
    } catch { case _: Throwable => None }
  }

  /** Frame sampling over REAL container metadata: n_frames comes from the
    * PARSED header ([[parseHeader]] — 1 for still images, data/blockAlign
    * for WAV, mvhd duration for MP4), the frame "content" digested is the
    * DEMUXED body ([[extractBody]]), not the container bytes — so the
    * digest is a deterministic function of the media content an oracle
    * can replay. Uniform-stride index selection: up to `target` frames
    * per media row at indices floor(i·n_frames/k), k = min(target,
    * n_frames), so frame fan-out is bounded at `target` rows per media
    * row at any corpus scale; rows whose container fails to parse or
    * demux are skipped (poison-tolerant).
    */
  def sampleFramesParsed(ds: Dataset[MediaRecord], target: Int): Dataset[FrameSample] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      it.flatMap { r =>
        val (container, _, _, nf) = parseHeader(r.payload)
        extractBody(r.payload) match {
          case Some(body) if container != "unknown" && nf > 0 =>
            val k = math.min(target, nf)
            // Long stride math: nf comes from untrusted container fields
            // (WAV dataLen/blockAlign, MP4 mvhd duration) and can approach
            // 2^31, where i*nf would overflow Int and emit negative indices
            (0 until k).map(i => (i.toLong * nf / k).toInt).distinct.iterator.map { idx =>
              md.reset()
              md.update(body)
              md.update(s"#$idx".getBytes("UTF-8"))
              FrameSample(r.doc_id, idx, md.digest().map("%02x".format(_)).mkString)
            }
          case _ => Iterator.empty
        }
      }
    }
  }

  /** Real header decode over container-framed payloads: media_type is the
    * SNIFFED container (png/jpeg/wav/mp4), width/height/n_frames are the
    * parsed header fields (for wav: sample rate / channels / sample
    * frames). Partition-batched: the per-partition prefix is where a
    * codec would initialize once.
    */
  def decodeHeaders(ds: Dataset[MediaRecord]): Dataset[MediaMeta] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.map { r =>
        val (container, w, h, nf) = parseHeader(r.payload)
        MediaMeta(r.doc_id, container, r.payload.length.toLong, w, h, nf)
      }
    }
  }

  // ------------------------------------------------------------------
  // REAL pixel/sample decode (round 9). PNG grayscale-8 is implemented
  // from the public spec end to end: chunk walk with CRC32 verification,
  // multi-IDAT zlib inflate (java.util.zip.Inflater — public JDK), and
  // full scanline un-filtering (None/Sub/Up/Average/Paeth). WAV PCM16 is
  // raw little-endian samples behind the RIFF walk — parsed, not stubbed.
  // The image queries below operate on TRUE pixel grids decoded from
  // planted PNG bytes; the audio query on TRUE PCM samples. What remains
  // out of scope (genuinely needs codec libraries this container lacks):
  // JPEG entropy decode and MP4/AAC/H.26x payloads — their header parses
  // are real ([[parseHeader]]), their pixel/sample decode is not claimed.
  // ------------------------------------------------------------------

  /** A decoded grayscale image: row-major 8-bit pixels. */
  final case class PngImage(width: Int, height: Int, pixels: Array[Byte])

  /** Paeth predictor, exactly as in the PNG spec §9 (order of the <=
    * comparisons is normative — left wins ties, then up).
    */
  private[graft] def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  private def pngChunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val crc = new java.util.zip.CRC32
    val td = ascii(typ) ++ data
    crc.update(td)
    be4(data.length.toLong) ++ td ++ be4(crc.getValue)
  }

  /** Filter + deflate + frame scanlines as a REAL PNG (shared by the
    * gray-8 and RGB-8 encoders): IHDR with the given color type,
    * zlib-deflated scanlines split across TWO IDAT chunks (so the
    * decoder's concatenation path is exercised), IEND — every chunk
    * CRC'd. Row r uses filter type r % 5, so a round-trip covers all
    * five spec filters. Filters operate on BYTES with `left` = the byte
    * `bpp` positions back, per spec §9 — the only place channel count
    * enters the scanline codec.
    */
  private def pngEncode(w: Int, h: Int, data: Array[Byte], bpp: Int,
                        colorType: Int): Array[Byte] = {
    require(data.length == w * h * bpp, s"buffer ${data.length} != $w x $h x $bpp")
    val stride = w * bpp
    val raw = new Array[Byte](h * (stride + 1))
    var r = 0
    while (r < h) {
      val ft = r % 5
      raw(r * (stride + 1)) = ft.toByte
      var j = 0
      while (j < stride) {
        val cur = data(r * stride + j) & 0xff
        val left = if (j >= bpp) data(r * stride + j - bpp) & 0xff else 0
        val up = if (r > 0) data((r - 1) * stride + j) & 0xff else 0
        val ul = if (j >= bpp && r > 0) data((r - 1) * stride + j - bpp) & 0xff else 0
        val v = ft match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - (left + up) / 2
          case _ => cur - paeth(left, up, ul)
        }
        raw(r * (stride + 1) + 1 + j) = (v & 0xff).toByte
        j += 1
      }
      r += 1
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!defl.finished()) { val n = defl.deflate(buf); out.write(buf, 0, n) }
    defl.end()
    val z = out.toByteArray
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    val ihdr = pngChunk("IHDR", be4(w.toLong) ++ be4(h.toLong) ++
      Array[Byte](8, colorType.toByte, 0, 0, 0))
    val (z1, z2) = z.splitAt(z.length / 2)
    sig ++ ihdr ++ pngChunk("IDAT", z1) ++ pngChunk("IDAT", z2) ++
      pngChunk("IEND", Array.empty[Byte])
  }

  /** Encode a grayscale-8 image as a REAL PNG (color type 0). */
  private[graft] def pngEncodeGray(w: Int, h: Int, px: Array[Byte]): Array[Byte] =
    pngEncode(w, h, px, bpp = 1, colorType = 0)

  /** Encode an interleaved RGB-8 image as a REAL PNG (color type 2). */
  private[graft] def pngEncodeRgb(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] =
    pngEncode(w, h, rgb, bpp = 3, colorType = 2)

  /** Chunk walk + inflate + un-filter core (shared by the gray-8 and
    * RGB-8 decoders): signature sniff, CRC32 verification on every
    * chunk, multi-IDAT concatenation, zlib inflate, and full
    * un-filtering (all five spec filter types via the Paeth predictor,
    * byte-wise with `left` = `bpp` bytes back per spec §9). Returns
    * (w, h, recon bytes) or None — never throws — on anything malformed
    * (bad CRC, truncated stream, wrong color type/depth, oversized
    * dims), the same poison-tolerance posture as [[parseHeader]].
    */
  private def pngDecode(b: Array[Byte], wantColor: Int,
                        bpp: Int): Option[(Int, Int, Array[Byte])] = {
    try {
      if (b.length < 8 || !PngSig.indices.forall(i => (b(i) & 0xff) == PngSig(i)))
        return None
      var i = 8
      var w = 0; var h = 0
      var ihdrSeen = false; var iendSeen = false
      val idat = new java.io.ByteArrayOutputStream()
      while (!iendSeen && i + 12 <= b.length) {
        val len = u32be(b, i).toInt
        if (len < 0 || i + 12 + len > b.length) return None
        val typ = tag(b, i + 4)
        val crc = new java.util.zip.CRC32
        crc.update(b, i + 4, 4 + len)
        if (crc.getValue != u32be(b, i + 8 + len)) return None
        typ match {
          case "IHDR" =>
            if (len != 13 || ihdrSeen) return None
            w = u32be(b, i + 8).toInt; h = u32be(b, i + 12).toInt
            val depth = b(i + 16) & 0xff; val color = b(i + 17) & 0xff
            if (depth != 8 || color != wantColor || b(i + 18) != 0 ||
                b(i + 19) != 0 || b(i + 20) != 0) return None
            if (w <= 0 || h <= 0 || w.toLong * h > (1L << 26)) return None
            ihdrSeen = true
          case "IDAT" =>
            if (!ihdrSeen) return None
            idat.write(b, i + 8, len)
          case "IEND" => iendSeen = true
          case _ => () // ancillary chunks skipped
        }
        i += 12 + len
      }
      if (!ihdrSeen || !iendSeen || idat.size == 0) return None
      val stride = w * bpp
      val inf = new java.util.zip.Inflater()
      inf.setInput(idat.toByteArray)
      val raw = new Array[Byte](h * (stride + 1))
      var off = 0
      while (off < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, off, raw.length - off)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary())) { inf.end(); return None }
        off += n
      }
      inf.end()
      if (off != raw.length) return None
      val px = new Array[Byte](h * stride)
      var r = 0
      while (r < h) {
        val ft = raw(r * (stride + 1)) & 0xff
        if (ft > 4) return None
        var j = 0
        while (j < stride) {
          val v = raw(r * (stride + 1) + 1 + j) & 0xff
          val left = if (j >= bpp) px(r * stride + j - bpp) & 0xff else 0
          val up = if (r > 0) px((r - 1) * stride + j) & 0xff else 0
          val ul = if (j >= bpp && r > 0) px((r - 1) * stride + j - bpp) & 0xff else 0
          val rec = ft match {
            case 0 => v
            case 1 => v + left
            case 2 => v + up
            case 3 => v + (left + up) / 2
            case _ => v + paeth(left, up, ul)
          }
          px(r * stride + j) = (rec & 0xff).toByte
          j += 1
        }
        r += 1
      }
      Some((w, h, px))
    } catch { case _: Throwable => None }
  }

  /** Decode a grayscale-8 PNG (color type 0) to its true pixel grid. */
  private[graft] def pngDecodeGray(b: Array[Byte]): Option[PngImage] =
    pngDecode(b, wantColor = 0, bpp = 1).map { case (w, h, px) => PngImage(w, h, px) }

  /** A decoded truecolor image: row-major interleaved 8-bit RGB. */
  final case class RgbImage(width: Int, height: Int, rgb: Array[Byte])

  /** Decode a truecolor RGB-8 PNG (color type 2). */
  private[graft] def pngDecodeRgb(b: Array[Byte]): Option[RgbImage] =
    pngDecode(b, wantColor = 2, bpp = 3).map { case (w, h, px) => RgbImage(w, h, px) }

  /** Integer luma of an RGB image — Rec.601 fixed point with a 256
    * denominator ((77·R + 151·G + 28·B) >> 8), exact and
    * oracle-replayable, the deterministic bridge that feeds truecolor
    * PNGs to every grayscale pixel operator.
    */
  private[graft] def rgbLuma(img: RgbImage): PngImage = {
    val out = new Array[Byte](img.width * img.height)
    var i = 0
    while (i < out.length) {
      val r = img.rgb(3 * i) & 0xff
      val g = img.rgb(3 * i + 1) & 0xff
      val bch = img.rgb(3 * i + 2) & 0xff
      out(i) = ((r * 77 + g * 151 + bch * 28) >> 8).toByte
      i += 1
    }
    PngImage(img.width, img.height, out)
  }

  /** Decoded PCM16 audio: interleaved signed samples. */
  final case class PcmAudio(sampleRate: Int, channels: Int, samples: Array[Short])

  /** Decode WAV PCM16: RIFF walk (same forward-progress guard as
    * [[parseHeader]]) to fmt (must be audioFormat 1, 16-bit) and data,
    * then the samples are read as little-endian int16 — PCM is raw, so
    * this is the complete, real sample decode, no codec library needed.
    */
  private[graft] def wavDecodePcm16(b: Array[Byte]): Option[PcmAudio] = {
    try {
      if (b.length < 12 || tag(b, 0) != "RIFF" || tag(b, 8) != "WAVE") return None
      var i = 12
      var rate = 0; var channels = 0; var fmtOk = false
      var dataOff = -1; var dataLen = 0
      while (i + 8 <= b.length) {
        val ck = tag(b, i); val len = u32le(b, i + 4)
        if (len.toInt < 0) return None
        if (ck == "fmt " && i + 24 <= b.length) {
          fmtOk = u16le(b, i + 8) == 1 && u16le(b, i + 22) == 16
          channels = u16le(b, i + 10)
          rate = u32le(b, i + 12).toInt
        } else if (ck == "data") {
          dataOff = i + 8
          dataLen = math.min(len.toInt, b.length - dataOff)
        }
        i += 8 + len.toInt + (len.toInt & 1)
      }
      if (!fmtOk || rate <= 0 || channels <= 0 || dataOff < 0) return None
      val n = dataLen / 2
      val s = new Array[Short](n)
      var j = 0
      while (j < n) {
        s(j) = ((b(dataOff + 2 * j) & 0xff) |
          ((b(dataOff + 2 * j + 1) & 0xff) << 8)).toShort
        j += 1
      }
      Some(PcmAudio(rate, channels, s))
    } catch { case _: Throwable => None }
  }

  /** A resized image as a hex thumbnail ([[resizePngThumb]] output). Hex
    * (not raw binary) so the DuckDB oracle can re-derive it byte-for-byte.
    */
  final case class Thumb(doc_id: Long, side: Int, thumb_hex: String)

  /** Per-clip frame energies ([[audioFrameEnergyPcm]] output). */
  final case class AudioFrames(doc_id: Long, n_frames: Int, max_energy: Long,
                               max_frame: Int, silence_frames: Int)

  /** A 64-bit perceptual hash packed as FOUR 16-bit bands
    * ([[perceptualHashPng]] output, the [[MediaDedup]] layout).
    */
  final case class PHash(doc_id: Long, b0: Int, b1: Int, b2: Int, b3: Int)

  // --- planted real-content generators + true-pixel/sample operators ---

  /** Image dims for the planted PNGs: small (16..32 per side) so the
    * DuckDB oracle can replay every pixel, real enough that every 8×8
    * resize cell has ≥2×2 source pixels.
    */
  private[graft] def pixDims(docId: Long): (Int, Int) =
    ((16 + docId % 17).toInt, (16 + (docId * 7) % 17).toInt)

  /** Planted grayscale pixels — a deterministic integer formula the
    * oracle recomputes directly, while the Spark side must DECODE it back
    * out of real PNG bytes:
    *
    *   px(y,x) = (7x + 13y + 31·seed
    *              + ((73x + 151y + 97·seed) mod 251)
    *              · ((31x + 17y + 61·seed) mod 241)
    *              + (x<2 ? edit : 0)) mod 256
    *
    * The product of the two different-modulus linear hashes SCRAMBLES the
    * image structurally per seed (an earlier gradient-only formula
    * differed across seeds by a constant brightness shift, which aHash is
    * — by design — blind to, so 6 000 "different" images collapsed to ~60
    * perceptual classes and every media demo was degenerate). `edit`
    * perturbs the two leftmost columns (the near-duplicate plant for the
    * perceptual-hash queries); the scramble term is edit-independent, so
    * a clone differs from its original in exactly those columns.
    */
  private[graft] def plantedPixels(w: Int, h: Int, seed: Long, edit: Int = 0): Array[Byte] = {
    val px = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val e = if (x < 2) edit else 0
        val scr = ((x * 73 + y * 151 + seed * 97) % 251) *
          ((x * 31 + y * 17 + seed * 61) % 241)
        px(y * w + x) = (((x * 7 + y * 13 + seed * 31 + scr + e) % 256) & 0xff).toByte
        x += 1
      }
      y += 1
    }
    px
  }

  /** Fixture docs as REAL grayscale PNGs with planted pixel content. */
  def mediaPngPixels(docs: DataFrame): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val (w, h) = pixDims(id)
        MediaRecord(id, "image", pngEncodeGray(w, h, plantedPixels(w, h, id)))
      }
    }
  }

  /** Planted pixels that are CONSTANT within each 8×8 JPEG block — the
    * same two-modulus scramble as [[plantedPixels]] applied at block
    * granularity. Constant blocks are the exactness trick that lets a
    * LOSSY codec carry a hash-checked oracle: their FDCT has energy only
    * in DC (= 8·(c−128)), [[JpegGray.FixtureQuant]]'s DC step 8 divides
    * it exactly, and the IDCT of a DC-only block is uniform — so decode
    * reproduces the planting formula bit-for-bit while the entropy coder
    * still exercises varied DC categories, byte stuffing and EOB/ZRL
    * paths. `edit` shifts the leftmost BLOCK COLUMN (x < 8), the
    * block-granular twin of [[plantedPixels]]' clone edit.
    */
  private[graft] def plantedBlockPixels(w: Int, h: Int, seed: Long,
                                        edit: Int = 0): Array[Byte] = {
    val px = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      val by = y / 8
      var x = 0
      while (x < w) {
        val bx = x / 8
        val e = if (bx == 0) edit else 0
        val scr = ((bx * 73 + by * 151 + seed * 97) % 251) *
          ((bx * 31 + by * 17 + seed * 61) % 241)
        px(y * w + x) = (((bx * 7 + by * 13 + seed * 31 + scr + e) % 256) & 0xff).toByte
        x += 1
      }
      y += 1
    }
    px
  }

  /** Fixture docs as REAL baseline grayscale JPEGs (full DQT/DHT/SOF0/SOS
    * + Huffman entropy data, [[JpegGray.jpegEncodeGray]]) with planted
    * block-constant pixel content. A third of the corpus carries DRI
    * restart intervals (1- or 2-MCU), so the driver's oracle gate
    * exercises the RSTn decode path on every run — pixels (and therefore
    * the oracles) are interval-independent.
    */
  def mediaJpegPixels(docs: DataFrame): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val (w, h) = pixDims(id)
        MediaRecord(id, "image",
          JpegGray.jpegEncodeGray(w, h, plantedBlockPixels(w, h, id),
            restartInterval = (id % 3).toInt))
      }
    }
  }

  /** Container-agnostic grayscale decode: sniff the payload's magic bytes
    * and dispatch to the real PNG or baseline-JPEG decoder. This is what
    * makes every pixel operator below (stats, thumbs, aHash, media dedup)
    * work over a MIXED image corpus — the production shape, where nobody
    * gets to choose the container.
    */
  private[graft] def decodeGray(b: Array[Byte]): Option[PngImage] =
    if (b.length >= 2 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8)
      // grayscale fast path, then the generic 1-or-3-component decoder's
      // luma plane — so COLOR baseline JPEGs feed the same pixel operators
      JpegGray.jpegDecodeGray(b).orElse(JpegGray.jpegDecodeLuma(b))
    else
      // gray-8 fast path, then truecolor RGB-8 via the exact integer luma
      pngDecodeGray(b).orElse(pngDecodeRgb(b).map(rgbLuma))

  /** Block-mean 8-bit downsample of a decoded grayscale image to
    * side×side: destination cell of pixel (y, x) is (y·side/h, x·side/w)
    * — the standard integer resize mapping; cell value = floor(mean).
    * Shared by [[resizePngThumb]] and [[perceptualHashPng]].
    */
  private def blockMeans(img: PngImage, side: Int): Array[Int] = {
    val sums = new Array[Long](side * side)
    val counts = new Array[Int](side * side)
    var y = 0
    while (y < img.height) {
      val cy = y * side / img.height
      var x = 0
      while (x < img.width) {
        val cx = x * side / img.width
        sums(cy * side + cx) += img.pixels(y * img.width + x) & 0xff
        counts(cy * side + cx) += 1
        x += 1
      }
      y += 1
    }
    Array.tabulate(side * side)(c => (sums(c) / counts(c)).toInt)
  }

  /** REAL image resize: decode the PNG payload to its true pixel grid
    * (CRC-verified inflate + un-filter) and block-mean downsample to a
    * side×side hex thumbnail. Undecodable payloads are skipped — the
    * never-throw data-path posture. Requires width, height ≥ side.
    */
  def resizePngThumb(ds: Dataset[MediaRecord], side: Int): Dataset[Thumb] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.flatMap { r =>
        decodeGray(r.payload) match {
          case Some(img) if img.width >= side && img.height >= side =>
            val m = blockMeans(img, side)
            val sb = new java.lang.StringBuilder(side * side * 2)
            m.foreach(v => sb.append(f"$v%02x"))
            Iterator.single(Thumb(r.doc_id, side, sb.toString))
          case _ => Iterator.empty
        }
      }
    }
  }

  /** aHash over an already-decoded grayscale image: 8×8 block means, bit =
    * cell mean > global pixel mean (floor), packed as four 16-bit LSH
    * bands. None below 8×8. Shared by the image-level
    * [[perceptualHashPng]] and the per-frame video hashing in
    * [[AviMjpeg.keyframeHashes]].
    */
  private[graft] def aHash64(img: PngImage): Option[(Int, Int, Int, Int)] =
    if (img.width < 8 || img.height < 8) None
    else {
      var tot = 0L
      var i = 0
      val n = img.width * img.height
      while (i < n) { tot += img.pixels(i) & 0xff; i += 1 }
      val gm = tot / n
      val m = blockMeans(img, 8)
      def band(k: Int): Int = {
        var v = 0
        var j = 0
        while (j < 16) { if (m(16 * k + j) > gm) v |= 1 << j; j += 1 }
        v
      }
      Some((band(0), band(1), band(2), band(3)))
    }

  /** REAL-pixel aHash: decode the PNG, 8×8 block means, bit = cell mean >
    * global pixel mean (floor), packed as four 16-bit LSH bands — the
    * actual average-hash algorithm over actual decoded pixels.
    */
  def perceptualHashPng(ds: Dataset[MediaRecord]): Dataset[PHash] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.flatMap { r =>
        decodeGray(r.payload).flatMap(aHash64).iterator.map {
          case (b0, b1, b2, b3) => PHash(r.doc_id, b0, b1, b2, b3)
        }
      }
    }
  }

  /** Per-image statistics from REAL decoded pixels: range, floor-mean,
    * and horizontal total variation Σ|p(y,x) − p(y,x−1)| — the cheap
    * contrast/edge-energy feature an image-quality gate ranks on. All
    * integer arithmetic; undecodable payloads skipped.
    */
  final case class PixelStats(doc_id: Long, width: Int, height: Int,
                              p_min: Int, p_max: Int, p_mean: Int, tv_h: Long)

  def pixelStats(ds: Dataset[MediaRecord]): Dataset[PixelStats] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.flatMap { r =>
        decodeGray(r.payload) match {
          case Some(img) =>
            val n = img.width * img.height
            var mn = 255; var mx = 0; var sum = 0L; var tv = 0L
            var y = 0
            while (y < img.height) {
              var x = 0
              var prev = 0
              while (x < img.width) {
                val v = img.pixels(y * img.width + x) & 0xff
                if (v < mn) mn = v
                if (v > mx) mx = v
                sum += v
                if (x > 0) tv += math.abs(v - prev)
                prev = v
                x += 1
              }
              y += 1
            }
            Iterator.single(PixelStats(r.doc_id, img.width, img.height,
              mn, mx, (sum / n).toInt, tv))
          case _ => Iterator.empty
        }
      }
    }
  }

  /** Fixture docs as REAL PCM16 WAVs with planted samples: u(i) = (i·37 +
    * seed·101) mod 4001; loud frames s = u − 2000 (±2 k), every 4th
    * 64-sample frame is quiet (s = u mod 21 − 10) so the silence
    * detector has true positives. 1024 samples (16 frames) per doc.
    */
  def mediaWavPcm(docs: DataFrame, nSamples: Int = 1024): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val body = new Array[Byte](nSamples * 2)
        var i = 0
        while (i < nSamples) {
          val u = (i * 37 + id * 101) % 4001
          val s = (if ((i / 64) % 4 == 0) u % 21 - 10 else u - 2000).toInt
          body(2 * i) = (s & 0xff).toByte
          body(2 * i + 1) = ((s >> 8) & 0xff).toByte
          i += 1
        }
        MediaRecord(id, "audio", wavWrap(8000 + (id % 8).toInt * 1000, 1, 16, body))
      }
    }
  }

  /** REAL-sample frame energy: parse the WAV container, read the PCM16
    * samples ([[wavDecodePcm16]]), then per fixed `frameLen`-sample frame
    * energy = Σ s² (already-centered signed samples — no −128 bias of the
    * byte stub). Peak ties to the first maximum; trailing partial frame
    * dropped; undecodable payloads skipped.
    */
  /** Fixture docs as REAL truecolor PNGs: three full-resolution planted
    * channels (R seeded by doc_id, G by +3000007, B by +4000009)
    * interleaved per spec. No subsampling — PNG is lossless, so ALL
    * three channels hash-check without the block-constant trick.
    */
  def mediaPngRgb(docs: DataFrame): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val (w, h) = pixDims(id)
        val r = plantedPixels(w, h, id)
        val g = plantedPixels(w, h, id + 3000007L)
        val bl = plantedPixels(w, h, id + 4000009L)
        val rgb = new Array[Byte](w * h * 3)
        var i = 0
        while (i < w * h) {
          rgb(3 * i) = r(i); rgb(3 * i + 1) = g(i); rgb(3 * i + 2) = bl(i)
          i += 1
        }
        MediaRecord(id, "image", pngEncodeRgb(w, h, rgb))
      }
    }
  }

  /** Per-image statistics from REAL decoded RGB: floor-means per channel,
    * the integer-luma mean, and the luma horizontal total variation. All
    * integer; undecodable payloads skipped.
    */
  final case class RgbStats(doc_id: Long, width: Int, height: Int,
                            r_mean: Int, g_mean: Int, b_mean: Int,
                            luma_mean: Int, luma_tv: Long)

  def rgbStats(ds: Dataset[MediaRecord]): Dataset[RgbStats] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.flatMap { rec =>
        pngDecodeRgb(rec.payload) match {
          case Some(img) =>
            val n = img.width * img.height
            val luma = rgbLuma(img).pixels
            var sr = 0L; var sg = 0L; var sb = 0L; var sl = 0L; var tv = 0L
            var y = 0
            while (y < img.height) {
              var x = 0
              var prev = 0
              while (x < img.width) {
                val i = y * img.width + x
                sr += img.rgb(3 * i) & 0xff
                sg += img.rgb(3 * i + 1) & 0xff
                sb += img.rgb(3 * i + 2) & 0xff
                val l = luma(i) & 0xff
                sl += l
                if (x > 0) tv += math.abs(l - prev)
                prev = l
                x += 1
              }
              y += 1
            }
            Iterator.single(RgbStats(rec.doc_id, img.width, img.height,
              (sr / n).toInt, (sg / n).toInt, (sb / n).toInt, (sl / n).toInt, tv))
          case _ => Iterator.empty
        }
      }
    }
  }

  /** Color-image dims: multiples of 16 (complete 4:2:0 MCUs, chroma
    * planes exactly half) so the lossy color roundtrip carries the same
    * bit-exactness argument as the grayscale block-constant class.
    */
  private[graft] def colorDims(docId: Long): (Int, Int) =
    ((16 + ((docId / 8) % 2) * 16).toInt, (16 + ((docId / 16) % 2) * 16).toInt)

  /** Fixture docs as REAL baseline COLOR JPEGs (SOF0, three components,
    * 4:2:0 interleaved MCUs) with planted block-constant planes: luma
    * seeded by doc_id, chroma planes (half resolution — their 8×8 blocks
    * span 16×16 full-res pixels) by doc_id + 1000003 / + 2000003.
    */
  def mediaJpegColor(docs: DataFrame): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val (w, h) = colorDims(id)
        val (cw, ch) = ((w + 1) / 2, (h + 1) / 2)
        MediaRecord(id, "image", JpegGray.jpegEncodeYcc420(w, h,
          plantedBlockPixels(w, h, id),
          plantedBlockPixels(cw, ch, id + 1000003L),
          plantedBlockPixels(cw, ch, id + 2000003L)))
      }
    }
  }

  /** Per-image statistics from REAL decoded COLOR planes: floor-means of
    * Y/Cb/Cr (chroma already upsampled — exact ×4 duplication at even
    * dims, so the mean equals the half-res mean) and the luma horizontal
    * total variation. All integer; undecodable payloads skipped.
    */
  final case class ColorStats(doc_id: Long, width: Int, height: Int,
                              y_mean: Int, cb_mean: Int, cr_mean: Int,
                              y_tv: Long)

  def colorStats(ds: Dataset[MediaRecord]): Dataset[ColorStats] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.flatMap { r =>
        JpegGray.jpegDecodeYcc(r.payload) match {
          case Some(img) =>
            val n = img.width * img.height
            var sy = 0L; var scb = 0L; var scr = 0L; var tv = 0L
            var y = 0
            while (y < img.height) {
              var x = 0
              var prev = 0
              while (x < img.width) {
                val i = y * img.width + x
                val v = img.yP(i) & 0xff
                sy += v
                scb += img.cb(i) & 0xff
                scr += img.cr(i) & 0xff
                if (x > 0) tv += math.abs(v - prev)
                prev = v
                x += 1
              }
              y += 1
            }
            Iterator.single(ColorStats(r.doc_id, img.width, img.height,
              (sy / n).toInt, (scb / n).toInt, (scr / n).toInt, tv))
          case _ => Iterator.empty
        }
      }
    }
  }

  /** Fixture docs as REAL PCM16 WAVs carrying a planted square wave:
    * s(i) = ±amp with half-period p = 3 + id % 14 (full period 2p ∈
    * [6, 32], inside the detector's lag window), amp = 900 + (id % 7)·100
    * — the deterministic periodic signal the pitch oracle replays.
    */
  def mediaWavSquare(docs: DataFrame, nSamples: Int = 512): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val p = (3 + id % 14).toInt
        val amp = (900 + (id % 7) * 100).toInt
        val body = new Array[Byte](nSamples * 2)
        var i = 0
        while (i < nSamples) {
          val s = if ((i / p) % 2 == 0) amp else -amp
          body(2 * i) = (s & 0xff).toByte
          body(2 * i + 1) = ((s >> 8) & 0xff).toByte
          i += 1
        }
        MediaRecord(id, "audio", wavWrap(8000, 1, 16, body))
      }
    }
  }

  /** Fixture docs as REAL STEREO PCM16 WAVs: two planted channels
    * interleaved L,R per frame (the RIFF block layout), L(i) = (i·37 +
    * id·101) mod 4001 − 2000, R(i) = (i·53 + id·67) mod 4001 − 2000.
    */
  def mediaWavStereo(docs: DataFrame, nFrames: Int = 512): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val body = new Array[Byte](nFrames * 4)
        var i = 0
        while (i < nFrames) {
          val l = ((i * 37 + id * 101) % 4001 - 2000).toInt
          val r = ((i * 53 + id * 67) % 4001 - 2000).toInt
          body(4 * i) = (l & 0xff).toByte
          body(4 * i + 1) = ((l >> 8) & 0xff).toByte
          body(4 * i + 2) = (r & 0xff).toByte
          body(4 * i + 3) = ((r >> 8) & 0xff).toByte
          i += 1
        }
        MediaRecord(id, "audio", wavWrap(16000, 2, 16, body))
      }
    }
  }

  /** Per-channel statistics from REAL decoded stereo PCM16: the
    * interleaved sample stream de-interleaves by the fmt chunk's channel
    * count (the first time the decoder's `channels` field does real
    * work), then integer energies per channel and the L·R dot — the
    * stereo-correlation feature a channel-dedup/downmix pass ranks on.
    * Mono or undecodable payloads are skipped.
    */
  final case class StereoStats(doc_id: Long, n_frames: Int,
                               e_left: Long, e_right: Long, dot_lr: Long)

  def audioStereoStats(ds: Dataset[MediaRecord]): Dataset[StereoStats] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.flatMap { r =>
        wavDecodePcm16(r.payload) match {
          case Some(pcm) if pcm.channels == 2 && pcm.samples.length >= 2 =>
            val s = pcm.samples
            val nf = s.length / 2
            var el = 0L; var er = 0L; var dot = 0L
            var i = 0
            while (i < nf) {
              val l = s(2 * i).toLong
              val rr = s(2 * i + 1).toLong
              el += l * l; er += rr * rr; dot += l * rr
              i += 1
            }
            Iterator.single(StereoStats(r.doc_id, nf, el, er, dot))
          case _ => Iterator.empty
        }
      }
    }
  }

  /** Planted INFO fields — the formulas the metadata oracle replays. */
  private[graft] def wavInfoFields(id: Long): Seq[(String, String)] = Seq(
    "IART" -> s"artist${id % 7}",
    "INAM" -> s"track${id % 13}",
    "ICRD" -> s"20${10 + id % 15}")

  /** Fixture docs as planted-square-wave WAVs carrying a REAL LIST INFO
    * metadata block. */
  def mediaWavWithInfo(docs: DataFrame, nSamples: Int = 256): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val p = (3 + id % 14).toInt
        val amp = (900 + (id % 7) * 100).toInt
        val body = new Array[Byte](nSamples * 2)
        var i = 0
        while (i < nSamples) {
          val s = if ((i / p) % 2 == 0) amp else -amp
          body(2 * i) = (s & 0xff).toByte
          body(2 * i + 1) = ((s >> 8) & 0xff).toByte
          i += 1
        }
        MediaRecord(id, "audio",
          wavWrapInfo(8000, 1, 16, body, wavInfoFields(id)))
      }
    }
  }

  /** The audio metadata pass: LIST INFO fields per file (the EXIF of
    * WAV), plus proof the samples still decode THROUGH the metadata
    * block (n_samples from the real PCM walk). Malformed files skipped.
    */
  final case class WavInfoMeta(doc_id: Long, artist: String, title: String,
                               created: String, n_samples: Int)

  def wavInfoMeta(ds: Dataset[MediaRecord]): Dataset[WavInfoMeta] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.flatMap { r =>
        (for {
          info <- wavInfo(r.payload)
          pcm <- wavDecodePcm16(r.payload)
          artist <- info.get("IART")
          title <- info.get("INAM")
          created <- info.get("ICRD")
        } yield WavInfoMeta(r.doc_id, artist, title, created,
          pcm.samples.length)).iterator
      }
    }
  }

  /** Pitch/periodicity detection over REAL decoded samples — the
    * classic integer autocorrelation detector: R(L) = Σ s[i]·s[i+L] over
    * the decoded PCM16 samples for L ∈ [2, maxLag], best lag = argmax
    * (ties → smallest lag, the usual bias toward the fundamental).
    * All integer arithmetic (Long accumulation — amp² · N exceeds Int),
    * so the oracle replays it exactly. Undecodable or too-short payloads
    * are skipped.
    */
  final case class AudioPitch(doc_id: Long, best_lag: Int, r_best: Long, r_zero: Long)

  def audioPitch(ds: Dataset[MediaRecord], maxLag: Int = 32): Dataset[AudioPitch] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.flatMap { r =>
        wavDecodePcm16(r.payload) match {
          case Some(pcm) if pcm.samples.length > maxLag =>
            val s = pcm.samples
            val n = s.length
            var r0 = 0L
            var i = 0
            while (i < n) { r0 += s(i).toLong * s(i); i += 1 }
            var bestLag = 2
            var bestR = Long.MinValue
            var lag = 2
            while (lag <= maxLag) {
              var rl = 0L
              var j = 0
              while (j + lag < n) { rl += s(j).toLong * s(j + lag); j += 1 }
              if (rl > bestR) { bestR = rl; bestLag = lag }
              lag += 1
            }
            Iterator.single(AudioPitch(r.doc_id, bestLag, bestR, r0))
          case _ => Iterator.empty
        }
      }
    }
  }

  def audioFrameEnergyPcm(ds: Dataset[MediaRecord], frameLen: Int = 64,
                          silenceBelow: Long = 100000L): Dataset[AudioFrames] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.flatMap { r =>
        wavDecodePcm16(r.payload) match {
          case Some(pcm) if pcm.samples.length >= frameLen =>
            val s = pcm.samples
            val nf = s.length / frameLen
            var maxE = -1L
            var maxI = 0
            var silent = 0
            var f = 0
            while (f < nf) {
              var e = 0L
              var j = f * frameLen
              val end = j + frameLen
              while (j < end) { e += s(j).toLong * s(j); j += 1 }
              if (e > maxE) { maxE = e; maxI = f }
              if (e < silenceBelow) silent += 1
              f += 1
            }
            Iterator.single(AudioFrames(r.doc_id, nf, maxE, maxI, silent))
          case _ => Iterator.empty
        }
      }
    }
  }
}
