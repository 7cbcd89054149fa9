package graft.scale

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** MJPEG-in-AVI: the REAL video path (SURVEY §7.1 scale/ multimodal).
  *
  * Everything here is public-spec arithmetic with no codec library, the
  * same discipline as the PNG ([[Multimodal.pngDecodeGray]]) and
  * baseline-JPEG ([[JpegGray]]) work: the AVI container follows the
  * Microsoft "AVI RIFF File Reference" layout
  * (`RIFF('AVI ' LIST('hdrl' avih LIST('strl' strh strf)) LIST('movi'
  * '00dc'…) idx1)`, all fields little-endian, chunks word-aligned), and
  * each `00dc` video chunk is a complete baseline JPEG the in-repo
  * ITU-T T.81 decoder turns back into true pixels. So video stops being
  * the one metadata-only modality: [[sceneCuts]] entropy-decodes every
  * frame and detects cuts from consecutive-frame pixel differences, and
  * [[keyframeHashes]]/[[videoDupPairs]] run the video analog of the image
  * perceptual-hash dedup — uniform-stride keyframe sampling, per-frame
  * aHash, temporally-aligned band blocking.
  *
  * 100 TB posture: payloads decode inside `mapPartitions` and never
  * shuffle; the dedup exchange carries only (pos, band, v) ints plus four
  * 16-bit hash bands; keyframe sampling bounds per-video decode cost at
  * `k` frames regardless of video length; candidate blocking keys include
  * the frame position, so candidate volume stays linear in corpus size
  * for temporally-aligned near-dups (the re-encode/re-container case)
  * rather than quadratic across all frame pairs.
  */
object AviMjpeg {

  // RIFF is little-endian throughout (the PNG/BMFF side of Multimodal is
  // big-endian — these stay local to keep each writer spec-shaped).
  private def le2(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le4(v: Long): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
    ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def ascii(s: String): Array[Byte] = s.getBytes("US-ASCII")
  private def u32le(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
  private def tag(b: Array[Byte], i: Int): String =
    new String(b, i, 4, "US-ASCII")

  /** A real AVI file around MJPEG frames: 56-byte AVIMAINHEADER (avih),
    * one video stream (56-byte AVISTREAMHEADER 'vids'/'MJPG' + 40-byte
    * BITMAPINFOHEADER), the frames as word-aligned '00dc' chunks in the
    * movi list, and a standard idx1 index (every MJPEG frame is a
    * keyframe — the property that makes MJPEG splittable at scale).
    * `captions`, when non-empty, adds a SECOND stream — AVISTREAMHEADER
    * 'txts' — whose UTF-8 '01tx' chunks interleave with the frames they
    * subtitle, the classic AVI text-stream layout.
    */
  private[graft] def wrap(w: Int, h: Int, fps: Int,
                          frames: Seq[Array[Byte]],
                          captions: Seq[String] = Nil): Array[Byte] = {
    def list(kind: String, body: Array[Byte]): Array[Byte] =
      ascii("LIST") ++ le4(4L + body.length) ++ ascii(kind) ++ body
    def chunk(ck: String, body: Array[Byte]): Array[Byte] = {
      val pad: Array[Byte] = if (body.length % 2 == 1) Array(0.toByte) else Array.empty
      ascii(ck) ++ le4(body.length.toLong) ++ body ++ pad
    }
    val capBytes = captions.map(_.getBytes("UTF-8"))
    val nStreams = if (capBytes.isEmpty) 1 else 2
    val maxBytes = if (frames.isEmpty) 0 else frames.map(_.length).max
    val avih = chunk("avih",
      le4(1000000L / fps) ++ le4(maxBytes.toLong * fps) ++ le4(0) ++
        le4(0x10 /* AVIF_HASINDEX */) ++ le4(frames.length.toLong) ++ le4(0) ++
        le4(nStreams.toLong) ++ le4(maxBytes.toLong) ++
        le4(w.toLong) ++ le4(h.toLong) ++ new Array[Byte](16))
    val strh = chunk("strh",
      ascii("vids") ++ ascii("MJPG") ++ le4(0) ++ le2(0) ++ le2(0) ++ le4(0) ++
        le4(1 /* scale */) ++ le4(fps.toLong /* rate */) ++ le4(0) ++
        le4(frames.length.toLong) ++ le4(maxBytes.toLong) ++
        le4(0xffffffffL /* quality: driver default */) ++ le4(0) ++
        le2(0) ++ le2(0) ++ le2(w) ++ le2(h))
    val strf = chunk("strf",
      le4(40) ++ le4(w.toLong) ++ le4(h.toLong) ++ le2(1) ++ le2(24) ++
        ascii("MJPG") ++ le4(w.toLong * h * 3) ++ le4(0) ++ le4(0) ++
        le4(0) ++ le4(0))
    val txtStrl =
      if (capBytes.isEmpty) Array.empty[Byte]
      else {
        val maxCap = capBytes.map(_.length).max
        val tStrh = chunk("strh",
          ascii("txts") ++ le4(0) ++ le4(0) ++ le2(0) ++ le2(0) ++ le4(0) ++
            le4(1) ++ le4(fps.toLong) ++ le4(0) ++
            le4(capBytes.length.toLong) ++ le4(maxCap.toLong) ++
            le4(0xffffffffL) ++ le4(0) ++ le2(0) ++ le2(0) ++ le2(0) ++ le2(0))
        list("strl", tStrh ++ chunk("strf", le4(0)))
      }
    val hdrl = list("hdrl", avih ++ list("strl", strh ++ strf) ++ txtStrl)
    // interleave: each frame's caption chunk follows its frame chunk
    val moviBody = frames.iterator.zipWithIndex.map { case (f, i) =>
      chunk("00dc", f) ++
        (if (i < capBytes.length) chunk("01tx", capBytes(i))
         else Array.empty[Byte])
    }.foldLeft(Array.empty[Byte])(_ ++ _)
    val movi = list("movi", moviBody)
    // idx1 offsets are relative to the 'movi' fourcc (the common
    // convention): first chunk header sits 4 bytes past it
    var off = 4L
    val idxEntries = frames.iterator.zipWithIndex.map { case (f, i) =>
      var e = ascii("00dc") ++ le4(0x10L /* AVIIF_KEYFRAME */) ++
        le4(off) ++ le4(f.length.toLong)
      off += 8L + f.length + (f.length % 2)
      if (i < capBytes.length) {
        e ++= ascii("01tx") ++ le4(0L) ++ le4(off) ++
          le4(capBytes(i).length.toLong)
        off += 8L + capBytes(i).length + (capBytes(i).length % 2)
      }
      e
    }.foldLeft(Array.empty[Byte])(_ ++ _)
    val idx1 = chunk("idx1", idxEntries)
    val body = ascii("AVI ") ++ hdrl ++ movi ++ idx1
    ascii("RIFF") ++ le4(body.length.toLong) ++ body
  }

  /** Demux the caption stream: every `##tx` chunk inside the movi list,
    * in stream order, decoded as UTF-8. None on malformed structure;
    * Some(empty) when the video simply has no text stream.
    */
  private[graft] def demuxCaptions(b: Array[Byte]): Option[IndexedSeq[String]] = {
    moviBody(b).flatMap { m =>
      val out = Vector.newBuilder[String]
      var i = 0
      while (i + 8 <= m.length) {
        val ck = tag(m, i); val len = u32le(m, i + 4)
        if (len.toInt < 0 || i + 8 + len.toInt > m.length) return None
        if (ck.endsWith("tx")) out +=
          new String(m, i + 8, len.toInt, "UTF-8")
        i += 8 + len.toInt + (len.toInt & 1)
      }
      Some(out.result())
    }
  }

  /** True if the payload sniffs as `RIFF····AVI `. */
  private[graft] def isAvi(b: Array[Byte]): Boolean =
    b.length >= 12 && tag(b, 0) == "RIFF" && tag(b, 8) == "AVI "

  /** (width, height, n_frames) from the real AVIMAINHEADER: walk the
    * top-level RIFF chunks to LIST hdrl, then its children to avih;
    * dwTotalFrames at data offset 16, dwWidth/dwHeight at 32/36. None on
    * anything malformed — the never-throw data-path posture, with the
    * same forward-progress guard as the WAV walk (a crafted length with
    * the sign bit set would spin the loop).
    */
  private[graft] def parseAviHeader(b: Array[Byte]): Option[(Int, Int, Int)] = {
    try {
      if (!isAvi(b)) return None
      var i = 12
      while (i + 12 <= b.length) {
        val ck = tag(b, i); val len = u32le(b, i + 4)
        if (len.toInt < 0) return None
        if (ck == "LIST" && tag(b, i + 8) == "hdrl") {
          var j = i + 12
          val end = math.min(i + 8 + len.toInt, b.length)
          while (j + 8 <= end) {
            val cck = tag(b, j); val clen = u32le(b, j + 4)
            if (clen.toInt < 0) return None
            if (cck == "avih" && j + 8 + 40 <= end) {
              val nf = u32le(b, j + 8 + 16).toInt
              val w = u32le(b, j + 8 + 32).toInt
              val h = u32le(b, j + 8 + 36).toInt
              return if (w > 0 && h > 0) Some((w, h, nf)) else None
            }
            j += 8 + clen.toInt + (clen.toInt & 1)
          }
          return None
        }
        i += 8 + len.toInt + (len.toInt & 1)
      }
      None
    } catch { case _: Throwable => None }
  }

  /** The movi LIST contents — the demuxable frames region (what
    * [[Multimodal.extractBody]] returns for AVI payloads). */
  private[graft] def moviBody(b: Array[Byte]): Option[Array[Byte]] = {
    try {
      if (!isAvi(b)) return None
      var i = 12
      while (i + 12 <= b.length) {
        val ck = tag(b, i); val len = u32le(b, i + 4)
        if (len.toInt < 0) return None
        if (ck == "LIST" && tag(b, i + 8) == "movi") {
          val end = math.min(i + 8 + len.toInt, b.length)
          return Some(java.util.Arrays.copyOfRange(b, i + 12, end))
        }
        i += 8 + len.toInt + (len.toInt & 1)
      }
      None
    } catch { case _: Throwable => None }
  }

  /** Demux the video frames: every `##dc` (compressed video) chunk inside
    * the movi list, in stream order, exact payload lengths (the word-
    * alignment pad byte is container framing, not frame data). None on
    * malformed structure.
    */
  private[graft] def demux(b: Array[Byte]): Option[IndexedSeq[Array[Byte]]] = {
    moviBody(b).flatMap { m =>
      val out = Vector.newBuilder[Array[Byte]]
      var i = 0
      while (i + 8 <= m.length) {
        val ck = tag(m, i); val len = u32le(m, i + 4)
        if (len.toInt < 0 || i + 8 + len.toInt > m.length) return None
        if (ck.endsWith("dc")) out +=
          java.util.Arrays.copyOfRange(m, i + 8, i + 8 + len.toInt)
        i += 8 + len.toInt + (len.toInt & 1)
      }
      Some(out.result())
    }
  }

  // --- planted video plan (the formulas the video oracles replay) ---

  /** Frame dims, multiples of 8 so every JPEG block is complete (no
    * padded-edge cases in the MAD arithmetic): 16/24/32 per side.
    */
  private[graft] def videoDims(id: Long): (Int, Int) =
    ((16 + ((id / 8) % 3) * 8).toInt, (16 + ((id / 24) % 3) * 8).toInt)

  /** 3..6 frames per video (scenes of length 2 → 2..3 scenes). The /8
    * quotient keeps the formula varying over the %4- and %8-strided
    * fixture subsets the video queries use.
    */
  private[graft] def videoFrameCount(id: Long): Int = (3 + (id / 8) % 4).toInt

  /** Frame `f` of video `id`: block-constant planted pixels (the content
    * class whose lossy JPEG roundtrip is exact, [[Multimodal
    * .plantedBlockPixels]]) with seed = id·131 + (f/2)·17 — constant
    * within a 2-frame scene, re-scrambled across scenes — plus a small
    * within-scene "motion" edit (f%2)·2 on the leftmost block column.
    * `cloneEdit` adds the near-duplicate plant on the same column.
    */
  private[graft] def videoFramePixels(id: Long, f: Int, cloneEdit: Int,
                                       seedShift: Long = 0L): Array[Byte] = {
    val (w, h) = videoDims(id)
    // seedShift re-scrambles the CONTENT while keeping the id-keyed
    // geometry (dims, frame count) — the "re-shot footage" plant
    Multimodal.plantedBlockPixels(w, h, seed = (id + seedShift) * 131 + (f / 2) * 17,
      edit = cloneEdit + (f % 2) * 2)
  }

  /** Fixture ids as REAL MJPEG AVIs with planted scene structure: each
    * frame a complete baseline JPEG ([[JpegGray.jpegEncodeGray]]) inside
    * a byte-exact AVI container. `shift` relabels clone video ids;
    * content stays keyed to the ORIGINAL id so clones align with their
    * originals frame-for-frame.
    */
  /** Curve-fixture videos with murmur-mixed BLOCK-CONSTANT pixels (one
    * value per 8×8 block from the 64-bit finalizer over (seed, frame,
    * block)): every frame's aHash is high-entropy per seed, so unrelated
    * curve videos land nowhere near each other — unlike
    * [[videoFramePixels]], whose small-modulus products give ≤16
    * distinct block values per frame and made arithmetically-shifted
    * curve copies collide with the grown index (measured: the ×5 video
    * index grew only 2.9×). Block-constant pixels keep the lossy JPEG
    * roundtrip exact, so the MP4 re-wrap of the same seed decodes to
    * identical keyframe hashes (the container-blind probe). Registry
    * fixtures keep [[mediaAviVideos]] — their oracles replay that
    * formula; this generator exists for the streaming curve only.
    */
  def mediaVideosMixed(ids: Dataset[Long], shift: Long = 0L,
                       mp4: Boolean = false): Dataset[Multimodal.MediaRecord] = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      it.map { id =>
        // 64×64: each aHash CELL covers exactly one 8×8 pixel block, so
        // all 64 hash bits are independent — at the registry's 16–32 px
        // dims a cell is smaller than its block and the hash collapses
        // to ≤16 independent values (≈14 possible hashes at 16×16),
        // which no content entropy can fix
        val w = 64
        val h = 64
        val nf = videoFrameCount(id)
        def px(f: Int): Array[Byte] = {
          val a = new Array[Byte](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              // FULL murmur3 fmix64: with only the first multiply the
              // low output byte stays linear in the input's low bits, so
              // corresponding blocks of two videos differ by a CONSTANT
              // plus high-bit noise and ~1% of cross-video frames landed
              // within Hamming 8 (measured); the second multiply + final
              // xorshift fixes it (0/900 cross-frame pairs <= 8, min 21)
              var hh = id * 1000003L + f * 8191L + (y / 8) * 127L + (x / 8)
              hh ^= (hh >>> 33); hh *= 0xff51afd7ed558ccdL; hh ^= (hh >>> 33)
              hh *= 0xc4ceb9fe1a85ec53L; hh ^= (hh >>> 33)
              a(y * w + x) = (hh & 0xff).toByte
              x += 1
            }
            y += 1
          }
          a
        }
        val frames = (0 until nf).map(f => JpegGray.jpegEncodeGray(w, h, px(f)))
        Multimodal.MediaRecord(id + shift, "video",
          if (mp4) Mp4Mjpeg.wrap(w, h, frames) else wrap(w, h, fps = 10, frames))
      }
    }
  }

  def mediaAviVideos(ids: Dataset[Long], shift: Long = 0L,
                     cloneEdit: Int = 0): Dataset[Multimodal.MediaRecord] = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      it.map { id =>
        val (w, h) = videoDims(id)
        val frames = (0 until videoFrameCount(id)).map(f =>
          JpegGray.jpegEncodeGray(w, h, videoFramePixels(id, f, cloneEdit)))
        Multimodal.MediaRecord(id + shift, "video", wrap(w, h, fps = 10, frames))
      }
    }
  }

  /** The same planted videos in the OTHER real container: sampled MP4
    * (sample-table MJPEG, [[Mp4Mjpeg.wrap]]) — content identical to
    * [[mediaAviVideos]] frame-for-frame, so a mixed-container corpus
    * carries one container-independent oracle.
    */
  def mediaMp4Videos(ids: Dataset[Long], shift: Long = 0L,
                     cloneEdit: Int = 0): Dataset[Multimodal.MediaRecord] = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      it.map { id =>
        val (w, h) = videoDims(id)
        val frames = (0 until videoFrameCount(id)).map(f =>
          JpegGray.jpegEncodeGray(w, h, videoFramePixels(id, f, cloneEdit)))
        Multimodal.MediaRecord(id + shift, "video", Mp4Mjpeg.wrap(w, h, frames))
      }
    }
  }

  /** Container-agnostic video demux: sniff AVI vs ISO-BMFF and return
    * (width, height, frames) from the real container structures — AVI
    * avih + movi chunks, or the MP4 sample table. None when the header
    * and the demuxed frame count disagree (AVI) or anything is malformed.
    */
  private[graft] def demuxAnyVideo(b: Array[Byte]): Option[(Int, Int, IndexedSeq[Array[Byte]])] =
    if (isAvi(b))
      for {
        (w, h, nf) <- parseAviHeader(b)
        fr <- demux(b) if fr.length == nf
      } yield (w, h, fr)
    else Mp4Mjpeg.demuxSamples(b)

  /** Scene-cut detection over REAL decoded video (AVI or sampled MP4):
    * demux every frame via the container's real structures, entropy-
    * decode each through the T.81 JPEG decoder, then MAD(f) =
    * Σ|p_f − p_{f−1}| / (w·h) (floor) between consecutive frames; a cut
    * where MAD > threshold. Videos whose demuxed frame count disagrees
    * with the header, or with any undecodable frame, are skipped (poison
    * posture). first_cut = −1 when no cut fires.
    */
  final case class VideoScenes(doc_id: Long, width: Int, height: Int,
                               n_frames: Int, n_cuts: Int, first_cut: Int,
                               sum_mad: Long)

  def sceneCuts(ds: Dataset[Multimodal.MediaRecord],
                threshold: Int = 16): Dataset[VideoScenes] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.flatMap { r =>
        val parsed = demuxAnyVideo(r.payload).filter(_._3.nonEmpty).flatMap {
          case (w, h, frames) =>
            // stream the decode PAIRWISE: only the previous frame's pixels
            // stay live, so per-video memory is O(2 frames) whatever the
            // video length — decoded pixels dwarf the compressed payload
            val nf = frames.length
            var prev: Array[Byte] = null
            var nCuts = 0
            var firstCut = -1
            var sumMad = 0L
            var f = 0
            var ok = true
            while (ok && f < nf) {
              Multimodal.decodeGray(frames(f)) match {
                case Some(img) =>
                  val b = img.pixels
                  if (b.length != w.toLong * h) {
                    // decoded dims disagree with the container header
                    // (avih/tkhd): the MAD divisor below would be wrong —
                    // malformed, skip the video (never-wrong-output posture)
                    ok = false
                  } else if (prev != null && prev.length != b.length) {
                    ok = false // mixed frame dims: malformed, skip the video
                  } else if (prev != null) {
                    var s = 0L
                    var i = 0
                    while (i < b.length) {
                      s += math.abs((prev(i) & 0xff) - (b(i) & 0xff))
                      i += 1
                    }
                    val mad = s / (w.toLong * h)
                    sumMad += mad
                    if (mad > threshold) {
                      nCuts += 1
                      if (firstCut < 0) firstCut = f
                    }
                  }
                  prev = b
                case None => ok = false // any undecodable frame skips the video
              }
              f += 1
            }
            if (ok) Some(VideoScenes(r.doc_id, w, h, nf, nCuts, firstCut, sumMad))
            else None
        }
        parsed.iterator
      }
    }
  }

  /** Uniform-stride keyframe sampling + per-frame aHash: position p of k
    * maps to frame ⌊p·nf/k⌋ (the [[Multimodal.sampleFramesParsed]] stride), the
    * sampled frame entropy-decodes through the JPEG decoder, and its
    * 64-bit aHash ships as four 16-bit bands — the per-video signature
    * the dedup join blocks on. Only ≤ k frames per video ever decode,
    * whatever the video length.
    */
  final case class FrameHash(video_id: Long, pos: Int,
                             b0: Int, b1: Int, b2: Int, b3: Int)

  def keyframeHashes(ds: Dataset[Multimodal.MediaRecord],
                     k: Int = 3): Dataset[FrameHash] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.flatMap { r =>
        (for {
          (_, _, frames) <- demuxAnyVideo(r.payload) if frames.nonEmpty
        } yield {
          val nf = frames.length
          val kk = math.min(k, nf)
          (0 until kk).iterator.flatMap { p =>
            val f = p * nf / kk
            Multimodal.decodeGray(frames(f)).flatMap(Multimodal.aHash64)
              .map { case (b0, b1, b2, b3) =>
                FrameHash(r.doc_id, p, b0, b1, b2, b3)
              }.iterator
          }
        }).getOrElse(Iterator.empty)
      }
    }
  }

  /** Keyframe hashes melted to band rows, CARRYING the full four-band
    * hash (the [[MediaDedup.bandRows]] fused-verify trick): one row per
    * (video, pos, band). This is the persisted video-admission index
    * schema — the band-0 rows double as the per-(video, pos) hash table,
    * so the index needs no second file.
    */
  def videoBandRows(fph: DataFrame): DataFrame =
    MediaDedup.bandRows(fph, Seq("video_id", "pos"))

  /** The hot-bucket-qualified (video_id, pos, band, v) blocking rows of
    * [[videoDupPairs]], exposed so a session-pinned fixture can
    * checkpoint them once (melt + cap window are deterministic in the
    * hash frame) and feed [[videoDupPairsQualified]] per run.
    */
  def qualifiedVideoBands(fph: DataFrame, maxBucket: Int = 64): DataFrame =
    HotBuckets.cap(videoBandRows(fph).select("video_id", "pos", "band", "v"),
      Seq("pos", "band", "v"), maxBucket)

  /** Video near-dup from keyframe hashes: candidates share an exact
    * (pos, band, v) key — temporal alignment is part of the blocking key,
    * so the join stays linear for the aligned-clone class — then verify
    * per aligned position ([[MediaDedup.hamming]]) and keep pairs
    * where ≥ `minMatch` positions agree within `maxHamming`. Only ints
    * cross the exchanges; payloads never do.
    *
    * Hot-bucket suppression (`maxBucket`): a (pos, band, v) bucket wider
    * than the cap is dropped from CANDIDATE GENERATION — the standard LSH
    * hot-key discipline and this repo's df-capped-inverted-index
    * precedent (`NearDup`/dedup_jaccard_capped). Low-entropy hashes are a
    * real video phenomenon (tiny frames, blank frames, logo cards): the
    * ScaleCurve ×10 row measured the uncapped join at 30.4 s — quadratic
    * in the width of the hottest buckets — vs ~2 s capped. A pair only
    * needs ONE of its 12 (pos, band) keys to sit in a cool bucket, and a
    * band half the corpus shares carries no discriminative signal anyway;
    * pairs whose every key is hot are the documented recall cost.
    */
  def videoDupPairs(fph: DataFrame, maxHamming: Int = 8,
                    minMatch: Int = 2, maxBucket: Int = 64): DataFrame =
    videoDupPairsQualified(qualifiedVideoBands(fph, maxBucket), fph,
      maxHamming, minMatch)

  /** [[videoDupPairs]] over pre-qualified blocking rows. */
  def videoDupPairsQualified(qualified: DataFrame, fph: DataFrame,
                             maxHamming: Int = 8,
                             minMatch: Int = 2): DataFrame = {
    val cand = qualified.as("a").join(qualified.as("b"),
        col("a.pos") === col("b.pos") && col("a.band") === col("b.band") &&
          col("a.v") === col("b.v") && col("a.video_id") < col("b.video_id"))
      .select(col("a.video_id").as("video_a"), col("b.video_id").as("video_b"))
      .distinct()
    cand.join(fph.withColumnRenamed("video_id", "video_a").as("a"), Seq("video_a"))
      .join(fph.withColumnRenamed("video_id", "video_b").as("b"), Seq("video_b", "pos"))
      .withColumn("ham", MediaDedup.hamming("a", "b"))
      .groupBy("video_a", "video_b")
      .agg(sum(when(col("ham") <= maxHamming, 1).otherwise(0)).cast("int").as("n_match"),
        max(col("ham")).as("max_ham"))
      .filter(col("n_match") >= minMatch)
  }

  /** Per-frame hashes of every frame up to `maxFrames` (pos = frame
    * index) — the input to offset-tolerant matching, where uniform-
    * stride sampling would break alignment under trims. Per-video decode
    * cost is bounded BY CONSTRUCTION at `maxFrames`, not by trusting the
    * corpus: a pathological hours-long upload costs the same as a
    * `maxFrames`-frame one (its tail simply doesn't participate in
    * offset matching — the documented truncation).
    */
  def allFrameHashes(ds: Dataset[Multimodal.MediaRecord],
                     maxFrames: Int = 1024): Dataset[FrameHash] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.flatMap { r =>
        (for {
          (_, _, frames) <- demuxAnyVideo(r.payload) if frames.nonEmpty
        } yield {
          frames.iterator.take(maxFrames).zipWithIndex.flatMap { case (fr, f) =>
            Multimodal.decodeGray(fr).flatMap(Multimodal.aHash64)
              .map { case (b0, b1, b2, b3) =>
                FrameHash(r.doc_id, f, b0, b1, b2, b3)
              }.iterator
          }
        }).getOrElse(Iterator.empty)
      }
    }
  }

  /** The planted videos with the first `trim` frames dropped — the
    * re-upload-with-trimmed-intro clone class. Frame j of the trimmed
    * video is BYTE-IDENTICAL to frame j+trim of the original.
    */
  def mediaAviVideosTrimmed(ids: Dataset[Long], shift: Long,
                            trim: Int = 1): Dataset[Multimodal.MediaRecord] = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      it.map { id =>
        val (w, h) = videoDims(id)
        val frames = (trim until videoFrameCount(id)).map(f =>
          JpegGray.jpegEncodeGray(w, h, videoFramePixels(id, f, 0)))
        Multimodal.MediaRecord(id + shift, "video", wrap(w, h, fps = 10, frames))
      }
    }
  }

  /** OFFSET-TOLERANT video near-dup — the trimmed-re-upload detector
    * position-aligned blocking cannot catch. Blocking drops the position
    * from the key (band, v only; hot buckets capped as everywhere), each
    * band match votes for the frame offset it implies (frame_a −
    * frame_b), the winning offset per pair is the vote argmax (ties →
    * smallest |offset|, then smallest offset — the no-trim prior), and
    * the verify re-aligns the two frame sequences AT that offset:
    * n_aligned overlapping frames, n_match of them within `maxHamming`.
    * Pairs survive on n_match ≥ `minMatch`. Only ints and 16-bit bands
    * cross the exchanges.
    */
  def videoDupPairsOffset(fph: DataFrame, maxHamming: Int = 8,
                          minMatch: Int = 2, maxBucket: Int = 64): DataFrame = {
    val qualified = HotBuckets.cap(
      videoBandRows(fph).select("video_id", "pos", "band", "v"),
      Seq("band", "v"), maxBucket)
    val votes = qualified.as("a").join(qualified.as("b"),
        col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
          col("a.video_id") < col("b.video_id"))
      .select(col("a.video_id").as("video_a"), col("b.video_id").as("video_b"),
        (col("a.pos") - col("b.pos")).as("off"))
      .groupBy("video_a", "video_b", "off")
      .agg(count(lit(1)).as("n_votes"))
    val best = votes.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("video_a", "video_b")
          .orderBy(col("n_votes").desc, abs(col("off")), col("off"))))
      .filter(col("rk") === 1)
      .select(col("video_a"), col("video_b"), col("off"))
    val ha = fph.withColumnRenamed("video_id", "video_a")
      .withColumnRenamed("pos", "fa").as("a")
    val hb = fph.withColumnRenamed("video_id", "video_b")
      .withColumnRenamed("pos", "fb").as("b")
    // the alignment is an EQUI-join: fb = fa − off is precomputed so the
    // planner hashes on (video_b, fb) instead of exploding nfa×nfb rows
    // per pair and post-filtering
    best.join(ha, Seq("video_a"))
      .withColumn("fb", col("fa") - col("off"))
      .join(hb, Seq("video_b", "fb"))
      .withColumn("ham", MediaDedup.hamming("a", "b"))
      .groupBy("video_a", "video_b", "off")
      .agg(count(lit(1)).cast("int").as("n_aligned"),
        sum(when(col("ham") <= maxHamming, 1).otherwise(0)).cast("int").as("n_match"))
      .filter(col("n_match") >= minMatch)
      .select(col("video_a"), col("video_b"), col("off").cast("int").as("offset"),
        col("n_aligned"), col("n_match"))
  }

  /** The planted videos as COLOR MJPEG: each frame a baseline 4:2:0
    * YCbCr JPEG whose luma carries the same scene plan as the grayscale
    * videos and whose chroma planes are a per-video static color cast
    * (block-constant at the half-res plane, so every plane round-trips
    * bit-exactly). The scene-cut/dedup operators decode these through
    * the container-sniffing luma fallback — color video end-to-end, no
    * operator changes.
    */
  def mediaAviVideosColor(ids: Dataset[Long]): Dataset[Multimodal.MediaRecord] = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      it.map { id =>
        val (w, h) = videoDims(id)
        val (cw, ch) = ((w + 1) / 2, (h + 1) / 2)
        val cb = Multimodal.plantedBlockPixels(cw, ch, id + 1000003L)
        val cr = Multimodal.plantedBlockPixels(cw, ch, id + 2000003L)
        val frames = (0 until videoFrameCount(id)).map(f =>
          JpegGray.jpegEncodeYcc420(w, h, videoFramePixels(id, f, 0), cb, cr))
        Multimodal.MediaRecord(id, "video", wrap(w, h, fps = 10, frames))
      }
    }
  }

  /** Planted caption text — the formula the caption oracle replays. */
  private[graft] def captionText(id: Long, f: Int): String =
    s"tok${(id * 31 + f * 7) % 97} tok${(id * 17 + f * 11) % 89}"

  /** The planted videos WITH a caption stream: one '01tx' chunk per
    * frame, interleaved — the cross-modal corpus (video frames + the
    * text pipeline's raw material in one container). `shift` relabels
    * clone ids (frame content stays keyed to the ORIGINAL id, perturbed
    * by `cloneEdit`); `capIdShift` re-keys the caption FORMULA — 0 plants
    * a transcript identical to the original's (a re-upload), a distinct
    * shift plants a re-transcription of the same footage.
    */
  def mediaAviVideosCaptioned(ids: Dataset[Long], shift: Long = 0L,
                              cloneEdit: Int = 0,
                              capIdShift: Long = 0L,
                              seedShift: Long = 0L): Dataset[Multimodal.MediaRecord] = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      it.map { id =>
        val (w, h) = videoDims(id)
        val nf = videoFrameCount(id)
        val frames = (0 until nf).map(f =>
          JpegGray.jpegEncodeGray(w, h, videoFramePixels(id, f, cloneEdit, seedShift)))
        Multimodal.MediaRecord(id + shift, "video",
          wrap(w, h, fps = 10, frames,
            (0 until nf).map(captionText(id + capIdShift, _))))
      }
    }
  }

  /** The planted videos as sampled MP4 with a tx3g timed-text track —
    * the MP4 twin of [[mediaAviVideosCaptioned]], caption-for-caption
    * identical content (same shift/cloneEdit/capIdShift knobs).
    */
  def mediaMp4VideosCaptioned(ids: Dataset[Long], shift: Long = 0L,
                              cloneEdit: Int = 0,
                              capIdShift: Long = 0L): Dataset[Multimodal.MediaRecord] = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      it.map { id =>
        val (w, h) = videoDims(id)
        val nf = videoFrameCount(id)
        val frames = (0 until nf).map(f =>
          JpegGray.jpegEncodeGray(w, h, videoFramePixels(id, f, cloneEdit)))
        Multimodal.MediaRecord(id + shift, "video",
          Mp4Mjpeg.wrap(w, h, frames,
            (0 until nf).map(captionText(id + capIdShift, _))))
      }
    }
  }

  /** Container-agnostic caption demux: AVI '##tx' chunks or the MP4
    * tx3g timed-text track. */
  private[graft] def demuxAnyCaptions(b: Array[Byte]): Option[IndexedSeq[String]] =
    if (isAvi(b)) demuxCaptions(b) else Mp4Mjpeg.demuxText(b)

  /** Caption extraction — the bridge from the video container to the
    * TEXT pipeline: demux the text stream (AVI '##tx' chunks or the MP4
    * tx3g track) and emit per-video caption statistics plus a content
    * digest (what a downstream text-dedup / quality stage keys on).
    * Malformed videos are skipped; caption-less ones emit zero counts
    * (absence is a fact, not an error).
    */
  final case class VideoCaptions(doc_id: Long, n_captions: Int,
                                 caption_chars: Long, cap_sha256: String)

  def videoCaptions(ds: Dataset[Multimodal.MediaRecord]): Dataset[VideoCaptions] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      it.flatMap { r =>
        demuxAnyCaptions(r.payload).iterator.map { caps =>
          md.reset()
          md.update(caps.mkString("|").getBytes("UTF-8"))
          VideoCaptions(r.doc_id, caps.length,
            caps.iterator.map(_.length.toLong).sum,
            md.digest().map("%02x".format(_)).mkString)
        }
      }
    }
  }

  /** Intra-batch duplicate videos: the larger id of every verified pair
    * drops, the smaller survives — [[MediaDedup.phashDuplicates]]'
    * convention lifted to keyframe majority.
    */
  def videoDuplicates(fph: DataFrame, maxHamming: Int = 8, minMatch: Int = 2,
                      maxBucket: Int = 64): DataFrame =
    videoDupPairs(fph, maxHamming, minMatch, maxBucket)
      .select(col("video_b").as("video_id")).distinct()

  /** Admission verdicts for a batch of keyframe hashes against a
    * persisted index of [[videoBandRows]]: candidates from the
    * (pos, band, v) bucket join — both sides restricted to buckets no
    * wider than `maxBucket` on the index side (the same hot-key
    * discipline as [[videoDupPairs]]; an index bucket the whole corpus
    * shares carries no signal and would make the probe O(index)) — then
    * keyframe-majority Hamming verify against the index's band-0 rows
    * (which carry the full hash). Returns (video_id, is_dup) covering
    * EVERY batch video. Only ints move; payloads stay at the decode site.
    */
  def admitAgainstVideos(index: DataFrame, batchFph: DataFrame,
                         maxHamming: Int = 8, minMatch: Int = 2,
                         maxBucket: Int = 64): DataFrame = {
    val idxQualified = HotBuckets.cap(index, Seq("pos", "band", "v"), maxBucket)
    val cand = videoBandRows(batchFph)
      .select(col("video_id").as("bvid"), col("pos"), col("band"), col("v"))
      .join(idxQualified.select(col("video_id").as("ivid"),
        col("pos"), col("band"), col("v")), Seq("pos", "band", "v"))
      .select("bvid", "ivid").distinct()
    val bh = batchFph.withColumnRenamed("video_id", "bvid").as("a")
    val ih = index.filter(col("band") === 0).drop("band", "v")
      .withColumnRenamed("video_id", "ivid").as("b")
    val dup = cand.join(bh, Seq("bvid")).join(ih, Seq("ivid", "pos"))
      .withColumn("ham", MediaDedup.hamming("a", "b"))
      .groupBy("bvid", "ivid")
      .agg(sum(when(col("ham") <= maxHamming, 1).otherwise(0)).as("n_match"))
      .filter(col("n_match") >= minMatch)
      .select(col("bvid").as("video_id")).distinct()
      .withColumn("dup", lit(true))
    batchFph.select("video_id").distinct()
      .join(dup, Seq("video_id"), "left")
      .select(col("video_id"), coalesce(col("dup"), lit(false)).as("is_dup"))
  }
}
