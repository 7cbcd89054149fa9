package graft.scale

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Audio fingerprint dedup — the 4th modality of the admission family
  * (text MinHash / image aHash / video keyframe bands / now audio). A
  * speech-heavy training corpus dedups audio BEFORE transcripts exist,
  * so the fingerprint must come from the decoded samples themselves.
  *
  * Fingerprint: the clip's REAL decoded PCM16 samples
  * ([[Multimodal.wavDecodePcm16]] — the container is parsed, not byte-
  * sliced; stereo mono-mixes as floor((L+R)/2)) split into 64 equal time
  * windows; bit w is set when window w's energy (Σ s²) exceeds window
  * (w+1)%64's — the energy-DIFFERENCE bit plan of the public audio-
  * fingerprinting literature (Haitsma & Kalker 2002's band-difference
  * scheme, reduced to the time axis since no FFT is needed for
  * envelope-level dedup). Differences, not a global-mean comparison,
  * because a clip with quiet passages drags the mean below every loud
  * window and the bits collapse to the loud/quiet mask (measured: a
  * mean-reference plan gave per-bit balance 0.88/0.00 across the planted
  * corpus and 10k spurious sub-8-Hamming pairs on 500 docs; difference
  * bits are balanced wherever consecutive windows are exchangeable).
  * Two invariances hold by construction: CONTAINER invariance
  * (mono→stereo or rate-field re-encodes decode to the same mix, so the
  * fingerprint is bit-identical) and GAIN invariance (uniform amplitude
  * scaling multiplies both sides of every comparison).
  *
  * The 64 bits pack as four 16-bit bands in the [[MediaDedup]] layout
  * (doc_id, b0..b3), so the one band-hash kernel applies unchanged:
  * [[MediaDedup.bandRows]] is the persisted index schema,
  * [[MediaDedup.pairs]] / [[MediaDedup.phashDuplicates]] the intra-set
  * dedup (hot-bucket capped), [[MediaDedup.crossPairs]] /
  * [[MediaDedup.admitAgainst]] the admission probe (index-side cap,
  * recounted after [[Deletion.purge]]), and
  * [[graft.streaming.StreamingAudioAdmission]] the streaming twin.
  *
  * 100 TB posture: decode stays inside mapPartitions (payload bytes
  * never shuffle), one fixed-width row out per clip; everything after
  * the fingerprint is the already-curve-gated band machinery.
  */
object AudioDedup {

  /** Fingerprint windows (bits) and the band packing. */
  val Windows = 64
  val Bands = 4
  val BandBits: Int = Windows / Bands

  /** Canonical sample count for [[fingerprintsWav]]'s rate
    * normalization: every clip is nearest-neighbor resampled to this
    * length before windowing (identity for clips already this long —
    * the planted fixtures — so no existing oracle moved). Without it the
    * clip-relative windows cover the same CONTENT under a sample-rate
    * conversion but their energies shift by interpolation noise that is
    * the same order as the consecutive-window energy differences on
    * noise-like content — measured r13: a true 2× linear-interpolation
    * upsample recalled only 0.296 at Hamming ≤ 8 against the
    * un-normalized fingerprint. After normalization a 2× upsample
    * decimates back to the exact source samples, so the fingerprint is
    * resample-INVARIANT by construction for integer ratios and
    * near-invariant for fractional ones (`mm_audio_dedup_resampled`
    * pins the measurement).
    */
  val NormSamples = 1024

  final case class AudioFingerprint(doc_id: Long, b0: Int, b1: Int, b2: Int, b3: Int)

  /** (doc_id, b0..b3) energy-profile fingerprints from WAV payloads.
    * Clips shorter than [[Windows]] samples (no full window) and
    * undecodable payloads are absent — callers needing an audit row
    * anti-join back, the [[MediaDedup.phashes]] convention. A trailing
    * partial window is dropped (window length = floor(samples/64)).
    */
  def fingerprintsWav(media: Dataset[Multimodal.MediaRecord]): Dataset[AudioFingerprint] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        Multimodal.wavDecodePcm16(r.payload) match {
          case Some(pcm) if pcm.samples.length / pcm.channels >= Windows =>
            val ch = pcm.channels
            val nf = pcm.samples.length / ch // frames (samples per channel)
            val mono = new Array[Int](nf)
            var f = 0
            while (f < nf) {
              // floor mean across channels: >> 1 on the 2-channel sum is
              // floor division (matches DuckDB's // for negatives)
              var sum = 0
              var c = 0
              while (c < ch) { sum += pcm.samples(f * ch + c); c += 1 }
              mono(f) = if (ch == 2) sum >> 1 else if (ch == 1) sum else {
                // general floor division for exotic channel counts
                Math.floorDiv(sum, ch)
              }
              f += 1
            }
            // rate normalization (see [[NormSamples]]): identity when the
            // clip is already canonical-length; a 2× upsample decimates
            // back to its source samples exactly
            val norm =
              if (nf == NormSamples) mono
              else {
                val m = new Array[Int](NormSamples)
                var k = 0
                while (k < NormSamples) {
                  m(k) = mono(((k.toLong * nf) / NormSamples).toInt)
                  k += 1
                }
                m
              }
            val wlen = NormSamples / Windows
            val e = new Array[Long](Windows)
            var w = 0
            while (w < Windows) {
              var acc = 0L
              var j = w * wlen
              val end = j + wlen
              while (j < end) { acc += norm(j).toLong * norm(j); j += 1 }
              e(w) = acc
              w += 1
            }
            var b0 = 0; var b1 = 0; var b2 = 0; var b3 = 0
            w = 0
            while (w < Windows) {
              if (e(w) > e((w + 1) % Windows)) {
                val bit = 1 << (w % BandBits)
                (w / BandBits) match {
                  case 0 => b0 |= bit
                  case 1 => b1 |= bit
                  case 2 => b2 |= bit
                  case _ => b3 |= bit
                }
              }
              w += 1
            }
            Iterator.single(AudioFingerprint(r.doc_id, b0, b1, b2, b3))
          case _ => Iterator.empty
        }
      }
    }
  }

  /** Per-SEGMENT fingerprints for offset-tolerant dedup: the clip splits
    * into fixed `segLen`-sample segments (trailing partial dropped) and
    * each segment gets its own 64-bit energy-difference fingerprint. The
    * output schema is [[AviMjpeg.FrameHash]]'s (video_id, pos, b0..b3) —
    * deliberately, because a TRIMMED re-upload (leading silence or intro
    * cut) shifts content by whole segments exactly the way a trimmed
    * video shifts keyframes, so [[AviMjpeg.videoDupPairsOffset]] (block
    * on (band, v) sans position, vote for the implied offset, verify the
    * re-aligned sequences) applies to audio VERBATIM — one offset-voting
    * operator, two modalities. Fixed segment length (not a fixed segment
    * COUNT) is what makes equal-content segments land on equal
    * fingerprints regardless of how much was trimmed.
    */
  def segmentFingerprintsWav(media: Dataset[Multimodal.MediaRecord],
                             segLen: Int = 512): Dataset[AviMjpeg.FrameHash] = {
    import media.sparkSession.implicits._
    require(segLen % Windows == 0, s"segLen must be a multiple of $Windows")
    val wlen = segLen / Windows
    media.mapPartitions { it =>
      it.flatMap { r =>
        Multimodal.wavDecodePcm16(r.payload) match {
          case Some(pcm) if pcm.samples.length / pcm.channels >= segLen =>
            val ch = pcm.channels
            val nf = pcm.samples.length / ch
            val mono = new Array[Int](nf)
            var f = 0
            while (f < nf) {
              var sum = 0
              var c = 0
              while (c < ch) { sum += pcm.samples(f * ch + c); c += 1 }
              mono(f) = if (ch == 2) sum >> 1 else if (ch == 1) sum
                        else Math.floorDiv(sum, ch)
              f += 1
            }
            val nSeg = nf / segLen
            (0 until nSeg).iterator.map { p =>
              val e = new Array[Long](Windows)
              var w = 0
              while (w < Windows) {
                var acc = 0L
                var j = p * segLen + w * wlen
                val end = j + wlen
                while (j < end) { acc += mono(j).toLong * mono(j); j += 1 }
                e(w) = acc
                w += 1
              }
              var b0 = 0; var b1 = 0; var b2 = 0; var b3 = 0
              w = 0
              while (w < Windows) {
                if (e(w) > e((w + 1) % Windows)) {
                  val bit = 1 << (w % BandBits)
                  (w / BandBits) match {
                    case 0 => b0 |= bit
                    case 1 => b1 |= bit
                    case 2 => b2 |= bit
                    case _ => b3 |= bit
                  }
                }
                w += 1
              }
              AviMjpeg.FrameHash(r.doc_id, p, b0, b1, b2, b3)
            }
          case _ => Iterator.empty
        }
      }
    }
  }

  /** Fixture clips as REAL PCM16 WAVs over the planted sample plan the
    * oracles replay: every 4th 64-sample frame is quiet, loud frames use
    * the product-of-mods formula (the planted-pixel trick — a plain
    * arithmetic progression in i makes energy PROFILES near-identical
    * across seeds and every pair fingerprints as a near-dup), with an
    * `edit` offset added to samples 64..95 (the first LOUD frame) so
    * clones are near-identical, not byte-identical. `stereo` wraps the
    * SAME samples as L=R two-channel frames — a true container re-encode
    * whose mono mix is bit-exact, exercising the fingerprint's container
    * invariance end to end.
    */
  /** `trimSamples` drops that many LEADING samples from the planted plan
    * (the trimmed-re-upload fixture: sample j of the clip equals sample
    * j + trimSamples of the original — absolute-index formula, so
    * trimmed content is sample-exact against the untrimmed clip's tail).
    */
  /** Curve-fixture variant of [[mediaWavPlanted]] with a seed-dependent
    * per-window amplitude ENVELOPE (gain 1 + (id·31 + w·7) % 6 on window
    * w): the energy ORDERING of consecutive windows becomes
    * clip-specific, so unrelated clips land near-balanced Hamming and
    * the background pair rate is ~0 instead of the base formula's ~2e-4
    * (quadratic in corpus — which made the ×10 streaming-curve arm's
    * index grow only 4.4× as later batches' clips collided with the
    * grown index; r12 verdict #7). Registry fixtures keep
    * [[mediaWavPlanted]] (their oracles replay that formula); this one
    * exists so the curve's "×m index" label is true by construction.
    * Stereo re-encodes stay sample-exact re-encodes.
    */
  def mediaWavPlantedEnvelope(ids: Dataset[Long], shift: Long = 0L,
                              stereo: Boolean = false,
                              nSamples: Int = 1024): Dataset[Multimodal.MediaRecord] = {
    import ids.sparkSession.implicits._
    val wlen = nSamples / Windows
    ids.mapPartitions { it =>
      it.map { id =>
        val ch = if (stereo) 2 else 1
        val body = new Array[Byte](nSamples * 2 * ch)
        var i = 0
        while (i < nSamples) {
          val base = (if ((i / 64) % 4 == 0)
            ((i * 37 + id * 101) % 4001 % 21 - 10)
          else
            ((i * 73 + id * 151 + 17) % 251) * ((i * 31 + id * 61 + 5) % 241) % 4001 - 2000).toInt
          val w = i / wlen
          // gain must be pseudo-random per (id, w) AND nonlinear in id:
          // a modular-arithmetic gain ((id·31+7w) % 6, or any linear
          // hash) gives either six possible gain sequences or constant
          // per-id offsets that whole id classes share (measured both
          // ways: intra-batch dedup collapsed 60 clips to 9, then ham-0
          // pairs at Δid=68) — the murmur finalizer breaks the linearity
          // (simulated: 0 collisions / min pairwise Hamming 11 over 125k
          // pairs, and 0 cross-batch at the curve's id shift)
          var h = id * 1000003L + w
          h ^= (h >>> 33); h *= 0xff51afd7ed558ccdL; h ^= (h >>> 33)
          h *= 0xc4ceb9fe1a85ec53L; h ^= (h >>> 33) // full fmix64
          val s = base * (1 + Math.floorMod(h, 6L).toInt)
          var c = 0
          while (c < ch) {
            val off = 2 * (i * ch + c)
            body(off) = (s & 0xff).toByte
            body(off + 1) = ((s >> 8) & 0xff).toByte
            c += 1
          }
          i += 1
        }
        Multimodal.MediaRecord(id + shift, "audio",
          Multimodal.wavWrap(
            if (stereo) 16000 else 8000 + (id % 8).toInt * 1000, ch, 16, body))
      }
    }
  }

  /** The commonest audio near-dup in a scraped corpus: a sample-rate-
    * converted re-upload. A TRUE 2× linear-interpolation upsample of the
    * [[mediaWavPlanted]] clip (public DSP, deterministic): u[2i] = s[i],
    * u[2i+1] = floor((s[i] + s[i+1]) / 2) with the last value held,
    * written as a real PCM16 mono WAV with a doubled rate field. Because
    * [[fingerprintsWav]]'s 64 windows are CLIP-RELATIVE (wlen =
    * samples/64), window w of the upsample covers the same audio content
    * as window w of the original and every window's energy scales by
    * ~the same interpolation factor — so the energy-DIFFERENCE bits
    * should largely survive; `mm_audio_dedup_resampled` measures exactly
    * how well, as hash-checked detector-eval data (r12 verdict #3).
    */
  def mediaWavPlantedResampled(ids: Dataset[Long], shift: Long = 0L,
                               nSamples: Int = 1024): Dataset[Multimodal.MediaRecord] = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      it.map { id =>
        val s = new Array[Int](nSamples)
        var i = 0
        while (i < nSamples) {
          s(i) = (if ((i / 64) % 4 == 0)
            ((i * 37 + id * 101) % 4001 % 21 - 10)
          else
            ((i * 73 + id * 151 + 17) % 251) * ((i * 31 + id * 61 + 5) % 241) % 4001 - 2000).toInt
          i += 1
        }
        val body = new Array[Byte](nSamples * 2 * 2)
        var u = 0
        while (u < nSamples * 2) {
          val v =
            if (u % 2 == 0) s(u / 2)
            else Math.floorDiv(
              s(u / 2) + s(math.min(u / 2 + 1, nSamples - 1)), 2)
          body(2 * u) = (v & 0xff).toByte
          body(2 * u + 1) = ((v >> 8) & 0xff).toByte
          u += 1
        }
        Multimodal.MediaRecord(id + shift, "audio",
          Multimodal.wavWrap(16000 + (id % 8).toInt * 2000, 1, 16, body))
      }
    }
  }

  def mediaWavPlanted(ids: Dataset[Long], shift: Long = 0L, edit: Int = 0,
                      stereo: Boolean = false,
                      nSamples: Int = 1024,
                      trimSamples: Int = 0): Dataset[Multimodal.MediaRecord] = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      it.map { id =>
        val ch = if (stereo) 2 else 1
        val body = new Array[Byte]((nSamples - trimSamples) * 2 * ch)
        var i = trimSamples
        while (i < nSamples) {
          val base = (if ((i / 64) % 4 == 0)
            ((i * 37 + id * 101) % 4001 % 21 - 10)
          else
            ((i * 73 + id * 151 + 17) % 251) * ((i * 31 + id * 61 + 5) % 241) % 4001 - 2000).toInt
          val s = base + (if (i >= 64 && i < 96) edit else 0)
          var c = 0
          while (c < ch) {
            val off = 2 * ((i - trimSamples) * ch + c)
            body(off) = (s & 0xff).toByte
            body(off + 1) = ((s >> 8) & 0xff).toByte
            c += 1
          }
          i += 1
        }
        Multimodal.MediaRecord(id + shift, "audio",
          Multimodal.wavWrap(if (stereo) 16000 else 8000 + (id % 8).toInt * 1000,
            ch, 16, body))
      }
    }
  }
}
