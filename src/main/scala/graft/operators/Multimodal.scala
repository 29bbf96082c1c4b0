package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column handling: media as opaque BINARY payloads + typed
  * metadata, with decode/feature-extract/resize as batch-shaped
  * partition transforms.
  *
  * IMAGE decode is REAL (round 7): payloads carrying a known
  * container signature (PNG/JPEG/GIF/BMP) decode through the JDK's
  * own `javax.imageio.ImageIO` — shipped with every JRE, no external
  * codec libraries — into row-major luminance pixels. Payloads
  * without an image signature (e.g. the synthetic UTF-8 corpora the
  * oracle checks) fall back to the deterministic byte-identity
  * buffer, so every oracle query stays bit-stable while real images
  * get real pixels through the same operators. WAV audio (PCM,
  * G.711, IMA-ADPCM) decodes through [[decodeAudioPcm]] and video
  * through [[VideoKernel]]. The Spark-side plumbing is identical
  * either way:
  *  - the schema contract (binary payload + width/height/channels),
  *  - the batch iteration shape (`grouped(batchSize)` inside
  *    mapPartitions — the same amortization Arrow/pandas batches give
  *    a Python `mapInPandas` decode),
  *  - the partitioning story: decode is a narrow per-partition pass;
  *    payload bytes never shuffle. At 100 TB, media rows are stored
  *    with metadata in columns so pruning/filter pushdown works
  *    WITHOUT reading payload bytes (parquet column projection skips
  *    the binary column entirely for metadata-only queries).
  */
object Multimodal {

  case class MediaRecord(
      media_id: Long,
      kind: String,
      payload: Array[Byte],
      width: Int,
      height: Int,
      channels: Int)

  case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Long,
      mean_prefix: Double, // mean of the first 64 decoded values
      histogram: Seq[Long]) // 4-bucket value histogram

  /** Synthesize a media table from the documents corpus: the UTF-8
    * payload stands in for encoded image bytes; metadata derived
    * deterministically from doc stats.
    */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      lit("image").as("kind"),
      encode(col("text"), "UTF-8").as("payload"),
      (col("n_chars") % 640).cast("int").as("width"),
      (col("n_chars") % 480).cast("int").as("height"),
      lit(3).as("channels"))

  /** Container-signature sniff: true iff the payload starts with a
    * magic number the JDK's ImageIO can decode (PNG, JPEG, GIF, BMP).
    * Cheap (4-byte prefix check) — gates the codec attempt so text
    * payloads never pay a parse failure.
    */
  private[graft] def isImagePayload(p: Array[Byte]): Boolean =
    p.length >= 4 && (
      (p(0) == 0x89.toByte && p(1) == 'P' && p(2) == 'N' && p(3) == 'G') ||
      (p(0) == 0xff.toByte && p(1) == 0xd8.toByte && p(2) == 0xff.toByte) ||
      (p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8') ||
      (p(0) == 'B' && p(1) == 'M'))

  /** REAL image decode via the JDK's ImageIO (no external codec
    * libraries): returns (width, height, row-major luminance 0-255)
    * using the Rec.601 integer weights, or None when the payload is
    * not a decodable image.
    */
  private[graft] def decodeImage(payload: Array[Byte]): Option[(Int, Int, Array[Int])] =
    if (!isImagePayload(payload)) None
    else try {
      // explicit memory-cached stream: ImageIO.read(InputStream) would
      // consult ImageIO.getUseCache and by default spool every decode
      // through a TEMP FILE on executor disk — measured dominant in
      // the per-frame MJPEG path (q203), and pure overhead for
      // payloads already in memory
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      Option(javax.imageio.ImageIO.read(iis)).map { img =>
        val (w, h) = (img.getWidth, img.getHeight)
        val out = new Array[Int](w * h)
        val raster = img.getRaster
        if (raster.getNumBands == 1 && img.getColorModel.getPixelSize == 8 &&
            img.getColorModel.getColorSpace.getType == java.awt.color.ColorSpace.TYPE_GRAY) {
          // single-band 8-bit GRAYSCALE (gray JPEG/PNG): the sample IS
          // the luminance — read it raw. getRGB would route linear
          // gray through the sRGB color model and gamma-shift every
          // value (10 -> 56), silently breaking codecs that round-trip
          // exactly (quality-1.0 block-constant MJPEG, q203). The
          // TYPE_GRAY colorspace guard matters: palette images (GIF,
          // indexed PNG/BMP) are ALSO single-band 8-bit but their
          // sample is a palette INDEX, not a color — IndexColorModel
          // hardcodes an sRGB colorspace, so they fail this test and
          // take the getRGB path (round-13 self-review)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { out(y * w + x) = raster.getSample(x, y, 0); x += 1 }
            y += 1
          }
        } else {
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              out(y * w + x) =
                (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
              x += 1
            }
            y += 1
          }
        }
        (w, h, out)
      }
    } catch {
      // NonFatal, not just IOException: JDK readers throw RUNTIME
      // exceptions on malformed payloads (GIFImageReader
      // IndexOutOfBounds on a bad LZW table, BMP IllegalArgument on
      // bogus header fields) — the row-fails-never-task contract
      // means ANY per-payload decode failure falls back, it never
      // kills the task (round-13 self-review)
      case scala.util.control.NonFatal(_) => None
    }

  /** Decoded value buffer: real luminance pixels for image payloads,
    * the deterministic byte-identity fallback for everything else
    * (synthetic corpora, video/audio containers the JDK cannot
    * decode) — downstream feature logic is identical either way.
    */
  private[graft] def decodeValues(payload: Array[Byte]): Array[Int] =
    decodeImage(payload) match {
      case Some((_, _, px)) => px
      case None => decodeStub(payload)
    }

  /** Deterministic fallback decode (the pre-round-7 stub): payload
    * bytes as the value buffer. Retained for non-image payloads so
    * oracle corpora stay bit-stable.
    */
  private[operators] def decodeStub(payload: Array[Byte]): Array[Int] =
    payload.map(b => b & 0xff)

  /** RIFF/WAVE container sniff — gates [[wavHeader]]'s chunk walk. */
  private[graft] def isWavPayload(p: Array[Byte]): Boolean =
    p.length >= 12 &&
      p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
      p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E'

  private def leU16(p: Array[Byte], o: Int): Int =
    (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
  private def leU32(p: Array[Byte], o: Int): Long =
    (p(o) & 0xffL) | ((p(o + 1) & 0xffL) << 8) |
      ((p(o + 2) & 0xffL) << 16) | ((p(o + 3) & 0xffL) << 24)

  /** THE RIFF chunk walk — single-sourced so every WAV codec leg
    * (through [[wavHeader]]) shares one set of bounds/padding/overflow
    * rules: offsets accumulate in LONG (a crafted u32 size near
    * Int.MaxValue must not wrap the cursor back into range — the
    * round-15 self-review found exactly that escape), sizes are
    * clamped to the payload, and the walk simply stops at the first
    * chunk that doesn't fit. Returns (fourcc, dataOffset,
    * claimedSize) triples in file order; never throws on any input
    * that passed [[isWavPayload]].
    */
  private[graft] def riffChunks(p: Array[Byte]): Seq[(String, Int, Int)] = {
    val out = Seq.newBuilder[(String, Int, Int)]
    var off: Long = 12L
    while (off + 8 <= p.length) {
      val o = off.toInt
      val id = new String(p, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val size = leU32(p, o + 4)
      out += ((id, o + 8, math.min(size, (p.length - o - 8).toLong).toInt))
      off += 8L + size + (size & 1L) // chunks pad to even; Long math
    }
    out.result()
  }

  /** A WAV's `fmt ` fields and its `data` span (offset, length — the
    * length already clamped to the payload by [[riffChunks]]).
    */
  private[graft] case class WavHeader(tag: Int, channels: Int, rate: Float,
      blockAlign: Int, bits: Int, dataOff: Int, dataLen: Int)

  /** THE WAV header parse — one [[riffChunks]] walk per payload, read
    * by every codec leg of [[decodeAudioPcm]]. The first `fmt ` and
    * first `data` chunk win, like every WAV reader; a payload without
    * the 16-byte PCMWAVEFORMAT core or any channel is None — the row
    * fails, never the task.
    */
  private[graft] def wavHeader(p: Array[Byte]): Option[WavHeader] =
    if (!isWavPayload(p)) None
    else {
      val chunks = riffChunks(p)
      for {
        (f, fmtLen) <- chunks.collectFirst { case ("fmt ", off, size) => (off, size) }
        if fmtLen >= 16 && leU16(p, f + 2) >= 1
        (dataOff, dataLen) <- chunks.collectFirst { case ("data", off, size) => (off, size) }
      } yield WavHeader(tag = leU16(p, f), channels = leU16(p, f + 2),
        rate = leU32(p, f + 4).toFloat, blockAlign = leU16(p, f + 12),
        bits = leU16(p, f + 14), dataOff = dataOff, dataLen = dataLen)
    }

  /** IMA/DVI ADPCM step-size table (the public reference algorithm's
    * 89-entry table; IMA "Recommended Practices for Enhancing Digital
    * Audio Compatibility", 1992) and index-adjust table — shared by
    * the decoder and MultimodalSpec's hand-traced pins.
    */
  private[graft] val ImaStepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)

  private[graft] val ImaIndexTable: Array[Int] =
    Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** One IMA ADPCM state transition: nibble `n` under (predictor,
    * index) -> (new predictor, new index). The integer diff expansion
    * (step>>3 + conditional step>>2/step>>1/step terms) IS the spec's
    * fixed-point form — every operation here has an exact SQL mirror,
    * which is what lets q211's oracle replay the state machine as a
    * recursive CTE.
    */
  private[graft] def imaStep(pred: Int, idx: Int, n: Int): (Int, Int) = {
    val step = ImaStepTable(idx)
    var diff = step >> 3
    if ((n & 1) != 0) diff += step >> 2
    if ((n & 2) != 0) diff += step >> 1
    if ((n & 4) != 0) diff += step
    val p = math.max(-32768, math.min(32767,
      if ((n & 8) != 0) pred - diff else pred + diff))
    val i = math.max(0, math.min(88, idx + ImaIndexTable(n & 7)))
    (p, i)
  }

  /** One IMA ADPCM ENCODE step (round 15, q214): the reference
    * greedy — sign bit from the residual's sign, then magnitude bits
    * by successive subtraction of step, step>>1, step>>2 — followed
    * by the DECODER's own state update ([[imaStep]]), which is what
    * keeps encoder and decoder predictors in lockstep (the encoder
    * tracks what the decoder WILL reconstruct, not the true signal).
    * Returns (nibble, predictor', index').
    */
  private[graft] def imaEncodeStep(pred: Int, idx: Int, sample: Int): (Int, Int, Int) = {
    val step = ImaStepTable(idx)
    var diff = sample - pred
    var nibble = 0
    if (diff < 0) { nibble = 8; diff = -diff }
    if (diff >= step) { nibble |= 4; diff -= step }
    if (diff >= (step >> 1)) { nibble |= 2; diff -= step >> 1 }
    if (diff >= (step >> 2)) { nibble |= 1 }
    val (p, i) = imaStep(pred, idx, nibble)
    (nibble, p, i)
  }

  /** Encode 16-bit PCM samples into a genuine mono IMA-ADPCM WAV —
    * the inverse of [[decodeImaAdpcm]], so REAL audio can flow
    * through the compressed path end to end. Standard block layout:
    * each block's header stores its FIRST sample verbatim as the
    * initial predictor (that sample round-trips exactly) with the
    * index reset to 0 (blocks stay independent — the format's seek
    * contract and what lets the q214 oracle replay per block);
    * the following `blockAlign - 4` bytes carry two greedy nibbles
    * each, low first, covering the next `(blockAlign-4)*2` samples.
    * Input is truncated by at most one trailing sample so the last
    * block's nibbles fill whole bytes.
    */
  private[graft] def encodeImaAdpcmWav(pcm: Array[Int], rate: Int,
      blockAlign: Int = 256): Array[Byte] = {
    require(blockAlign >= 5, s"blockAlign must be >= 5, got $blockAlign")
    require(pcm.forall(s => s >= -32768 && s <= 32767),
      "PCM samples must be 16-bit signed")
    val perBlock = 1 + (blockAlign - 4) * 2
    val tailLen = pcm.length % perBlock
    val usable =
      if (tailLen != 0 && (tailLen - 1) % 2 == 1) pcm.length - 1 else pcm.length
    val blocks = new java.io.ByteArrayOutputStream()
    var off = 0
    while (off < usable) {
      val n = math.min(perBlock, usable - off)
      var pred = pcm(off)
      var idx = 0
      blocks.write(pred & 0xff); blocks.write((pred >> 8) & 0xff)
      blocks.write(idx); blocks.write(0)
      var j = 1
      while (j < n) {
        val (lo, p1, i1) = imaEncodeStep(pred, idx, pcm(off + j))
        val (hi, p2, i2) =
          if (j + 1 < n) imaEncodeStep(p1, i1, pcm(off + j + 1))
          else (0, p1, i1) // can't happen: (n-1) is even by construction
        blocks.write(lo | (hi << 4))
        pred = p2; idx = i2
        j += 2
      }
      off += n
    }
    writeWav(0x11, 1, rate, blockAlign, 4, perBlock, usable.toLong, blocks.toByteArray)
  }

  /** Synthesize ENCODED IMA-ADPCM WAVs from deterministic PCM derived
    * from the documents corpus (sample j = (byte_j - 128) * 256 —
    * full 16-bit swing, integer-exact on both engines), for q214:
    * unlike [[imaAdpcmWavFromDocuments]] (doc bytes ARE the nibbles,
    * decode-only coverage), here the ENCODER's greedy runs for real
    * and the oracle replays the fused encode-decode state machine.
    */
  def imaAdpcmEncodedFromDocuments(docs: DataFrame, rate: Int = 8000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("doc_id").isNotNull)
      .select(col("doc_id").cast("long").as("media_id"),
        encode(col("text"), "UTF-8").as("_src"))
      .filter(col("media_id").isNotNull && octet_length(col("_src")) > 0)
      .as[(Long, Array[Byte])]
      .transform(Par.widen(_))
      .mapPartitions(_.map { case (id, src) =>
        (id, encodeImaAdpcmWav(src.map(b => ((b & 0xff) - 128) * 256), rate))
      }).toDF("media_id", "payload")
  }

  /** Hand-rolled IMA-ADPCM WAV decode (wFormatTag 0x11, mono or
    * stereo) — the first PREDICTIVE codec under the oracle: unlike the
    * G.711 pair (memoryless per-byte tables), every sample depends on
    * the running (predictor, index) state, reset per block by each
    * channel's 4-byte block header (int16 LE initial predictor = the
    * block's first sample of that channel, uint8 initial step index,
    * reserved). Nibbles decode low-first, one sample each. STEREO
    * (q213) adds the format's channel interleave: after the per-
    * channel headers, data runs in 4-BYTE GROUPS alternating channels
    * (ch0 bytes 0-3, ch1 bytes 4-7, ch0 bytes 8-11, ...), each channel
    * folding its OWN (predictor, index) — a wrong de-interleave
    * scrambles which nibbles feed which state and hash-fails the
    * oracle. Channel 0's samples are returned, matching the PCM leg's
    * channel-0 contract. The JDK ships no ADPCM codec, so this is the
    * spec's own integer state machine ([[imaStep]]); blocks are
    * independent, so a SQL oracle replays each from its header with a
    * recursive CTE (q211 mono, q213 stereo). Truncated/garbage
    * payloads return None or a partial last block — never throw (the
    * fuzz contract all container parsers here obey). Fed by
    * [[wavHeader]]; the data span is already clamped to the payload.
    */
  private def decodeImaAdpcm(p: Array[Byte], wav: WavHeader): Option[(Float, Array[Int])] = {
    val WavHeader(_, channels, rate, blockAlign, _, dataOff, dataLen) = wav
    if (channels > 2 || blockAlign < 4 * channels + 1 || dataLen < 4 * channels) return None
    val out = new scala.collection.mutable.ArrayBuffer[Int]
    var b = dataOff
    val end = dataOff + dataLen
    while (b + 4 * channels <= end) {
      val pred = new Array[Int](channels)
      val idx = new Array[Int](channels)
      var c = 0
      while (c < channels) {
        val h = b + 4 * c
        pred(c) = (((p(h + 1) & 0xff) << 8) | (p(h) & 0xff)).toShort.toInt
        idx(c) = math.max(0, math.min(88, p(h + 2) & 0xff))
        c += 1
      }
      out += pred(0) // channel 0's header predictor IS its first sample
      val blockEnd = math.min(b + blockAlign, end)
      var j = b + 4 * channels
      while (j < blockEnd) {
        // 4-byte groups alternate channels; mono degenerates to ch 0
        val ch = ((j - b - 4 * channels) / 4) % channels
        val byte = p(j) & 0xff
        val (p1, i1) = imaStep(pred(ch), idx(ch), byte & 0xf) // low nibble first
        val (p2, i2) = imaStep(p1, i1, byte >> 4)
        if (ch == 0) { out += p1; out += p2 }
        pred(ch) = p2; idx(ch) = i2
        j += 1
      }
      b += blockAlign
    }
    Some((rate, out.toArray))
  }

  /** G.711 expansion captured from the JDK codec ONCE per JVM:
    * µ-law/A-law expansion is a pure function of each encoded BYTE,
    * so running javax.sound's own ULAW/ALAW -> PCM_SIGNED conversion
    * over the 256 possible bytes yields the codec's entire behavior
    * as two lookup tables. The JDK codec stays the source of truth
    * (the tables are DERIVED from it at runtime, not transcribed into
    * literals — MultimodalSpec additionally pins them to the CCITT
    * closed form), and this capture is the only javax.sound call in
    * the decode: per row, [[decodeAudioPcm]] does one header parse and
    * one table lookup per channel-0 byte.
    */
  private lazy val g711Tables: (Array[Int], Array[Int]) = {
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem}
    def table(enc: AudioFormat.Encoding): Array[Int] = {
      val bytes = Array.tabulate[Byte](256)(i => i.toByte)
      val src = new AudioInputStream(
        new java.io.ByteArrayInputStream(bytes),
        new AudioFormat(enc, 8000f, 8, 1, 1, 8000f, false), 256L)
      val pcm = AudioSystem.getAudioInputStream(
        new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
          8000f, 16, 1, 2, 8000f, false), src)
      val data = pcm.readAllBytes()
      require(data.length == 512, s"G.711 table probe decoded ${data.length} bytes")
      Array.tabulate(256)(i => (data(2 * i + 1) << 8) | (data(2 * i) & 0xff))
    }
    (table(AudioFormat.Encoding.ULAW), table(AudioFormat.Encoding.ALAW))
  }

  /** REAL WAV audio decode: returns (sampleRate, channel-0 samples),
    * or None when the payload is not a WAV this reader decodes. One
    * [[wavHeader]] parse, then a dispatch on wFormatTag:
    *  - PCM (1): 16-bit signed little-endian, 8-bit unsigned, read
    *    straight from channel 0 of each whole frame;
    *  - G.711 A-law (6) / µ-law (7), 8-bit: each channel-0 byte
    *    through the [[g711Tables]] captured from the JDK codec. The
    *    expansion is the fixed CCITT closed form of each byte, so a
    *    SQL oracle predicts every decoded sample from byte arithmetic
    *    (q208/q209; MultimodalSpec pins the tables to that form over
    *    all 256 bytes);
    *  - IMA-ADPCM (0x11): [[decodeImaAdpcm]]'s block loop.
    * Float, WAVE_FORMAT_EXTENSIBLE, 24/32-bit PCM and any other tag
    * fail the row, so [[audioRmsWindows]] takes its codepoint fallback.
    * NonFatal for the same reason as decodeImage: whatever a corrupt
    * body does, the contract is the ROW fails, never the task.
    */
  private[graft] def decodeAudioPcm(payload: Array[Byte]): Option[(Float, Array[Int])] =
    try wavHeader(payload).flatMap { h =>
      val p = payload
      def channel0(sampleBytes: Int)(sample: Int => Int): Option[(Float, Array[Int])] = {
        val frame = sampleBytes * h.channels
        Some((h.rate, Array.tabulate(h.dataLen / frame)(i => sample(h.dataOff + i * frame))))
      }
      (h.tag, h.bits) match {
        case (1, 16) => channel0(2)(o => (p(o + 1) << 8) | (p(o) & 0xff))
        case (1, 8) => channel0(1)(o => p(o) & 0xff)
        case (6, 8) => val t = g711Tables._2; channel0(1)(o => t(p(o) & 0xff))
        case (7, 8) => val t = g711Tables._1; channel0(1)(o => t(p(o) & 0xff))
        case (0x11, _) => decodeImaAdpcm(p, h)
        case _ => None
      }
    } catch {
      case scala.util.control.NonFatal(_) => None
    }

  case class AudioRecord(media_id: Long, payload: Array[Byte])

  /** REAL per-window RMS energy over decoded PCM — the DSP feature
    * [[sampleAudioWindows]] stubs with payload probes. WAV payloads
    * decode through [[decodeAudioPcm]] (channel 0); anything else falls
    * back to the payload text's codepoint sequence, which keeps the
    * operator oracle-checkable on synthetic corpora (DuckDB mirrors
    * codepoints with `ord`). Full `winSamples`-sized windows only;
    * the integer sum-of-squares rides the exact-integer grid and rms
    * is its floor-1e-6 square root, so both engines agree bit-for-bit.
    * Narrow — decode and fold run on the row's partition, payloads
    * never shuffle.
    */
  def audioRmsWindows(audio: Dataset[AudioRecord], winSamples: Int): DataFrame = {
    require(winSamples > 0, s"winSamples must be positive, got $winSamples")
    import audio.sparkSession.implicits._
    // NOT widened (measured, optimization round 18): the decode is a
    // header parse plus one table lookup or state step per sample,
    // too cheap to amortize the repartition — the ADPCM queries ran
    // flat either way.
    audio.mapPartitions { it =>
      it.flatMap { a =>
        val samples: Array[Int] = decodeAudioPcm(a.payload) match {
          case Some((_, pcm)) => pcm
          case None =>
            new String(a.payload, java.nio.charset.StandardCharsets.UTF_8)
              .codePoints().toArray
        }
        val nWin = samples.length / winSamples
        (0 until nWin).iterator.map { w =>
          var sumsq = 0L
          var k = 0
          while (k < winSamples) {
            val v = samples(w * winSamples + k).toLong
            sumsq += v * v
            k += 1
          }
          (a.media_id, w.toLong, sumsq,
            math.floor(math.sqrt(sumsq.toDouble / winSamples) * 1000000 + 0.5) / 1000000.0)
        }
      }
    }.toDF("media_id", "win_idx", "sumsq", "rms")
  }

  /** Batch-shaped feature extraction: iterate each partition in
    * `batchSize` chunks (the Arrow-batch shape), decode via
    * [[decodeValues]] (real ImageIO pixels for image payloads, byte
    * fallback otherwise), compute features in JVM code. Narrow — no
    * shuffle, payloads stay partition-local.
    */
  def extractFeatures(media: Dataset[MediaRecord], batchSize: Int = 64): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    Par.widen(media).mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.map { m =>
          val values = decodeValues(m.payload)
          val prefix = values.take(64)
          val mean = if (prefix.isEmpty) 0.0 else prefix.map(_.toDouble).sum / prefix.length
          val hist = new Array[Long](4)
          values.foreach(v => hist(v / 64) += 1)
          MediaFeatures(m.media_id, m.kind, values.length.toLong,
            math.floor(mean * 1000000 + 0.5) / 1000000.0, hist.toSeq)
        }
      }
    }
  }

  /** Perceptual AVERAGE-HASH: the classic aHash. Real image payloads
    * decode through ImageIO and average-pool to an 8x8 luminance grid
    * (so the fingerprint is resolution-independent — a resized copy
    * hashes near-identically); each cell thresholds against the grid
    * mean into one bit of the 64-bit fingerprint. Non-image payloads
    * keep the pre-round-7 behavior (first 64 fallback values
    * thresholded by their mean), so synthetic-corpus hashes are
    * unchanged. Same batch-shaped mapPartitions decode as
    * [[extractFeatures]]; visually near-identical media differ in a
    * few bits, exact duplicates collide exactly.
    */
  def aHash(media: Dataset[MediaRecord], batchSize: Int = 64): DataFrame = {
    import media.sparkSession.implicits._
    Par.widen(media).mapPartitions { it =>
      it.grouped(batchSize).flatMap(_.map { m =>
        val bits = decodeImage(m.payload) match {
          case Some((w, h, px)) => ahash64(w, h, px)
          case None => thresholdBits(decodeStub(m.payload).take(64).map(_.toDouble))
        }
        (m.media_id, m.kind, bits)
      })
    }.toDF("media_id", "kind", "ahash")
  }

  /** Perceptual DCT-HASH: the classic pHash (round 16) — the
    * robustness upgrade over [[aHash]] for image dedup: aHash
    * thresholds raw 8x8 cell means against their mean, so any
    * NON-LINEAR luminance change (gamma shift, clamped brightness,
    * tone curve) that reorders cells around the mean flips bits;
    * pHash thresholds the 64 LOW-FREQUENCY DCT-II coefficients of a
    * 32x32 pool against their AC median — global tone moves live
    * almost entirely in the DC coefficient (excluded) and the median
    * re-centers what leaks, so the low-frequency STRUCTURE is what is
    * fingerprinted. Real image payloads decode through ImageIO and
    * average-pool to 32x32; non-image payloads take the deterministic
    * fallback (first 1024 stub values as the grid, zero-padded) so
    * synthetic corpora stay oracle-replayable — the q142 discipline.
    * Output bits are split into (phash_hi, phash_lo) unsigned 32-bit
    * halves: bit (u*8+v) of the logical 64 sits in lo for positions
    * 0-31 and hi for 32-63, so no engine ever materializes a signed
    * 2^63 — both halves stay exact BIGINTs in any SQL dialect.
    * Hamming distance over (hi, lo) is the same banded join
    * [[perceptualNearDups]] runs on aHash.
    */
  def pHash(media: Dataset[MediaRecord], batchSize: Int = 64): DataFrame = {
    import media.sparkSession.implicits._
    Par.widen(media).mapPartitions { it =>
      it.grouped(batchSize).flatMap(_.map { m =>
        val grid = decodeImage(m.payload) match {
          case Some((w, h, px)) => pool32(w, h, px)
          case None =>
            val vals = decodeStub(m.payload)
            Array.tabulate(1024)(i =>
              if (i < vals.length) vals(i).toLong * 1000L else 0L)
        }
        val bits = phashBits(grid)
        (m.media_id, m.kind, bits >>> 32, bits & 0xffffffffL)
      })
    }.toDF("media_id", "kind", "phash_hi", "phash_lo")
  }

  /** Average-pool any (w, h) luminance buffer to the 32x32 pHash grid
    * (ceil-sized tiles, every pixel in exactly one tile — the
    * [[ahash64]] pooling at 32 resolution), each cell quantized to
    * the 1e-3 integer grid so the downstream DCT is pure long
    * arithmetic: floor(mean*1000 + 0.5).
    */
  private[graft] def pool32(w: Int, h: Int, px: Array[Int]): Array[Long] = {
    val out = new Array[Long](1024)
    if (w <= 0 || h <= 0) return out
    val (tw, th) = ((w + 31) / 32, (h + 31) / 32)
    val sums = new Array[Double](1024)
    val counts = new Array[Long](1024)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val c = math.min(31, y / th) * 32 + math.min(31, x / tw)
        sums(c) += px(y * w + x); counts(c) += 1
        x += 1
      }
      y += 1
    }
    var i = 0
    while (i < 1024) {
      if (counts(i) > 0)
        out(i) = math.floor(sums(i) / counts(i) * 1000.0 + 0.5).toLong
      i += 1
    }
    out
  }

  /** The integer cos table: cosT(u)(x) = floor(cos((2x+1)uπ/64)·1e4
    * + 0.5) for the 8 low frequencies u over 32 positions x. Each
    * entry sits >= 0.011 grid units from a rounding boundary
    * (measured over all 1024 candidates), so a 1-ulp libm difference
    * between engines can never flip a table value — the table, not
    * libm, defines the transform (the q211 integer-state-machine
    * discipline applied to a linear transform).
    */
  private[graft] val phashCos: Array[Array[Long]] =
    Array.tabulate(8, 32)((u, x) =>
      math.floor(math.cos((2 * x + 1) * u * math.Pi / 64) * 1e4 + 0.5).toLong)

  /** pHash bits of a 1024-long (32x32, row-major, 1e-3-quantized)
    * grid: separable integer DCT-II to the low 8x8 block
    * (rows then columns — F(u)(v) = Σ_y cosT(u)(y)·Σ_x g(y,x)·cosT(v)(x);
    * max |term| ≈ 2.6e16, exact in Long), bit u*8+v set iff the
    * coefficient strictly exceeds the MEDIAN of the 63 AC
    * coefficients (the 32nd smallest, ties to the value itself — an
    * exact integer pick, no averaging); the DC bit is always 0.
    */
  private[graft] def phashBits(grid: Array[Long]): Long = {
    // row pass: g1(y)(v) = sum_x grid(y*32+x) * cosT(v)(x)
    val g1 = Array.ofDim[Long](32, 8)
    var y = 0
    while (y < 32) {
      var v = 0
      while (v < 8) {
        var acc = 0L
        var x = 0
        while (x < 32) { acc += grid(y * 32 + x) * phashCos(v)(x); x += 1 }
        g1(y)(v) = acc
        v += 1
      }
      y += 1
    }
    // column pass: f(u)(v) = sum_y cosT(u)(y) * g1(y)(v)
    val f = new Array[Long](64)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var acc = 0L
        var yy = 0
        while (yy < 32) { acc += phashCos(u)(yy) * g1(yy)(v); yy += 1 }
        f(u * 8 + v) = acc
        v += 1
      }
      u += 1
    }
    val ac = new Array[Long](63)
    System.arraycopy(f, 1, ac, 0, 63)
    java.util.Arrays.sort(ac)
    val med = ac(31)
    var bits = 0L
    var i = 1
    while (i < 64) {
      if (f(i) > med) bits |= (1L << i)
      i += 1
    }
    bits
  }

  /** The aHash fingerprint of one pixel buffer: 8x8 average pool over
    * ceil-sized tiles (covers ragged edges; every pixel lands in
    * exactly one tile), each cell thresholded against the grid mean
    * into one bit. Shared by [[aHash]] (whole images) and
    * [[frameFeatures]] (video frames).
    */
  private[graft] def ahash64(w: Int, h: Int, px: Array[Int]): Long = {
    if (w <= 0 || h <= 0) return 0L
    val (tw, th) = ((w + 7) / 8, (h + 7) / 8)
    val sums = new Array[Double](64)
    val counts = new Array[Long](64)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val c = math.min(7, y / th) * 8 + math.min(7, x / tw)
        sums(c) += px(y * w + x); counts(c) += 1
        x += 1
      }
      y += 1
    }
    thresholdBits(
      sums.indices.map(i => if (counts(i) == 0) 0.0 else sums(i) / counts(i)).toArray)
  }

  private def thresholdBits(cells: Array[Double]): Long = {
    val mean = if (cells.isEmpty) 0.0 else cells.sum / cells.length
    cells.zipWithIndex.foldLeft(0L) { case (acc, (v, i)) =>
      if (v >= mean) acc | (1L << i) else acc
    }
  }

  /** Per-frame video features through a pluggable [[VideoKernel]]:
    * every K-th frame decodes executor-side (stub probe bytes in a
    * codec-less sandbox, real ffmpeg gray frames in production — same
    * plumbing, see [[VideoKernel.select]]) and fingerprints with the
    * SAME [[ahash64]] the image dedup path uses, so sampled frames
    * feed [[perceptualNearDups]] unchanged. Batch-shaped
    * mapPartitions like [[extractFeatures]]; payload bytes never
    * shuffle — the output carries only (media_id, frame_idx, t_sec,
    * frame_ahash, n_px) scalars.
    */
  def frameFeatures(video: DataFrame, everyK: Int,
      kernel: VideoKernel = VideoKernel.select(), maxFrames: Int = 64,
      batchSize: Int = 64): DataFrame = {
    require(everyK >= 1 && maxFrames >= 1,
      s"need everyK >= 1 and maxFrames >= 1, got ($everyK, $maxFrames)")
    val spark = video.sparkSession
    import spark.implicits._
    // null media_id or payload cannot produce frames and would NPE the
    // primitive-tuple decode / kernel probe (a TASK failure, breaking
    // the kernel's fail-the-row contract) — drop them in-plan, exactly
    // the rows q200's SQL mirror filters out. CONTRACT: media_id is
    // cast to long, and an UNCASTABLE id (cast yields null) is dropped
    // the same way a genuinely-null id is — callers with string keys
    // must map them to longs (e.g. xxhash64) before calling
    Par.widen(video.select(col("media_id").cast("long"), col("payload"))
      .filter(col("media_id").isNotNull && col("payload").isNotNull)
      .as[(Long, Array[Byte])])
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap(_.flatMap { case (id, payload) =>
          // ONE probe per payload; its Meta drives both fps and the
          // decode (on the ffmpeg kernel a second probe would be a
          // second subprocess spawn per video)
          kernel.probe(payload).toSeq.flatMap { m =>
            kernel.decodeFramesFor(m, payload, everyK, maxFrames).map { f =>
              (id, f.frameIdx, if (m.fps > 0) f.frameIdx / m.fps else 0.0,
                ahash64(f.width, f.height, f.luma), f.luma.length.toLong)
            }
          }
        })
      }.toDF("media_id", "frame_idx", "t_sec", "frame_ahash", "n_px")
  }

  /** Perceptual near-dup pairs by Hamming distance over [[aHash]]
    * fingerprints — the IMAGE member of the dedup family. Candidate
    * generation is byte-banded LSH: the 64-bit hash splits into 8
    * bytes, and any pair within Hamming distance 7 must agree on at
    * least one whole byte (pigeonhole) — so the band equi-join is
    * EXHAUSTIVE for maxHamming <= 7, never a cross product, and cost
    * scales with collision density. Verification is exact
    * `bit_count(a XOR b)`.
    */
  def perceptualNearDups(hashes: DataFrame, maxHamming: Int = 4): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"byte-banding is exhaustive only for maxHamming <= 7, got $maxHamming")
    val bands = (0 until 8).map { i =>
      struct(lit(i).as("band"),
        shiftright(col("ahash"), i * 8).bitwiseAND(lit(255L)).as("bv"))
    }
    val banded = hashes.select(col("media_id"), col("ahash"),
        explode(array(bands: _*)).as("_b"))
      .select(col("media_id"), col("ahash"), col("_b.band"), col("_b.bv"))
    val a = banded.select(col("band"), col("bv"),
      col("media_id").as("id1"), col("ahash").as("_h1"))
    val b = banded.select(col("band"), col("bv"),
      col("media_id").as("id2"), col("ahash").as("_h2"))
    a.join(b, Seq("band", "bv"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("_h1").bitwiseXOR(col("_h2"))).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Perceptual near-dup pairs over [[pHash]] fingerprints (round 17)
    * — [[perceptualNearDups]]' byte-banded LSH generalized to the
    * (phash_hi, phash_lo) unsigned-half representation the DCT hash
    * ships in: 8 bands = 4 bytes of each 32-bit half, so the
    * pigeonhole argument is unchanged (a pair within Hamming distance
    * 7 over the logical 64 bits must agree on at least one whole
    * byte, which lives entirely in one half) and the candidate
    * equi-join is exhaustive for maxHamming <= 7. Verification is
    * exact `bit_count(hi XOR hi) + bit_count(lo XOR lo)`. Keeping the
    * halves split — rather than fusing to one signed 64-bit value —
    * is what lets the SAME arithmetic replay on engines without
    * unsigned 64-bit integers (the q217 discipline), and costs
    * nothing here: band extraction and XOR are per-half anyway.
    */
  def phashNearDups(hashes: DataFrame, maxHamming: Int = 4): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"byte-banding is exhaustive only for maxHamming <= 7, got $maxHamming")
    val bands = (0 until 8).map { i =>
      val half = if (i < 4) col("phash_lo") else col("phash_hi")
      struct(lit(i).as("band"),
        shiftright(half, (i % 4) * 8).bitwiseAND(lit(255L)).as("bv"))
    }
    val banded = hashes.select(col("media_id"), col("phash_hi"), col("phash_lo"),
        explode(array(bands: _*)).as("_b"))
      .select(col("media_id"), col("phash_hi"), col("phash_lo"),
        col("_b.band"), col("_b.bv"))
    val a = banded.select(col("band"), col("bv"),
      col("media_id").as("id1"), col("phash_hi").as("_h1"), col("phash_lo").as("_l1"))
    val b = banded.select(col("band"), col("bv"),
      col("media_id").as("id2"), col("phash_hi").as("_h2"), col("phash_lo").as("_l2"))
    a.join(b, Seq("band", "bv"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        (bit_count(col("_h1").bitwiseXOR(col("_h2"))) +
          bit_count(col("_l1").bitwiseXOR(col("_l2")))).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** STUB resize: metadata-only transform (a real kernel would
    * resample the decoded buffer); demonstrates that metadata
    * operations never touch payload bytes — Catalyst prunes the
    * binary column out of the scan when only metadata is selected.
    */
  def resizeMeta(media: DataFrame, maxW: Int, maxH: Int): DataFrame =
    media.withColumn("scale",
      least(lit(maxW) / greatest(col("width"), lit(1)),
        lit(maxH) / greatest(col("height"), lit(1)), lit(1.0)))
      .withColumn("out_width", floor(col("width") * col("scale")).cast("int"))
      .withColumn("out_height", floor(col("height") * col("scale")).cast("int"))
      .drop("scale")

  /** Frame sampling stub for video-kind media: pick every k-th frame
    * index from the metadata frame count — pure metadata arithmetic,
    * the payload-decode of selected frames is the stubbed step.
    */
  def sampleFrameIndexes(nFrames: Int, everyK: Int): Seq[Int] =
    (0 until nFrames by everyK).toSeq

  /** Synthesize a video media table from the documents corpus: the
    * UTF-8 payload stands in for the encoded stream; frame count and
    * fps are deterministic metadata (a real ingest would read them
    * from the container header — metadata columns, not payload bytes).
    */
  def videoFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      lit("video").as("kind"),
      encode(col("text"), "UTF-8").as("payload"),
      ((col("n_chars") % 240) + 1).cast("int").as("n_frames"),
      lit(24).as("fps"))

  /** Synthesize a table of REAL YUV4MPEG2 byte streams from the
    * documents corpus — 2x2 Cmono frames whose luma bytes are
    * deterministic reads of the document's UTF-8 bytes, assembled
    * IN-PLAN (binary concat folded over the frame sequence, no UDF).
    * Unlike [[videoFromDocuments]] (opaque payload + metadata
    * columns), these payloads are genuine parseable containers:
    * [[VideoKernel.Y4m]] must actually tokenize the header and walk
    * FRAME records to recover what this builder wrote, which is what
    * puts real container parsing under the oracle (q201) — the SQL
    * mirror recomputes the expected luma bytes from the same
    * arithmetic without needing a Y4M parser of its own.
    *
    * Grid: n_frames = nbytes % 7 + 2 (2..8), pixel j of frame f =
    * src byte at (f*17 + j*5) mod nbytes. Docs with empty payloads
    * are excluded (no bytes to probe).
    */
  def y4mFromDocuments(docs: DataFrame): DataFrame = {
    val src = encode(col("text"), "UTF-8")
    val nb = octet_length(src)
    val header = lit("YUV4MPEG2 W2 H2 F24:1 Cmono\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    val marker = lit("FRAME\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    def px(f: Column, j: Int): Column =
      col("_src").substr(((f * 17 + j * 5) % col("_nb") + 1).cast("int"), lit(1))
    docs
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id").as("media_id"), src.as("_src"), nb.as("_nb"),
        (nb % 7 + 2).cast("int").as("_nf"))
      .filter(col("_nb") > 0)
      .select(col("media_id"),
        aggregate(
          sequence(lit(0), col("_nf") - 1),
          header,
          (acc, f) => concat(acc, marker, px(f, 0), px(f, 1), px(f, 2), px(f, 3)))
          .as("payload"))
  }

  /** One 16x16 grayscale JPEG at quality 1.0 whose four 8x8 quadrants
    * are solid values `q(0..3)` (TL, TR, BL, BR). Quality 1.0 means an
    * all-ones quantization table, and a CONSTANT 8x8 block has only a
    * DC coefficient — so the lossy codec round-trips these frames
    * BIT-EXACTLY (measured: all 256 solid values and 200 random
    * quadrant combinations decode back to their source values), which
    * is what lets a real compressed codec sit under a DuckDB oracle
    * that predicts decoded luma from pure arithmetic (q203).
    */
  private[graft] def encodeQuadJpeg16(q: Array[Int]): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) {
        img.getRaster.setSample(x, y, 0, q((y / 8) * 2 + (x / 8)))
        x += 1
      }
      y += 1
    }
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    try {
      val p = w.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(1.0f)
      val bos = new java.io.ByteArrayOutputStream()
      // memory-cached stream, NOT ImageIO.createImageOutputStream:
      // the factory consults ImageIO.getUseCache and by default backs
      // every encode with a temp file on executor disk
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      w.setOutput(ios)
      w.write(null, new javax.imageio.IIOImage(img, null, null), p)
      ios.close()
      bos.toByteArray
    } finally w.dispose()
  }

  /** Assemble a REAL MJPEG-in-AVI byte stream (RIFF container, LIST
    * hdrl with the 56-byte `avih` main header + vids/MJPG stream
    * header, LIST movi of '00dc' chunks, even-byte chunk padding) —
    * the container [[VideoKernel.MjpegAvi]] walks. `usPerFrame` is
    * dwMicroSecPerFrame (40000 = exact 25 fps).
    */
  private[graft] def buildMjpegAvi(w: Int, h: Int, usPerFrame: Int,
      frames: Seq[Array[Byte]]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def u32(v: Long): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def cc(s: String): Array[Byte] =
      s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    def chunk(id: String, data: Array[Byte]): Array[Byte] = {
      val pad = if (data.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
      cc(id) ++ u32(data.length.toLong) ++ data ++ pad
    }
    val avih = u32(usPerFrame.toLong) ++ u32(0) ++ u32(0) ++ u32(0) ++
      u32(frames.size.toLong) ++ u32(0) ++ u32(1) ++ u32(0) ++
      u32(w.toLong) ++ u32(h.toLong) ++ Array.fill(16)(0.toByte)
    val strh = cc("vids") ++ cc("MJPG") ++ u32(0) ++ u32(0) ++ u32(0) ++
      u32(1) ++ u32(1000000L / usPerFrame) ++ u32(0) ++
      u32(frames.size.toLong) ++ u32(0) ++ u32(0) ++ u32(0) ++
      Array.fill(8)(0.toByte) // rcFrame
    val strf = u32(40) ++ u32(w.toLong) ++ u32(h.toLong) ++
      Array[Byte](1, 0, 24, 0) ++ cc("MJPG") ++ u32(w.toLong * h * 3) ++
      Array.fill(16)(0.toByte)
    val strl = cc("strl") ++ chunk("strh", strh) ++ chunk("strf", strf)
    val hdrl = cc("hdrl") ++ chunk("avih", avih) ++ chunk("LIST", strl)
    val movi = cc("movi") ++ frames.flatMap(f => chunk("00dc", f)).toArray
    val body = cc("AVI ") ++ chunk("LIST", hdrl) ++ chunk("LIST", movi)
    bos.write(cc("RIFF")); bos.write(u32(body.length.toLong)); bos.write(body)
    bos.toByteArray
  }

  /** Synthesize a table of REAL MJPEG-AVI byte streams from the
    * documents corpus — each frame a 16x16 grayscale JPEG of four
    * solid 8x8 quadrants whose values are deterministic reads of the
    * doc's UTF-8 bytes, wrapped in a genuine RIFF/AVI container.
    * Unlike [[y4mFromDocuments]] (uncompressed planar bytes), these
    * frames pass through a real LOSSY CODEC: [[VideoKernel.MjpegAvi]]
    * must walk the RIFF chunk framing AND inverse-DCT the JPEG
    * entropy stream to recover the quadrant values — and the oracle
    * (q203) still predicts them exactly because quality-1.0
    * block-constant JPEG is bit-exact (see [[encodeQuadJpeg16]]).
    *
    * Grid mirrors q201's: n_frames = nbytes % 7 + 2 (2..8), quadrant
    * j of frame f = src byte at (f*17 + j*5) mod nbytes. Docs with
    * empty payloads are excluded. JPEG encode requires ImageIO, so
    * unlike the in-plan y4m builder this one is a narrow
    * mapPartitions (payloads are BUILT per-partition and never
    * shuffle; at scale this is the write side of a media ingest, not
    * a query-path operator).
    */
  def mjpegAviFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("doc_id").isNotNull)
      .select(col("doc_id").cast("long").as("media_id"),
        encode(col("text"), "UTF-8").as("_src"))
      .filter(col("media_id").isNotNull && octet_length(col("_src")) > 0)
      .as[(Long, Array[Byte])]
      .transform(Par.widen(_))
      .mapPartitions { it =>
        it.map { case (id, src) =>
          val nf = src.length % 7 + 2
          val frames = (0 until nf).map { f =>
            encodeQuadJpeg16(Array.tabulate(4)(j =>
              src((f * 17 + j * 5) % src.length) & 0xff))
          }
          (id, buildMjpegAvi(16, 16, 40000, frames))
        }
      }.toDF("media_id", "payload")
  }

  /** Synthesize an audio media table from the documents corpus: the
    * UTF-8 payload stands in for encoded audio; sample rate and
    * sample count are deterministic metadata (a real ingest reads
    * them from the container header).
    */
  def audioFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      lit("audio").as("kind"),
      encode(col("text"), "UTF-8").as("payload"),
      lit(16000).as("sample_rate"),
      ((col("n_chars") * 137) % 100000 + 16000).cast("int").as("n_samples"))

  /** THE WAV container writer behind [[buildG711Wav]],
    * [[buildImaAdpcmWav]], [[buildImaAdpcmStereoWav]] and
    * [[encodeImaAdpcmWav]]: RIFF/WAVE framing around a `fmt ` chunk
    * (wFormatTag, channels, rate, byte rate = rate * blockAlign /
    * samplesPerBlock, blockAlign, bits, cbSize — 18 bytes, or 20 for
    * IMA-ADPCM, whose cbSize-2 extension carries samplesPerBlock),
    * the `fact` chunk compressed formats carry (per-channel sample
    * count), and the `data` chunk, padded to an even length as RIFF
    * requires.
    */
  private def writeWav(tag: Int, channels: Int, rate: Int, blockAlign: Int,
      bits: Int, samplesPerBlock: Int, factSamples: Long,
      data: Array[Byte]): Array[Byte] = {
    val adpcm = tag == 0x11
    val fmtLen = if (adpcm) 20 else 18
    val riffLen = 4 + (8 + fmtLen) + (8 + 4) + (8 + data.length + (data.length & 1))
    val b = java.nio.ByteBuffer.allocate(8 + riffLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def cc(id: String) = b.put(id.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    cc("RIFF").putInt(riffLen); cc("WAVE")
    cc("fmt ").putInt(fmtLen).putShort(tag.toShort).putShort(channels.toShort)
      .putInt(rate).putInt((rate.toLong * blockAlign / samplesPerBlock).toInt)
      .putShort(blockAlign.toShort).putShort(bits.toShort)
      .putShort((if (adpcm) 2 else 0).toShort)
    if (adpcm) b.putShort(samplesPerBlock.toShort)
    cc("fact").putInt(4).putInt(factSamples.toInt)
    cc("data").putInt(data.length).put(data) // pad byte: allocate's zero
    b.array()
  }

  /** Assemble a REAL G.711 WAV byte stream (wFormatTag 7 = µ-law /
    * 6 = A-law, mono, 8-bit log-companded samples) — the containers
    * [[decodeAudioPcm]] expands through the [[g711Tables]] captured
    * from the JDK's G.711 codecs.
    */
  private def buildG711Wav(data: Array[Byte], rate: Int, formatTag: Int): Array[Byte] =
    writeWav(formatTag, 1, rate, 1, 8, 1, data.length.toLong, data)

  private[graft] def buildMulawWav(data: Array[Byte], rate: Int): Array[Byte] =
    buildG711Wav(data, rate, 7)

  private[graft] def buildAlawWav(data: Array[Byte], rate: Int): Array[Byte] =
    buildG711Wav(data, rate, 6)

  /** Synthesize a table of REAL µ-law WAV byte streams from the
    * documents corpus — each document's UTF-8 bytes become the 8-bit
    * log-companded sample stream of a genuine RIFF/WAVE container
    * (8 kHz mono, WAVE_FORMAT_MULAW). Unlike [[audioFromDocuments]]
    * (opaque payload + metadata columns), these payloads pass through
    * a real COMPRESSED audio codec: [[decodeAudioPcm]] must parse the
    * container and expand each byte through the G.711 table captured
    * from the JDK codec — and the oracle (q208) still predicts the
    * samples exactly because µ-law expansion is the fixed CCITT
    * closed form of each byte (spec-pinned over all 256 values). Same
    * builder shape as [[mjpegAviFromDocuments]]: a narrow
    * mapPartitions (the write side of a media ingest — payloads are
    * built per-partition and never shuffle).
    */
  def mulawWavFromDocuments(docs: DataFrame, rate: Int = 8000): DataFrame =
    g711FromDocuments(docs, rate, 7)

  /** The A-law twin of [[mulawWavFromDocuments]] (wFormatTag 6) —
    * same container, same byte-per-sample grid, the OTHER G.711
    * companding law (the one European telephony uses). Its expansion
    * is likewise a fixed closed form of each byte (x = b ^ 0x55;
    * t = 16m+8 for segment 0, else (16m+264) << (s-1); sign bit SET
    * means positive — note the polarity is opposite to µ-law's), so
    * q209 puts the second G.711 table under the same oracle
    * discipline as q208.
    */
  def alawWavFromDocuments(docs: DataFrame, rate: Int = 8000): DataFrame =
    g711FromDocuments(docs, rate, 6)

  /** Assemble a REAL IMA-ADPCM WAV byte stream (wFormatTag 0x11,
    * mono, 4-bit; `fact` holds the true decoded sample count) whose
    * `data` chunk is `blockAlign`-sized blocks — each a 4-byte header
    * (initial predictor 0, initial index 0) + nibble data. The doc's
    * bytes become the nibble stream, so the oracle knows every block's
    * starting state and payload exactly.
    */
  private[graft] def buildImaAdpcmWav(data: Array[Byte], rate: Int,
      blockAlign: Int = 256): Array[Byte] = {
    require(blockAlign >= 5, s"blockAlign must be >= 5, got $blockAlign")
    val chunkBytes = blockAlign - 4
    val chunks = data.grouped(chunkBytes).toSeq
    val totalSamples = chunks.map(c => 1L + 2L * c.length).sum
    // block header: pred=0, index=0, reserved
    val blocks = chunks.flatMap(c => new Array[Byte](4) ++ c).toArray
    writeWav(0x11, 1, rate, blockAlign, 4, 1 + 2 * chunkBytes, totalSamples, blocks)
  }

  /** Assemble a STEREO IMA-ADPCM WAV: per block, TWO 4-byte channel
    * headers (both seeded (0, 0)) followed by the data bytes laid
    * down in container order — the format's 4-byte-group channel
    * interleave then assigns groups 0, 2, 4, ... to channel 0 and
    * 1, 3, 5, ... to channel 1. `data` is truncated to whole 8-byte
    * group pairs so every block carries complete groups (the q213
    * oracle's byte-selection closed form depends on it).
    */
  private[graft] def buildImaAdpcmStereoWav(data: Array[Byte], rate: Int,
      blockAlign: Int = 256): Array[Byte] = {
    require(blockAlign >= 9 && (blockAlign - 8) % 8 == 0,
      s"stereo blockAlign must be 8 + a multiple of 8, got $blockAlign")
    val usable = data.take(data.length - data.length % 8)
    val chunkBytes = blockAlign - 8
    val chunks = usable.grouped(chunkBytes).toSeq
    // per channel per FULL block: 1 header sample + (chunkBytes/2
    // bytes for this channel) * 2 nibbles = 1 + chunkBytes
    val spb = 1 + chunkBytes
    val totalSamples = chunks.map(c => 1L + c.length.toLong).sum // per channel
    // two (0, 0)-seeded channel headers, then the block's data bytes
    val blocks = chunks.flatMap(c => new Array[Byte](8) ++ c).toArray
    writeWav(0x11, 2, rate, blockAlign, 4, spb, totalSamples, blocks)
  }

  /** The STEREO twin of [[imaAdpcmWavFromDocuments]] (q213): doc
    * bytes land in container order and the 4-byte-group interleave
    * deals them to the two channels — channel 0 gets bytes whose
    * in-block offset has (offset / 4) even. Decoding channel 0
    * correctly therefore REQUIRES the de-interleave: treating the
    * stream as mono (the classic ADPCM decoder bug) feeds channel 1's
    * nibbles into channel 0's predictor and hash-fails the oracle.
    */
  def imaAdpcmStereoWavFromDocuments(docs: DataFrame, rate: Int = 8000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("doc_id").isNotNull)
      .select(col("doc_id").cast("long").as("media_id"),
        encode(col("text"), "UTF-8").as("_src"))
      .filter(col("media_id").isNotNull && octet_length(col("_src")) >= 8)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, src) =>
        (id, buildImaAdpcmStereoWav(src, rate))
      }).toDF("media_id", "payload")
  }

  /** Synthesize REAL IMA-ADPCM WAV payloads from the documents corpus
    * — each doc's UTF-8 bytes become the codec's nibble stream inside
    * genuine 256-byte blocks (so every block after the first STARTS
    * from whatever (0,0)-seeded header the builder wrote, never from
    * the previous block's end state — block independence is the
    * format's seek contract and what makes the oracle replay
    * per-block). Same narrow mapPartitions shape as the G.711
    * builders; q211 puts the decode under the oracle.
    */
  def imaAdpcmWavFromDocuments(docs: DataFrame, rate: Int = 8000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("doc_id").isNotNull)
      .select(col("doc_id").cast("long").as("media_id"),
        encode(col("text"), "UTF-8").as("_src"))
      .filter(col("media_id").isNotNull && octet_length(col("_src")) > 0)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, src) =>
        (id, buildImaAdpcmWav(src, rate))
      }).toDF("media_id", "payload")
  }

  private def g711FromDocuments(docs: DataFrame, rate: Int,
      formatTag: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("doc_id").isNotNull)
      .select(col("doc_id").cast("long").as("media_id"),
        encode(col("text"), "UTF-8").as("_src"))
      .filter(col("media_id").isNotNull && octet_length(col("_src")) > 0)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, src) =>
        (id, buildG711Wav(src, rate, formatTag))
      }).toDF("media_id", "payload")
  }

  /** Fixed-hop audio windowing (the STFT/feature-frame layout step):
    * one row per `winSamples`-sample window, with start time and a
    * stubbed per-window energy probe (mean of 4 deterministic payload
    * reads — a real DSP kernel would decode PCM and compute RMS/FFT at
    * the same spot). The window grid is METADATA arithmetic
    * (sequence+explode on sample counts — no payload IO); the probe
    * reads the payload on the original row's partition, so payload
    * bytes never shuffle.
    */
  def sampleAudioWindows(audio: DataFrame, winSamples: Int): DataFrame = {
    val text = col("payload").cast("string")
    // greatest(..., 1): an empty payload would make `off % 0` null
    // (while n_samples can still emit windows), producing null probes —
    // and engines disagree on % 0 (Spark null, DuckDB error). Clamping
    // the divisor pins empty-payload windows to probe offset 0, where
    // substring returns '' and ascii('') = 0: a defined, engine-stable
    // probe instead of a null.
    val nChars = greatest(length(text), lit(1))
    def probeAt(off: Column): Column =
      ascii(substring(text, (off % nChars + 1).cast("int"), lit(1))).cast("long")
    val probes = (0 until 4).map(k => probeAt(col("win_idx") * 31 + k * 7))
    // explicit floor: Spark's int cast truncates but an oracle
    // engine's may round — floor is unambiguous in both. The window
    // count is guarded BEFORE sequence(): for a clip shorter than one
    // window, sequence(0, -1) would auto-reverse and emit phantom
    // win_idx rows 0 and -1 (negative probe offsets) instead of none.
    val nWins = floor(col("n_samples") / winSamples).cast("int")
    audio
      .select(col("media_id"), col("sample_rate"), col("n_samples"), col("payload"),
        explode(when(nWins >= 1, sequence(lit(0), nWins - 1, lit(1)))
          .otherwise(array().cast("array<int>"))).as("win_idx"))
      .select(
        col("media_id"),
        col("win_idx").cast("long").as("win_idx"),
        (col("win_idx") * lit(winSamples.toDouble) / col("sample_rate")).as("t0_sec"),
        (probes.reduce(_ + _).cast("double") / 4.0).as("energy_probe"))
  }

  /** Sample every k-th frame of each video: `sequence` + `explode` on
    * the METADATA frame count (narrow, no payload IO for the index
    * arithmetic), then the per-frame decode — stubbed here as reading
    * one deterministic "pixel" (the codepoint at a frame-derived
    * payload offset); a real codec would seek+decode the frame at the
    * same spot in the pipeline. Output grain: one row per sampled
    * frame, payload never shuffled (the explode carries metadata
    * only; the stub reads the payload on the original row's
    * partition).
    */
  def sampleFrames(video: DataFrame, everyK: Int): DataFrame = {
    val text = col("payload").cast("string")
    val nChars = length(text)
    val pos = (col("frame_idx") * lit(37)) % nChars
    video
      .select(col("media_id"), col("n_frames"), col("fps"), col("payload"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(everyK))).as("frame_idx"))
      .select(
        col("media_id"),
        col("frame_idx").cast("long").as("frame_idx"),
        (col("frame_idx").cast("double") / col("fps")).as("t_sec"),
        ascii(substring(text, (pos + 1).cast("int"), lit(1))).cast("long").as("frame_probe"))
  }
}
