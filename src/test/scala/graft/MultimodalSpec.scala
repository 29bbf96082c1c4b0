package graft

import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.operators.Multimodal.{MediaFeatures, MediaRecord}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("media schema: payload binary + typed metadata from documents") {
    val media = Multimodal.mediaFromDocuments(Tables.load(spark, sfDir, "documents"))
    val schema = media.schema.map(f => f.name -> f.dataType.simpleString).toMap
    assert(schema("payload") == "binary")
    assert(schema("width") == "int" && schema("channels") == "int")
    assert(media.count() > 0)
  }

  test("batch-shaped feature extraction through mapPartitions (decode stubbed)") {
    val media = Multimodal.mediaFromDocuments(Tables.load(spark, sfDir, "documents"))
      .as[MediaRecord]
    val feats = Multimodal.extractFeatures(media, batchSize = 16).collect()
    assert(feats.length == media.count())
    // deterministic fake decode: n_bytes equals payload length; histogram sums to n
    feats.foreach { f =>
      assert(f.histogram.sum == f.n_bytes)
      assert(f.mean_prefix > 0.0) // ASCII text bytes are all positive
    }
    // re-run gives identical results (determinism)
    val again = Multimodal.extractFeatures(media, batchSize = 7).collect()
    assert(feats.sortBy(_.media_id).toSeq == again.sortBy(_.media_id).toSeq)
  }

  test("metadata-only query prunes the payload column from the scan") {
    val tmp = tmpDir("graft-media")
    Multimodal.mediaFromDocuments(Tables.load(spark, sfDir, "documents"))
      .write.mode("overwrite").parquet(s"$tmp/media")
    val metaOnly = spark.read.parquet(s"$tmp/media")
      .select("media_id", "width", "height")
      .filter(col("width") > 100)
    val plan = metaOnly.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema") && !plan.contains("payload"),
      s"payload column should be pruned from scan:\n$plan")
  }

  test("sampleAudioWindows: empty payload yields defined zero probes, not nulls") {
    // n_samples still emits 4 windows; the clamped modulo pins probes
    // to offset 0 where ascii('') = 0 (pre-guard: off % 0 = null)
    val audio = Seq(("m1", "audio", Array.empty[Byte], 16000, 16000))
      .toDF("media_id", "kind", "payload", "sample_rate", "n_samples")
    val out = Multimodal.sampleAudioWindows(audio, winSamples = 4000).collect()
    assert(out.length == 4)
    out.foreach { r =>
      assert(!r.isNullAt(3), "energy_probe must not be null on empty payload")
      assert(r.getDouble(3) == 0.0)
    }
  }

  test("resize stub: aspect-preserving bound, never upscales") {
    val media = Multimodal.mediaFromDocuments(Tables.load(spark, sfDir, "documents"))
    val out = Multimodal.resizeMeta(media, 320, 240)
      .select("width", "height", "out_width", "out_height").collect()
    out.foreach { r =>
      assert(r.getInt(2) <= 320 && r.getInt(3) <= 240)
      assert(r.getInt(2) <= math.max(r.getInt(0), 0))
    }
  }

  test("frame sampling stub") {
    assert(Multimodal.sampleFrameIndexes(10, 3) == Seq(0, 3, 6, 9))
    assert(Multimodal.sampleFrameIndexes(0, 3).isEmpty)
  }

  test("REAL image decode: PNG payloads decode via JDK ImageIO; resized copies hash near-identically") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    // deterministic 32x32 gradient scene, PNG-encoded in-test (no
    // external fixtures): left half dark, right half bright, so the
    // 8x8 aHash grid has a clean structure
    def scene(w: Int, h: Int, tweak: Boolean): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = if (x < w / 2) 30 else 220
        img.setRGB(x, y, v << 16 | v << 8 | v)
      }
      if (tweak) img.setRGB(w - 1, h - 1, 0xffffff) // one-pixel edit
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", bos), "JDK PNG writer missing")
      bos.toByteArray
    }
    val inverse = {
      val img = new BufferedImage(32, 32, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 32; x <- 0 until 32) {
        val v = if (x < 16) 220 else 30
        img.setRGB(x, y, v << 16 | v << 8 | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    // sniffing gates the codec: PNG decodes, text falls back
    assert(Multimodal.decodeImage(scene(32, 32, tweak = false)).nonEmpty)
    assert(Multimodal.decodeImage("not an image".getBytes("UTF-8")).isEmpty)
    val (w0, h0, px) = Multimodal.decodeImage(scene(32, 32, tweak = false)).get
    assert(w0 == 32 && h0 == 32 && px(0) == 30 && px(31) == 220,
      s"luminance decode wrong: ${px.take(3).toSeq} .. ${px(31)}")
    def rec(id: Long, p: Array[Byte]) = Multimodal.MediaRecord(id, "image", p, 32, 32, 3)
    val media = Seq(
      rec(1L, scene(32, 32, tweak = false)),
      rec(2L, scene(32, 32, tweak = true)), // near-dup: one pixel edited
      rec(3L, scene(64, 64, tweak = false)), // SAME scene at 2x resolution
      rec(4L, inverse)).toDS()
    val hs = Multimodal.aHash(media).collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(java.lang.Long.bitCount(hs(1L) ^ hs(2L)) <= 1, "one-pixel edit must stay within 1 bit")
    assert(hs(1L) == hs(3L), "average-pool aHash must be resolution-independent")
    assert(java.lang.Long.bitCount(hs(1L) ^ hs(4L)) >= 32, "inverted scene must be far")
    val pairs = Multimodal.perceptualNearDups(Multimodal.aHash(media), maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)), s"wrong pairs: $pairs")
    // the fallback path is untouched: feature extraction over synthetic
    // (text) payloads still returns byte-identity values
    val textRec = Multimodal.MediaRecord(9L, "image", "abc".getBytes("UTF-8"), 0, 0, 1)
    val feats = Multimodal.extractFeatures(Seq(textRec).toDS()).collect().head
    assert(feats.n_bytes == 3 && feats.mean_prefix == ('a' + 'b' + 'c') / 3.0)
  }

  /** A WAV written by the JDK's own `AudioSystem.write` — the
    * test-side reference container for the PCM leg.
    */
  private def jdkWav(pcm: Array[Byte], fmt: javax.sound.sampled.AudioFormat): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioInputStream, AudioSystem}
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt,
      (pcm.length / fmt.getFrameSize).toLong), AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  private def le16(samples: Array[Short]): Array[Byte] =
    samples.flatMap(v => Array((v & 0xff).toByte, (v >> 8).toByte))

  test("REAL audio decode: WAV payloads decode via JDK javax.sound; RMS separates tone from silence") {
    import spark.implicits._
    import javax.sound.sampled.AudioFormat
    // the JDK's WAV writer is the test-side reference container
    def wav(samples: Array[Short], rate: Float = 8000f): Array[Byte] =
      jdkWav(le16(samples), new AudioFormat(rate, 16, 1, true, false))
    val amp = 12000
    val sine = Array.tabulate(2048)(i =>
      (math.sin(2 * math.Pi * 440 * i / 8000.0) * amp).toShort)
    val silence = Array.fill[Short](2048)(0)
    // decode roundtrip: a known ramp comes back sample-exact
    val ramp = Array.tabulate(256)(i => (i * 100 - 12800).toShort)
    val (rate, decoded) = Multimodal.decodeAudioPcm(wav(ramp)).get
    assert(rate == 8000f && decoded.toSeq == ramp.map(_.toInt).toSeq, "PCM roundtrip broken")
    assert(Multimodal.decodeAudioPcm("not audio".getBytes("UTF-8")).isEmpty)
    // parity with the JDK writer across the PCM layouts it emits
    def parity(name: String, p: Array[Byte], rate: Float, want: Seq[Int]): Unit = {
      val (r, got) = Multimodal.decodeAudioPcm(p).get
      assert(r == rate && got.toSeq == want, s"$name: rate $r, ${got.take(8).toSeq}")
    }
    val bytes8 = Array.tabulate(256)(_.toByte)
    parity("8-bit unsigned mono",
      jdkWav(bytes8, new AudioFormat(8000f, 8, 1, false, false)), 8000f, (0 until 256))
    val right = ramp.map(v => (-v).toShort)
    parity("16-bit stereo returns channel 0",
      jdkWav(le16(ramp.zip(right).flatMap { case (l, r) => Array(l, r) }),
        new AudioFormat(8000f, 16, 2, true, false)), 8000f, ramp.map(_.toInt).toSeq)
    parity("44.1 kHz", wav(ramp, 44100f), 44100f, ramp.map(_.toInt).toSeq)
    // an odd-sized LIST chunk (5 bytes + RIFF pad byte) ahead of `data`
    val plain = wav(ramp)
    val at = plain.indexOfSlice("data".getBytes("US-ASCII"))
    val list = "LIST".getBytes("US-ASCII") ++ Array[Byte](5, 0, 0, 0) ++
      "INFOx".getBytes("US-ASCII") ++ Array[Byte](0)
    val withList = plain.take(at) ++ list ++ plain.drop(at)
    java.nio.ByteBuffer.wrap(withList).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(4, withList.length - 8)
    parity("padded LIST chunk", withList, 8000f, ramp.map(_.toInt).toSeq)
    val audio = Seq(
      Multimodal.AudioRecord(1L, wav(sine)),
      Multimodal.AudioRecord(2L, wav(silence))).toDS()
    val rms = Multimodal.audioRmsWindows(audio, winSamples = 256)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(rms.size == 16, s"expected 8 windows per clip, got ${rms.size}")
    val expected = amp / math.sqrt(2) // RMS of a full-scale sine
    (0L until 8L).foreach { w =>
      assert(math.abs(rms((1L, w)) - expected) < expected * 0.1,
        s"sine window $w rms ${rms((1L, w))} not near $expected")
      assert(rms((2L, w)) == 0.0, s"silence window $w rms ${rms((2L, w))}")
    }
    // fallback path: non-audio payloads fold codepoints (oracle contract)
    val fb = Multimodal.audioRmsWindows(
        Seq(Multimodal.AudioRecord(3L, "ab".getBytes("UTF-8"))).toDS(), winSamples = 2)
      .collect().head
    assert(fb.getLong(2) == 97L * 97 + 98L * 98, "fallback must fold codepoint squares")
  }

  test("µ-law compressed leg: javax.sound expansion equals the CCITT G.711 closed form on all 256 bytes") {
    // the q208 oracle states decoded samples as pure byte arithmetic;
    // this pin is what makes that legitimate: the REAL codec
    // (javax.sound's ULAW->PCM conversion) and the closed form agree
    // on every possible encoded byte, so the SQL mirror predicts the
    // JDK decode exactly.
    def ccitt(b: Int): Int = {
      val u = (~b) & 0xff
      val t = (((u & 0x0f) << 3) + 0x84) << ((u & 0x70) >> 4)
      if ((u & 0x80) != 0) 0x84 - t else t - 0x84
    }
    val allBytes = Array.tabulate(256)(_.toByte)
    val (rate, decoded) = Multimodal.decodeAudioPcm(
      Multimodal.buildMulawWav(allBytes, 8000)).get
    assert(rate == 8000f)
    assert(decoded.length == 256)
    val mismatches = (0 until 256).filter(i => decoded(i) != ccitt(i))
    assert(mismatches.isEmpty,
      s"javax != G.711 µ-law closed form at bytes $mismatches")
    // the A-LAW twin (q209): x = b ^ 0x55, t = 16m+8 in segment 0
    // else (16m+264) << (s-1); sign bit SET means POSITIVE — the
    // opposite polarity to µ-law, which this pin keeps honest
    def alaw(b: Int): Int = {
      val x = b ^ 0x55
      val m = x & 0x0f
      val s = (x & 0x70) >> 4
      val t = if (s == 0) (m << 4) + 8 else ((m << 4) + 0x108) << (s - 1)
      if ((x & 0x80) != 0) t else -t
    }
    val (aRate, aDecoded) = Multimodal.decodeAudioPcm(
      Multimodal.buildAlawWav(allBytes, 8000)).get
    assert(aRate == 8000f && aDecoded.length == 256)
    val aMismatches = (0 until 256).filter(i => aDecoded(i) != alaw(i))
    assert(aMismatches.isEmpty,
      s"javax != G.711 A-law closed form at bytes $aMismatches")
  }

  test("µ-law compressed leg: truncation and garbage fuzz fail the row, never the task") {
    val rnd = new scala.util.Random(14)
    val data = { val d = new Array[Byte](512); rnd.nextBytes(d); d }
    val wav = Multimodal.buildMulawWav(data, 8000)
    // every truncation point: decode returns Some (a prefix) or None,
    // NEVER throws — the row-fails-never-the-task contract
    (0 to wav.length).foreach { cut =>
      Multimodal.decodeAudioPcm(wav.take(cut)) // must not throw
    }
    // garbage bodies behind a valid RIFF/WAVE magic
    (0 until 200).foreach { _ =>
      val junk = new Array[Byte](rnd.nextInt(256)); rnd.nextBytes(junk)
      Multimodal.decodeAudioPcm(
        "RIFF1234WAVE".getBytes("ISO-8859-1") ++ junk) // must not throw
    }
    // bit-flipped fmt chunks (crafted headers): same contract
    (0 until 100).foreach { _ =>
      val copy = wav.clone()
      copy(12 + rnd.nextInt(26)) = rnd.nextInt(256).toByte
      Multimodal.decodeAudioPcm(copy) // must not throw
    }
    // the A-law container under the same truncation fuzz
    val alaw = Multimodal.buildAlawWav(data, 8000)
    (0 to alaw.length by 7).foreach { cut =>
      Multimodal.decodeAudioPcm(alaw.take(cut)) // must not throw
    }
    // the intact containers still decode sample-exactly after the fuzz
    val full = Multimodal.decodeAudioPcm(wav).get._2
    assert(full.length == 512)
    assert(Multimodal.decodeAudioPcm(alaw).get._2.length == 512)
  }

  test("IMA-ADPCM leg: hand-traced fixture, saturation clamps, block-boundary reset") {
    // the q211 oracle replays the spec's integer state machine as a
    // recursive CTE; this pin is what makes that legitimate — the
    // Scala decoder IS that state machine, verified against a
    // hand-computed trace. From (pred=0, idx=0), step=7:
    //   nibble 0x3: diff = 7>>3 + 7>>2 + 7>>1 = 0+1+3 = 4 -> pred 4,
    //               idx 0 + (-1) clamped = 0
    //   nibble 0x7: diff = 0+1+3+7 = 11 -> pred 15, idx 0+8 = 8
    //   (step=16) nibble 0xF: diff = 2+4+8+16 = 30, sign -> pred -15,
    //               idx 8+8 = 16
    //   (step=34) nibble 0x0: diff = 34>>3 = 4 -> pred -11, idx 15
    val wav = Multimodal.buildImaAdpcmWav(Array(0x73.toByte, 0x0F.toByte), 8000)
    val (rate, s) = Multimodal.decodeAudioPcm(wav).get
    assert(rate == 8000f)
    // header sample + 4 nibble samples (low nibble first per byte)
    assert(s.toSeq == Seq(0, 4, 15, -15, -11), s"hand trace diverged: ${s.toSeq}")
    // saturation: a run of max-positive nibbles (0x7 = +diff, index
    // racing up) must clamp pred at 32767 and idx at 88, never wrap
    val up = Multimodal.decodeAudioPcm(
      Multimodal.buildImaAdpcmWav(Array.fill(64)(0x77.toByte), 8000)).get._2
    assert(up.max == 32767 && up.last == 32767, s"positive clamp: ${up.takeRight(4).toSeq}")
    val down = Multimodal.decodeAudioPcm(
      Multimodal.buildImaAdpcmWav(Array.fill(64)(0xFF.toByte), 8000)).get._2
    assert(down.min == -32768 && down.last == -32768, s"negative clamp: ${down.takeRight(4).toSeq}")
    // block independence: 252 data bytes fill block 0 exactly; byte
    // 253 starts block 1, whose header RESETS state to (0, 0) — its
    // first nibble must decode as if from a fresh stream, not carry
    // block 0's saturated predictor
    val twoBlocks = Multimodal.decodeAudioPcm(
      Multimodal.buildImaAdpcmWav(
        Array.fill(252)(0x77.toByte) ++ Array(0x73.toByte), 8000)).get._2
    assert(twoBlocks.length == (1 + 504) + (1 + 2))
    assert(twoBlocks(505) == 0 && twoBlocks(506) == 4 && twoBlocks(507) == 15,
      s"block 1 must restart from its (0,0) header: ${twoBlocks.slice(505, 508).toSeq}")
    // dispatch: the one header parse reads the 0x11 tag
    assert(Multimodal.wavHeader(wav).map(_.tag).contains(0x11))
  }

  test("IMA-ADPCM encoder: decode(encode(pcm)) is the encoder's own prediction and tracks a smooth signal") {
    // lockstep: the container round-trip must reproduce EXACTLY the
    // sample sequence the encoder's internal decoder-update predicted
    // — that equality is the whole design (the encoder tracks what
    // the decoder will reconstruct, not the true signal)
    val pcm = Array.tabulate(1011)(i =>
      (math.sin(i * 0.05) * 12000).toInt) // 2 blocks + partial
    val decoded = Multimodal.decodeAudioPcm(
      Multimodal.encodeImaAdpcmWav(pcm, 8000)).get._2
    val usable = if ((pcm.length % 505 - 1) % 2 == 1) pcm.length - 1 else pcm.length
    assert(decoded.length == usable)
    var pred = 0; var idx = 0
    val predicted = (0 until usable).map { j =>
      if (j % 505 == 0) { pred = pcm(j); idx = 0; pred }
      else {
        val (_, p, i) = Multimodal.imaEncodeStep(pred, idx, pcm(j))
        pred = p; idx = i; p
      }
    }
    assert(decoded.toSeq == predicted,
      "container round-trip must equal the encoder's internal prediction")
    // block-leading samples round-trip EXACTLY (stored verbatim)
    assert(decoded(0) == pcm(0) && decoded(505) == pcm(505))
    // fidelity on the smooth signal: the adaptive step tracks a sine
    // well — RMS error under 5% of the 12000 amplitude
    val errSq = (0 until usable).map(j => {
      val e = (decoded(j) - pcm(j)).toDouble; e * e
    }).sum / usable
    assert(math.sqrt(errSq) < 600.0,
      s"ADPCM RMS error ${math.sqrt(errSq)} too high for a smooth signal")
    // a single-sample input is one header-only block, exact
    val one = Multimodal.decodeAudioPcm(
      Multimodal.encodeImaAdpcmWav(Array(1234), 8000)).get._2
    assert(one.toSeq == Seq(1234))
  }

  test("IMA-ADPCM stereo: the 4-byte-group de-interleave feeds each channel its own state") {
    // 16 data bytes = 4 groups: ch0 gets bytes 0-3 and 8-11, ch1 gets
    // 4-7 and 12-15. Decoding channel 0 of the stereo container must
    // equal a MONO decode of exactly ch0's bytes — and differ from a
    // mono decode of the full byte stream (the classic mono-misread
    // bug that would thread ch1's nibbles through ch0's predictor).
    val bytes = Array.tabulate(16)(i => ((i * 37 + 11) & 0xff).toByte)
    val ch0Bytes = bytes.slice(0, 4) ++ bytes.slice(8, 12)
    val stereo = Multimodal.decodeAudioPcm(
      Multimodal.buildImaAdpcmStereoWav(bytes, 8000)).get._2
    val ch0Mono = Multimodal.decodeAudioPcm(
      Multimodal.buildImaAdpcmWav(ch0Bytes, 8000)).get._2
    assert(stereo.toSeq == ch0Mono.toSeq,
      s"stereo ch0 must equal a mono decode of ch0's bytes:\n${stereo.toSeq}\n${ch0Mono.toSeq}")
    val misread = Multimodal.decodeAudioPcm(
      Multimodal.buildImaAdpcmWav(bytes, 8000)).get._2
    assert(stereo.toSeq != misread.toSeq.take(stereo.length),
      "a mono misread of the interleaved stream must NOT reproduce ch0")
    // builder truncates to whole 8-byte group pairs: 19 bytes -> 16
    val trunc = Multimodal.decodeAudioPcm(
      Multimodal.buildImaAdpcmStereoWav(bytes ++ Array[Byte](1, 2, 3), 8000)).get._2
    assert(trunc.toSeq == stereo.toSeq, "partial group pairs must be truncated")
    // stereo truncation fuzz: same row-fails-never-task contract
    val wav = Multimodal.buildImaAdpcmStereoWav(
      Array.tabulate(600)(i => (i * 13).toByte), 8000)
    (0 to wav.length by 3).foreach { cut =>
      Multimodal.decodeAudioPcm(wav.take(cut)) // must not throw
    }
  }

  test("IMA-ADPCM leg: truncation and garbage fuzz fail the row, never the task") {
    val rnd = new scala.util.Random(15)
    val data = { val d = new Array[Byte](600); rnd.nextBytes(d); d } // 3 blocks
    val wav = Multimodal.buildImaAdpcmWav(data, 8000)
    (0 to wav.length).foreach { cut =>
      Multimodal.decodeAudioPcm(wav.take(cut)) // must not throw
    }
    (0 until 200).foreach { _ =>
      val junk = new Array[Byte](rnd.nextInt(256)); rnd.nextBytes(junk)
      Multimodal.decodeAudioPcm(
        "RIFF1234WAVE".getBytes("ISO-8859-1") ++ junk) // must not throw
    }
    (0 until 100).foreach { _ =>
      val copy = wav.clone()
      copy(12 + rnd.nextInt(28)) = rnd.nextInt(256).toByte
      Multimodal.decodeAudioPcm(copy) // must not throw
    }
    // intact container still decodes the full sample count after fuzz:
    // 2 full blocks (1 + 504 each) + the 96-byte tail block (1 + 192)
    assert(Multimodal.decodeAudioPcm(wav).get._2.length == 2 * 505 + 193)
  }

  test("aHash + perceptualNearDups: tweaked copies pair up, distinct media do not, no cartesian") {
    import spark.implicits._
    // 64 "pixels" alternating 0/200 (mean ~100 thresholds cleanly)
    val a = Array.tabulate(64)(i => if (i % 2 == 0) 0 else 200).map(_.toByte)
    val b = a.clone(); b(0) = 200.toByte; b(2) = 200.toByte // 2 bits flip
    val c = Array.tabulate(64)(i => if (i % 2 == 0) 200 else 0).map(_.toByte) // inverse
    def rec(id: Long, p: Array[Byte]) = Multimodal.MediaRecord(id, "image", p, 8, 8, 1)
    val media = Seq(rec(1L, a), rec(2L, b), rec(3L, c), rec(4L, a)).toDS()
    val hashes = Multimodal.aHash(media)
    val hs = hashes.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(hs(1L) == hs(4L), "identical payloads must hash identically")
    assert(java.lang.Long.bitCount(hs(1L) ^ hs(2L)) == 2, "two flipped pixels = 2 bits")
    assert(java.lang.Long.bitCount(hs(1L) ^ hs(3L)) > 7, "inverse pattern is far")
    val pairs = Multimodal.perceptualNearDups(hashes, maxHamming = 4)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (1L, 4L), (2L, 4L)), s"wrong pairs: $got")
    assert(!pairs.queryExecution.executedPlan.toString.contains("CartesianProduct"),
      "banded candidates must be an equi-join")
  }

  test("pHash: a gamma-shifted near-dup that aHash misses, pHash catches; banded candidates unchanged") {
    import java.awt.image.BufferedImage
    // structured scene: a spectrum-rich sum of low-frequency waves +
    // a gentle ramp (measured: most aHash cells cluster near the grid
    // mean, most low DCT coefficients decisively signed). Gamma is
    // MONOTONE but NON-LINEAR: it moves the mean relative to the
    // ordered cell values (the aHash threshold crossing shifts ->
    // whole runs of bits flip: 8 bits at every gamma in 1.5-2.2)
    // while the low-frequency sign structure survives (pHash moves
    // <= 1 bit over the same range) — constants pinned by a
    // parameter search over the exact integer pipeline.
    def grid(gamma: Double): Int => Int = { i =>
      val (y, x) = (i / 64, i % 64)
      val _ = y
      val b = 132.0 +
        26.0 * math.sin(2 * math.Pi * 2 * x / 64.0 + 2.57) +
        26.0 * math.sin(2 * math.Pi * 3 * x / 64.0 + 0.60) +
        18.0 * math.sin(2 * math.Pi * 2 * x / 64.0 + 2.94) +
        37.0 * math.sin(2 * math.Pi * 3 * x / 64.0 + 2.00) +
        1.0 * x
      val lin = math.max(5.0, math.min(245.0, b)) / 255.0
      math.max(0, math.min(255, (math.pow(lin, gamma) * 255.0 + 0.5).toInt))
    }
    def png(v: Int => Int): Array[Byte] = {
      val img = new BufferedImage(64, 64, BufferedImage.TYPE_INT_RGB)
      for (i <- 0 until 4096) {
        val g = v(i)
        img.setRGB(i % 64, i / 64, g << 16 | g << 8 | g)
      }
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", bos))
      bos.toByteArray
    }
    val base = grid(1.0)
    def rec(id: Long, p: Array[Byte]) = MediaRecord(id, "image", p, 64, 64, 3)
    // the far control is the NEGATED scene — low-frequency structure
    // inverted (a high-frequency change would be invisible to pHash
    // BY DESIGN: the low 8x8 block carries no high frequencies)
    val media = Seq(rec(1L, png(base)), rec(2L, png(grid(1.8))),
      rec(3L, png(i => 255 - base(i)))).toDS()
    val a = Multimodal.aHash(media).collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val p = Multimodal.pHash(media).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2) << 32) | r.getLong(3))).toMap
    val aHam = java.lang.Long.bitCount(a(1L) ^ a(2L))
    val pHam = java.lang.Long.bitCount(p(1L) ^ p(2L))
    assert(aHam > 4, s"fixture must defeat aHash at the q142 threshold, got $aHam bits")
    assert(pHam <= 4, s"pHash must hold the gamma-shifted pair within 4 bits, got $pHam")
    assert(java.lang.Long.bitCount(p(1L) ^ p(3L)) > 4,
      "a genuinely different (negated) scene must stay far under pHash")
    // the SAME banded-Hamming candidate join serves both hashes: feed
    // perceptualNearDups the combined 64-bit pHash under its expected
    // column name — candidates and verify logic are unchanged
    val pframe = Multimodal.pHash(media).select(col("media_id"),
      (shiftleft(col("phash_hi"), 32).bitwiseOR(col("phash_lo"))).as("ahash"))
    val pairs = Multimodal.perceptualNearDups(pframe, maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"wrong pHash pairs: $pairs")
    // the round-17 split-half join (phashNearDups) — the operator a
    // pipeline actually wires q217's output into — catches the gamma
    // pair and excludes the negated control, with no cross product
    val split = Multimodal.phashNearDups(Multimodal.pHash(media), maxHamming = 4)
    val sPairs = split.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sPairs == Set((1L, 2L)), s"wrong split-half pairs: $sPairs")
    assert(!split.queryExecution.executedPlan.toString.contains("CartesianProduct"),
      "split-half banded candidates must be an equi-join")
    val aPairs = Multimodal.perceptualNearDups(Multimodal.aHash(media), maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!aPairs.contains((1L, 2L)), "aHash at the same threshold must miss the pair")
    // DC invariance: a pure brightness LIFT (add a constant, clamp-free)
    // lives in the excluded DC coefficient — pHash is bit-identical
    def lifted(delta: Int): Array[Byte] = {
      val img = new BufferedImage(64, 64, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val base = 40 + x + (if ((x / 16 + y / 16) % 2 == 0) 0 else 30) + delta
        val v = math.max(0, math.min(255, base))
        img.setRGB(x, y, v << 16 | v << 8 | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    val lift = Seq(rec(10L, lifted(0)), rec(11L, lifted(40))).toDS()
    val lp = Multimodal.pHash(lift).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2) << 32) | r.getLong(3))).toMap
    assert(lp(10L) == lp(11L), "a clamp-free constant lift must not move a single pHash bit")
    // fallback path determinism: non-image payloads hash by stub bytes
    val txt = Seq(MediaRecord(20L, "text", "hello world".getBytes("UTF-8"), 0, 0, 1)).toDS()
    assert(Multimodal.pHash(txt).count() == 1)
  }

  test("VideoKernel.Stub: deterministic frames; frameFeatures grain, t_sec and ahash stability") {
    import graft.operators.VideoKernel
    val payload = ("x" * 100).getBytes("UTF-8") // 100 % 240 + 1 = 101 frames
    val meta = VideoKernel.Stub.probe(payload).get
    assert(meta.nFrames == 101 && meta.fps == 24.0 && meta.codec == "stub")
    val frames = VideoKernel.Stub.decodeFrames(payload, everyK = 24, maxFrames = 64)
    assert(frames.map(_.frameIdx) == Seq(0L, 24L, 48L, 72L, 96L))
    assert(frames.forall(f => f.width == 1 && f.height == 1 && f.luma.length == 1))
    assert(VideoKernel.Stub.probe(Array.empty[Byte]).isEmpty, "empty payload must fail the row")
    assert(VideoKernel.Stub.decodeFrames(payload, 24, 2).map(_.frameIdx) == Seq(0L, 24L),
      "maxFrames must cap the sample")

    val video = Multimodal.mediaFromDocuments(
      Tables.load(spark, sfDir, "documents").limit(20))
    val ff = Multimodal.frameFeatures(video, everyK = 24, kernel = VideoKernel.Stub)
    val rows = ff.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) == r.getLong(1).toDouble / 24.0, "t_sec = frame_idx / fps")
      assert(r.getLong(4) == 1L, "stub frames are 1x1")
    }
    // per-media frame counts follow the stub metadata contract
    val byMedia = rows.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    val lens = video.select(col("media_id"), length(col("payload")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    byMedia.foreach { case (id, n) =>
      val nFrames = lens(id) % 240 + 1
      assert(n == math.min(64, (nFrames + 23) / 24), s"media $id frame count $n")
    }
    // determinism: identical output across runs
    assert(ff.collect().map(_.toString).sorted.sameElements(rows.map(_.toString).sorted))
  }

  test("VideoKernel.select: explicit property wins; absent binaries degrade to stub / row-level failure") {
    import graft.operators.VideoKernel
    sys.props("graft.video.kernel") = "stub"
    try assert(VideoKernel.select() == VideoKernel.Stub)
    finally sys.props.remove("graft.video.kernel")
    if (!VideoKernel.ffmpegAvailable)
      assert(VideoKernel.select() == VideoKernel.Stub,
        "no binaries on PATH must select the stub")
    // a kernel pointed at a missing binary fails the ROW (None/empty),
    // never throws into the task
    val broken = new VideoKernel.Ffmpeg(ffprobeBin = "/nonexistent/ffprobe",
      ffmpegBin = "/nonexistent/ffmpeg", timeoutMs = 2000)
    val p = "payload".getBytes("UTF-8")
    assert(broken.probe(p).isEmpty && broken.decodeFrames(p, 2, 4).isEmpty)
  }

  // --- VideoKernel.Y4m: real container parsing, no codecs ---------------

  private def y4m(header: String, frames: Array[Byte]*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write((header + "\n").getBytes("US-ASCII"))
    frames.foreach { f => out.write("FRAME\n".getBytes("US-ASCII")); out.write(f) }
    out.toByteArray
  }

  test("VideoKernel.Y4m: hand-built mono container probes and decodes frame-exact") {
    import graft.operators.VideoKernel
    // 2x2 Cmono: each frame is exactly its 4 luma bytes
    val p = y4m("YUV4MPEG2 W2 H2 F24:1 Cmono",
      Array[Byte](10, 20, 30, 40), Array[Byte](50, 60, 70, 80),
      Array[Byte](90, 100, 110, 120))
    val meta = VideoKernel.Y4m.probe(p).get
    assert(meta.width == 2 && meta.height == 2 && meta.fps == 24.0 &&
      meta.nFrames == 3L && meta.codec == "y4m", meta.toString)
    assert(meta.durationSec == 3.0 / 24.0)
    val all = VideoKernel.Y4m.decodeFrames(p, everyK = 1, maxFrames = 64)
    assert(all.map(_.frameIdx) == Seq(0L, 1L, 2L))
    assert(all.map(_.luma.toSeq) == Seq(Seq(10, 20, 30, 40),
      Seq(50, 60, 70, 80), Seq(90, 100, 110, 120)))
    // sampling grain + maxFrames cap
    val sampled = VideoKernel.Y4m.decodeFrames(p, everyK = 2, maxFrames = 1)
    assert(sampled.map(_.frameIdx) == Seq(0L) &&
      sampled.head.luma.toSeq == Seq(10, 20, 30, 40))
    // luma bytes are unsigned
    val neg = y4m("YUV4MPEG2 W1 H1 F1:1 Cmono", Array[Byte](-1))
    assert(VideoKernel.Y4m.decodeFrames(neg, 1, 4).head.luma.toSeq == Seq(255))
  }

  test("VideoKernel.Y4m: colorspace frame sizes — luma is the plane prefix, chroma skipped") {
    import graft.operators.VideoKernel
    // C420 on 2x2: 4 luma + 2 * (1x1) chroma = 6 bytes per frame
    val p420 = y4m("YUV4MPEG2 W2 H2 F30:1 C420jpeg",
      Array[Byte](1, 2, 3, 4, 77, 88), Array[Byte](5, 6, 7, 8, 99, 11))
    assert(VideoKernel.Y4m.probe(p420).get.nFrames == 2L)
    assert(VideoKernel.Y4m.decodeFrames(p420, 1, 4).map(_.luma.toSeq) ==
      Seq(Seq(1, 2, 3, 4), Seq(5, 6, 7, 8)))
    // C444 on 1x2: 2 luma + 4 chroma; default (no C tag) is C420
    val p444 = y4m("YUV4MPEG2 W1 H2 F30:1 C444", Array[Byte](9, 8, 0, 0, 0, 0))
    assert(VideoKernel.Y4m.decodeFrames(p444, 1, 4).map(_.luma.toSeq) == Seq(Seq(9, 8)))
    val pDefault = y4m("YUV4MPEG2 W2 H2 F30:1", // 420 => 6 bytes/frame
      Array[Byte](4, 3, 2, 1, 0, 0))
    assert(VideoKernel.Y4m.probe(pDefault).get.nFrames == 1L)
    // interlace/aspect/comment params are tolerated
    val pParams = y4m("YUV4MPEG2 W1 H1 F25:1 Ip A1:1 Cmono Xcomment", Array[Byte](7))
    assert(VideoKernel.Y4m.probe(pParams).get.fps == 25.0)
  }

  test("VideoKernel.Y4m: row-fails-never-task — bad magic, bad header, truncation, garbage") {
    import graft.operators.VideoKernel
    assert(VideoKernel.Y4m.probe(Array.empty[Byte]).isEmpty)
    assert(VideoKernel.Y4m.probe("JUNK W2 H2 F24:1\nxxxx".getBytes("US-ASCII")).isEmpty)
    // missing dimensions / zero fps / unknown colorspace -> unreadable
    assert(VideoKernel.Y4m.probe("YUV4MPEG2 F24:1 Cmono\n".getBytes("US-ASCII")).isEmpty)
    assert(VideoKernel.Y4m.probe("YUV4MPEG2 W2 H2 F0:1 Cmono\n".getBytes("US-ASCII")).isEmpty)
    assert(VideoKernel.Y4m.probe("YUV4MPEG2 W2 H2 F24:1 C999\n".getBytes("US-ASCII")).isEmpty)
    // absurd crafted dimensions fail the row, not the JVM
    assert(VideoKernel.Y4m.probe(
      "YUV4MPEG2 W999999 H999999 F24:1 Cmono\n".getBytes("US-ASCII")).isEmpty)
    // a truncated trailing frame is dropped; the whole frames survive
    val good = y4m("YUV4MPEG2 W2 H1 F24:1 Cmono", Array[Byte](1, 2), Array[Byte](3, 4))
    val truncated = good.dropRight(1)
    assert(VideoKernel.Y4m.probe(truncated).get.nFrames == 1L)
    assert(VideoKernel.Y4m.decodeFrames(truncated, 1, 4).map(_.luma.toSeq) == Seq(Seq(1, 2)))
    // garbage between frames ends the stream at the last whole frame
    val garbage = good ++ "NOTAFRAME".getBytes("US-ASCII")
    assert(VideoKernel.Y4m.probe(garbage).get.nFrames == 2L)
  }

  test("VideoKernel.Y4m: y4mFromDocuments payloads round-trip through the real parser") {
    import graft.operators.VideoKernel
    val docs = Tables.load(spark, sfDir, "documents").limit(20)
    val rows = Multimodal.y4mFromDocuments(docs)
      .select(col("media_id"), col("payload")).as[(Long, Array[Byte])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, payload) =>
      val meta = VideoKernel.Y4m.probe(payload).get
      assert(meta.width == 2 && meta.height == 2 && meta.fps == 24.0)
      assert(meta.nFrames >= 2L && meta.nFrames <= 8L, meta.toString)
      val frames = VideoKernel.Y4m.decodeFrames(payload, 1, 64)
      assert(frames.size.toLong == meta.nFrames)
      assert(frames.forall(_.luma.length == 4))
    }
    // and the in-plan builder matches a reference reconstruction for one doc
    val (_, p) = rows.head
    val n = VideoKernel.Y4m.probe(p).get.nFrames
    assert(new String(p.take(28), "US-ASCII") == "YUV4MPEG2 W2 H2 F24:1 Cmono\n")
    assert(p.length == 28 + n * (6 + 4))
  }

  test("decodeImage/decodeAudioPcm: malformed payloads with valid magic fail the ROW, never throw") {
    // round-13 self-review: JDK readers throw RUNTIME exceptions (not
    // just IOException) on malformed bodies — GIFImageReader can
    // IndexOutOfBounds on a bad LZW table. A payload passing the
    // magic sniff but with a garbage body must decode as None (the
    // stub fallback path), never escape as a task-killing exception.
    val rnd = new scala.util.Random(99)
    for (magic <- Seq(
        Array[Byte](0x89.toByte, 'P', 'N', 'G'),
        Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte),
        "GIF89a".getBytes("US-ASCII"),
        "BM".getBytes("US-ASCII"))) {
      val junk = new Array[Byte](256); rnd.nextBytes(junk)
      val p = magic ++ junk
      assert(Multimodal.decodeImage(p).isEmpty, s"magic ${magic.toSeq} must fail its row")
      assert(Multimodal.decodeValues(p).nonEmpty) // stub fallback engages
    }
    val wavJunk = ("RIFF1234WAVE".getBytes("ISO-8859-1")) ++ {
      val j = new Array[Byte](128); rnd.nextBytes(j); j
    }
    assert(Multimodal.decodeAudioPcm(wavJunk).isEmpty, "corrupt WAV must fail its row")
    // well-formed containers of formats this reader does not decode
    // (float, WAVE_FORMAT_EXTENSIBLE, 24-bit PCM) fail the row too, so
    // audioRmsWindows folds codepoints instead of misread low bytes
    def container(tag: Int, bits: Int, fmtTail: Array[Byte]): Array[Byte] = {
      val fmtLen = 16 + fmtTail.length
      val data = Array.tabulate(96)(i => (i * 7).toByte)
      val b = java.nio.ByteBuffer.allocate(20 + fmtLen + 8 + data.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(b.capacity - 8).put("WAVE".getBytes("US-ASCII"))
      b.put("fmt ".getBytes("US-ASCII")).putInt(fmtLen).putShort(tag.toShort).putShort(1)
        .putInt(8000).putInt(8000 * bits / 8).putShort((bits / 8).toShort)
        .putShort(bits.toShort).put(fmtTail)
      b.put("data".getBytes("US-ASCII")).putInt(data.length).put(data)
      b.array()
    }
    val pcmGuid = Array(1, 0, 0, 0, 0, 0, 0x10, 0, 0x80, 0, 0, 0xaa, 0, 0x38, 0x9b, 0x71)
      .map(_.toByte)
    val extensible = java.nio.ByteBuffer.allocate(24).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(22).putShort(16).putInt(4).put(pcmGuid).array()
    for ((name, p) <- Seq(
        "float" -> container(3, 32, Array.empty),
        "WAVE_FORMAT_EXTENSIBLE" -> container(0xFFFE, 16, extensible),
        "24-bit PCM" -> container(1, 24, Array.empty))) {
      assert(Multimodal.wavHeader(p).nonEmpty, s"$name: container must parse")
      assert(Multimodal.decodeAudioPcm(p).isEmpty, s"$name must fail its row")
    }
  }

  test("decodeImage: palette-indexed images take the color path, not the raw-sample fast path") {
    // round-13 self-review regression: GIF / indexed PNG are ALSO
    // single-band 8-bit, but the sample is a palette INDEX — reading
    // it raw would hash an all-white GIF as luma 0 (index 0). The
    // gray fast path must require a non-indexed TYPE_GRAY color model.
    import java.awt.image.{BufferedImage, IndexColorModel}
    val r = new Array[Byte](256); val g = new Array[Byte](256); val b = new Array[Byte](256)
    r(0) = 255.toByte; g(0) = 255.toByte; b(0) = 255.toByte // index 0 = white
    val cm = new IndexColorModel(8, 256, r, g, b)
    val img = new BufferedImage(8, 8, BufferedImage.TYPE_BYTE_INDEXED, cm)
    // all pixels stay at index 0 (white)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "gif", bos))
    val (w, h, px) = Multimodal.decodeImage(bos.toByteArray).get
    assert(w == 8 && h == 8)
    assert(px.forall(_ == 255), s"white palette GIF must decode to luma 255, got ${px.take(4).toSeq}")
    // and a genuine grayscale PNG still reads raw samples exactly
    val gray = new BufferedImage(4, 4, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 4; x <- 0 until 4) gray.getRaster.setSample(x, y, 0, 10)
    val bos2 = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(gray, "png", bos2))
    val (_, _, px2) = Multimodal.decodeImage(bos2.toByteArray).get
    assert(px2.forall(_ == 10), s"gray PNG must decode raw (no sRGB gamma), got ${px2.take(4).toSeq}")
  }

  // --- VideoKernel.MjpegAvi: real container walk + real JPEG codec ------

  test("VideoKernel.MjpegAvi: hand-built container probes and JPEG-decodes frame-exact") {
    import graft.operators.VideoKernel
    val f0 = Multimodal.encodeQuadJpeg16(Array(10, 20, 30, 40))
    val f1 = Multimodal.encodeQuadJpeg16(Array(200, 200, 200, 200))
    val f2 = Multimodal.encodeQuadJpeg16(Array(0, 255, 0, 255))
    val p = Multimodal.buildMjpegAvi(16, 16, 40000, Seq(f0, f1, f2))
    val meta = VideoKernel.MjpegAvi.probe(p).get
    assert(meta.width == 16 && meta.height == 16 && meta.fps == 25.0 &&
      meta.nFrames == 3L && meta.codec == "mjpeg", meta.toString)
    val all = VideoKernel.MjpegAvi.decodeFrames(p, everyK = 1, maxFrames = 64)
    assert(all.map(_.frameIdx) == Seq(0L, 1L, 2L))
    assert(all.forall(f => f.width == 16 && f.height == 16 && f.luma.length == 256))
    // quality-1.0 block-constant JPEG round-trips BIT-EXACTLY: every
    // pixel of each 8x8 quadrant decodes back to its source value
    def quads(luma: Array[Int]): Seq[Set[Int]] =
      Seq((0, 0), (0, 8), (8, 0), (8, 8)).map { case (y0, x0) =>
        (for (y <- y0 until y0 + 8; x <- x0 until x0 + 8) yield luma(y * 16 + x)).toSet
      }
    assert(quads(all(0).luma) == Seq(Set(10), Set(20), Set(30), Set(40)))
    assert(quads(all(1).luma) == Seq(Set(200), Set(200), Set(200), Set(200)))
    assert(quads(all(2).luma) == Seq(Set(0), Set(255), Set(0), Set(255)))
    // everyK sampling keeps TRUE frame indexes
    val sampled = VideoKernel.MjpegAvi.decodeFrames(p, everyK = 2, maxFrames = 64)
    assert(sampled.map(_.frameIdx) == Seq(0L, 2L))
  }

  test("VideoKernel.MjpegAvi: row-fails-never-task — bad magic, crafted header, truncation, garbage chunk") {
    import graft.operators.VideoKernel
    val k = VideoKernel.MjpegAvi
    assert(k.probe(Array.empty[Byte]).isEmpty)
    assert(k.probe("JUNKJUNKJUNKJUNK".getBytes("US-ASCII")).isEmpty)
    // RIFF but not AVI (a WAV header) is not this container
    assert(k.probe("RIFF   WAVE".getBytes("ISO-8859-1")).isEmpty)
    val good = Multimodal.buildMjpegAvi(16, 16, 40000,
      Seq(Multimodal.encodeQuadJpeg16(Array(1, 2, 3, 4)),
        Multimodal.encodeQuadJpeg16(Array(5, 6, 7, 8))))
    // crafted avih fields fail the ROW: the 56-byte main header sits
    // at offset 32 (RIFF 12 + LIST hdr 8 + 'hdrl' 4 + 'avih' hdr 8);
    // dwMicroSecPerFrame@+0, dwWidth@+32, dwHeight@+36
    def patched(off: Int, v: Long): Array[Byte] = {
      val c = good.clone()
      for (i <- 0 until 4) c(32 + off + i) = ((v >> (8 * i)) & 0xff).toByte
      c
    }
    assert(k.probe(patched(0, 0L)).isEmpty, "zero usPerFrame")
    assert(k.probe(patched(32, 0L)).isEmpty, "zero width")
    assert(k.probe(patched(32, 99999999L)).isEmpty, "absurd dimensions (w*h > 64 MPx)")
    assert(k.probe(patched(36, 0xFFFFFFFFL)).isEmpty, "u32-max height")
    // u32-max on BOTH sides: w*h wraps Long negative — a product-only
    // check would pass it (round-13 self-review)
    val wh = { val c = patched(32, 0xFFFFFFFFL); for (i <- 0 until 4) c(32 + 36 + i) = 0xFF.toByte; c }
    assert(k.probe(wh).isEmpty, "u32-max width x height (Long overflow)")
    // truncation drops the trailing frame; whole chunks survive
    val truncated = java.util.Arrays.copyOfRange(good, 0, good.length - 10)
    assert(k.probe(truncated).get.nFrames == 1L)
    assert(k.decodeFrames(truncated, 1, 4).map(_.frameIdx) == Seq(0L))
    // a garbage JPEG payload drops ITS frame only — chunk framing is
    // independent of payload validity, so the walk continues
    val withGarbage = Multimodal.buildMjpegAvi(16, 16, 40000,
      Seq(Multimodal.encodeQuadJpeg16(Array(1, 2, 3, 4)),
        "notajpeg".getBytes("US-ASCII"),
        Multimodal.encodeQuadJpeg16(Array(5, 6, 7, 8))))
    assert(k.probe(withGarbage).get.nFrames == 3L) // container-level count
    assert(k.decodeFrames(withGarbage, 1, 64).map(_.frameIdx) == Seq(0L, 2L))
  }

  test("VideoKernel.MjpegAvi: mjpegAviFromDocuments payloads round-trip through the real codec") {
    import graft.operators.VideoKernel
    val docs = Tables.load(spark, sfDir, "documents").limit(20)
    val rows = Multimodal.mjpegAviFromDocuments(docs)
      .select(col("media_id"), col("payload")).as[(Long, Array[Byte])].collect()
    val srcs = docs.filter(col("doc_id").isNotNull)
      .select(col("doc_id").cast("long"), encode(col("text"), "UTF-8"))
      .as[(Long, Array[Byte])].collect().toMap
    assert(rows.nonEmpty)
    rows.foreach { case (id, payload) =>
      val src = srcs(id)
      val meta = VideoKernel.MjpegAvi.probe(payload).get
      assert(meta.width == 16 && meta.height == 16 && meta.fps == 25.0)
      assert(meta.nFrames == (src.length % 7 + 2).toLong, meta.toString)
      val frames = VideoKernel.MjpegAvi.decodeFrames(payload, 1, 64)
      assert(frames.size.toLong == meta.nFrames)
      // decoded luma matches the oracle's byte arithmetic exactly:
      // quadrant j of frame f = src byte at (f*17 + j*5) mod nbytes
      frames.foreach { fr =>
        val f = fr.frameIdx.toInt
        val want = Array.tabulate(4)(j => src((f * 17 + j * 5) % src.length) & 0xff)
        for (y <- 0 until 16; x <- 0 until 16)
          assert(fr.luma(y * 16 + x) == want((y / 8) * 2 + (x / 8)),
            s"id=$id f=$f px($x,$y)")
      }
    }
  }

  test("container parsers never throw: random truncations and bit-flips of valid payloads row-fail at worst") {
    // the hand-written byte walkers (Y4m header/FRAME walk, MjpegAvi
    // RIFF walk, WAV header parse, ImageIO wrappers) must uphold
    // row-fails-never-task under ARBITRARY corruption, not just the
    // crafted cases above — 300 mutations per container class:
    // truncate at a random point, flip a random byte, or both. Any
    // exception here is a task killer in production; None/short-decode
    // is the only acceptable outcome.
    import graft.operators.VideoKernel
    val rnd = new scala.util.Random(4242)
    val y4mP = y4m("YUV4MPEG2 W4 H2 F30:1 C420",
      Array.fill(12)(7.toByte), Array.fill(12)(9.toByte))
    val aviP = Multimodal.buildMjpegAvi(16, 16, 40000,
      Seq(Multimodal.encodeQuadJpeg16(Array(9, 18, 27, 36)),
        Multimodal.encodeQuadJpeg16(Array(45, 54, 63, 72))))
    val pngP = {
      import java.awt.image.BufferedImage
      val img = new BufferedImage(8, 8, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, (x * 32) << 8)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    val wavData = Array.tabulate(300)(i => (i * 29 + 3).toByte)
    val wavPs = Seq(
      jdkWav(wavData.take(296), new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, false)),
      Multimodal.buildMulawWav(wavData, 8000),
      Multimodal.buildAlawWav(wavData, 8000),
      Multimodal.buildImaAdpcmWav(wavData, 8000),
      Multimodal.buildImaAdpcmStereoWav(wavData, 8000))
    def mutate(p: Array[Byte]): Array[Byte] = {
      var c = p.clone()
      if (rnd.nextBoolean() && c.length > 1)
        c = java.util.Arrays.copyOfRange(c, 0, 1 + rnd.nextInt(c.length - 1))
      if (rnd.nextBoolean() && c.nonEmpty) {
        val i = rnd.nextInt(c.length)
        c(i) = (c(i) ^ (1 << rnd.nextInt(8))).toByte
      }
      c
    }
    for (_ <- 0 until 300) {
      val my = mutate(y4mP)
      VideoKernel.Y4m.probe(my)
      VideoKernel.Y4m.decodeFrames(my, 1, 16)
      val ma = mutate(aviP)
      VideoKernel.MjpegAvi.probe(ma)
      VideoKernel.MjpegAvi.decodeFrames(ma, 1, 16)
      Multimodal.decodeImage(mutate(pngP))
    }
    // WAV legs: no throw, and no sample count beyond what the bytes can
    // encode — a 4-bit codec yields at most two samples per byte, every
    // other leg at most one (no hang, no unbounded allocation)
    for (_ <- 0 until 300; p <- wavPs) {
      val m = mutate(p)
      val perByte = if (Multimodal.wavHeader(m).exists(_.tag == 0x11)) 2 else 1
      Multimodal.decodeAudioPcm(m).foreach { case (_, s) =>
        assert(s.length <= perByte * m.length, s"${s.length} samples from ${m.length} bytes")
      }
    }
  }

  test("VideoKernel.Ffmpeg: real subprocess decode when the binaries exist") {
    import graft.operators.VideoKernel
    assume(VideoKernel.ffmpegAvailable, "ffmpeg/ffprobe not on PATH — stub sandbox")
    // synthesize a 1 s 64x48 8 fps test clip with ffmpeg itself
    val gen = new ProcessBuilder("ffmpeg", "-v", "error", "-f", "lavfi",
      "-i", "testsrc=duration=1:size=64x48:rate=8", "-f", "avi", "pipe:1").start()
    val payload = gen.getInputStream.readAllBytes()
    assert(gen.waitFor() == 0 && payload.nonEmpty, "test clip generation failed")
    val k = new VideoKernel.Ffmpeg()
    val meta = k.probe(payload).get
    assert(meta.width == 64 && meta.height == 48 && meta.fps == 8.0, meta.toString)
    val frames = k.decodeFrames(payload, everyK = 2, maxFrames = 3)
    assert(frames.length == 3 && frames.map(_.frameIdx) == Seq(0L, 2L, 4L))
    assert(frames.forall(_.luma.length == 64 * 48))
    assert(frames.forall(_.luma.forall(v => v >= 0 && v <= 255)))
    // and through the operator: same plumbing as the stub path
    import spark.implicits._
    val video = Seq((1L, payload)).toDF("media_id", "payload")
    val rows = Multimodal.frameFeatures(video, everyK = 2, kernel = k).collect()
    assert(rows.length > 0 && rows.forall(_.getLong(4) == 64L * 48))
  }
}
