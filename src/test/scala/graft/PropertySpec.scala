package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.CodecUtil
import graft.operators.FirehoseTransform

/** Property tests (SURVEY.md §5.2 item 3): codec round-trips and
  * size-governor invariants.
  */
class PropertySpec extends SparkSpec {
  import Fixtures._
  import spark.implicits._

  /** Deterministic property driver: sample the generator across fixed
    * seeds (scalatest-scalacheck bridge isn't on the classpath).
    */
  private def forAllSampled[A](gen: Gen[A], n: Int = 30)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default.withSize(20), Seed(i.toLong))
        .foreach(body)
    }

  test("property: gunzip . gzip = id for arbitrary byte arrays") {
    forAllSampled(Gen.containerOf[Array, Byte](Gen.choose(Byte.MinValue, Byte.MaxValue)), 100) { bytes =>
      assert(CodecUtil.gunzip(CodecUtil.gzip(bytes)).sameElements(bytes))
    }
  }

  test("property: IMA-ADPCM decode — sample count closed form, 16-bit bounds, mono == stereo ch0 slice") {
    import graft.operators.Multimodal
    val bytesGen = Gen.containerOf[Array, Byte](Gen.choose(Byte.MinValue, Byte.MaxValue))
      .suchThat(_.length >= 8)
    forAllSampled(bytesGen, 40) { bytes =>
      // mono: blocks of 252 data bytes; samples = per block 1 + 2*len
      val (_, mono) = Multimodal.decodeAudioPcm(
        Multimodal.buildImaAdpcmWav(bytes, 8000)).get
      val wantMono = bytes.grouped(252).map(c => 1 + 2 * c.length).sum
      assert(mono.length == wantMono, s"mono count ${mono.length} != $wantMono")
      assert(mono.forall(s => s >= -32768 && s <= 32767), "decode must stay 16-bit")
      // stereo: usable = whole 8-byte group pairs; ch0 samples per
      // block = 1 + data-bytes-in-block (half the bytes, two nibbles)
      val usable = bytes.take(bytes.length - bytes.length % 8)
      val (_, st) = Multimodal.decodeAudioPcm(
        Multimodal.buildImaAdpcmStereoWav(bytes, 8000)).get
      val wantSt = usable.grouped(248).map(c => 1 + c.length).sum
      assert(st.length == wantSt, s"stereo ch0 count ${st.length} != $wantSt")
      assert(st.forall(s => s >= -32768 && s <= 32767))
      // cross-check: stereo ch0 == mono decode of ch0's bytes, blocked
      // the stereo way (248-byte stereo block -> 124 ch0 bytes/block)
      val ch0 = usable.zipWithIndex.collect {
        case (b, j) if ((j % 248) / 4) % 2 == 0 => b
      }
      val ref = ch0.grouped(124).flatMap { blockBytes =>
        var pred = 0; var idx = 0
        val out = scala.collection.mutable.ArrayBuffer(0)
        blockBytes.foreach { by =>
          val (p1, i1) = Multimodal.imaStep(pred, idx, by & 0xf)
          val (p2, i2) = Multimodal.imaStep(p1, i1, (by & 0xff) >> 4)
          out += p1; out += p2; pred = p2; idx = i2
        }
        out
      }.toSeq
      assert(st.toSeq == ref, "stereo ch0 must equal an independent per-block fold of ch0's bytes")
    }
  }

  test("property: packBinsNextFit equals an independent sequential fold on random shards") {
    // extended to the whole packer family: FFD at maxOpen 1/2/4 and
    // packStream on a batch Dataset, each against its own reference
    import graft.operators.CorpusOps
    import graft.streaming.StatefulOps
    import StatefulOps.PackDoc
    val budget = 512L
    val rowsGen = Gen.listOfN(40, for {
      shard <- Gen.oneOf("a", "b", "c")
      tok <- Gen.choose(1L, 700L) // spans under- and over-budget (512)
    } yield (shard, tok))
    // reference first-fit: an immutable Vector of open (bin, fill)
    // pairs, oldest first; a new bin past the cap drops the head
    def firstFit(docs: Seq[(Long, Long)], maxOpen: Int): Seq[(Long, (Long, Long))] = {
      var open = Vector.empty[(Long, Long)]
      var next = 0L
      docs.map { case (id, tok) =>
        open.indexWhere(_._2 + tok <= budget) match {
          case -1 =>
            open = (if (open.size == maxOpen) open.tail else open) :+ ((next, tok))
            next += 1L
            id -> ((next - 1L, tok))
          case i =>
            val (b, f) = open(i)
            open = open.updated(i, (b, f + tok))
            id -> ((b, f + tok))
        }
      }
    }
    def perShard(docs: Seq[(String, Long, Long)])(
        fold: Seq[(Long, Long)] => Seq[(Long, (Long, Long))]): Map[(String, Long), (Long, Long)] =
      docs.groupBy(_._1).flatMap { case (s, ds) =>
        fold(ds.map(d => (d._2, d._3))).map { case (id, bf) => (s, id) -> bf }
      }
    def assigned(df: org.apache.spark.sql.DataFrame): Map[(String, Long), (Long, Long)] =
      df.collect().map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(3), r.getLong(4))))
        .toMap
    forAllSampled(rowsGen, 15) { rows =>
      val docs = rows.zipWithIndex.map { case ((s, t), i) => (s, i.toLong, t) }
      val df = docs.toDF("shard", "doc_id", "n_tok")
      val got = assigned(CorpusOps.packBinsNextFit(df, col("shard"), col("doc_id"),
          col("n_tok"), budget))
      // reference: a plain Scala fold per shard in doc_id order
      val want = perShard(docs) { ds =>
        var bin = 0L; var fill = 0L
        ds.sortBy(_._1).map { case (id, tok) =>
          if (fill == 0L || fill + tok <= budget) fill += tok
          else { bin += 1L; fill = tok }
          id -> ((bin, fill))
        }
      }
      assert(got == want, s"fold diverged on ${rows.take(6)}...")
      Seq(1, 2, 4).foreach { maxOpen =>
        val ffd = assigned(CorpusOps.packBinsFirstFitDecreasing(df, col("shard"),
          col("doc_id"), col("n_tok"), budget, maxOpen))
        val ffdWant = perShard(docs)(ds =>
          firstFit(ds.sortBy { case (id, tok) => (-tok, id) }, maxOpen))
        assert(ffd == ffdWant, s"FFD maxOpen=$maxOpen diverged on ${rows.take(6)}...")
      }
      // a batch Dataset is one trigger: first-fit in doc_id order
      val streamed = StatefulOps.packStream(
          docs.map { case (s, id, t) => PackDoc(s, id, t) }.toDS(), budget, maxOpen = 2)
        .collect().map(a => (a.shard, a.doc_id) -> ((a.bin_idx, a.fill_after))).toMap
      val streamWant = perShard(docs)(ds => firstFit(ds.sortBy(_._1), 2))
      assert(streamed == streamWant, s"packStream diverged on ${rows.take(6)}...")
    }
  }

  test("property: base64 wire encode/decode round-trips through the transform") {
    val msgGen = Gen.listOf(Gen.alphaNumStr.suchThat(_.length < 50)).map(_.take(5))
    forAllSampled(msgGen.suchThat(_.nonEmpty), 15) { msgs =>
      {
        val out = FirehoseTransform.transform(
          Seq(record("r", envelopeJson("DATA_MESSAGE", msgs))).toDF("recordId", "data"))
          .collect().head
        assert(out.getString(1) == "Ok")
        val payload = new String(java.util.Base64.getDecoder.decode(out.getString(2)), "UTF-8")
        assert(payload == msgs.map(m => m.replace("Hello", "Hell Yeah") + "\n").mkString)
      }
    }
  }

  test("property: size governor — kept prefix fits cap, dropped set is exactly the tail") {
    val sizesGen = Gen.listOfN(8, Gen.choose(1, 50)).map(_.map(n => "x" * (n * 1000)))
    forAllSampled(sizesGen, 10) { bigs =>
      {
        val records = bigs.zipWithIndex.map { case (m, i) =>
          record(f"r$i%03d", envelopeJson("DATA_MESSAGE", Seq(m)))
        }
        val cap = 60000L
        val out = FirehoseTransform.sizeGovernor(
          FirehoseTransform.transform(records.toDF("recordId", "data")), cap)
          .collect().sortBy(_.getString(0))
        val kept = out.filter(_.getString(1) == "Ok")
        val dropped = out.filter(_.getString(1) == "Dropped")
        // partition: kept ++ dropped = all, disjoint
        assert(kept.length + dropped.length == out.length)
        // kept prefix total <= cap
        val keptSize = kept.map(r => r.getString(2).length.toLong + r.getString(0).length).sum
        assert(keptSize <= cap)
        // prefix property: no Ok record after the first Dropped one
        val statuses = out.map(_.getString(1))
        val firstDrop = statuses.indexOf("Dropped")
        if (firstDrop >= 0) assert(statuses.drop(firstDrop).forall(_ == "Dropped"))
        // dropped records keep payloads for re-ingestion
        dropped.foreach(r => assert(!r.isNullAt(3)))
      }
    }
  }

  test("property: bpeTokenize invariants — concat restores the word, counts agree, merges only shrink") {
    // for random lowercase corpora and random merge tables: subword
    // concatenation reproduces every word exactly, n_subwords equals
    // the piece count, and tokenizing never yields more pieces than
    // characters (merges only shrink)
    val wordGen = Gen.nonEmptyListOf(Gen.choose('a', 'e')).map(_.mkString) // small alphabet -> merges fire
    val textGen = Gen.nonEmptyListOf(wordGen).map(_.take(8).mkString(" "))
    val mergeGen = Gen.nonEmptyListOf(for {
      a <- Gen.nonEmptyListOf(Gen.choose('a', 'e')).map(_.take(2).mkString)
      b <- Gen.nonEmptyListOf(Gen.choose('a', 'e')).map(_.take(2).mkString)
    } yield (a, b)).map(_.take(12))
    val caseGen: Gen[(List[String], List[(String, String)])] =
      Gen.zip(Gen.nonEmptyListOf(textGen).map(_.take(5)), mergeGen)
    forAllSampled(caseGen, 8) {
      case (texts, merges) =>
        val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
        val out = graft.operators.TextAnalysis
          .bpeTokenize(df, col("id"), col("text"), merges, rounds = 6)
          .select("word", "tokens", "n_subwords").collect()
        assert(out.nonEmpty)
        out.foreach { r =>
          val (word, toks, n) = (r.getString(0), r.getString(1), r.getLong(2))
          val pieces = toks.split(" ")
          assert(pieces.mkString("") == word,
            s"concat of '$toks' != '$word' under merges $merges")
          assert(pieces.length.toLong == n, s"n_subwords $n != ${pieces.length}")
          assert(n >= 1 && n <= word.length.toLong, s"piece count $n out of [1, ${word.length}]")
        }
    }
  }

  test("property: maintainAgg(agg(s0), diff(s0, s1)) == agg(s1) for arbitrary snapshot pairs") {
    import graft.operators.ChangeCapture
    // snapshots over a small key space so inserts/deletes/updates and
    // group migrations all occur; groups drawn from 3 values so some
    // empty out entirely
    val rowGen = for {
      k <- Gen.choose(0L, 14L)
      g <- Gen.oneOf("a", "b", "c")
      v <- Gen.choose(-50L, 50L)
    } yield (k, g, v)
    val snapGen = Gen.listOf(rowGen).map(_.take(12)
      .groupBy(_._1).map(_._2.head).toList) // one row per key
    forAllSampled(Gen.zip(snapGen, snapGen), 12) { case (rows0, rows1) =>
      if (rows0.nonEmpty) {
        val s0 = rows0.toDF("k", "g", "v")
        val s1 = if (rows1.nonEmpty) rows1.toDF("k", "g", "v")
          else s0.limit(0)
        def agg(df: org.apache.spark.sql.DataFrame) =
          df.groupBy(col("g")).agg(count(lit(1)).as("cnt"), sum(col("v")).as("v"))
        val diff = ChangeCapture.snapshotDiff(s0, s1, Seq("k"), Seq("g", "v"))
        val got = ChangeCapture.maintainAgg(agg(s0), diff, Seq("g"), Seq("v"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        val want = agg(s1)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        assert(got == want, s"s0=$rows0 s1=$rows1: incremental $got != full $want")
      }
    }
  }

  test("property: rankFuseScored == rank-then-reciprocalRankFusion on random scored legs") {
    // the round-11 fusion (one query_id exchange) must be a pure plan
    // rewrite of the composed path: rank each leg yourself (score
    // desc, neighbor asc, top-k), feed reciprocalRankFusion — the
    // fused operator over the RAW scored candidates has to agree
    // row-for-row, including rrf_u nano-units and tie-breaks
    import graft.operators.Similarity
    val gen = for {
      nq <- Gen.choose(1, 4)
      rows <- Gen.listOfN(60, for {
        q <- Gen.choose(0L, nq.toLong - 1)
        n <- Gen.choose(0L, 11L)
        s <- Gen.choose(-5000, 5000)
      } yield (q, n, s.toDouble / 100.0))
    } yield rows.distinct
    forAllSampled(gen, 12) { rows =>
      if (rows.nonEmpty) {
        // a leg must have ONE score per (query, neighbor) — dedupe
        val legRows = rows.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
        val half = legRows.length / 2
        val legs = Seq(legRows.take(half), legRows.drop(half))
          .filter(_.nonEmpty)
          .map(_.toDF("query_id", "neighbor_id", "score"))
        val fused = Similarity.rankFuseScored(legs, perLegTopK = 3, k = 60, topK = 4)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
        val composed = Similarity.reciprocalRankFusion(legs.map { leg =>
          import org.apache.spark.sql.expressions.Window
          val w = Window.partitionBy(col("query_id"))
            .orderBy(col("score").desc, col("neighbor_id"))
          leg.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
            .select(col("query_id"), col("neighbor_id"), col("rank"))
        }, k = 60, topK = 4)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
        assert(fused == composed,
          s"fused path diverged:\nfused=$fused\ncomposed=$composed")
      }
    }
  }

  test("pHash invariants: constant image hashes to zero; exact-tile upscales pool to the identical hash") {
    import graft.operators.Multimodal
    // constant luminance: every AC coefficient is exactly 0, the AC
    // median is 0, strict-> sets no bit, the DC bit is 0 by contract
    val flat = Array.fill(1024)(137)
    assert(Multimodal.phashBits(Multimodal.pool32(32, 32, flat)) == 0L)
    // an exact 2x2-block upscale pools back to the SAME 32x32 grid,
    // so the DCT sees identical input — hash equality is exact, not
    // approximate (the pooling contract at integer tile boundaries)
    val rnd = new scala.util.Random(11)
    val g = Array.fill(1024)(rnd.nextInt(256))
    val up = new Array[Int](64 * 64)
    for (y <- 0 until 64; x <- 0 until 64) up(y * 64 + x) = g((y / 2) * 32 + (x / 2))
    assert(Multimodal.phashBits(Multimodal.pool32(32, 32, g)) ==
      Multimodal.phashBits(Multimodal.pool32(64, 64, up)))
    // and a random grid produces a well-mixed hash (not degenerate)
    val bits = java.lang.Long.bitCount(Multimodal.phashBits(Multimodal.pool32(32, 32, g)))
    assert(bits >= 16 && bits <= 48, s"random-grid pHash should be mixed, got $bits bits")
  }
}

/** B15: approx_count_distinct within the default 5% relative error. */
class ApproxSpec extends SparkSpec {
  test("approx_count_distinct within 5% rsd of exact counts") {
    val li = Tables.load(spark, "/root/testdata/sf0.01", "lineitem")
    val Array(approxParts, approxOrders) = SparkEntry
      .queries("q29_approx_distinct")(spark, "/root/testdata/sf0.01")
      .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
    val exactParts = li.select(countDistinct(col("l_partkey"))).head().getLong(0)
    val exactOrders = li.select(countDistinct(col("l_orderkey"))).head().getLong(0)
    assert(math.abs(approxParts - exactParts).toDouble / exactParts < 0.05)
    assert(math.abs(approxOrders - exactOrders).toDouble / exactOrders < 0.05)
  }

  test("approx_percentile within 1% of exact percentile (q76's scale path)") {
    val li = Tables.load(spark, "/root/testdata/sf0.01", "lineitem")
    val row = li.agg(
      percentile(col("l_extendedprice"), lit(0.5)).as("exact"),
      approx_percentile(col("l_extendedprice"), lit(0.5), lit(10000)).as("approx")).head()
    val (exact, approx) = (row.getDouble(0), row.getDouble(1))
    assert(math.abs(approx - exact) / exact < 0.01,
      s"approx median $approx vs exact $exact")
  }

  test("DoubleOrderBits is order-preserving (bucket key never inverts value order)") {
    import graft.functions.DoubleOrderBitsUtil.orderBits
    val rnd = new scala.util.Random(42)
    val vs = Seq.fill(2000)(rnd.nextDouble() * math.pow(10, rnd.nextInt(12) - 3) *
      (if (rnd.nextBoolean()) 1 else -1)) ++ Seq(0.0, -0.0, 1e-300, -1e-300, 1e300, -1e300)
    val sorted = vs.sorted
    for (shift <- Seq(0, 44, 56); w <- sorted.sliding(2)) {
      assert(java.lang.Long.compareUnsigned(
        orderBits(w.head, shift), orderBits(w.last, shift)) <= 0,
        s"order inverted at shift=$shift for ${w.head} < ${w.last}")
    }
  }

  test("equiDepthBin quartiles balance exactly on 1..100 and boundary rows stay on the left") {
    import graft.operators.Quantiles
    import spark.implicits._
    val df = (1L to 100L).map(v => (v, "g", v)).toDF("id", "grp", "v")
    val out = Quantiles.equiDepthBin(df, col("grp"), col("v"), nBins = 4)
      .select(col("id"), col("bin")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val counts = out.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts == Map(0 -> 25, 1 -> 25, 2 -> 25, 3 -> 25), s"unbalanced: $counts")
    // interpolated boundaries 25.75 / 50.5 / 75.25: 25 left, 26 right
    assert(out(25L) == 0 && out(26L) == 1 && out(50L) == 1 && out(51L) == 2)
  }

  test("winsorize clips to discrete rank-select bounds on 1..100; interior rows untouched") {
    import graft.operators.Quantiles
    import spark.implicits._
    val df = (1L to 100L).map(v => (v, "g", v)).toDF("id", "grp", "v")
    val out = Quantiles.winsorize(df, col("grp"), col("v"), pLo = 0.05, pHi = 0.95)
      .select(col("id"), col("wlo"), col("whi"), col("winsorized")).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    // discrete ranks: floor(.05*99)+1 = 5 -> value 5; floor(.95*99)+1 = 95 -> value 95
    assert(out(1L) == ((5.0, 95.0, 5.0)), s"low tail must clip up: ${out(1L)}")
    assert(out(4L)._3 == 5.0 && out(5L)._3 == 5.0 && out(6L)._3 == 6.0)
    assert(out(95L)._3 == 95.0 && out(96L)._3 == 95.0 && out(100L)._3 == 95.0)
    assert(out(50L)._3 == 50.0, "interior values pass through unchanged")
    // two-sided invariants: clipped set size and value bounds
    assert(out.values.forall(t => t._3 >= 5.0 && t._3 <= 95.0))
    // null semantics (Spark least/greatest SKIP nulls — the operator
    // must gate them explicitly): a null VALUE stays null rather than
    // fabricating a bound; a null-GROUP row survives the left join
    // with null bounds and its RAW value (clip, don't drop)
    val withNulls = Seq(
      (101L, Option("g"), Option(999L)),   // clips to whi
      (102L, Option("g"), None),           // null value -> null out
      (103L, Option.empty[String], Option(7L))) // null group -> raw value
      .toDF("id", "grp", "v").unionByName(
        df.select(col("id"), col("grp").cast("string").as("grp"), col("v")))
    val nOut = Quantiles.winsorize(withNulls, col("grp"), col("v"),
        pLo = 0.05, pHi = 0.95)
      .filter(col("id") >= 101L)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(r.fieldIndex("winsorized"))) None
         else Some(r.getDouble(r.fieldIndex("winsorized"))))).toMap
    // the added row enlarges the group to 101 values, so whi moves to
    // rank floor(.95*100)+1 = 96 -> value 96
    assert(nOut(101L) == Some(96.0), s"outlier must clip: ${nOut(101L)}")
    assert(nOut(102L).isEmpty, "null value must stay null, not become a bound")
    assert(nOut(103L) == Some(7.0), "null-group row passes through with its raw value")
  }

  test("concurrency equals the brute-force point count at every boundary on random intervals") {
    import graft.operators.Temporal
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val iv = (1 to 120).map { i =>
      val s = rnd.nextInt(50).toLong
      (s"k${i % 3}", s, s + rnd.nextInt(12).toLong) // incl. zero-length
    }
    val got = Temporal.concurrency(iv.toDF("k", "s_us", "e_us"),
        "k", "s_us", "e_us")
      .as[(String, Long, Long)].collect()
    // brute force: at boundary t the active count is |{i : s <= t < e}|
    val byKey = iv.groupBy(_._1)
    got.foreach { case (k, t, active) =>
      val want = byKey(k).count { case (_, s, e) => s <= t && t < e }
      assert(active == want, s"key $k at $t: sweep=$active brute=$want")
    }
    // every boundary appears exactly once per key
    val bounds = iv.flatMap { case (k, s, e) => Seq((k, s), (k, e)) }.toSet
    assert(got.map(r => (r._1, r._2)).toSet == bounds &&
      got.length == bounds.size, "one row per distinct boundary")
  }

  test("topP equals the brute-force nucleus definition across random weights and thresholds") {
    import graft.operators.CorpusOps
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1L to 300L).map(i =>
      (i, s"g${i % 3}", 1L + rnd.nextInt(1000).toLong))
    val df = rows.toDF("id", "grp", "w")
    for (p <- Seq(1, 200, 500, 800, 999, 1000)) {
      val got = CorpusOps.topP(df, col("grp"), col("id"), col("w"), p)
        .select("id").as[Long].collect().toSet
      val want = rows.groupBy(_._2).flatMap { case (_, g) =>
        val sorted = g.sortBy(r => (-r._3, r._1))
        val total = g.map(_._3).sum
        sorted.scanLeft(0L)(_ + _._3).zip(sorted)
          .filter { case (cumBefore, _) => cumBefore * 1000 < p * total }
          .map(_._2._1)
      }.toSet
      assert(got == want, s"p=$p: ${got.diff(want)} extra, ${want.diff(got)} missing")
    }
  }

  test("kCore with enough iterations equals the brute-force peel fixpoint on random graphs") {
    import graft.operators.Graph
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val n = 30
      val edges = Seq.fill(80)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val k = 2 + trial
      val got = Graph.kCore(edges.toDF("src", "dst"), "src", "dst", k, iters = n)
        .as[(Long, Long)].collect().toMap
      // brute force: peel to fixpoint
      var es = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      var changed = true
      while (changed) {
        val deg = es.flatMap(e => Seq(e._1, e._2)).groupBy(identity).view.mapValues(_.size.toLong).toMap
        val keep = deg.filter(_._2 >= k).keySet
        val next = es.filter(e => keep(e._1) && keep(e._2))
        changed = next.size != es.size
        es = next
      }
      val want = es.flatMap(e => Seq(e._1, e._2)).groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(got == want, s"trial $trial k=$k: got $got want $want")
    }
  }

  test("labelPropagation equals the brute-force synchronous min-tie rounds on random graphs") {
    import graft.operators.Graph
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      val n = 25
      val edges = Seq.fill(60)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val iters = 3 + trial
      val got = Graph.labelPropagation(edges.toDF("src", "dst"), "src", "dst", iters)
        .as[(Long, Long)].collect().toMap
      // brute force: same synchronous rounds in plain Scala
      val und = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
        .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      val adj = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      var labels: Map[Long, Long] = adj.keySet.map(v => v -> v).toMap
      for (_ <- 0 until iters) {
        labels = adj.map { case (node, nbrs) =>
          val counts = nbrs.map(labels).groupBy(identity).view.mapValues(_.size).toMap
          // max count, ties -> smallest label: sort by (-count, label)
          node -> counts.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
        }
      }
      assert(got == labels, s"trial $trial iters=$iters: got $got want $labels")
    }
  }

  test("personalizedPageRank conserves no more than full teleport+damped mass, seeds always hold teleport") {
    import graft.operators.Graph
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val n = 20
    val edges = Seq.fill(50)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }.distinct
    val seeds = Seq(1L, 2L, 3L)
    val ranks = Graph.personalizedPageRank(edges.toDF("src", "dst"), "src", "dst",
        seeds, iters = 4)
      .as[(Long, Long)].collect().toMap
    // total mass can never exceed teleport + damped initial scale
    // (floor-division and dangling nodes only LEAK mass)
    assert(ranks.values.sum <= Graph.RANK_SCALE, s"mass created: ${ranks.values.sum}")
    // every seed in the graph holds at least its teleport share
    val teleportU = Graph.RANK_SCALE * 15L / 100L / seeds.length
    seeds.filter(ranks.contains).foreach { s =>
      assert(ranks(s) >= teleportU, s"seed $s below teleport floor: ${ranks(s)}")
    }
    // non-seed sink nodes (no in-edges) decay to zero
    val hasIn = edges.map(_._2).toSet
    ranks.filter { case (v, _) => !seeds.contains(v) && !hasIn.contains(v) }
      .foreach { case (v, r) => assert(r == 0L, s"sourceless non-seed $v has rank $r") }
  }

  test("bucketed exactPercentiles equals the built-in percentile aggregate") {
    import graft.operators.Quantiles
    val li = Tables.load(spark, "/root/testdata/sf0.01", "lineitem")
    val ps = Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p90" -> 0.9, "p99" -> 0.99)
    val ours = Quantiles.exactPercentiles(li, col("l_returnflag"), col("l_extendedprice"), ps)
      .orderBy(col("_g")).collect()
    val builtin = li.groupBy(col("l_returnflag").as("_g"))
      .agg(ps.map { case (n, p) => percentile(col("l_extendedprice"), lit(p)).as(n) }.head,
        ps.map { case (n, p) => percentile(col("l_extendedprice"), lit(p)).as(n) }.tail: _*)
      .orderBy(col("_g")).collect()
    ours.zip(builtin).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0))
      (1 to ps.length).foreach { i =>
        assert(math.abs(a.getDouble(i) - b.getDouble(i)) < 1e-9,
          s"group ${a.getString(0)} col $i: ${a.getDouble(i)} vs ${b.getDouble(i)}")
      }
    }
  }
}

/** B4: partitioned parquet sink + partition-pruned read-back. */
class PartitionedSinkSpec extends SparkSpec {
  test("partitionBy write, partition-pruned scan on read") {
    val tmp = tmpDir("graft-part")
    Tables.events(spark, sfDir)
      .withColumn("day", to_date(col("ts")))
      .write.partitionBy("event_type").mode("overwrite").parquet(s"$tmp/events")
    val pruned = spark.read.parquet(s"$tmp/events").filter(col("event_type") === "click")
    pruned.collect()
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"), plan.take(1500))
    assert(pruned.count() == Tables.events(spark, sfDir)
      .filter(col("event_type") === "click").count())
  }

  test("IVF cell-partitioned storage: an nprobe read prunes to the probed cells' files") {
    // substantiates SCALE.md's "at 100 TB the corpus is stored
    // bucketed by cell so a query reads nprobe/k of the data": the
    // inverted file IS the storage layout. Write the corpus
    // partitioned by its nearest-centroid cell, then read two cells
    // and assert the scan plans PartitionFilters (no full-corpus read)
    // and touches exactly the probed cells' rows.
    import graft.functions.CentroidAggregator
    import graft.operators.Similarity
    val tmp = tmpDir("graft-ivf-store")
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val centroidUdaf = udaf(new CentroidAggregator(64))
    val centroids = e.groupBy(col("label").cast("int").as("cell"))
      .agg(centroidUdaf(col("embedding")).as("ctr"))
    val assigned = Similarity.assignCells(e, centroids, "vec_id", "embedding")
      .select(col("_id").as("vec_id"), col("_v").as("embedding"), col("cell"))
    assigned.write.partitionBy("cell").mode("overwrite").parquet(s"$tmp/ivf")
    val probed = spark.read.parquet(s"$tmp/ivf")
      .filter(col("cell").isin(0, 1))
    probed.collect()
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"), plan.take(1500))
    val want = assigned.filter(col("cell").isin(0, 1)).count()
    assert(want > 0 && probed.count() == want)
    // and the pruned scan's input partitions cover ONLY the two cells
    assert(probed.select(col("cell")).distinct().collect()
      .map(_.getInt(0)).toSet == Set(0, 1))
  }

  test("schema evolution: appended batches with new columns merge on read") {
    // a long-lived corpus sink gains columns over time (a new quality
    // score, a new provenance field); old files must stay readable and
    // new columns null-fill for them
    import spark.implicits._
    val tmp = tmpDir("graft-evolve")
    Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
      .write.mode("append").parquet(tmp)
    Seq((3L, "gamma", 0.9)).toDF("doc_id", "text", "quality")
      .write.mode("append").parquet(tmp)
    val merged = spark.read.option("mergeSchema", "true").parquet(tmp)
      .orderBy("doc_id").collect()
    assert(merged.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val qIdx = spark.read.option("mergeSchema", "true").parquet(tmp).schema.fieldIndex("quality")
    assert(merged(0).isNullAt(qIdx) && merged(1).isNullAt(qIdx))
    assert(merged(2).getDouble(qIdx) == 0.9)
  }
}
