package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup keeps smallest id per identical payload") {
    val df = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa"), (4L, "aaa")).toDF("id", "text")
    val out = Dedup.exact(df, "id", col("text")).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 3L, 2L -> 1L))
  }

  test("minhash: identical texts share all signatures; disjoint texts differ") {
    val df = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"),
      (3L, "q r s t u v w x")).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(
      Dedup.prepareHashedShingles(df, "doc_id", Dedup.wordShingles("text")), "doc_id")
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }

  test("minhash kernel: signatures, bands and stream band keys equal a plain-Scala fold") {
    // an independent reference for the one MinHash/LSH kernel: batch
    // signatures, batch bands and the stream's band keys all run it,
    // so a stream == batch comparison alone cannot catch a lane error
    val df = Seq[(Long, String)](
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox leaps over the lazy dog again today"),
      (3L, "completely different content with no shared shingles here"),
      (4L, "too short"), // no 3-word shingles
      (5L, null)).toDF("doc_id", "text")
    val hashed = Dedup.prepareHashedShingles(df, "doc_id", Dedup.wordShingles("text"))
    val hs: Map[Long, Seq[Long]] = hashed.collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Long](1)).getOrElse(Nil)).toMap
    assert(hs(1L).nonEmpty && hs(4L).isEmpty && hs(5L).isEmpty)
    // min over the doc's hashes of (A_i * h + B_i) mod P, lane by lane
    val want: Map[Long, Option[Seq[Long]]] = hs.map { case (id, h) =>
      id -> (if (h.isEmpty) None else Some(Dedup.MINHASH_A.indices.map(i =>
        h.map(x => (Dedup.MINHASH_A(i) * x + Dedup.MINHASH_B(i)) % Dedup.MINHASH_P).min)))
    }
    val got = Dedup.minhashSignatures(hashed, "doc_id").collect().map { r =>
      val sig = (1 to 8).map(i => if (r.isNullAt(i)) None else Some(r.getLong(i)))
      r.getLong(0) -> (if (sig.forall(_.isEmpty)) None else Some(sig.map(_.get)))
    }.toMap
    assert(got == want, s"signatures diverge from the reference:\n$got\nvs\n$want")
    val wantBands = want.toSeq.flatMap {
      case (id, Some(sig)) => (0 until 4).map(b => (id, b, s"$b:${sig(2 * b)}:${sig(2 * b + 1)}"))
      case (_, None) => Nil
    }.toSet
    val gotBands = Dedup.lshBands(hashed, "doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(gotBands == wantBands, s"bands diverge from the reference:\n$gotBands\nvs\n$wantBands")
    val streamKeys = graft.streaming.StreamingOps.textBandKeys(df, "doc_id", "text", 3, 8, 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamKeys == wantBands.map(t => (t._1, t._3)))
  }

  test("lsh pipeline finds a true near-dup pair and skips unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base + " tomorrow"
    val far = "completely different content with no shared shingles at all whatsoever here"
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(df, "doc_id", "text", 0.5)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("simhash: near-identical token sets give close fingerprints (hamming)") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    val sh = Dedup.simhash16(df, "doc_id", col("text")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(2L)) <= hamming(sh(1L), sh(3L)))
  }

  test("docs with no shingles are excluded from LSH banding (no shared null-band bucket)") {
    val df = Seq((1L, "too short"), (2L, "also tiny"), (3L, "x"),
      (4L, "a proper document with enough words to shingle normally today"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(df, "doc_id", "text", 0.0)
      .select("id1", "id2").collect()
    // the three shingle-less docs must not pair with each other
    assert(!pairs.exists(r => r.getLong(0) <= 3 && r.getLong(1) <= 3))
  }

  test("shingles: short texts yield empty arrays, no errors") {
    val df = Seq((1L, "one two"), (2L, "abc")).toDF("doc_id", "text")
    val w = df.select(Dedup.wordShingles("text").as("s")).collect()
    assert(w.forall(_.getSeq[String](0).isEmpty))
    val c = df.filter($"doc_id" === 2L).select(Dedup.charShingles("text", 4).as("s")).collect()
    assert(c.head.getSeq[String](0).isEmpty)
  }

  test("connected components merges transitive chains and keeps clusters apart") {
    // chain 1-2-3 (1~3 never a direct pair), separate pair 10-11,
    // plus a long path 20..25 to exercise pointer jumping
    val pairs = (Seq((1L, 2L), (2L, 3L), (10L, 11L)) ++
      (20L until 25L).map(i => (i, i + 1))).toDF("id1", "id2")
    val out = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == (1L, 3L) && out(2L) == (1L, 3L) && out(3L) == (1L, 3L))
    assert(out(10L) == (10L, 2L) && out(11L) == (10L, 2L))
    (20L to 25L).foreach(i => assert(out(i) == (20L, 6L)))
    assert(out.size == 11)
  }

  test("connected components: contraction converges on a scrambled 4096-cycle within the round budget") {
    // the round-13 regression pin: a single cycle whose ids are
    // SCRAMBLED (so min-labels cannot ride one wavefront) is the
    // adversarial topology for label propagation — the pre-round-13
    // pointer-jumping variant was still merging at round 25 on a
    // 500-node instance of this shape (the affine graph of SCALE.md
    // "Round-13"), because jumping compresses the LABEL graph
    // while merges still crossed the ORIGINAL graph one boundary per
    // round. Contraction merges every region with its smallest
    // neighbor simultaneously, so 4096 regions must converge in
    // <= 25 rounds (at-least-halving gives <= 12) — the require
    // inside the operator IS the assertion.
    val n = 4096
    val perm = new scala.util.Random(13).shuffle((0 until n).toVector)
    val pairs = (0 until n)
      .map(i => (perm(i).toLong, perm((i + 1) % n).toLong))
      .toDF("id1", "id2")
    val out = Dedup.connectedComponents(pairs)
      .agg(count(lit(1)), countDistinct(col("cluster_rep")),
        min(col("cluster_rep")), max(col("cluster_size")))
      .collect().head
    assert(out.getLong(0) == n.toLong) // every node labeled
    assert(out.getLong(1) == 1L) // ONE component
    assert(out.getLong(2) == 0L) // rep = smallest member id
    assert(out.getLong(3) == n.toLong)
  }

  test("connected components: monotone-id chains and cycles converge (full chain compression)") {
    // round-13 self-review regression: sequential doc_ids produce
    // MONOTONE merge chains (m(i) = i-1 for every region), where a
    // single m := m(m) compression step shifts labels by only 2 per
    // round — a 200-node ascending chain would need ~100 rounds and
    // crash the maxIter=25 require. Full per-round compression (jump
    // to fixpoint) collapses any monotone chain in ONE outer round.
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("id1", "id2")
    val c = Dedup.connectedComponents(chain)
      .agg(count(lit(1)), countDistinct(col("cluster_rep")), min(col("cluster_rep")))
      .collect().head
    assert(c.getLong(0) == 200L && c.getLong(1) == 1L && c.getLong(2) == 1L)
    // monotone cycle: the same shape closed into a ring
    val cyc = (0L until 512L).map(i => (i, (i + 1) % 512L)).toDF("id1", "id2")
    val y = Dedup.connectedComponents(cyc)
      .agg(count(lit(1)), countDistinct(col("cluster_rep")), min(col("cluster_rep")))
      .collect().head
    assert(y.getLong(0) == 512L && y.getLong(1) == 1L && y.getLong(2) == 0L)
  }

  test("connected components: the distributed contraction loop (collectThreshold = 0) is row-identical to the driver fast path") {
    // Round-19 pin (round-18 review item): every bench/oracle graph
    // sits under the default 200k collect gate, so the AT-SCALE
    // contraction loop would otherwise execute in no test at all and
    // semantic drift in the 100 TB path would be invisible. Force it
    // with collectThreshold = 0 and assert set equality with the
    // driver union-find on the regression topologies.
    val graphs: Seq[Seq[(Long, Long)]] = Seq(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)) ++
        (20L until 25L).map(i => (i, i + 1)),      // chains + pair
      (1L until 50L).map(i => (i, i + 1)),         // monotone chain
      (0L until 64L).map(i => (i, (i + 1) % 64L)), // cycle
      Seq((7L, 7L)))                               // pure self-loop
    graphs.foreach { g =>
      val pairs = g.toDF("id1", "id2")
      val fast = Dedup.connectedComponents(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val dist = Dedup.connectedComponents(pairs, collectThreshold = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(dist == fast, s"distributed != driver on $g")
    }
    // string ids: the representative must follow UTF8 BINARY order on
    // both paths ("Z" < "a" — uppercase sorts before lowercase)
    val sp = Seq(("b", "a"), ("c", "b"), ("Z", "a")).toDF("id1", "id2")
    val f2 = Dedup.connectedComponents(sp).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val d2 = Dedup.connectedComponents(sp, collectThreshold = 0L).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(d2 == f2 && f2.forall(_._2 == "Z"), s"got $d2 vs $f2")
  }

  test("segment dedup drops repeated segments, keeps first occurrence, reassembles in order") {
    // doc 1: segments "a b c" + "d e f"; doc 2 repeats doc 1's first
    // segment then has its own; doc 3 is entirely doc 1's segments
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c x y z"),
      (3L, "d e f a b c")).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(df, "doc_id", "text", segTokens = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((2L, 2L, "a b c d e f")))
    assert(out(2L) == ((2L, 1L, "x y z")))
    // doc 3's "d e f" and "a b c" both occurred in doc 1 (smaller doc_id)
    assert(out(3L) == ((2L, 0L, "")))
  }

  test("cdc dedup boundaries resync after an insertion (fixed windows do not)") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val shifted = "INSERTED " + base // one token prepended
    val df = Seq((1L, base), (2L, shifted)).toDF("doc_id", "text")

    // content-defined: every boundary is a function of local tokens,
    // so after the first segment the streams re-align and doc 2's
    // tail segments all dedup against doc 1's
    val cdc = Dedup.cdcDedup(df, "doc_id", "text", avgTokens = 8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val (cdcSegs2, cdcKept2) = cdc(2L)
    assert(cdcKept2 <= 1, s"cdc should dedup the whole shared tail, kept $cdcKept2 of $cdcSegs2")

    // fixed windows: the prepended token shifts every 10-token window,
    // so NOTHING dedups
    val fixed = Dedup.segmentDedup(df, "doc_id", "text", segTokens = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(fixed(2L) == 5L, s"fixed windows misalign: all of doc 2's segments stay")
  }

  test("semDedup drops only smaller-id cluster-mates above threshold; cross-cell pairs survive") {
    // cells: c0 ~ (1,0), c1 ~ (0,1). Assignments: 1,2,6 -> c0; 3,4 -> c1.
    val vecs = Seq(
      (1L, Array(1.0, 0.0)),
      (2L, Array(0.99, 0.14)), // cos(1,2) ~ 0.990 >= 0.9, same cell -> dropped
      (3L, Array(0.6, 0.8)),   // c1
      (4L, Array(0.0, 1.0)),   // cos(3,4) = 0.8 < 0.9 -> kept
      (6L, Array(0.8, 0.6))    // c0; cos(3,6) = 0.96 but DIFFERENT cells -> kept
    ).toDF("id", "v")
    val ctrs = Seq((0, Array(1.0, 0.0)), (1, Array(0.0, 1.0))).toDF("cell", "ctr")
    val kept = Dedup.semDedup(vecs, ctrs, "id", "v", threshold = 0.9)
      .select("id").collect().map(_.getLong(0)).toSet
    // keep rule is greedy lowest-id: 1 survives even though 1~2 duplicate
    assert(kept == Set(1L, 3L, 4L, 6L))
  }

  test("duplicatedSpans counts within-doc repetition and skips docs shorter than n") {
    val docs = Seq(
      (1L, "a b c d"),    // grams: "a b c", "b c d"
      (2L, "a b c x"),    // grams: "a b c", "b c x"
      (3L, "z z z z z"),  // grams: "z z z" x3 (within-doc repetition counts)
      (4L, "too short")   // < 3 words: no spans, absent from output
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(docs, "doc_id", col("text"), n = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out == Map(
      1L -> ((2L, 1L, 0.5)),  // "a b c" occurs in docs 1 and 2
      2L -> ((2L, 1L, 0.5)),
      3L -> ((3L, 3L, 1.0)))) // every "z z z" instance has corpus freq 3
  }

  test("fuzzyDecontaminate catches a paraphrase the exact 8-gram gate misses; unrelated docs stay clean") {
    import spark.implicits._
    import graft.operators.{Curation, Dedup}
    val words = (1 to 60).map(i => s"tok$i")
    val source = words.mkString(" ")
    // the paraphrase: every 7th token dropped — the longest surviving
    // token run is 6, so the paraphrase contains NO 8-gram at all and
    // the exact gate structurally cannot fire; 3-shingle Jaccard
    // stays well above 0.5
    val paraphrase = words.zipWithIndex.collect {
      case (w, i) if (i + 1) % 7 != 4 => w
    }.mkString(" ")
    val unrelated = (1 to 60).map(i => s"other$i").mkString(" ")
    val corpus = Seq((1L, source), (2L, unrelated)).toDF("doc_id", "text")
    val eval = Seq((100L, paraphrase)).toDF("doc_id", "text")
    // the exact gate (q84's rule) cannot flag the source: an 8-gram
    // needs 8 consecutive tokens and the paraphrase's longest run is 6
    val exactFlagged = Curation.decontaminate(corpus, eval, "doc_id", col("text"), n = 8)
      .filter(col("contaminated") === 1).select("doc_id").collect().map(_.getLong(0)).toSet
    // recall-oriented tuning for a decontamination gate: 8 single-row
    // bands (catch probability 1-(1-j)^8 ~ 0.99 at j = 0.45) and a
    // 0.4 threshold — a paraphrase this heavy sits near j ~ 0.45
    val fuzzy = Dedup.fuzzyDecontaminate(
      Dedup.prepareHashedShingles(corpus, "doc_id", Dedup.wordShingles("text")),
      Dedup.prepareHashedShingles(eval, "doc_id", Dedup.wordShingles("text")),
      "doc_id", threshold = 0.4, rowsPerBand = 1)
    val rows = fuzzy.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._1).toSet == Set(1L),
      s"the paraphrased source must be flagged, the unrelated doc not: ${rows.mkString(";")}")
    assert(rows.head._2 == 100L && rows.head._3 >= 0.4 && rows.head._3 < 1.0,
      s"best match with a sub-identical Jaccard: ${rows.head}")
    assert(!exactFlagged.contains(1L),
      s"the exact 8-gram gate must MISS the 7-periodic paraphrase, flagged: $exactFlagged")
    // candidate generation is the band equi-join, never a cross product
    assert(!fuzzy.queryExecution.executedPlan.toString.contains("CartesianProduct"))
  }

  test("fuzzyDecontaminate maxBucket: hot band buckets are dropped before the join; cold pairs keep their recall (round 18)") {
    import spark.implicits._
    import graft.operators.Dedup
    // a HOT bucket: 30 near-identical docs share their minhash minima,
    // so every band key collides 30-wide — exactly the
    // frequent-shingle concentration that makes single-row bands
    // degrade quadratically as the corpus grows
    val core = (1 to 50).map(i => s"hot$i").mkString(" ")
    val hotDocs = (1 to 30).map(i => (100L + i, s"$core uniq$i"))
    // a COLD true pair on disjoint vocabulary: bucket occupancy 1
    val words = (1 to 60).map(i => s"cold$i")
    val source = words.mkString(" ")
    val paraphrase = words.zipWithIndex.collect {
      case (w, i) if (i + 1) % 7 != 4 => w
    }.mkString(" ")
    val corpus = (hotDocs :+ (1L -> source)).toDF("doc_id", "text")
    val eval = Seq((500L, core + " evaltail"), (501L, paraphrase))
      .toDF("doc_id", "text")
    val corpusSh = Dedup.prepareHashedShingles(corpus, "doc_id",
      Dedup.wordShingles("text"))
    val evalSh = Dedup.prepareHashedShingles(eval, "doc_id",
      Dedup.wordShingles("text"))
    // no cap: hot docs AND the cold source are flagged
    val open = Dedup.fuzzyDecontaminate(corpusSh, evalSh, "doc_id",
        threshold = 0.4, rowsPerBand = 1)
      .collect().map(_.getLong(0)).toSet
    assert(open.contains(1L) && hotDocs.map(_._1).count(open.contains) >= 25,
      s"uncapped gate must flag the hot family and the cold pair: $open")
    // cap 5: every hot band key (occupancy 30) is pruned BEFORE the
    // join — the hot family drops out (the documented recall
    // contract: a pair only a hot band would catch is not flagged) —
    // while the cold pair's occupancy-1 buckets survive untouched
    val capped = Dedup.fuzzyDecontaminate(corpusSh, evalSh, "doc_id",
        threshold = 0.4, rowsPerBand = 1, maxBucket = Some(5))
      .collect().map(_.getLong(0)).toSet
    assert(capped == Set(1L),
      s"capped gate must keep the cold pair and drop the hot family: $capped")
  }

  test("crossDocSpans: a 12-token cross-doc quote is caught at 8-gram grain — whole-doc hash and doc-level MinHash both miss it (round 18)") {
    import spark.implicits._
    import graft.operators.Dedup
    val quote = (1 to 12).map(i => s"q$i").mkString(" ")
    val a = (1 to 30).map(i => s"a$i").mkString(" ") + " " + quote
    val b = quote + " " + (1 to 30).map(i => s"b$i").mkString(" ")
    val c = (1 to 30).map(i => s"c$i").mkString(" ")
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val spans = Dedup.crossDocSpans(docs, "doc_id", col("text"), n = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // the quote occupies tokens 31-42 of doc 1 and 1-12 of doc 2; the
    // unrelated doc 3 reports nothing
    assert(spans == Set((1L, 31L, 42L, 12L), (2L, 1L, 12L, 12L)), spans.toString)
    // whole-doc dedup (q40's operator) misses: three distinct hashes
    assert(Dedup.exact(docs, "doc_id", col("text")).count() == 3,
      "exact whole-doc dedup must treat all three docs as unique")
    // doc-level MinHash (q42's operator) misses: word-3-shingle
    // Jaccard(a, b) ~ 10/68 ~ 0.15, far below any sane near-dup bar
    val pairs = Dedup.minhashNearDupsOn(docs, "doc_id",
      Dedup.wordShingles("text"), threshold = 0.35, rowsPerBand = 1)
    assert(pairs.collect().isEmpty,
      "doc-level MinHash must NOT pair docs that only share a quote")
    // within-doc repetition alone is NOT cross-doc: one doc repeating
    // its own 8-gram reports no span
    val selfRep = Seq((9L, ((1 to 10).map(i => s"s$i").mkString(" ") + " ") * 2))
      .toDF("doc_id", "text")
    assert(Dedup.crossDocSpans(selfRep, "doc_id", col("text"), n = 8).count() == 0,
      "within-doc repeats must not count as cross-doc spans")
    // adjacency merges: doc 2's quote + doc 4 carrying the SAME quote
    // twice back-to-back merges into ONE 24-token span, not two
    val d = quote + " " + quote
    val spans2 = Dedup.crossDocSpans(
      Seq((2L, b), (4L, d)).toDF("doc_id", "text"),
      "doc_id", col("text"), n = 8)
      .filter(col("doc_id") === 4L).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(spans2 == Set((1L, 24L)),
      s"back-to-back shared runs must merge into one span: $spans2")
  }

  test("minhashNearDupsPrepared maxBucket: the self-join family gets the same guardrail — hot family pruned, cold pair kept (round 18)") {
    import spark.implicits._
    import graft.operators.Dedup
    val core = (1 to 50).map(i => s"hot$i").mkString(" ")
    val hotDocs = (1 to 30).map(i => (100L + i, s"$core uniq$i"))
    val words = (1 to 60).map(i => s"cold$i")
    val pair = Seq(
      1L -> words.mkString(" "),
      2L -> words.zipWithIndex.collect {
        case (w, i) if (i + 1) % 11 != 4 => w }.mkString(" "))
    val docs = (hotDocs ++ pair).toDF("doc_id", "text")
    val prepared = Dedup.prepareHashedShingles(docs, "doc_id",
      Dedup.wordShingles("text"))
    val open = Dedup.minhashNearDupsPrepared(prepared, "doc_id",
        threshold = 0.5, rowsPerBand = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(open.contains((1L, 2L)) && open.size > 100,
      s"uncapped: the hot family pairs quadratically + the cold pair: ${open.size}")
    val capped = Dedup.minhashNearDupsPrepared(prepared, "doc_id",
        threshold = 0.5, rowsPerBand = 1, maxBucket = Some(5))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)),
      s"capped: only the cold pair survives the occupancy guard: $capped")
  }

  test("redactCrossDocSpans: the LOWEST doc keeps each shared span, every other copy is cut; a whole-copy doc redacts to empty (round 18)") {
    import spark.implicits._
    import graft.operators.Dedup
    val quote = (1 to 12).map(i => s"q$i").mkString(" ")
    val aBody = (1 to 30).map(i => s"a$i").mkString(" ")
    val bBody = (1 to 30).map(i => s"b$i").mkString(" ")
    val a = aBody + " " + quote          // doc 1: owner of the quote grams
    val b = quote + " " + bBody          // doc 2: quote copy at the front
    val docs = Seq((1L, a), (2L, b), (3L, a), (4L, "lone wolf text"))
      .toDF("doc_id", "text")
    val got = Dedup.redactCrossDocSpans(docs, "doc_id", col("text"), n = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // owner keeps everything
    assert(got(1L) == ((0L, a)), got(1L).toString)
    // the copier loses exactly the 12 quote tokens; its own body survives
    assert(got(2L) == ((12L, bBody)), got(2L).toString)
    // a verbatim copy of doc 1 redacts to the empty string
    assert(got(3L) == ((42L, "")), got(3L).toString)
    // untouched doc passes through
    assert(got(4L) == ((0L, "lone wolf text")), got(4L).toString)
  }

  test("containmentPairs: a quoted excerpt scores 1.0 directionally while Jaccard stays low") {
    val long = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma"
    val quote = "delta epsilon zeta eta theta iota" // contiguous excerpt of `long`
    val df = Seq((1L, quote), (2L, long)).toDF("doc_id", "text")
    val hs = Dedup.prepareHashedShingles(df, "doc_id", Dedup.wordShingles("text"))
    val pairs = Seq((1L, 2L)).toDF("id1", "id2")
    val r = Dedup.containmentPairs(hs, pairs).collect().head
    // every one of the quote's 4 shingles appears in the long doc
    assert(r.getAs[Double]("containment_1in2") == 1.0, r.toString)
    // but symmetric measures stay small: jaccard = 4/16 = 0.25
    assert(r.getAs[Double]("containment_2in1") == 0.25, r.toString)
    assert(r.getAs[Long]("n_common") == 4L && r.getAs[Long]("n2") == 16L)
  }

  test("jaccardJoin: hand case — subset pair scores 750 permille") {
    val df = Seq((1L, Seq("x", "y", "z")), (2L, Seq("x", "y", "z", "w")),
      (3L, Seq("p", "q"))).toDF("id", "s")
    val got = Dedup.jaccardJoin(df, "id", col("s"), tauPct = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5)))
    assert(got.toSeq == Seq((1L, 2L, 3L, 750L)), s"wrong pairs: ${got.toSeq}")
  }

  test("jaccardJoin: prefix filtering is lossless vs brute force on 40 synthetic sets") {
    val sets = (1 to 40).map { id =>
      (id.toLong, (0 until 12).map(j => s"t${(id * 7 + j * j) % 30}").distinct)
    }
    val df = sets.toDF("id", "s")
    val got = Dedup.jaccardJoin(df, "id", col("s"), tauPct = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      inter = sa.toSet.intersect(sb.toSet).size.toLong
      if inter * 100 >= 50L * (sa.size + sb.size - inter)
    } yield (ia, ib, inter)).toSet
    assert(brute.nonEmpty, "fixture must produce qualifying pairs")
    assert(got == brute, s"prefix filter lost or invented pairs: " +
      s"missing=${brute -- got}, extra=${got -- brute}")
  }

  test("jaccardJoin band keys anti-correlate with skew: a stopword flood never enters the prefixes") {
    import spark.implicits._
    // SCALE.md's claim, proven: the candidate join's band keys are the
    // RAREST tokens under the global df order, so the corpus-wide
    // stopwords that would turn a shared-token join quadratic are
    // excluded from banding by construction. 300 docs, EVERY one
    // carrying the same 12 stopwords plus 3 unique content tokens
    // (the adversarial shape for any naive token-blocked join: the
    // stopword buckets alone would hold 300 choose 2 = 44850 pairs).
    val stop = (0 until 12).map(i => s"the$i")
    val sets = (0 until 300).map { id =>
      (id.toLong, stop ++ Seq(s"u${id}a", s"u${id}b", s"u${id}c"))
    }
    val arrs = sets.toDF("_id", "_set")
      .select(col("_id"), col("_set"), size(col("_set")).cast("long").as("_n"))
    // n = 15, tau = 80% -> prefix length = 15 - 12 + 1 = 4
    val prefix = Dedup.jaccardPrefixes(arrs, tauPct = 80)
    val buckets = prefix.groupBy(col("_t")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    // band keys are xxhash64 longs — hash the stopword list to match
    val stopHashes = stop.toDF("t").select(xxhash64(col("t"))).collect()
      .map(_.getLong(0)).toSet
    // every doc's prefix = its 3 unique tokens + at most ONE stopword
    // (rank 4 lands on the df-smallest stopword for every doc — that
    // single shared band key is the worst bucket)
    val (stopBuckets, uniqueBuckets) = buckets.partition(b => stopHashes.contains(b._1))
    assert(uniqueBuckets.forall(_._2 == 1L),
      s"unique content tokens must bucket alone: ${uniqueBuckets.filter(_._2 > 1).toSeq}")
    // 11 of the 12 flooded stopwords never become band keys at all
    assert(stopBuckets.length <= 1,
      s"stopwords leaked into the prefixes: ${stopBuckets.toSeq}")
    val maxBucket = buckets.map(_._2).max
    assert(maxBucket <= 300L,
      s"no bucket may exceed the doc count (got $maxBucket)")
    // and the end-to-end join stays correct AND candidate-bounded on
    // this corpus: zero qualifying pairs (unique tokens dominate)
    val pairs = Dedup.jaccardJoin(sets.toDF("id", "s"), "id", col("s"), tauPct = 80)
    assert(pairs.count() == 0)
  }
}
