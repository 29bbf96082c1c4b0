package graft

import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Behavioral contract for the text-quality signals that have no SQL
  * oracle (q112 is rows-only by design — no engine mirrors gzip).
  */
class TextSpec extends SparkSpec {
  import spark.implicits._

  test("compressionRatio orders repetitive < natural < noise, and is deterministic") {
    val rnd = new scala.util.Random(3)
    val repetitive = "spam spam spam spam " * 50
    val natural = "the quick brown fox jumps over the lazy dog and then " +
      "wanders off to find some other interesting things to chase today " * 10
    val noise = Seq.fill(800)(rnd.nextPrintableChar()).mkString
    val df = Seq((1L, repetitive), (2L, natural), (3L, noise)).toDF("id", "text")
    val out = TextAnalysis.compressionRatio(df, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("ratio")).toMap
    assert(out(1L) < out(2L) && out(2L) < out(3L),
      s"expected repetitive < natural < noise, got $out")
    assert(out.values.forall(r => r > 0.0 && r < 1.5), s"ratios out of range: $out")
    // gzip is deterministic: byte-identical second run
    val again = TextAnalysis.compressionRatio(df, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("ratio")).toMap
    assert(again == out)
  }

  test("tokenEntropy: constant doc scores zero, uniform doc scores ln(n_types), stuffing lowers both") {
    import spark.implicits._
    val df = Seq(
      (1L, "spam spam spam spam"),              // one type: H = 0, ttr 250
      (2L, "one two three four"),               // uniform: H = ln(4)
      (3L, "buy buy buy buy buy buy now now"))  // skewed 6/2 of 8
      .toDF("id", "text")
    val out = TextAnalysis.tokenEntropy(df, "id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) == (4L, 1L, 250L, 0L))
    assert(out(2L)._4 == math.round(math.log(4.0) * 1e6), s"uniform entropy: ${out(2L)}")
    assert(out(2L)._3 == 1000L)
    // skewed: H = ln(8) - (6 ln 6 + 2 ln 2)/8, strictly between 0 and ln(2 types)
    assert(out(3L)._4 > 0L && out(3L)._4 < math.round(math.log(2.0) * 1e6))
  }

  test("hashedTfIdf: ubiquitous tokens weigh zero; identical docs get identical vectors; ANN finds the planted pair") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox jumps"),   // exact duplicate of 1
      (3L, "the slow green turtle crawls"),
      (4L, "the angry red panda sleeps"))
      .toDF("id", "text")
    // "the" appears in all docs -> idf = ln(1) = 0 -> a doc made ONLY
    // of ubiquitous tokens carries zero total weight
    val allShared = TextAnalysis.hashedTfIdf(Seq((9L, "the the the")).toDF("id", "text")
      .union(df.select(col("id"), col("text"))), "id", "text", 32)
      .filter(col("id") === 9L).agg(sum(col("w"))).head().getLong(0)
    assert(allShared == 0L, s"all-ubiquitous doc must carry zero weight, got $allShared")
    // dense vectors: duplicates bit-identical, distinct docs not
    val dense = TextAnalysis.hashedTfIdfDense(df, "id", "text", dim = 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(dense(1L) == dense(2L))
    assert(dense(1L) != dense(3L))
    // composition: hashed vectors -> float -> brute-force cosine top-1
    // finds the planted duplicate with cosine 1.0 (no embedding model)
    val vecs = TextAnalysis.hashedTfIdfDense(df, "id", "text", dim = 32)
      .select(col("id").as("vec_id"),
        transform(col("tfidf_vec"), x => x.cast("float")).as("embedding"))
    val top = graft.operators.Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 1L),
        "vec_id", "embedding", k = 1).collect().head
    assert(top.getLong(1) == 2L && top.getDouble(3) == 1.0,
      s"planted duplicate must be the top neighbor at cosine 1.0: $top")
  }

  test("bm25: more hits score higher, longer docs are penalized, no-hit docs are absent") {
    import spark.implicits._
    val df = Seq(
      (1L, "spark spark join engine"),          // tf(spark)=2, short
      (2L, "spark engine plan optimizer"),      // tf(spark)=1, short
      (3L, "spark " + Seq.fill(40)("filler").mkString(" ")), // tf=1, long
      (4L, "nothing relevant here at all"))
      .toDF("id", "text")
    val got = TextAnalysis.bm25(df, "id", "text", queryTerms = Seq("spark"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!got.contains(4L), "docs without any query term must be absent")
    assert(got(1L) > got(2L), s"higher tf must outrank: $got")
    assert(got(2L) > got(3L), s"length normalization must penalize the long doc: $got")
    assert(got.values.forall(_ > 0.0))
  }

  test("sparseCosinePairs agrees with dense cosine; disjoint docs score zero; duplicates score one") {
    import spark.implicits._
    val df = Seq(
      (1L, "quick brown fox jumps high"),
      (2L, "quick brown fox jumps high"),   // duplicate of 1
      (3L, "slow green turtle crawls low"), // disjoint from 1
      (4L, "quick brown turtle jumps low")) // partial overlap
      .toDF("id", "text")
    val sparse = TextAnalysis.hashedTfIdf(df, "id", "text", dim = 32)
      .withColumnRenamed("id", "doc_id")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id1", "id2")
    val got = graft.operators.Similarity.sparseCosinePairs(sparse, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got((1L, 2L)) == 1.0, s"duplicate must score 1.0: $got")
    // term-disjoint docs still collide in 32 hash buckets (the
    // hashing-trick trade) — so the CONTRACT is agreement with the
    // dense formulation, plus sane ordering, not literal zero
    assert(got((1L, 3L)) < got((1L, 2L)) && got((1L, 4L)) < got((1L, 2L)), got.toString)
    val dense = TextAnalysis.hashedTfIdfDense(df, "id", "text", dim = 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    for (other <- Seq(3L, 4L)) {
      val want = math.floor(cos(dense(1L), dense(other)) * 1e6 + 0.5) / 1e6
      assert(math.abs(got((1L, other)) - want) < 2e-6,
        s"pair (1,$other): sparse ${got((1L, other))} vs dense $want")
    }
  }

  test("robustOutliers: median/MAD flags the planted spike that a masked stddev would keep") {
    import spark.implicits._
    // 20 inliers around 1000 + eight 30x spikes. The spike GROUP
    // inflates mean and stddev enough that no single spike clears
    // |x-mean| > 2*sd (classic masking); median/MAD flags all eight.
    val spikes = (91L to 98L).map(i => (i, 30000L))
    val xs = (1L to 20L).map(i => (i, 990L + i)) ++ spikes
    val df = xs.toDF("id", "v")
    val flagged = graft.operators.Quantiles.robustOutliers(df, lit("g"), col("v"), k = 2.0)
      .select("id").as[Long].collect().toSet
    assert(flagged == spikes.map(_._1).toSet, s"MAD must flag exactly the spikes: $flagged")
    val stats = df.agg(avg(col("v")), stddev_pop(col("v"))).head()
    val (mean, sd) = (stats.getDouble(0), stats.getDouble(1))
    val zFlagged = xs.filter { case (_, v) => math.abs(v - mean) > 2.0 * sd }.map(_._1).toSet
    assert(zFlagged.isEmpty, s"masking premise broken — z-score caught $zFlagged")
  }

  test("bm25 and bm25Candidates agree: a doc's distinct terms as the fixed query score every other doc bit-equal") {
    // one BM25 kernel behind both entry points: with query doc 97's
    // distinct terms as bm25's term set, every other doc's score is
    // bm25Candidates' score_u for query 97 (which excludes self)
    val docs = Tables.load(spark, sfDir, "documents")
    val q = docs.filter(col("doc_id") === 97L)
    val terms = q.select(explode(split(col("text"), " "))).distinct()
      .collect().map(_.getString(0)).toSeq
    val fixed = TextAnalysis.bm25(docs, "doc_id", "text", terms)
      .filter(col("doc_id") =!= 97L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val cands = TextAnalysis.bm25Candidates(docs, q, "doc_id", "text")
      .collect().map { r =>
        assert(r.getLong(0) == 97L)
        r.getLong(1) -> r.getLong(2).toDouble / 1e6
      }.toMap
    assert(cands.size > 100, s"expected a dense candidate set, got ${cands.size}")
    assert(fixed == cands,
      s"${(fixed.toSet diff cands.toSet).size} of ${fixed.size} scores differ")
  }

  test("bm25Retrieve: per-query more-like-this ranking — shared-term docs rank, self excluded") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "hash join scan merge hash join"), // query doc
      (2L, "hash join scan merge extra words here"), // heavy overlap
      (3L, "hash only appears once here in text"), // light overlap
      (4L, "completely unrelated vocabulary nothing shared at all"), // no overlap
      (5L, "merge scan words words words words words words")) // medium overlap
      .toDF("doc_id", "text")
    val got = TextAnalysis.bm25Retrieve(docs, docs.filter(col("doc_id") === 1), "doc_id", "text", topK = 10)
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getDouble(3)))
    val ids = got.map(_._1).toSeq
    assert(!ids.contains(1L), "query doc must not retrieve itself")
    assert(!ids.contains(4L), "doc sharing no term must not appear")
    assert(got.map(_._2).sorted.toSeq == (1 to got.length).toSeq, "ranks must be contiguous")
    assert(ids.head == 2L, s"heaviest-overlap doc must rank first: $got")
    assert(got.forall(_._3 > 0), "scores must be positive")
    // ranking is by score: descending down the list
    assert(got.map(_._3).toSeq == got.map(_._3).sortBy(-_).toSeq, s"not score-sorted: $got")
  }

  test("bpeTokenize: greedy rank order, left-to-right overlap, merge chains — hand-checked fixtures") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    def run(text: String, merges: Seq[(String, String)]): Map[String, (String, Long)] =
      TextAnalysis.bpeTokenize(Seq((1L, text)).toDF("id", "text"), col("id"), col("text"),
          merges, rounds = 6)
        .select("word", "tokens", "n_subwords").collect()
        .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    // overlap: merging (a,a) in "aaaa" pairs left-to-right -> [aa, aa];
    // "aaa" -> [aa, a] (the trailing a cannot re-pair)
    val ov = run("aaaa aaa", Seq("a" -> "a"))
    assert(ov("aaaa") == ("aa aa", 2L), s"aaaa: ${ov("aaaa")}")
    assert(ov("aaa") == ("aa a", 2L), s"aaa: ${ov("aaa")}")
    // rank priority: (b,c) outranks (c,a); in "bca" both apply but the
    // lower rank must win the round -> [bc, a], never [b, ca]
    val pr = run("bca", Seq("b" -> "c", "c" -> "a"))
    assert(pr("bca") == ("bc a", 2L), s"bca: ${pr("bca")}")
    // merge chain across rounds: th + the needs rank-0 output as
    // rank-1 input; unmergeable chars stay single
    val ch = run("the tz", Seq("t" -> "h", "th" -> "e"))
    assert(ch("the") == ("the", 1L), s"the: ${ch('t' + "he")}")
    assert(ch("tz") == ("t z", 2L), s"tz: ${ch("tz")}")
    // a merge referencing a not-yet-formed token only fires once its
    // inputs exist ((sc,an) after (a,n) and (s,c))
    val sc = run("scan", Seq("a" -> "n", "s" -> "c", "sc" -> "an"))
    assert(sc("scan") == ("scan", 1L), s"scan: ${sc("scan")}")
    // deterministic: same input twice, identical output
    assert(run("aaaa aaa", Seq("a" -> "a")) == ov)
  }

  test("subwordCounts vs whitespace counts: the budget divergence the subword measure corrects") {
    import graft.operators.TextAnalysis
    val docs = Tables.load(spark, sfDir, "documents")
    val sub = TextAnalysis.subwordCounts(docs, col("doc_id"), col("text"))
    val joined = sub.join(
      TextAnalysis.tokenCounts(docs, "text").select(col("doc_id").as("id"), col("ws_tokens")), "id")
    val row = joined.agg(sum(col("n_subwords")), sum(col("ws_tokens")), count(lit(1))).head()
    val (nSub, nWs) = (row.getLong(0), row.getLong(1))
    // subword counts exceed whitespace counts (words split into pieces)
    assert(nSub > nWs, s"subword total $nSub must exceed whitespace total $nWs")
    assert(nSub < nWs * 10, s"sanity: $nSub vs $nWs")
  }

  test("robustOutliers: inputs already carrying med/mad are rejected, not silently duplicated") {
    import spark.implicits._
    val df = Seq((1L, 2.0, 9.9)).toDF("id", "v", "med")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Quantiles.robustOutliers(df, lit("g"), col("v"))
    }
    assert(e.getMessage.contains("med"), e.getMessage)
  }

  test("bigramLogProb: add-one smoothed surprise, hand-computed micro-nats") {
    import spark.implicits._
    // corpus "a b a b" / "a b": V=2; C(a,b)=3, C(b,a)=1; history
    // C(a)=3, C(b)=1. nll(a,b)=ln(5/4)->223144 u; nll(b,a)=ln(3/2)
    // ->405465 u. doc1 mean=(223144+405465+223144)/3 -> 283918 u;
    // doc2 = 223144 u. A single-token doc has no bigrams -> absent.
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "a"))
      .toDF("doc_id", "text")
    val byDoc = TextAnalysis.bigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(byDoc == Map(1L -> (3L, 0.283918), 2L -> (1L, 0.223144)),
      s"wrong bigram scores: $byDoc")
  }

  test("phraseSearch: index candidates verified exactly — all-grams-no-phrase docs rejected") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x a b c y"),       // contains "a b c" -> match
      (2L, "a b z b c"),       // has grams "a b" AND "b c" but NOT the
                               //   phrase: candidate the verify must kill
      (3L, "a c b"),           // neither gram adjacent -> no candidate
      (4L, "a b c"),           // exact doc == phrase -> match
      (5L, "za b cy"))         // substring without word boundary -> no
      .toDF("doc_id", "text")
    val got = TextAnalysis.phraseSearch(docs, "doc_id", "text", Seq("a b c", "a b"))
      .as[(String, Long)].collect().toSet
    assert(got == Set(
      ("a b c", 1L), ("a b c", 4L),
      ("a b", 1L), ("a b", 2L), ("a b", 4L)), s"wrong matches: $got")
    // a phrase shorter than the gram width is rejected eagerly
    intercept[IllegalArgumentException] {
      TextAnalysis.phraseSearch(docs, "doc_id", "text", Seq("solo"))
    }
  }

  test("compressionRatio on the fixture corpus: plan is a narrow projection, values populated") {
    val docs = Tables.load(spark, sfDir, "documents")
    val out = TextAnalysis.compressionRatio(docs, "doc_id", "text")
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"),
      "compression ratio must not shuffle")
    val rows = out.agg(count(lit(1)), min(col("ratio")), max(col("ratio"))).head()
    assert(rows.getLong(0) > 0)
    assert(rows.getDouble(1) > 0.0 && rows.getDouble(2) < 1.5)
  }

  test("scrubPii: counts equal the actual redactions; digit-run and adjacency traps (round 17)") {
    val docs = Seq(
      (1L, "mail me at jo.doe+x@corp.example.org and bob@ex.io today"),
      (2L, "call 415-555-0137 or 212-555-9999 about 123-45-6789"),
      (3L, "no pii here at all"),
      // a phone-shaped substring INSIDE a longer digit-dash run must
      // NOT be partially redacted (the old unanchored pattern bit
      // into "234-567-8901" here)
      (4L, "sku 9234-567-89012 stays"),
      // a phone swallowed by the email match is counted as the EMAIL
      // it was part of, never double-counted as a phone: the whole
      // local part 415-555-0137@ex.io is one email
      (5L, "ping 415-555-0137@ex.io now"),
      // back-to-back numbers separated by one space: the consuming
      // trailing boundary hides the second match from pass one; the
      // run-twice idiom catches it
      (6L, "415-555-0137 212-555-9999 123-45-6789 321-54-9876 end")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.scrubPii(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got(1L) == ((2L, 0L, 0L, "mail me at [EMAIL] and [EMAIL] today")), got(1L).toString)
    assert(got(2L) == ((0L, 2L, 1L, "call [PHONE] or [PHONE] about [SSN]")), got(2L).toString)
    assert(got(3L) == ((0L, 0L, 0L, "no pii here at all")), got(3L).toString)
    assert(got(4L) == ((0L, 0L, 0L, "sku 9234-567-89012 stays")), got(4L).toString)
    assert(got(5L) == ((1L, 0L, 0L, "ping [EMAIL] now")), got(5L).toString)
    assert(got(6L) == ((0L, 2L, 2L, "[PHONE] [PHONE] [SSN] [SSN] end")), got(6L).toString)
    // narrow plan: no shuffle, no UDF
    val plan = TextAnalysis.scrubPii(docs, col("doc_id"), col("text"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"PII scrub must not shuffle:\n${plan.take(400)}")
  }

  test("repetitionStats: hand fixture — top-gram char coverage, tie to smallest gram, dup fraction") {
    val docs = Seq(
      (1L, "x y x y x y"),          // alternating pair: top3 ties break to "x y x"
      (2L, "a b c d e f"),          // all-unique: every top count is 1, dup 0
      (3L, "p q p q p q p q p q")   // every 5-gram duplicated: dup5 = 1
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    // expectations computed independently (count x gram chars / doc
    // chars, 1e-6 floor grid); overlaps can push coverage above 1 —
    // that is the signal working, not an error
    assert(got(1L) == ((0.818182, 0.909091, 1.272727, 0.0)), got(1L).toString)
    assert(got(2L) == ((0.272727, 0.454545, 0.636364, 0.0)), got(2L).toString)
    assert(got(3L) == ((0.789474, 1.052632, 1.473684, 1.0)), got(3L).toString)
    // plan: one gram-count shuffle + the pivot — no self-joins
    val plan = TextAnalysis.repetitionStats(docs, col("doc_id"), col("text"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"grams must come from a per-row transform, not a join:\n${plan.take(600)}")
  }

  test("gopherQualityGate: each rule fires independently; keep is their conjunction") {
    val docs = Seq(
      (1L, "the cat saw a dog near the red barn door"),  // 10 words, passes all
      (2L, "the a"),                                     // too few words
      (3L, ("the dove " * 40).trim),                     // top2 repetition ceiling
      (4L, "one two three four five six seven eight nine ten") // no stop hits
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherQualityGate(docs, col("doc_id"), col("text"),
        minWords = 3L, maxWords = 100L, minMeanLen = 1.0, maxMeanLen = 10.0,
        stopWords = Seq("the", "a"), minStopHits = 2L, maxTop2Frac = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(3), r.getBoolean(5)))).toMap
    assert(got(1L)._3, s"doc 1 must keep: ${got(1L)}")
    assert(!got(2L)._3 && got(2L)._1 == 2L, "doc 2 fails the word-count floor")
    assert(!got(3L)._3, "doc 3 fails the top-2-gram repetition ceiling")
    assert(!got(4L)._3 && got(4L)._2 == 0L, "doc 4 fails the stop-word rule")
    // signals are auditable: doc 3's failure is repetition, not length
    val d3 = TextAnalysis.gopherQualityGate(docs, col("doc_id"), col("text"),
        3L, 100L, 1.0, 10.0, Seq("the", "a"), 2L, 0.5)
      .filter(col("doc_id") === 3L).head()
    assert(d3.getAs[Double]("top2_frac") > 0.5 &&
      d3.getAs[Long]("n_words") == 80L)
  }

  test("knBigramLogProb: hand-computed interpolated KN on a micro corpus; continuation prior separates contexts add-one cannot") {
    // corpus: "a b a b" + "c b" -> bigrams: (a,b)x2, (b,a)x1, (c,b)x1
    // types: 3 (T=3)
    //   history a: ch=2, n1p=1; history b: ch=1, n1p=1; history c: ch=1, n1p=1
    //   left-contexts: b <- {a, c} n2=2; a <- {b} n2=1
    val docs = Seq((1L, "a b a b"), (2L, "c b")).toDF("doc_id", "text")
    val got = TextAnalysis.knBigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // P(b|a) = ((4*2-3)*3 + 3*1*2) / (4*2*3) = 21/24
    // P(a|b) = ((4*1-3)*3 + 3*1*1) / (4*1*3) = 6/12
    // P(b|c) = ((4*1-3)*3 + 3*1*2) / (4*1*3) = 9/12
    def u(p: Double) = math.floor(math.log(1.0 / p) * 1e6 + 0.5).toLong
    val d1 = math.floor((u(21.0 / 24) + u(6.0 / 12) + u(21.0 / 24)).toDouble / 3 + 0.5) / 1e6
    val d2 = math.floor(u(9.0 / 12).toDouble + 0.5) / 1e6
    assert(got(1L) == ((3L, d1)), s"doc 1: ${got(1L)} vs (3, $d1)")
    assert(got(2L) == ((1L, d2)), s"doc 2: ${got(2L)} vs (1, $d2)")
    // the continuation prior at work: (b,a) and (c,b) have IDENTICAL
    // raw counts (1) and history totals (1), so add-one scores them
    // equal — KN scores (c,b) cheaper because b continues more
    // distinct contexts than a
    assert(u(9.0 / 12) < u(6.0 / 12),
      "KN must prefer the high-continuation target at equal raw counts")
    // a single-token doc has no bigram and no row
    val short = TextAnalysis.knBigramLogProb(
      Seq((9L, "solo")).toDF("doc_id", "text"), "doc_id", "text")
    assert(short.count() == 0L)
  }

  test("corpus-LM scorers: null-id docs yield no row and do not move the other docs' scores") {
    // a SQL GROUP BY would lump both null-id docs into one pseudo-doc
    // and count their tokens into the model; all three scorers share
    // one front end that drops them (and null texts) everywhere
    val kept = Seq((Option(1L), "a b c a"), (Option(2L), "b c d e"))
    val all = (kept ++ Seq((Option.empty[Long], "b c d"), (Option.empty[Long], "x y z")))
      .toDF("doc_id", "text")
    val scorers = Seq[(String, (org.apache.spark.sql.DataFrame, String, String) =>
        org.apache.spark.sql.DataFrame)](
      "unigram" -> TextAnalysis.unigramLogProb,
      "add-one bigram" -> TextAnalysis.bigramLogProb,
      "kn bigram" -> TextAnalysis.knBigramLogProb)
    for ((name, score) <- scorers) {
      def rows(df: org.apache.spark.sql.DataFrame) = score(df, "doc_id", "text")
        .collect().map(r => (Option(r.get(0)), r.getLong(1), r.getDouble(2))).toSet
      val got = rows(all)
      assert(got.forall(_._1.isDefined), s"$name: null-id docs must yield no row: $got")
      assert(got == rows(kept.toDF("doc_id", "text")),
        s"$name: null-id docs must not move the other docs' scores: $got")
    }
  }

  test("trainBpeMerges: the distributed loop (collectThreshold = 0) learns a bit-identical merge table to the driver fast path") {
    // Round-19 pin (round-18 review item): every bench/test vocabulary
    // sits under the default 200k gate, so the distributed greedy
    // rounds would otherwise run in no test. Force them and assert the
    // full (rank, lhs, rhs, pair_count) table matches the driver
    // replay — tie-breaks, overlap counting and the non-overlapping
    // rewrite all ride the same assertions.
    val docs = Seq(
      (1L, "low lower lowest low low"),
      (2L, "aaa aaa banana band bandana")).toDF("doc_id", "text")
    def table(threshold: Long) = TextAnalysis
      .trainBpeMerges(docs, col("text"), k = 6, collectThreshold = threshold)
      .orderBy(col("rank")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    val driver = table(200000L)
    val dist = table(0L)
    assert(dist == driver, s"distributed $dist != driver $driver")
    assert(driver.size == 6)
  }

  test("trainBpeMerges: hand-traced greedy merges, deterministic tie-break, overlap counting, non-overlapping rewrite; trained table feeds bpeTokenize") {
    val docs = Seq((1L, "low lower lowest low low")).toDF("doc_id", "text")
    // counts: low 3, lower 1, lowest 1
    // iter0 pairs: (l,o) 5 ties (o,w) 5 -> lexicographic: (l,o)
    // iter1: (lo,w) 5; iter2: (low,e) 2
    val merges = TextAnalysis.trainBpeMerges(docs, col("text"), k = 3)
      .orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(merges == Seq(("l", "o", 5L), ("lo", "w", 5L), ("low", "e", 2L)),
      s"hand-traced merges, got $merges")
    // overlap COUNTING vs non-overlapping REWRITE: "aaa" x2 counts
    // (a,a) at every adjacent position (4), but each word merges only
    // leftmost-non-overlapping -> "aa a", so round 2 learns (aa, a)
    val aaa = Seq((1L, "aaa aaa")).toDF("doc_id", "text")
    val m2 = TextAnalysis.trainBpeMerges(aaa, col("text"), k = 2)
      .orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(m2 == Seq(("a", "a", 4L), ("aa", "a", 2L)), s"got $m2")
    // early stop: once every word is one symbol the supply is dry
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    assert(TextAnalysis.trainBpeMerges(tiny, col("text"), k = 5).count() == 1L)
    // the trained table drops into the applier unchanged: train on the
    // corpus, tokenize the corpus under the learned merges
    val learned = TextAnalysis.trainedMerges(docs, col("text"), k = 3)
    val toks = TextAnalysis.bpeTokenize(docs, col("doc_id"), col("text"),
        merges = learned, rounds = 8)
      .select(col("word"), col("tokens")).distinct()
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(toks == Map("low" -> "low", "lower" -> "lowe r",
      "lowest" -> "lowe s t"), s"trained-table tokenization: $toks")
  }

  test("c4Clean: each line and page rule fires independently; clean_text rebuilds kept lines") {
    val page1 = Seq( // survives: 3 of 5 lines kept
      "the cat sat on the mat.",     // kept
      "short line",                  // no terminal punct -> dropped
      "is this a question?",         // kept
      "enable javascript to view.",  // javascript -> dropped
      "no.",                         // < 3 words -> dropped
      "she said \"hello there.\"",   // ends in quote -> kept
      "done here now!"               // kept
    ).mkString("\n")
    val page2 = "lorem ipsum dolor sit amet.\nthe rest is fine today."
    val page3 = "function f() { return 1; }\nthe rest is fine today."
    val page4 = "well frak that plan entirely.\nthe rest is fine today."
    val docs = Seq((1L, page1), (2L, page2), (3L, page3), (4L, page4))
      .toDF("doc_id", "text")
    val got = TextAnalysis.c4Clean(docs, col("doc_id"), col("text"),
        badWords = Seq("frak"), minWordsPerLine = 3, minKeptLines = 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    val d1 = got(1L)
    assert(d1.getAs[Long]("n_lines") == 7L && d1.getAs[Long]("kept_lines") == 4L,
      s"page 1 keeps exactly the 4 rule-passing lines: $d1")
    assert(d1.getAs[Int]("keep") == 1)
    assert(d1.getAs[String]("clean_text") ==
      "the cat sat on the mat.\nis this a question?\n" +
        "she said \"hello there.\"\ndone here now!")
    // page rules: each trap kills its page and ONLY sets its own flag
    assert(got(2L).getAs[Int]("has_lorem") == 1 && got(2L).getAs[Int]("keep") == 0)
    assert(got(2L).getAs[Int]("has_brace") == 0 && got(2L).getAs[Int]("has_badword") == 0)
    assert(got(3L).getAs[Int]("has_brace") == 1 && got(3L).getAs[Int]("keep") == 0)
    assert(got(4L).getAs[Int]("has_badword") == 1 && got(4L).getAs[Int]("keep") == 0)
    // the kept-lines floor fires on its own: page 1 under a floor of 5
    val floored = TextAnalysis.c4Clean(docs, col("doc_id"), col("text"),
        badWords = Seq("frak"), minWordsPerLine = 3, minKeptLines = 5)
      .filter(col("doc_id") === 1L).head()
    assert(floored.getAs[Int]("keep") == 0 &&
      floored.getAs[Long]("kept_lines") == 4L)
    // narrow contract: no exchange anywhere in the plan
    val plan = TextAnalysis.c4Clean(docs, col("doc_id"), col("text"),
      badWords = Seq("frak")).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"c4Clean must stay shuffle-free:\n${plan.take(600)}")
  }
}
