package graft

import org.apache.spark.sql.functions._

import graft.operators.CorpusOps

class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "en", "a b c d"),
    (2L, "en", "e f"),
    (3L, "fr", "g h i"),
    (4L, "fr", "j"),
    (5L, "zh", "k l m n o")).toDF("doc_id", "lang", "text")

  test("stratified sample is deterministic and respects rate extremes") {
    val all = CorpusOps.stratifiedSample(docs, col("doc_id"), col("lang"),
      rates = Map.empty, defaultRate = 1.0)
    assert(all.count() == 5)
    val none = CorpusOps.stratifiedSample(docs, col("doc_id"), col("lang"),
      rates = Map.empty, defaultRate = 0.0)
    assert(none.count() == 0)
    val a = CorpusOps.stratifiedSample(docs, col("doc_id"), col("lang"),
      rates = Map("en" -> 0.5), defaultRate = 0.25).select("doc_id").collect().map(_.getLong(0)).toSet
    val b = CorpusOps.stratifiedSample(docs, col("doc_id"), col("lang"),
      rates = Map("en" -> 0.5), defaultRate = 0.25).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b) // hash-based, not rand(): identical across runs
  }

  test("matchDistribution: binding bin keeps 100%, over-represented bin thins by the exact ratio") {
    import graft.operators.Dedup
    // reference: 50/50 across two bins (boundary = rank-select median
    // of {1,1,2,2} -> 1; bin = v > 1). corpus: 6 rows at v=1 (bin 0),
    // 2 rows at v=2 (bin 1) -> pCor = (3/4, 1/4). ratios: bin0 2/3,
    // bin1 2 -> bin 1 binds (keep 1e6), bin0 keeps floor(1e6/3).
    val ref = Seq(1L, 1L, 2L, 2L).toDF("v")
    val cor = Seq((10L, 1L), (11L, 1L), (12L, 1L), (13L, 1L), (14L, 1L),
      (15L, 1L), (16L, 2L), (17L, 2L)).toDF("id", "v")
    val got = CorpusOps.matchDistribution(cor, ref, col("id"), col("v"),
        col("v"), nBins = 2)
      .select(col("id"), col("bin"), col("keep_micro"))
      .as[(Long, Int, Long)].collect().toSet
    // every bin-1 row survives with keep_micro = 1e6
    assert(got.filter(_._2 == 1).map(_._1) == Set(16L, 17L), s"binding bin: $got")
    assert(got.forall(t => if (t._2 == 1) t._3 == 1000000L else t._3 == 333333L),
      s"wrong rates: $got")
    // bin-0 survivors are exactly the rows whose stable hash bucket
    // clears the 333333 threshold — recompute independently
    val expected0 = cor.where(col("v") === 1L)
      .select(col("id"),
        pmod(Dedup.hash48(col("id").cast("string")), lit(1000000L)).as("b"))
      .as[(Long, Long)].collect().filter(_._2 < 333333L).map(_._1).toSet
    assert(got.filter(_._2 == 0).map(_._1) == expected0,
      s"sample must be the stable hash decision: got $got want bin0=$expected0")
  }

  test("sequence packing: offsets are running sums per shard and boundary spans are flagged") {
    val df = Seq(
      (1L, "s1", 300L), (2L, "s1", 300L), (3L, "s1", 100L),
      (10L, "s2", 512L), (11L, "s2", 1L)).toDF("doc_id", "source", "n")
    val out = CorpusOps.packSequences(df, col("doc_id"), col("source"), col("n"), budget = 512)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5), r.getInt(6)))).toMap
    // shard s1: doc1 [0,300) in seq 0; doc2 [300,600) spans 0->1; doc3 [600,700) in seq 1
    assert(out(1L) == ((0L, 0L, 0L, 0)))
    assert(out(2L) == ((300L, 0L, 1L, 1)))
    assert(out(3L) == ((600L, 1L, 1L, 0)))
    // shard s2 offsets restart: doc10 fills seq 0 exactly, doc11 starts seq 1
    assert(out(10L) == ((0L, 0L, 0L, 0)))
    assert(out(11L) == ((512L, 1L, 1L, 0)))
  }

  test("packSequences: a non-positive budget is rejected at the call") {
    // 0 would divide by zero at execution; -1 would return negative
    // seq_first/seq_last without complaint
    val df = Seq((1L, "s1", 300L)).toDF("doc_id", "source", "n")
    Seq(0, -1).foreach { b =>
      val e = intercept[IllegalArgumentException] {
        CorpusOps.packSequences(df, col("doc_id"), col("source"), col("n"), budget = b)
      }
      assert(e.getMessage.contains(s"budget must be positive, got $b"), e.getMessage)
    }
  }

  // the test's own copy of the operator's hash: md5-prefix-48 mod buckets
  private def bucketOf(id: Long, buckets: Int = 1000): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
    val hex = d.map("%02x".format(_)).mkString.substring(0, 12)
    java.lang.Long.parseLong(hex, 16) % buckets
  }

  test("assignSplit matches independent hash-bucket arithmetic for every row") {
    val ids = (1L to 2000L)
    val df = ids.toDF("doc_id")
    // weights sum to 1 with a float-accumulation hazard: cum 0.45+0.45+0.05
    // = 0.9500000000000001; integer rounding must still give bound 950
    val out = CorpusOps.assignSplit(df, col("doc_id"),
        Seq(("train", 0.45), ("val", 0.45), ("test", 0.05), ("holdout", 0.05)))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = ids.map { id =>
      val b = bucketOf(id)
      id -> (if (b < 450) "train" else if (b < 900) "val"
             else if (b < 950) "test" else "holdout")
    }.toMap
    assert(out == expected)
    assert(out.values.toSet == Set("train", "val", "test", "holdout"))
  }

  test("assignSplit boundary bucket goes to the right side of each bound") {
    // deterministically find ids landing exactly on / just below bound 450
    val at = (1L to 100000L).find(bucketOf(_) == 450L).get
    val below = (1L to 100000L).find(bucketOf(_) == 449L).get
    val out = CorpusOps.assignSplit(Seq(at, below).toDF("doc_id"), col("doc_id"),
        Seq(("train", 0.45), ("val", 0.45), ("test", 0.05), ("holdout", 0.05)))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(below) == "train") // bucket 449 < 450
    assert(out(at) == "val")      // bucket 450 is NOT < 450: first bucket of val
  }

  test("temperatureSample: up-sampled strata repeat, expected copies track the rate, deterministic") {
    val docs = Tables.load(spark, sfDir, "documents")
    val out = CorpusOps.temperatureSample(docs, col("doc_id"), col("source"),
        size(split(col("text"), " ")), baseRate = 1.0)
      .select(col("doc_id"), col("source"), col("n_copies"), col("copy_idx"))
      .persist()
    try {
      // copy_idx enumerates 0..n_copies-1 per doc
      val bad = out.groupBy("doc_id").agg(
          max(col("n_copies")).as("nc"), count(lit(1)).as("rows"),
          min(col("copy_idx")).as("lo"), max(col("copy_idx")).as("hi"))
        .filter(col("rows") =!= col("nc") || col("lo") =!= 0 || col("hi") =!= col("nc") - 1)
      assert(bad.isEmpty, "copy enumeration broken")
      // sqrt-temperature at baseRate 1: smallest stratum up-samples
      // (mean copies > 1), the dominant one down-samples (< 1)
      val perStratum = docs.groupBy("source").count()
        .join(out.groupBy("source").agg(sum("n_copies").as("copies")), Seq("source"), "left")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]).getOrElse(0L))).toMap
      val rates = perStratum.view.mapValues { case (n, c) => c.toDouble / n }.toMap
      assert(rates.values.max > 1.0, s"no stratum up-sampled: $rates")
      assert(rates.values.min < 1.0, s"no stratum down-sampled: $rates")
      // deterministic: a second run selects the identical multiset
      val again = CorpusOps.temperatureSample(docs, col("doc_id"), col("source"),
          size(split(col("text"), " ")), baseRate = 1.0)
        .select(col("doc_id"), col("copy_idx"))
      assert(again.exceptAll(out.select(col("doc_id"), col("copy_idx"))).isEmpty)
    } finally out.unpersist()
  }

  test("chunkDocuments: full coverage with exact overlap; short docs yield one chunk") {
    val text10 = (1 to 10).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, text10), (2L, "solo")).toDF("doc_id", "text")
    val out = CorpusOps.chunkDocuments(df, col("doc_id"), col("text"),
        chunkTokens = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    val doc1 = out.filter(_._1 == 1L).sortBy(_._2)
    // starts 0,3,6,9 (step 3); last chunk is the single trailing token
    assert(doc1.map(c => (c._3, c._4)).toSeq ==
      Seq((0L, 4L), (3L, 4L), (6L, 4L), (9L, 1L)))
    assert(doc1.head._5 == "w1 w2 w3 w4" && doc1.last._5 == "w10")
    // consecutive chunks share exactly `overlap` tokens
    assert(doc1(0)._5.split(" ").last == doc1(1)._5.split(" ").head)
    // every token covered exactly: concat of chunks minus overlaps = doc
    val rebuilt = doc1.map(_._5.split(" ")).reduce((a, b) => a ++ b.drop(1))
    assert(rebuilt.toSeq == text10.split(" ").toSeq)
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 0L, 1L, "solo")))
  }

  test("assignSplit weights normalize: (9,1) equals (0.9,0.1)") {
    val df = (1L to 500L).toDF("doc_id")
    val a = CorpusOps.assignSplit(df, col("doc_id"), Seq(("a", 9.0), ("b", 1.0)))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = CorpusOps.assignSplit(df, col("doc_id"), Seq(("a", 0.9), ("b", 0.1)))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
    intercept[IllegalArgumentException] {
      CorpusOps.assignSplit(df, col("doc_id"), Seq(("a", 0.5), ("b", -0.1)))
    }
  }

  test("topP keeps the heaviest prefix crossing p, at least one row per group") {
    import spark.implicits._
    // group g: weights 50, 30, 15, 5 (total 100). p=0.8: cum-before
    // 0, 50, 80, 95 -> keep 50, 30 and the BOUNDARY row 15 (80 < 80
    // is false)... cum_before*1000 < 800*100 -> 80000 < 80000 false:
    // row 15 drops. p=0.81 keeps it.
    val df = Seq((1L, "g", 50L), (2L, "g", 30L), (3L, "g", 15L), (4L, "g", 5L),
      (9L, "h", 7L)).toDF("id", "grp", "w")
    def ids(p: Int) = CorpusOps.topP(df, col("grp"), col("id"), col("w"), p)
      .select("id").as[Long].collect().toSet
    assert(ids(800) == Set(1L, 2L, 9L))
    assert(ids(810) == Set(1L, 2L, 3L, 9L))
    // singleton group always survives even at tiny p
    assert(ids(1) == Set(1L, 9L))
  }

  test("weightedSample: k per group, deterministic, and heavier rows win more slots") {
    import spark.implicits._
    val docs = Tables.load(spark, sfDir, "documents")
    def run() = CorpusOps.weightedSample(docs, col("doc_id"), col("n_chars"),
        col("lang"), k = 50)
      .select(col("lang"), col("doc_id")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val s1 = run()
    assert(s1 == run(), "hash-derived sampling must be run-stable")
    s1.foreach { case (lang, ids) =>
      val total = docs.filter(col("lang") === lang).count()
      assert(ids.size == math.min(50L, total),
        s"$lang: got ${ids.size} of expected ${math.min(50L, total)}")
    }
    // weighting bias: the sampled docs' mean length exceeds the corpus
    // mean (length-proportional inclusion)
    val sampledMean = CorpusOps.weightedSample(docs, col("doc_id"), col("n_chars"),
        col("lang"), k = 50)
      .agg(avg(col("n_chars"))).head().getDouble(0)
    val corpusMean = docs.agg(avg(col("n_chars"))).head().getDouble(0)
    assert(sampledMean > corpusMean,
      s"weighted sample mean $sampledMean must exceed corpus mean $corpusMean")
  }

  test("weightedSample: non-positive weights are outside the race (zero -> Inf key, negative -> race winner)") {
    import spark.implicits._
    val df = Seq((1L, "g", 10L), (2L, "g", 0L), (3L, "g", -5L), (4L, "g", 3L))
      .toDF("id", "grp", "w")
    val got = CorpusOps.weightedSample(df, col("id"), col("w"), col("grp"), k = 10)
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L, 4L),
      s"only strictly-positive-weight rows may be sampled: $got")
  }

  test("packBinsNextFit: hand fixture — overflow opens bins, oversize docs own one, shard state resets") {
    import spark.implicits._
    // shard a: 300 + 200 fill bin 0 (500 <= 512); 100 overflows -> bin 1;
    //          an OVERSIZE doc (600 > 512) -> bin 2 alone; then 10 -> bin 3
    // shard b: leads with an oversize doc -> bin 0 (empty bin always
    //          accepts its first); 512 exact-fit -> bin 1; 1 -> bin 2
    //          (512 + 1 overflows)
    val df = Seq(
      ("a", 1L, 300L), ("a", 2L, 200L), ("a", 3L, 100L), ("a", 4L, 600L), ("a", 5L, 10L),
      ("b", 1L, 9999L), ("b", 2L, 512L), ("b", 3L, 1L)
    ).toDF("shard", "doc_id", "n_tok")
    val got = CorpusOps.packBinsNextFit(df, col("shard"), col("doc_id"),
        col("n_tok"), budget = 512L)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(3), r.getLong(4))))
      .toMap
    val want = Map(
      ("a", 1L) -> ((0L, 300L)), ("a", 2L) -> ((0L, 500L)),
      ("a", 3L) -> ((1L, 100L)), ("a", 4L) -> ((2L, 600L)),
      ("a", 5L) -> ((3L, 10L)),
      ("b", 1L) -> ((0L, 9999L)), ("b", 2L) -> ((1L, 512L)),
      ("b", 3L) -> ((2L, 1L)))
    assert(got == want, s"fold diverged:\ngot  $got\nwant $want")
    // shards co-resident in one partition must not leak fold state:
    // force everything into a single partition and re-check
    val one = CorpusOps.packBinsNextFit(df.coalesce(1), col("shard"),
        col("doc_id"), col("n_tok"), budget = 512L)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(3), r.getLong(4))))
      .toMap
    assert(one == want, "single-partition run must reset state at shard boundaries")
    // plan shape: exactly one exchange (the shard repartition) feeds
    // the fold — the sort is within partitions, never global
    val plan = CorpusOps.packBinsNextFit(df, col("shard"), col("doc_id"),
      col("n_tok"), 512L).queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(shard"), plan.take(600))
    assert(!plan.contains("rangepartitioning"),
      s"sort must stay within partitions:\n${plan.take(600)}")
  }

  test("packBinsFirstFitDecreasing: beats next-fit padding on the planted fixture; cap evicts oldest; shard resets") {
    import spark.implicits._
    // budget 10, sizes (9, 9, 2, 2): next-fit in id order opens FOUR
    // bins (9 | 2 | 9 | 2 — the 2 after the second 9 overflows); FFD
    // sorts desc (9, 9, 2, 2) and packs THREE (9 | 9 | 2+2): the small
    // docs backfill the first bin with room
    val df = Seq(
      ("a", 1L, 9L), ("a", 2L, 2L), ("a", 3L, 9L), ("a", 4L, 2L)
    ).toDF("shard", "doc_id", "n_tok")
    def bins(got: org.apache.spark.sql.DataFrame): Long =
      got.agg(max(col("bin_idx"))).head.getLong(0) + 1
    val nf = CorpusOps.packBinsNextFit(df, col("shard"), col("doc_id"),
      col("n_tok"), budget = 10L)
    val ffd = CorpusOps.packBinsFirstFitDecreasing(df, col("shard"),
      col("doc_id"), col("n_tok"), budget = 10L)
    assert(bins(nf) == 4L, "fixture must make next-fit waste a bin")
    assert(bins(ffd) == 3L, "FFD must backfill the open bin next-fit abandoned")
    val got = ffd.collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(3), r.getLong(4)))).toMap
    // desc order (9@1, 9@3, 2@2, 2@4): 9->bin0, 9->bin1 (9+9>10),
    // 2->bin2 (no room in 0/1), 2->bin2 (2+2<=10)
    assert(got == Map(
      ("a", 1L) -> ((0L, 9L)), ("a", 3L) -> ((1L, 9L)),
      ("a", 2L) -> ((2L, 2L)), ("a", 4L) -> ((2L, 4L))), got.toString)
    // cap: maxOpen=2 — a third bin's opening closes bin 0, so a later
    // small doc that WOULD fit bin 0 lands in a live bin instead
    val capped = CorpusOps.packBinsFirstFitDecreasing(
      Seq(("a", 1L, 9L), ("a", 2L, 8L), ("a", 3L, 7L), ("a", 4L, 1L))
        .toDF("shard", "doc_id", "n_tok"),
      col("shard"), col("doc_id"), col("n_tok"), budget = 10L, maxOpen = 2)
      .collect().map(r => r.getLong(1) -> ((r.getLong(3), r.getLong(4)))).toMap
    // desc: 9->b0, 8->b1, 7->b2 (evicts b0), 1->b1 (8+1<=10; b0 closed
    // even though 9+1 would fit)
    assert(capped == Map(1L -> ((0L, 9L)), 2L -> ((1L, 8L)),
      3L -> ((2L, 7L)), 4L -> ((1L, 9L))), capped.toString)
    // shard co-residency: state resets per shard in one partition
    val two = Seq(("a", 1L, 9L), ("a", 2L, 2L), ("b", 1L, 3L), ("b", 2L, 3L))
      .toDF("shard", "doc_id", "n_tok").coalesce(1)
    val t = CorpusOps.packBinsFirstFitDecreasing(two, col("shard"),
        col("doc_id"), col("n_tok"), budget = 10L)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(3), r.getLong(4)))).toMap
    // shard a: 9 -> b0; 2 overflows (9+2 > 10) -> b1. shard b resets.
    assert(t == Map(("a", 1L) -> ((0L, 9L)), ("a", 2L) -> ((1L, 2L)),
      ("b", 1L) -> ((0L, 3L)), ("b", 2L) -> ((0L, 6L))), t.toString)
    // plan shape: one exchange, sort within partitions
    val plan = CorpusOps.packBinsFirstFitDecreasing(df, col("shard"),
      col("doc_id"), col("n_tok"), 10L).queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(shard"), plan.take(600))
    assert(!plan.contains("rangepartitioning"),
      s"sort must stay within partitions:\n${plan.take(600)}")
    // non-positive token counts fail loudly (round-15 ADVICE, both folds)
    val bad = Seq(("a", 1L, 0L)).toDF("shard", "doc_id", "n_tok")
    intercept[org.apache.spark.SparkException] {
      CorpusOps.packBinsFirstFitDecreasing(bad, col("shard"), col("doc_id"),
        col("n_tok"), 10L).collect()
    }
    intercept[org.apache.spark.SparkException] {
      CorpusOps.packBinsNextFit(bad, col("shard"), col("doc_id"),
        col("n_tok"), 10L).collect()
    }
  }

  test("gumbelTopK: k per group; a dominant score always wins; integer keys are deterministic") {
    import spark.implicits._
    // the Gumbel noise key is bounded: e_unat in (0, ~31e6] gives
    // ln-noise in about [-13.9e6, +3.5e6], so a score gap > 2e7
    // guarantees inclusion order regardless of the hash draw
    val df = (1L to 20L).map(i =>
        (i, if (i <= 2) 100000000L + i else 0L, s"g${i % 2}"))
      .toDF("id", "score_u", "grp")
    val got = CorpusOps.gumbelTopK(df, col("id"), col("score_u"), col("grp"), k = 3)
      .collect().map(r => (r.getString(2), r.getLong(0), r.getInt(3)))
    assert(got.length == 6, s"3 per group x 2 groups, got ${got.length}")
    // the two dominant-score rows (ids 1, 2) land at rank 1 of their groups
    val rank1 = got.filter(_._3 == 1).map(_._2).toSet
    assert(rank1 == Set(1L, 2L), s"dominant scores must win their groups: $rank1")
    // deterministic run over run
    val again = CorpusOps.gumbelTopK(df, col("id"), col("score_u"), col("grp"), k = 3)
      .collect().map(r => (r.getString(2), r.getLong(0), r.getInt(3)))
    assert(again.sortBy(x => (x._1, x._3)).toSeq == got.sortBy(x => (x._1, x._3)).toSeq)
  }

  test("gumbelTopK plans a WindowGroupLimit: the per-group top-k never materializes a full per-group sort") {
    // the 100 TB shape of sampling ∝ exp(score): groups are languages
    // (few, huge) — Spark's rank-limit pushdown keeps ~k rows per
    // map task, so the final one-task-per-group step moves k x tasks
    // rows, not the corpus. A regression to a plain window would
    // serialize whole languages through single tasks.
    val df = Seq((1L, "en", 5L), (2L, "en", 3L), (3L, "fr", 9L))
      .toDF("id", "grp", "score_u")
    val plan = CorpusOps.gumbelTopK(df, col("id"), col("score_u"), col("grp"), 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank-limit pushdown must plan WindowGroupLimit:\n${plan.take(800)}")
  }

  test("dsirWeights: target-domain documents outscore off-domain ones; weights are deterministic integers") {
    import spark.implicits._
    // two synthetic "domains" with disjoint vocabulary; the target
    // distribution is domain A, so A-like raw docs must carry higher
    // importance weights than B-like ones
    val raw = Seq(
      (1L, "alpha beta alpha gamma beta alpha"),
      (2L, "beta gamma alpha beta gamma beta"),
      (3L, "zulu yankee zulu xray yankee zulu"),
      (4L, "xray zulu yankee xray zulu yankee")
    ).toDF("doc_id", "text")
    val target = Seq(
      (10L, "alpha beta gamma alpha beta"),
      (11L, "gamma alpha beta beta alpha")
    ).toDF("doc_id", "text")
    val got = CorpusOps.dsirWeights(raw, target, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got.size == 4)
    val aMin = math.min(got(1L), got(2L))
    val bMax = math.max(got(3L), got(4L))
    assert(aMin > bMax,
      s"target-domain docs must outscore off-domain: A >= $aMin vs B <= $bMax")
    // integer weights are exactly reproducible run over run
    val again = CorpusOps.dsirWeights(raw, target, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(again == got)
    // distribution tables are dim-bounded: the per-doc scoring join is
    // a broadcast, never a shuffle of the corpus against the corpus
    val plan = CorpusOps.dsirWeights(raw, target, col("doc_id"), col("text"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      plan.take(600))
  }

  test("dsirRun: the corpus gram pass materializes ONCE — both consumers read the cache; release() unpersists exactly this run's frame") {
    import spark.implicits._
    val raw = Seq(
      (1L, "alpha beta alpha gamma beta alpha"),
      (2L, "beta gamma alpha beta gamma beta"),
      (3L, "zulu yankee zulu xray yankee zulu")
    ).toDF("doc_id", "text")
    val target = Seq((10L, "alpha beta gamma alpha beta")).toDF("doc_id", "text")
    val run = CorpusOps.dsirRun(raw, target, col("doc_id"), col("text"))
    assert(run.cached.size == 1)
    assert(run.cached.head.storageLevel.useMemory || run.cached.head.storageLevel.useDisk,
      "the (doc, bucket) frame must be persisted")
    val rows = run.result.collect()
    assert(rows.length == 3)
    // the ONE-PASS pin: the raw distribution fold and the scoring join
    // both read the persisted (doc, bucket) counts — the executed plan
    // carries (at least) two in-memory scans of the SAME cache, and
    // the raw gram explode appears at most once (inside the cached
    // plan), never as two live corpus passes
    val plan = run.result.queryExecution.executedPlan.toString
    val imr = "InMemoryTableScan".r.findAllIn(plan).length +
      "TableCacheQueryStage".r.findAllIn(plan).length
    assert(imr >= 2, s"expected both consumers on the cache, got $imr:\n${plan.take(1200)}")
    // the convenience form gives the same integers
    val viaConvenience = CorpusOps.dsirWeights(raw, target, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(viaConvenience == rows.map(r => r.getLong(0) -> r.getLong(2)).toMap)
    // release is scoped and idempotent
    run.release()
    assert(run.cached.head.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE)
    run.release() // no-op
    // a fresh run after release re-caches cleanly and agrees
    val again = CorpusOps.dsirRun(raw, target, col("doc_id"), col("text"))
    assert(again.result.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap ==
      rows.map(r => r.getLong(0) -> r.getLong(2)).toMap)
    again.release()
  }

  test("pretrainingRun: every doc exactly one disposition; scrub feeds DSIR and packing; too-short docs are gated, not dropped") {
    import spark.implicits._
    def prose(n: Int, seed: Int) = (1 to n)
      .map(i => if (i % 5 == 0) "the" else s"word${(i * seed) % 23}").mkString(" ")
    val docs = Seq(
      (1L, "en", prose(40, 3) + " mail bob@ex.io now"),   // kept; email scrubbed
      (2L, "en", prose(45, 7)),                            // kept
      (3L, "en", prose(44, 11)),                           // kept
      (4L, "fr", prose(42, 5)),                            // kept
      (5L, "en", "tiny"),                                  // < 2 tokens: gated (no 2-gram)
      (6L, "en", prose(500, 3)),                           // too long: gated
      (7L, "en", ("spam beacon " * 30).trim),              // repetitive: gated by top2
      (8L, null, prose(43, 13))                            // kept, no shard: not_sampled
    ).toDF("doc_id", "lang", "text")
    val run = CorpusOps.pretrainingRun(docs,
      minWords = 10L, maxWords = 100L, minMeanLen = 1.0, maxMeanLen = 9.0,
      stopWords = Seq("the"), minStopHits = 1L, maxTop2Frac = 0.5,
      targetPred = col("lang") === "en", dim = 16, samplesPerLang = 2,
      packBudget = 64L, maxOpen = 2)
    val rows = run.result.collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == (1L to 8L),
      "every doc exactly one disposition")
    val byId = rows.map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(byId(5L) == "gated" && byId(6L) == "gated" && byId(7L) == "gated", byId.toString)
    assert(byId(8L) == "not_sampled", byId.toString)
    // en keepers: 3 docs, k=2 -> exactly 2 packed + 1 not_sampled;
    // fr keeper: 1 doc -> packed
    val en = rows.filter(r => r.getString(1) == "en" && r.getString(2) != "gated")
    assert(en.count(_.getString(2) == "packed") == 2 &&
      en.count(_.getString(2) == "not_sampled") == 1, en.mkString(";"))
    assert(byId(4L) == "packed")
    // packed rows carry rank, bin and the SCRUBBED token count; doc 1's
    // n_tok must count "[EMAIL]" as one token (scrub happened upstream)
    rows.filter(_.getString(2) == "packed").foreach { r =>
      assert(!r.isNullAt(4) && !r.isNullAt(5) && r.getLong(6) > 0L, r.toString)
    }
    val nTok1 = rows.find(_.getLong(0) == 1L).get.getLong(6)
    assert(nTok1 == 43L, s"40 words + 'mail [EMAIL] now' = 43 scrubbed tokens, got $nTok1")
    // handle releases its caches (gate verdicts + scrubbed projection
    // + weighted + the shared gram-bucket counts; `sampled` became a
    // collected-once LocalRelation in the round-18 optimization pass)
    assert(run.cached.size == 4)
    run.release()
    assert(run.cached.forall(_.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE))
  }

  test("pretrainingRun: an over-cap resample falls back to the persisted-stage path with identical dispositions") {
    // Round-19 pin (round-18 review item): the resample collect is
    // config-sized only while the GROUP cardinality is — the gate must
    // exist and the fallback must be row-identical. sampleCollectCap=0
    // makes every non-empty resample "over cap", exercising the
    // persisted-stage path on the same corpus the collect path runs.
    import spark.implicits._
    def prose(n: Int, seed: Int) = (1 to n)
      .map(i => if (i % 5 == 0) "the" else s"word${(i * seed) % 23}").mkString(" ")
    val docs = Seq(
      (1L, "en", prose(40, 3)), (2L, "en", prose(45, 7)),
      (3L, "en", prose(44, 11)), (4L, "fr", prose(42, 5)),
      (5L, "en", "tiny")).toDF("doc_id", "lang", "text")
    def run(cap: Int) = CorpusOps.pretrainingRun(docs,
      minWords = 10L, maxWords = 100L, minMeanLen = 1.0, maxMeanLen = 9.0,
      stopWords = Seq("the"), minStopHits = 1L, maxTop2Frac = 0.5,
      targetPred = col("lang") === "en", dim = 16, samplesPerLang = 2,
      packBudget = 64L, maxOpen = 2, sampleCollectCap = cap)
    val collected = run(200000)
    val fellBack = run(0)
    val a = collected.result.collect().map(_.toSeq).toSet
    val b = fellBack.result.collect().map(_.toSeq).toSet
    assert(a == b, s"fallback diverged: ${a.diff(b)} vs ${b.diff(a)}")
    // the fallback holds ONE extra cached frame (the resample stage)
    assert(collected.cached.size == 4 && fellBack.cached.size == 5,
      s"got ${collected.cached.size}/${fellBack.cached.size}")
    collected.release(); fellBack.release()
    assert(fellBack.cached.forall(_.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE))
  }

  test("tokenBudgetFill: per-source budgets honored in hash order; ledger auditable; unweighted source fails loudly") {
    val docs = (1L to 40L).map(i =>
      (i, if (i % 2 == 0) "web" else "code", 10L))
      .toDF("doc_id", "source", "n_tok")
    // 100-token budget at 700/300: web 70 -> 7 docs of 10, code 30 -> 3
    val out = CorpusOps.tokenBudgetFill(docs, col("doc_id"), col("source"),
        col("n_tok"), Map("web" -> 700L, "code" -> 300L),
        totalBudget = 100L, seed = 1L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(4), r.getInt(5)))
    assert(out.count(r => r._2 == "web" && r._4 == 1) == 7)
    assert(out.count(r => r._2 == "code" && r._4 == 1) == 3)
    // the ledger carries EVERY doc: rejected rows keep their cum_tok
    assert(out.length == 40 && out.forall(_._3 > 0))
    // kept set is the cum_tok <= budget prefix of the hash order
    out.filter(_._2 == "web").sortBy(_._3).zipWithIndex.foreach { case (r, i) =>
      assert((r._4 == 1) == (i < 7), s"web draw order violated at $r")
    }
    // weights must cover every present source
    val e = intercept[Exception] {
      CorpusOps.tokenBudgetFill(docs, col("doc_id"), col("source"),
        col("n_tok"), Map("web" -> 1000L), 100L).collect()
    }
    assert(e.getMessage != null)
    // weights must sum to 1000 per-mille
    intercept[IllegalArgumentException] {
      CorpusOps.tokenBudgetFill(docs, col("doc_id"), col("source"),
        col("n_tok"), Map("web" -> 700L, "code" -> 200L), 100L)
    }
  }

  test("epochShuffle: same seed reproduces bit-for-bit; a new seed re-permutes; per-shard positions are contiguous from 1") {
    val ids = (1L to 200L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    def run(seed: Long) = CorpusOps.epochShuffle(ids, col("doc_id"), seed, nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).sorted.toSeq
    val a = run(7L)
    assert(a == run(7L), "same seed must reproduce the permutation exactly")
    val b = run(8L)
    assert(a != b, "a new seed must re-permute")
    // per shard: positions are exactly 1..n
    a.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted == (1L to rows.size).toSeq,
        s"shard $shard positions not contiguous")
    }
    // every shard populated (200 docs over 4 hash shards)
    assert(a.map(_._2).distinct.size == 4)
    // scale contract: the position window is per-shard, never global —
    // no single-partition exchange in the plan
    val plan = CorpusOps.epochShuffle(ids, col("doc_id"), 7L, 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"the position window must partition by shard:\n${plan.take(600)}")
  }

  test("pretrainingRun + c4: boilerplate pages exit first; the gate scores the CLEANED text; n_tok counts cleaned tokens only (round 18)") {
    import graft.operators.TextAnalysis
    def line(seed: Int, n: Int) =
      (1 to n).map(i => if (i % 4 == 0) "the" else s"w${(seed * 7 + i) % 19}")
        .mkString(" ") + "."
    val good = (1 to 6).map(i => line(i, 5)).mkString("\n") // 30 words, all lines kept
    val junk = (1 to 8).map(i => (1 to 5).map(j => s"j${i}x$j").mkString(" "))
      .mkString("\n") // no terminal punct -> every line cut
    val docs = Seq(
      (1L, "en", good),
      (2L, "en", good + "\nwell frak that plan entirely."), // bad word -> page drop
      (3L, "en", good + "\n" + junk), // raw 70 words > maxWords; cleaned 30 -> kept
      (4L, "en", line(9, 5)) // 1 kept line < minKeptLines -> page drop
    ).toDF("doc_id", "lang", "text")
    val run = CorpusOps.pretrainingRun(docs,
      minWords = 10L, maxWords = 50L, minMeanLen = 1.0, maxMeanLen = 9.0,
      stopWords = Seq("the"), minStopHits = 1L, maxTop2Frac = 0.9,
      targetPred = col("lang") === "en", dim = 16, samplesPerLang = 2,
      packBudget = 64L, maxOpen = 2,
      c4 = Some(TextAnalysis.C4Policy(Seq("frak"),
        minWordsPerLine = 3, minKeptLines = 2)))
    val rows = run.result.collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == (1L to 4L),
      "every page exactly one disposition")
    val byId = rows.map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(byId(2L) == "boilerplate" && byId(4L) == "boilerplate", byId.toString)
    assert(Set("packed", "not_sampled").contains(byId(3L)),
      s"doc 3 passes the gate ONLY because C4 cut the junk lines first: $byId")
    assert(Set("packed", "not_sampled").contains(byId(1L)), byId.toString)
    // n_tok is the CLEANED token count (6 lines x 5 words), not the raw 70
    val nTok3 = rows.find(_.getLong(0) == 3L).get.getLong(6)
    assert(nTok3 == 30L, s"cleaned token count, got $nTok3")
    // boilerplate rows never reach scrub/DSIR: their tail columns are null
    rows.filter(_.getString(2) == "boilerplate").foreach { r =>
      assert(r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(5) && r.isNullAt(6),
        r.toString)
    }
    // the C4 split point joins the persist set; release drops it too
    assert(run.cached.size == 5, s"expected 5 cached frames, got ${run.cached.size}")
    run.release()
    assert(run.cached.forall(_.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE))
  }

  test("pretrainingRun + evalDocs: a paraphrased keeper lands contaminated BEFORE the DSIR distributions; gated plants stay gated") {
    import spark.implicits._
    def prose(tag: String, n: Int) = (1 to n)
      .map(i => if (i % 5 == 0) "the" else s"$tag${(i * 3) % 29}").mkString(" ")
    val leakedText = prose("leak", 40)
    val docs = Seq(
      (1L, "en", prose("alpha", 40)),
      (2L, "en", leakedText),            // keeper whose paraphrase is in the eval set
      (3L, "en", prose("gamma", 41)),
      (4L, "en", "tiny")                 // gated; even if eval-similar it stays gated
    ).toDF("doc_id", "lang", "text")
    val paraphrase = leakedText.split(" ").zipWithIndex.collect {
      case (w, i) if (i + 1) % 7 != 4 => w
    }.mkString(" ")
    val eval = Seq((100L, paraphrase)).toDF("doc_id", "text")
    val run = CorpusOps.pretrainingRun(docs,
      minWords = 10L, maxWords = 100L, minMeanLen = 1.0, maxMeanLen = 9.0,
      stopWords = Seq("the"), minStopHits = 1L, maxTop2Frac = 0.9,
      targetPred = col("lang") === "en", dim = 16, samplesPerLang = 5,
      packBudget = 64L, maxOpen = 2, evalDocs = Some(eval),
      fuzzyTau = 0.35, fuzzyRowsPerBand = 1)
    val got = run.result.collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got.size == 4, s"exactly one disposition per doc: $got")
    assert(got(2L) == "contaminated", got.toString)
    assert(got(4L) == "gated", got.toString)
    assert(Set("packed").contains(got(1L)) && Set("packed").contains(got(3L)),
      s"clean keepers proceed to sampling/packing: $got")
    // the contaminated doc must not have shaped the weights: rerun
    // WITHOUT it in the corpus and the clean docs' weights agree
    val runWo = CorpusOps.pretrainingRun(docs.filter(col("doc_id") =!= 2L),
      minWords = 10L, maxWords = 100L, minMeanLen = 1.0, maxMeanLen = 9.0,
      stopWords = Seq("the"), minStopHits = 1L, maxTop2Frac = 0.9,
      targetPred = col("lang") === "en", dim = 16, samplesPerLang = 5,
      packBudget = 64L, maxOpen = 2)
    def weights(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("dsir_weight_u").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(weights(run.result) == weights(runWo.result),
      "DSIR weights must be computed over the decontaminated corpus")
    run.release(); runWo.release()
  }

  test("pretrainingRun: persisted stages are LINEAGE-CUT leaves — the gate/fuzzy machinery never re-executes in the result plan, and the plan string stays flat (round 18)") {
    import spark.implicits._
    def prose(tag: String, n: Int) = (1 to n)
      .map(i => if (i % 5 == 0) "the" else s"$tag${(i * 3) % 29}").mkString(" ")
    val leakedText = prose("leak", 40)
    val docs = Seq(
      (1L, "en", prose("alpha", 40)),
      (2L, "en", leakedText),
      (3L, "en", prose("gamma", 41)),
      (4L, "en", "tiny")
    ).toDF("doc_id", "lang", "text")
    val paraphrase = leakedText.split(" ").zipWithIndex.collect {
      case (w, i) if (i + 1) % 7 != 4 => w
    }.mkString(" ")
    val eval = Seq((100L, paraphrase)).toDF("doc_id", "text")
    val run = CorpusOps.pretrainingRun(docs,
      minWords = 10L, maxWords = 100L, minMeanLen = 1.0, maxMeanLen = 9.0,
      stopWords = Seq("the"), minStopHits = 1L, maxTop2Frac = 0.9,
      targetPred = col("lang") === "en", dim = 16, samplesPerLang = 5,
      packBudget = 64L, maxOpen = 2, evalDocs = Some(eval),
      fuzzyTau = 0.35, fuzzyRowsPerBand = 1)
    // the handle owns all 8 run-scoped caches: tagged, scrubbed,
    // weighted, the shared (doc, bucket) counts + corpusSh, evalSh,
    // flagged, clean
    assert(run.cached.size == 8, s"expected 8 cached frames, got ${run.cached.size}")
    assert(run.cached.forall(df =>
      df.storageLevel.useMemory || df.storageLevel.useDisk),
      "every handle entry must be persisted")
    val rows = run.result.collect()
    assert(rows.length == 4)
    val plan = run.result.queryExecution.executedPlan.toString
    // every persisted stage surfaces as a LogicalRDD leaf downstream
    assert(plan.contains("Scan ExistingRDD"), plan.take(800))
    // the fuzzy gate's band/shingle columns must NOT appear — the
    // banded-MinHash + verify subtree lives entirely behind the
    // flagged/clean leaves and re-executes in NO downstream lineage
    assert(!plan.contains("band_key") && !plan.contains("_hs"),
      s"fuzzy machinery leaked into the result plan:\n${plan.take(1200)}")
    // and the rendered plan is FLAT: round 17's nested-InMemoryRelation
    // prints grew exponentially with persist depth, costing tens of
    // seconds of pure driver time per AQE update (SCALE.md "Round 18":
    // 38 s wall / 3 task-seconds on a fully-cached second write)
    assert(plan.length < 200000, s"plan string blew up: ${plan.length} chars")
    // release() frees the caches; the leaves recompute through the
    // now-uncached plans and the result stays correct
    run.release()
    assert(run.cached.forall(_.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE))
    val again = run.result.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(again == rows.map(r => r.getLong(0) -> r.getString(2)).toMap)
  }

  test("pretrainingRun + domainTrain: NB routing feeds the resample — quota per (lang, domain) cell, domain null on gated rows, plain spine schema untouched (round 18)") {
    import spark.implicits._
    def prose(tag: String, n: Int, seed: Int) = (1 to n)
      .map(i => if (i % 5 == 0) "the" else s"$tag${(i * seed) % 23}").mkString(" ")
    // two disjoint-vocabulary domains, 3 en keepers each + 1 gated doc
    val docs = Seq(
      (1L, "en", prose("news", 40, 3)),
      (2L, "en", prose("news", 41, 7)),
      (3L, "en", prose("news", 42, 11)),
      (4L, "en", prose("code", 40, 5)),
      (5L, "en", prose("code", 41, 13)),
      (6L, "en", prose("code", 42, 17)),
      (7L, "en", "tiny")
    ).toDF("doc_id", "lang", "text")
    val train = Seq(
      (100L, prose("news", 30, 19), "news"),
      (101L, prose("news", 31, 23), "news"),
      (102L, prose("code", 30, 29), "code"),
      (103L, prose("code", 31, 31), "code")
    ).toDF("doc_id", "text", "label")
    val run = CorpusOps.pretrainingRun(docs,
      minWords = 10L, maxWords = 100L, minMeanLen = 1.0, maxMeanLen = 9.0,
      stopWords = Seq("the"), minStopHits = 1L, maxTop2Frac = 0.5,
      targetPred = col("lang") === "en", dim = 16, samplesPerLang = 2,
      packBudget = 64L, maxOpen = 2, domainTrain = Some(train), nbDim = 128)
    val rows = run.result.collect()
    assert(run.result.columns.toSeq ==
      Seq("doc_id", "lang", "disposition", "dsir_weight_u", "sample_rank",
        "bin_idx", "n_tok", "domain"), run.result.columns.mkString(","))
    assert(rows.map(_.getLong(0)).sorted.toSeq == (1L to 7L),
      "every doc exactly one disposition")
    val byId = rows.map(r => r.getLong(0) ->
      ((r.getString(2), if (r.isNullAt(7)) null else r.getString(7)))).toMap
    assert(byId(7L) == (("gated", null)), byId.toString)
    // disjoint vocab routes each family to its own domain
    (1L to 3L).foreach(i => assert(byId(i)._2 == "news", byId.toString))
    (4L to 6L).foreach(i => assert(byId(i)._2 == "code", byId.toString))
    // quota is PER (lang, domain) CELL: k=2 over 3 docs in each of the
    // two (en, domain) cells -> exactly 2 packed + 1 not_sampled per cell
    Seq("news", "code").foreach { d =>
      val cell = rows.filter(r => !r.isNullAt(7) && r.getString(7) == d)
      assert(cell.count(_.getString(2) == "packed") == 2 &&
        cell.count(_.getString(2) == "not_sampled") == 1,
        s"$d: ${cell.map(r => r.getLong(0) -> r.getString(2)).mkString(";")}")
    }
    // the model tables and the resample are config-sized
    // LocalRelations since the round-18 optimization pass (collected
    // once, nothing to release), so the handle carries exactly the
    // plain spine's four persisted frames: tagged, scrubbed,
    // weighted, docBuckets
    assert(run.cached.size == 4, run.cached.size.toString)
    run.release()
    // the plain spine's schema stays 7 columns — no domain leakage
    val plain = CorpusOps.pretrainingRun(docs,
      minWords = 10L, maxWords = 100L, minMeanLen = 1.0, maxMeanLen = 9.0,
      stopWords = Seq("the"), minStopHits = 1L, maxTop2Frac = 0.5,
      targetPred = col("lang") === "en", dim = 16, samplesPerLang = 2,
      packBudget = 64L, maxOpen = 2)
    assert(!plain.result.columns.contains("domain"))
    plain.release()
  }

  test("pretrainingRun edges: an all-gated corpus yields only gated rows (null domain); an empty domainTrain fails loudly at construction (round 18)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "tiny"),
      (2L, "en", "also tiny")
    ).toDF("doc_id", "lang", "text")
    val train = Seq((100L, "alpha beta gamma delta", "news"))
      .toDF("doc_id", "text", "label")
    // everything gated: the downstream stages (DSIR, router, resample,
    // packer, every lineage-cut leaf) all run over EMPTY frames and
    // the result is exactly the gated rows with a null domain
    val run = CorpusOps.pretrainingRun(docs,
      minWords = 10L, maxWords = 100L, minMeanLen = 1.0, maxMeanLen = 9.0,
      stopWords = Seq("the"), minStopHits = 1L, maxTop2Frac = 0.5,
      targetPred = col("lang") === "en", dim = 16, samplesPerLang = 2,
      packBudget = 64L, maxOpen = 2, domainTrain = Some(train), nbDim = 32)
    val rows = run.result.collect()
    assert(rows.length == 2 && rows.forall(r =>
      r.getString(2) == "gated" && r.isNullAt(7)), rows.mkString(";"))
    run.release()
    // an EMPTY labeled slice cannot train a router: the nbScore
    // empty-model require fires AT CONSTRUCTION (the classifyStream
    // fail-at-setup discipline), not as a confusing NPE mid-job
    intercept[IllegalArgumentException] {
      CorpusOps.pretrainingRun(docs,
        minWords = 10L, maxWords = 100L, minMeanLen = 1.0, maxMeanLen = 9.0,
        stopWords = Seq("the"), minStopHits = 1L, maxTop2Frac = 0.5,
        targetPred = col("lang") === "en", dim = 16, samplesPerLang = 2,
        packBudget = 64L, maxOpen = 2,
        domainTrain = Some(train.filter(col("label").isNull)), nbDim = 32)
    }
  }

  test("nbClassify: disjoint-vocab domains route correctly; margins positive; deterministic; single-class margin is 0") {
    import spark.implicits._
    val train = Seq(
      (1L, "news", "alpha beta gamma alpha beta delta"),
      (2L, "news", "beta gamma alpha delta beta alpha"),
      (3L, "code", "zulu yankee xray zulu whiskey xray"),
      (4L, "code", "xray zulu yankee whiskey zulu yankee")
    ).toDF("doc_id", "label", "text")
    val corpus = Seq(
      (10L, "alpha beta gamma beta"),     // news-like
      (11L, "zulu xray yankee whiskey"),  // code-like
      (12L, "alpha zulu beta xray alpha") // mixed, alpha/beta-heavy -> news
    ).toDF("doc_id", "text")
    val got = CorpusOps.nbClassify(train, corpus, col("doc_id"), col("text"),
        col("label"), dim = 32)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.size == 3)
    assert(got(10L)._1 == "news" && got(11L)._1 == "code" && got(12L)._1 == "news",
      got.toString)
    assert(got.values.forall(_._3 >= 0L), s"margins must be >= 0: $got")
    assert(got(10L)._3 > 0L && got(11L)._3 > 0L,
      "clear-cut docs must carry a positive runner-up margin")
    // integer scores are exactly reproducible
    val again = CorpusOps.nbClassify(train, corpus, col("doc_id"), col("text"),
        col("label"), dim = 32)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(again == got)
    // the class-conditional table joins back as a broadcast — the
    // corpus never shuffles against the corpus
    val plan = CorpusOps.nbClassify(train, corpus, col("doc_id"), col("text"),
      col("label"), dim = 32).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(600))
    // one training class: everything routes there with margin 0
    val one = CorpusOps.nbClassify(train.filter(col("label") === "news"),
        corpus, col("doc_id"), col("text"), col("label"), dim = 32)
      .collect().map(r => (r.getString(1), r.getLong(3)))
    assert(one.forall { case (p, m) => p == "news" && m == 0L }, one.mkString(";"))
    // a dim that disagrees with the model's bucket support fails loudly
    // instead of silently dropping features from the fold
    val (lp, priors) = CorpusOps.nbModel(train, col("doc_id"), col("text"),
      col("label"), dim = 32)
    val exDim = intercept[IllegalArgumentException] {
      CorpusOps.nbScore(corpus, lp, priors, col("doc_id"), col("text"), dim = 64)
    }
    assert(exDim.getMessage.contains("bucket support"))
  }

  test("curationPipeline: one disposition per doc — quality gate, exact keeper, cluster-safe split") {
    import spark.implicits._
    val longText = (1 to 120).map(i => s"word$i").mkString(" ") // quality 1.0
    val docs = Seq(
      (1L, longText),           // kept (exact keeper of {1, 4})
      (2L, longText + " tail"), // kept, near-dup of 1 (via pairs arg)
      (3L, "1 2 3"),            // low quality: short + all digits
      (4L, longText),           // exact dup of 1 (larger id loses)
      (5L, "another " + (1 to 120).map(i => s"tok$i").mkString(" ")), // kept singleton
      (6L, null.asInstanceOf[String]) // null text: low quality, never dropped
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("id1", "id2")
    val got = CorpusOps.curationPipeline(docs, qualityMin = 0.25, pairs,
        splits = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(2), if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getString(4)))))
      .toMap
    assert(got.size == 6, s"every doc gets exactly one disposition: $got")
    assert(got(3L)._1 == "low_quality" && got(3L)._2.isEmpty && got(3L)._3.isEmpty)
    assert(got(6L)._1 == "low_quality", s"null text is low quality: ${got(6L)}")
    assert(got(4L)._1 == "exact_dup", s"doc 4 duplicates doc 1: ${got(4L)}")
    assert(got(1L)._1 == "kept" && got(2L)._1 == "kept" && got(5L)._1 == "kept")
    // near-dup twins 1 and 2 share the cluster key, hence the split
    assert(got(1L)._2 == Some(1L) && got(2L)._2 == Some(1L))
    assert(got(1L)._3 == got(2L)._3, "near-dup twins must not straddle the boundary")
    assert(got(5L)._2.isEmpty && got(5L)._3.nonEmpty) // singleton: own bucket
  }

  test("curationPipeline decontamination gate: contaminated keepers drop, gate order holds, n-gram grain exact") {
    import spark.implicits._
    val longText = (1 to 120).map(i => s"word$i").mkString(" ")
    val evalText = (1 to 40).map(i => s"ev$i mk").mkString(" ")
    // shares exactly one 8-gram with the eval set, otherwise unique
    val contamText = (1 to 60).map(i => s"ca$i it").mkString(" ") +
      " " + (1 to 4).map(i => s"ev$i mk").mkString(" ") + " " +
      (61 to 120).map(i => s"ca$i it").mkString(" ")
    // shares only a 7-token run with the eval set: NOT contaminated
    // (the rule is distinct 8-grams, not any overlap)
    val underText = (1 to 60).map(i => s"ub$i it").mkString(" ") +
      " ev1 mk ev2 mk ev3 mk ev4 " +
      (61 to 120).map(i => s"ub$i it").mkString(" ")
    val docs = Seq(
      (1L, longText),        // kept
      (2L, contamText),      // contaminated keeper
      (3L, contamText),      // exact dup of 2: gate order — exact_dup wins
      (4L, underText),       // 7-token overlap only: kept
      (5L, "1 2 3")          // low quality
    ).toDF("doc_id", "text")
    val pairs = Seq.empty[(Long, Long)].toDF("id1", "id2")
    val evalDocs = Seq((900L, evalText)).toDF("doc_id", "text")
    val got = CorpusOps.curationPipeline(docs, qualityMin = 0.25, pairs,
        splits = Seq(("train", 0.8), ("val", 0.2)), evalDocs = Some(evalDocs))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(2), if (r.isNullAt(4)) None else Some(r.getString(4)))))
      .toMap
    assert(got.size == 5, s"every doc gets exactly one disposition: $got")
    assert(got(2L)._1 == "contaminated" && got(2L)._2.isEmpty,
      s"8-gram overlap with the eval set must contaminate: ${got(2L)}")
    assert(got(3L)._1 == "exact_dup",
      s"exact-dup gate precedes the contamination gate: ${got(3L)}")
    assert(got(4L)._1 == "kept",
      s"a 7-token run is below the 8-gram grain: ${got(4L)}")
    assert(got(1L)._1 == "kept" && got(5L)._1 == "low_quality")
    // without evalDocs the same corpus has no contaminated branch
    val plain = CorpusOps.curationPipeline(docs, 0.25, pairs,
        Seq(("train", 0.8), ("val", 0.2)))
      .select("disposition").distinct().as[String].collect().toSet
    assert(!plain.contains("contaminated"))
  }

  test("curationPipeline decontamination gate: the eval gram set meets keeper grams as a broadcast semi join") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, (1 to 120).map(j => s"w$i-$j").mkString(" ")))
      .toDF("doc_id", "text")
    val evalDocs = Seq((900L, (1 to 40).map(i => s"ev$i mk").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("id1", "id2")
    val plan = CorpusOps.curationPipeline(docs, 0.25, pairs,
        Seq(("train", 0.8), ("val", 0.2)), evalDocs = Some(evalDocs))
      .queryExecution.executedPlan.toString
    // the gate's scale contract (q84/q206 family): the benchmark gram
    // set broadcasts and the corpus-derived side semi-joins it in its
    // own scan stage — the keeper grams must never shuffle into a
    // sort-merge join against the eval set
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"expected a broadcast semi join on the gram hash:\n${plan.take(900)}")
  }

  test("curationRun: release() unpersists exactly the pipeline's frames; a second run re-caches cleanly") {
    import org.apache.spark.storage.StorageLevel
    import spark.implicits._
    val longText = (1 to 120).map(i => s"word$i").mkString(" ")
    val contamText = (1 to 60).map(i => s"cr$i it").mkString(" ") +
      " " + (1 to 4).map(i => s"ev$i mk").mkString(" ") + " " +
      (61 to 120).map(i => s"cr$i it").mkString(" ")
    val docs = Seq((1L, longText), (2L, contamText), (3L, "1 2 3"))
      .toDF("doc_id", "text")
    val pairs = Seq.empty[(Long, Long)].toDF("id1", "id2")
    val evalDocs = Seq((900L, (1 to 40).map(i => s"ev$i mk").mkString(" ")))
      .toDF("doc_id", "text")
    // an unrelated cached frame proves release() is scoped to the run,
    // not a clearCache() sweep
    val bystander = Seq((7L, "bystander")).toDF("id", "v")
      .persist(StorageLevel.MEMORY_AND_DISK)
    bystander.count()
    try {
      val run = CorpusOps.curationRun(docs, qualityMin = 0.25, pairs,
        splits = Seq(("train", 0.8), ("val", 0.2)), evalDocs = Some(evalDocs))
      assert(run.cached.size == 2,
        s"with a decontamination gate the run holds 2 frames: ${run.cached.size}")
      val got = run.result.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(got == Map(1L -> "kept", 2L -> "contaminated", 3L -> "low_quality"),
        s"dispositions through the handle form must match the plain form: $got")
      assert(run.cached.forall(_.storageLevel != StorageLevel.NONE),
        "both internal frames must be registered with the cache manager")
      run.release()
      assert(run.cached.forall(_.storageLevel == StorageLevel.NONE),
        "release() must unpersist every frame the run held")
      assert(bystander.storageLevel != StorageLevel.NONE,
        "release() must not touch caches the run does not own")
      run.release() // idempotent: a double release is a no-op
      // a second run over the same session re-caches and re-answers cleanly
      val run2 = CorpusOps.curationRun(docs, 0.25, pairs,
        Seq(("train", 0.8), ("val", 0.2)), evalDocs = Some(evalDocs))
      val got2 = run2.result.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(got2 == got, s"post-release re-run diverged: $got2")
      assert(run2.cached.forall(_.storageLevel != StorageLevel.NONE))
      run2.release()
      assert(run2.cached.forall(_.storageLevel == StorageLevel.NONE))
      // the plain convenience form still carries no gate branch -> 1 frame
      val run3 = CorpusOps.curationRun(docs, 0.25, pairs,
        Seq(("train", 0.8), ("val", 0.2)))
      assert(run3.cached.size == 1,
        s"without a gate the run holds only the scored projection: ${run3.cached.size}")
      run3.release()
    } finally bystander.unpersist()
  }

  test("curationPipeline keeper shape: groupBy(min)+join, never a window over md5 partitions") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, (1 to 120).map(j => s"w$i-$j").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("id1", "id2")
    val plan = CorpusOps.curationPipeline(docs, 0.25, pairs,
      Seq(("train", 0.8), ("val", 0.2))).queryExecution.executedPlan.toString
    // a window would concentrate every copy of a flooded text into one
    // unsplittable task; the groupBy is map-side combined (partial min)
    // and the keeper attach is an AQE-splittable join
    assert(!plan.contains("Window"), s"keeper must not be a window:\n${plan.take(900)}")
    assert(plan.contains("partial_min") || plan.contains("partial min"),
      s"keeper min must partial-aggregate map-side:\n${plan.take(900)}")
  }

  test("clusterSafeSplit: cluster members share a split (incl. transitive), singletons keep plain buckets") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // chain 1~2, 2~3 (3 transitive to 1) + pair 10~11; rest singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val splits = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
    val got = CorpusOps.clusterSafeSplit(docs, "doc_id", pairs, splits)
      .select(col("doc_id"), col("cluster_rep"), col("split_key"), col("split"))
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getLong(1))), r.getLong(2), r.getString(3)))
      .toMap
    // every row survives, exactly once
    assert(got.size == 200)
    // the chain collapses to rep 1 — INCLUDING the transitive member 3
    for (i <- Seq(1L, 2L, 3L)) assert(got(i) == ((Some(1L), 1L, got(1L)._3)),
      s"doc $i must key on cluster rep 1: ${got(i)}")
    assert(got(10L) == ((Some(10L), 10L, got(10L)._3)) && got(11L)._2 == 10L)
    assert(got(10L)._3 == got(11L)._3, "pair members split apart")
    // singletons: null rep, own id as key, and the SAME split a plain
    // assignSplit would give them (adding safety must not reshuffle
    // the un-clustered majority)
    val plain = CorpusOps.assignSplit(docs, col("doc_id"), splits)
      .select(col("doc_id"), col("split")).as[(Long, String)].collect().toMap
    (1L to 200L).filterNot(Set(2L, 3L, 11L)).foreach { i =>
      if (!Set(1L, 10L)(i)) assert(got(i)._1.isEmpty && got(i)._2 == i, s"doc $i: ${got(i)}")
      assert(got(i)._3 == plain(i), s"doc $i reshuffled: ${got(i)._3} vs ${plain(i)}")
    }
    // all three splits are actually populated at n=200
    assert(got.values.map(_._3).toSet == Set("train", "val", "test"))
    // reserved-name guard
    intercept[IllegalArgumentException] {
      CorpusOps.clusterSafeSplit(docs.withColumn("split", lit("x")),
        "doc_id", pairs, splits)
    }
  }
}
