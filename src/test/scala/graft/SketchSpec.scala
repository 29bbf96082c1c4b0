package graft

import org.apache.spark.sql.functions._

import graft.functions.MisraGriesAggregator

class SketchSpec extends SparkSpec {
  import spark.implicits._

  test("misra-gries: exact counts when capacity >= distinct keys, across partitions") {
    val data = (1 to 400).map(i => s"k${i % 7}") ++ Seq.fill(50)("hot")
    val df = spark.createDataset(data).repartition(8).toDF("t")
    val mg = udaf(new MisraGriesAggregator(16))
    val got = df.agg(mg(col("t")).as("m"))
      .select(explode(col("m"))).as[(String, Long)].collect().toMap
    val want = data.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got == want)
  }

  test("misra-gries: under eviction, heavy items survive and counts are within N/(k+1)") {
    // skewed stream: "heavy" is 40% of N, far above N/(k+1) with k=4
    val n = 1000
    val data = Seq.fill(400)("heavy") ++ (1 to 600).map(i => s"tail${i % 97}")
    val df = spark.createDataset(data).repartition(4).toDF("t")
    val cap = 4
    val mg = udaf(new MisraGriesAggregator(cap))
    val got = df.agg(mg(col("t")).as("m"))
      .select(explode(col("m"))).as[(String, Long)].collect().toMap
    val bound = n / (cap + 1)
    assert(got.size <= cap, s"summary exceeded capacity: $got")
    assert(got.contains("heavy"), s"heavy hitter evicted: $got")
    val true400 = 400L
    val est = got("heavy")
    assert(est <= true400 && est >= true400 - bound,
      s"estimate $est outside [${true400 - bound}, $true400]")
    // every reported count underestimates by at most N/(k+1)
    val trueCounts = data.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    got.foreach { case (k, c) =>
      assert(c <= trueCounts(k) && c >= trueCounts(k) - bound,
        s"$k: est $c vs true ${trueCounts(k)}, bound $bound")
    }
  }

  test("misra-gries merge: boundary ties drop together (order-independent)") {
    val agg = new MisraGriesAggregator(2)
    val x = Map("a" -> 5L, "b" -> 3L)
    val y = Map("c" -> 3L, "d" -> 1L)
    // summed = a5 b3 c3 d1; 3rd largest = 3 -> subtract 3 everywhere:
    // a2 survive, b and c hit 0 and drop TOGETHER, d negative drops
    assert(agg.merge(x, y) == Map("a" -> 2L))
    assert(agg.merge(y, x) == Map("a" -> 2L))
  }

  test("misra-gries reduce: decrement-all fires only with a full summary") {
    val agg = new MisraGriesAggregator(2)
    val b1 = agg.reduce(agg.reduce(agg.zero, "a"), "a") // a:2
    val b2 = agg.reduce(b1, "b")                        // a:2 b:1 (slot free)
    val b3 = agg.reduce(b2, "c")                        // full -> decrement: a:1
    assert(b3 == Map("a" -> 1L))
  }

  test("misra-gries over a stream: per-batch summaries merged across micro-batches stay exact") {
    // the incremental heavy-hitters pattern: each micro-batch reduces
    // to one MG summary (a tiny map), foreachBatch merges it into the
    // running summary with the Aggregator's OWN merge — state is one
    // capacity-bounded map, not a token count per key
    val base = tmpDir("graft-mg-stream")
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    docs.repartition(3).write.mode("overwrite").parquet(s"$base/in")
    val agg = new MisraGriesAggregator(64)
    val mg = udaf(agg)
    @volatile var running = agg.zero
    var batches = 0
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
      .select(explode(split(col("text"), " ")).as("t"))
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val summary = b.agg(mg(col("t")).as("m"))
          .select(explode(col("m"))).as[(String, Long)].collect().toMap
        running = agg.merge(running, summary)
        batches += 1
        ()
      }
      .option("checkpointLocation", s"$base/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(batches > 1, s"expected a multi-batch run, got $batches")
    val want = docs.select(explode(split(col("text"), " ")).as("t"))
      .groupBy("t").count().as[(String, Long)].collect().toMap
    assert(running == want, "merged streaming summary diverged from exact counts")
  }

  // ---------------------------------------------------- quantile sketch

  import graft.functions.QuantileSketchAggregator

  /** Rank-select ground truth: value at 1-based rank floor(p*(n-1))+1. */
  private def rankSelect(sorted: Seq[Double], p: Double): Double =
    sorted(math.floor(p * (sorted.length - 1)).toInt)

  test("quantile sketch: exact regime matches rank-select across partitions") {
    val ps = Seq(0.0, 0.25, 0.5, 0.75, 0.95, 1.0)
    val rnd = new scala.util.Random(7)
    val data = Seq.fill(500)(rnd.nextDouble() * 1000)
    val df = spark.createDataset(data).repartition(7).toDF("x")
    val qs = udaf(new QuantileSketchAggregator(1024, ps))
    val got = df.agg(qs(col("x"))).as[Seq[Double]].head()
    val sorted = data.sorted
    assert(got == ps.map(rankSelect(sorted, _)))
  }

  test("quantile sketch: compaction regime rank error <= 2% at n=60k, capacity 256") {
    val ps = Seq(0.25, 0.5, 0.9)
    val rnd = new scala.util.Random(11)
    val data = rnd.shuffle((0 until 60000).toVector).map(_.toDouble)
    val df = spark.createDataset(data).repartition(8).toDF("x")
    val qs = udaf(new QuantileSketchAggregator(256, ps))
    val got = df.agg(qs(col("x"))).as[Seq[Double]].head()
    // values are the permutation of 0..n-1, so value distance IS rank
    // distance — the bound under test is the sketch's rank guarantee
    ps.zip(got).foreach { case (p, est) =>
      val truth = rankSelect((0 until 60000).map(_.toDouble), p)
      assert(math.abs(est - truth) <= 0.02 * 60000,
        s"p=$p: est $est vs true $truth")
    }
  }

  /** Deterministic property driver (the PropertySpec pattern). */
  private def forAllSampled[A](gen: org.scalacheck.Gen[A], n: Int = 30)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(org.scalacheck.Gen.Parameters.default.withSize(20),
        org.scalacheck.rng.Seed(i.toLong)).foreach(body)
    }

  test("property: misra-gries guarantees hold for random streams, partitions and capacities") {
    import org.scalacheck.Gen
    val streamGen = for {
      cap <- Gen.choose(2, 12)
      n <- Gen.choose(20, 400)
      // skewed alphabet: low ids much more frequent (zipf-ish)
      xs <- Gen.listOfN(n, Gen.frequency(
        8 -> Gen.const("a"), 4 -> Gen.const("b"), 2 -> Gen.const("c"),
        1 -> Gen.choose(0, 30).map(i => s"t$i")))
      nSplits <- Gen.choose(1, 5)
    } yield (cap, xs, nSplits)
    forAllSampled(streamGen, 60) { case (cap, xs, nSplits) =>
      val agg = new MisraGriesAggregator(cap)
      // random-ish partitioning: round-robin into nSplits, reduce each,
      // merge left-to-right (merge order is part of what must be safe)
      val partials = xs.zipWithIndex.groupBy(_._2 % nSplits).values
        .map(_.map(_._1).foldLeft(agg.zero)(agg.reduce))
      val summary = partials.foldLeft(agg.zero)(agg.merge)
      val truth = xs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val bound = xs.length.toLong / (cap + 1)
      assert(summary.size <= cap)
      summary.foreach { case (k, c) =>
        assert(c <= truth(k) && c >= truth(k) - bound,
          s"cap=$cap n=${xs.length}: $k est $c true ${truth(k)} bound $bound")
      }
      truth.foreach { case (k, c) =>
        if (c > bound) assert(summary.contains(k),
          s"cap=$cap: heavy item $k (count $c > $bound) evicted")
      }
    }
  }

  test("property: quantile sketch rank error bounded for random data, capacities and splits") {
    import org.scalacheck.Gen
    val gen = for {
      cap <- Gen.choose(4, 64)
      n <- Gen.choose(10, 800)
      seed <- Gen.choose(0L, 1000000L)
      nSplits <- Gen.choose(1, 4)
    } yield (cap, n, seed, nSplits)
    forAllSampled(gen, 40) { case (cap, n, seed, nSplits) =>
      val rnd = new scala.util.Random(seed)
      val xs = Vector.fill(n)(rnd.nextDouble())
      val ps = Seq(0.1, 0.5, 0.9)
      val agg = new QuantileSketchAggregator(cap, ps)
      val partials = xs.zipWithIndex.groupBy(_._2 % nSplits).values
        .map(_.map(_._1).foldLeft(agg.zero)(agg.reduce))
      val got = agg.finish(partials.foldLeft(agg.zero)(agg.merge))
      val sorted = xs.sorted
      // adjacency argument: each compaction at level i contributes at
      // most 2^i rank error at any threshold; summed over ~n/(cap*2^i)
      // compactions per level and all levels this is <= (levels+1)*n/cap
      val levels = math.max(1, (math.log(n.toDouble / cap) / math.log(2)).ceil.toInt + 1)
      val bound = math.max(2.0, (levels + 1).toDouble * n / cap)
      ps.zip(got).foreach { case (p, est) =>
        val targetRank = math.floor(p * (n - 1)).toInt + 1
        val estRank = sorted.count(_ <= est)
        assert(math.abs(estRank - targetRank) <= bound,
          s"cap=$cap n=$n splits=$nSplits p=$p: est rank $estRank vs $targetRank (bound $bound)")
      }
      if (cap >= n) // exact regime: rank-select equality, not just bounds
        assert(got == ps.map(p => sorted(math.floor(p * (n - 1)).toInt)))
    }
  }

  test("count-min: one-sided error, exact under no collision, partitioning-independent") {
    import spark.implicits._
    import graft.functions.CountMinAggregator
    // skewed stream: "hot" 500x, "warm" 50x, 40 distinct cold keys 1x
    val stream = Seq.fill(500)("hot") ++ Seq.fill(50)("warm") ++
      (0 until 40).map(i => s"cold$i")
    val truth = stream.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val cm = udaf(new CountMinAggregator(4, 64))
    def sketchOf(parts: Int): Seq[Seq[Long]] =
      stream.toDF("term").repartition(parts)
        .agg(cm(col("term"))).head()
        .getSeq[scala.collection.Seq[Long]](0).toSeq.map(_.toSeq)
    val s1 = sketchOf(1)
    // merge-order independence: any partitioning yields the SAME matrix
    assert(sketchOf(7) == s1 && sketchOf(32) == s1,
      "count-min matrix must not depend on partitioning")
    // one-sided error: estimates never undercount; total mass conserved per row
    truth.foreach { case (k, n) =>
      val est = CountMinAggregator.estimate(s1, k)
      assert(est >= n, s"$k: estimate $est < true $n")
      assert(est <= n + stream.length, "estimate exceeds any possible collision mass")
    }
    assert(s1.forall(_.sum == stream.length), "each row must hold the full stream mass")
    // the heavy key dominates its cells, so its estimate is tight:
    // collisions add at most the non-hot mass
    val hotEst = CountMinAggregator.estimate(s1, "hot")
    assert(hotEst >= 500 && hotEst <= 500 + (stream.length - 500),
      s"hot estimate $hotEst out of bounds")
  }

  test("quantile sketch: compaction conserves total weight; empty input yields NaN") {
    val agg = new QuantileSketchAggregator(4, Seq(0.5))
    def totalWeight(b: Seq[Seq[Double]]): Long =
      b.zipWithIndex.map { case (vs, lvl) => vs.length.toLong * (1L << lvl) }.sum
    val b1 = (1 to 37).map(_.toDouble).foldLeft(agg.zero)(agg.reduce)
    assert(totalWeight(b1) == 37L, s"weight lost in reduce cascade: $b1")
    val b2 = (38 to 100).map(_.toDouble).foldLeft(agg.zero)(agg.reduce)
    val m = agg.merge(b1, b2)
    assert(totalWeight(m) == 100L, s"weight lost in merge cascade: $m")
    assert(m.forall(_.length <= 4), s"level overflow survived compaction: $m")
    assert(agg.finish(agg.zero).head.isNaN)
  }
}
