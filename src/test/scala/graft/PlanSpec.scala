package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.plans.{EliminateCodecRoundTrip, GraftExtensions}
import graft.queriesRelational.RelationalQueries

/** Plan-quality assertions: the properties that make these operators
  * survive a 100x scale-up — filters reaching the parquet scan, small
  * dims broadcast, whole-stage codegen, column pruning.
  */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  test("no query plans a CartesianProduct outside the documented cross joins") {
    // the global scale-killer guard: every query in the corpus builds
    // its physical plan, and only the operators whose CONTRACT is a
    // (broadcast-bounded) cross join may contain one. A regression
    // anywhere — a dropped join key, a condition Catalyst can't push
    // into an equi-join — fails here by name.
    val allowed = Set(
      "q08_cross_join",       // the cross-join operator itself
      "q46_bruteforce_topk")  // documented broadcast-bounded query set
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct") && !allowed(name)) Some(name) else None
    }
    assert(offenders.isEmpty, s"unexpected CartesianProduct in: $offenders")
  }

  test("no query plans a corpus-scaling single-partition operator (window/coalesce/exchange/sort)") {
    // the other global scale-killer guard (sibling of the cartesian
    // test): a Window with an empty partition spec, a coalesce(1) /
    // repartition(1), a Sort over an already-single partition, or a
    // SinglePartition shuffle feeding anything but a scalar aggregate
    // moves the WHOLE frame through one task. Frames that are
    // config-sized BY CONTRACT (a handful of mixing weights, skyline
    // candidates, profile rows — they do not grow with the corpus) are
    // allowlisted by name with the reason pinned here.
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, ProjectExec, FilterExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    val allowed = Set(
      "q85_mixing_weights",       // stratum-grain weight frame (one row per source)
      "q104_temperature_sample",  // same stratum-grain summary frame
      "q119_skyline",             // skyline candidates after per-group dominance reduction
      "q150_funnel_latency",      // exactPercentiles bucket counters: <= 2^(64-shift)
                                  // occupied-bucket rows by construction (the
                                  // partitionBy(lit(1)) group folds to empty)
      "q166_psi_drift",           // PSI bin grid (config-sized)
      "q198_psi_categorical",     // PSI category grid (config-sized)
      "q210_ivf_occupancy_drift") // PSI over the cell grid (<= k cells by construction)
    // a SinglePartition exchange is legitimate only as the gather step
    // of a scalar aggregate (partial agg upstream has already reduced
    // each partition to one row)
    def scalarAggGather(p: SparkPlan): Boolean = {
      def strip(q: SparkPlan): SparkPlan = q match {
        case pe: ProjectExec => strip(pe.child)
        case fe: FilterExec => strip(fe.child)
        case other => other
      }
      strip(p) match {
        case a: BaseAggregateExec => a.groupingExpressions.isEmpty
        case _ => false
      }
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      if (allowed(name)) None
      else {
        val plan = fn(spark, sfDir).queryExecution.sparkPlan
        // outputPartitioning on a RAW (pre-EnsureRequirements) plan can
        // throw: an inner SortMergeJoin's PartitioningCollection
        // requires equal child numPartitions, which only the exchange
        // insertion guarantees (q227 tripped this — a window-partitioned
        // side vs an UnknownPartitioning(0) mapPartitions side). An
        // indeterminate raw partitioning is by definition not the
        // SinglePartition this guard hunts, so treat a throw as no-hit.
        def rawSingle(p: SparkPlan): Boolean =
          scala.util.Try(p.outputPartitioning == SinglePartition).getOrElse(false)
        val hits = plan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => "unpartitioned Window"
          case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => "unpartitioned WindowGroupLimit"
          case c: CoalesceExec if c.numPartitions == 1 => "coalesce(1)"
          case e: ShuffleExchangeExec
            if e.outputPartitioning == SinglePartition && !scalarAggGather(e.child) =>
              "non-scalar SinglePartition exchange"
          case s: SortExec
            if s.global && rawSingle(s.child) =>
              "global sort over a single partition"
        }
        if (hits.isEmpty) None else Some(s"$name: ${hits.distinct.mkString(", ")}")
      }
    }
    assert(offenders.isEmpty,
      s"corpus-scaling single-partition plans in:\n  ${offenders.mkString("\n  ")}")
  }

  test("allowlisted single-partition frames are MEASURED config-sized at 10x input inflation") {
    // the allowlist above claims seven frames are "config-sized by
    // contract"; this pins the claim as a measured property: inflate
    // the tables those queries read 10x (keys shifted so the corpus
    // genuinely grows) and assert the rows flowing through each
    // query's SinglePartition exchanges do NOT grow with the input.
    // part's clones get +i-cent price jitter so they are strictly
    // DOMINATED: q119's gather is bounded by its OUTPUT (all frontier
    // ties are real output rows), and the jitter pins that output, so
    // input-growth would be a plan defect, not a bigger answer.
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val base = tmpDir("graft-inflate10")
    val SHIFT = 1000000000L
    def inflate(name: String, keys: Seq[String], jitterPrice: Boolean): Unit =
      (0 until 10).map { i =>
        val t = Tables.load(spark, sfDir, name)
        val shifted = keys.foldLeft(t)((d, k) =>
          d.withColumn(k, col(k) + lit(i * SHIFT)))
        if (jitterPrice && i > 0)
          shifted.withColumn("p_retailprice", col("p_retailprice") + lit(i / 100.0))
        else shifted
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$base/$name.parquet")
    inflate("documents", Seq("doc_id"), jitterPrice = false)
    inflate("part", Seq("p_partkey"), jitterPrice = true)
    inflate("orders", Seq("o_orderkey"), jitterPrice = false)
    // both keys: 10x distinct users, not 10x duplicate events per user
    inflate("events", Seq("event_id", "user_id"), jitterPrice = false)
    // identical vectors under shifted ids: 10x the corpus, same cells —
    // q210's gather must stay cell-grid-sized
    inflate("embeddings", Seq("vec_id"), jitterPrice = false)

    // rows through every SinglePartition exchange of one run (AQE off
    // so the static executedPlan carries the exchanges + their metrics)
    def singlePartRows(name: String, dir: String): Long = {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect()
      df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
          e.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L)
      }.sum
    }
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val measured = Seq("q85_mixing_weights", "q104_temperature_sample",
        "q119_skyline", "q150_funnel_latency", "q166_psi_drift",
        "q198_psi_categorical", "q210_ivf_occupancy_drift").map { q =>
        val r1 = singlePartRows(q, sfDir)
        val r10 = singlePartRows(q, base)
        (q, r1, r10)
      }
      val report = measured.map { case (q, r1, r10) => s"$q: 1x=$r1 10x=$r10" }
        .mkString("\n  ")
      info(report)
      measured.foreach { case (q, r1, r10) =>
        assert(r1 > 0, s"$q: expected a SinglePartition exchange to measure\n  $report")
        // config-sized = the gather does not scale with the corpus.
        // Exact equality holds for the grid/summary frames (identical
        // attribute distributions); q119 gets boundary slack (a +9c
        // clone can cross a price-bucket edge and survive the LOCAL
        // skyline, dying only at the gather)
        val bound = if (q == "q119_skyline") r1 * 2 else r1
        assert(r10 <= bound,
          s"$q: single-partition rows grew with the corpus ($r1 -> $r10)\n  $report")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("q02 predicates are pushed to the parquet scan") {
    val plan = planOf("q02_predicates")
    assert(plan.contains("PushedFilters:") &&
      (plan.contains("In(o_orderstatus") || plan.contains("IsNotNull(o_orderdate)")),
      s"expected pushed filters in:\n$plan")
  }

  test("q06 star join broadcasts all three dimensions") {
    val plan = planOf("q06_broadcast_star")
    val n = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(n == 3, s"expected 3 broadcast joins, got $n:\n$plan")
  }

  test("q01 aggregation runs inside whole-stage codegen with partial aggregation") {
    val df = SparkEntry.queries("q01_pricing_summary")(spark, sfDir)
    df.collect() // materialize so AQE finalizes the plan
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" is the WholeStageCodegen marker in the final plan
    assert(plan.contains("*("), s"expected codegen stages:\n$plan")
    assert(plan.contains("partial_"), s"expected map-side partial agg:\n$plan")
  }

  test("q01 scan reads only the referenced columns (pruning)") {
    val plan = planOf("q01_pricing_summary")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"),
      s"expected pruned schema, got: $readSchema")
  }

  test("q19 global sort+limit plans as TakeOrderedAndProject (no full sort)") {
    val plan = planOf("q19_top100")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("custom codec expressions stay inside whole-stage codegen") {
    val df = Tables.load(spark, sfDir, "documents")
      .select(graft.functions.codecs.gunzip(
        graft.functions.codecs.gzip(encode(col("text"), "UTF-8"))).as("b"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), plan)
  }

  test("EliminateCodecRoundTrip rewrites gunzip(gzip(x)) to x") {
    // getOrCreate() would return the suite session (ignoring
    // withExtensions), so build a sibling session over the same
    // SparkContext and restore the active session afterwards.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val df = ext.read.parquet(s"$sfDir/documents.parquet")
        .select(graft.functions.codecs.gunzip(
          graft.functions.codecs.gzip(encode(col("text"), "UTF-8"))).cast("string").as("t"))
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(!optimized.contains("gunzip"), s"round-trip not eliminated:\n$optimized")
      // and SQL registration via injectFunction works:
      ext.read.parquet(s"$sfDir/documents.parquet").limit(1).createOrReplaceTempView("d1")
      val viaSql = ext.sql("SELECT cast(gunzip(gzip(encode(text, 'UTF-8'))) as string) AS t FROM d1")
      assert(viaSql.collect().head.getString(0).nonEmpty)
      // the whole native expression family is SQL-callable
      val fam = ext.sql("""
        SELECT hash48(text) AS h,
               cast(base64_unchunked(encode(text, 'UTF-8')) AS string) AS b64,
               dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp,
               l2sq(array(1.0D, 2.0D), array(1.0D, 4.0D)) AS l2,
               size(word_shingles(text, 3)) AS ws,
               size(char_shingles(text, 12)) AS cs,
               double_order_bits(2.5D, 44) AS ob
        FROM d1""").collect().head
      assert(fam.getLong(0) > 0 && fam.getDouble(2) == 11.0 && fam.getDouble(3) == 4.0)
      assert(fam.getLong(6) == graft.functions.DoubleOrderBitsUtil.orderBits(2.5, 44))
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("transform evaluates gunzip and from_json once per record (no CollapseProject duplication)") {
    // file-backed source: a local relation would be constant-folded
    val records = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id").cast("string").as("recordId"), col("text").as("data"))
    val df = graft.operators.FirehoseTransform.transform(records)
    val plan = df.queryExecution.optimizedPlan.toString
    val gunzips = "gunzip".r.findAllIn(plan).length
    val parses = "from_json".r.findAllIn(plan).length
    assert(gunzips == 1, s"gunzip appears $gunzips times in:\n$plan")
    assert(parses == 1, s"from_json appears $parses times in:\n$plan")
  }

  test("lsh near-dup plan contains no CartesianProduct or BroadcastNestedLoopJoin") {
    val plan = planOf("q42_lsh_neardup")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("MinHash lanes read a bound hash array: one hash48 per scan, never one per lane") {
    // the shingle + md5 pass is the dominant near-dup cost; a lane
    // expression that inlines the hash array instead of reading the
    // bound `_hs` column repeats it per signature lane (9 per scan on
    // the stream path before the one-kernel change), and band keys
    // that inline the lanes array repeat the lanes per band. Spark
    // shares no subplan between the unpersisted frame's references
    // (two band sides, two verify sides), so the near-dup plan holds
    // one hash48 per documents scan.
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    def count(df: org.apache.spark.sql.DataFrame, what: String): Int =
      java.util.regex.Pattern.quote(what).r
        .findAllIn(df.queryExecution.optimizedPlan.toString).length
    val streamKeys = graft.streaming.StreamingOps.textBandKeys(docs, "doc_id", "text", 3, 8, 2)
    assert(count(streamKeys, "hash48(") == 1 && count(streamKeys, "minhash_lanes(") == 1,
      streamKeys.queryExecution.optimizedPlan)
    val nearDups = graft.operators.Dedup.minhashNearDupsPrepared(
      graft.operators.Dedup.prepareHashedShingles(docs, "doc_id",
        graft.operators.Dedup.wordShingles("text")), "doc_id", 0.5)
    val scans = count(nearDups, "Relation [")
    assert(scans == 4 && count(nearDups, "hash48(") == scans &&
      count(nearDups, "minhash_lanes(") == 2, nearDups.queryExecution.optimizedPlan)
  }

  test("q50 nearest-centroid assignment is a narrow per-row argmin (no window, no corpus shuffle)") {
    val plan = planOf("q50_nearest_centroid")
    // round 1 planned crossJoin + row_number() OVER (PARTITION BY
    // vec_id): a Window over an Exchange hashpartitioning(vec_id) that
    // shuffled |corpus| x |centroids| rows. The argmin fold removes
    // both; the only remaining exchanges are the tiny centroid agg and
    // the final range-sort.
    assert(!plan.contains("Window"), s"unexpected Window in:\n${plan.take(3000)}")
    assert(!plan.contains("hashpartitioning(vec_id"),
      s"corpus shuffled on vec_id in:\n${plan.take(3000)}")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected single-row broadcast join in:\n${plan.take(3000)}")
  }

  test("q62 IVF corpus cell-assignment has no window over the corpus id") {
    val plan = planOf("q62_ivf_ann")
    // exactly one Window remains: the per-QUERY top-k ranking
    // (partitioned by query_id, bounded by the query set); the corpus
    // side must not be window-ranked or shuffled for assignment.
    assert(!plan.contains("hashpartitioning(_id"),
      s"corpus shuffled for cell assignment in:\n${plan.take(3000)}")
  }

  test("q55 query construction runs no table-scan job (corpus count folded into the plan)") {
    // round 1 ran docs.count() eagerly while BUILDING the query — an
    // extra full-table pass at 100 TB before the job even starts. The
    // only job a build may launch is read.parquet's one-task footer/
    // schema read; the eager count() regression would add a second.
    @volatile var jobs = 0
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(l)
    try {
      SparkEntry.queries("q55_tf_idf")(spark, sfDir)
      Thread.sleep(500) // listener events post asynchronously
      assert(jobs <= 1, s"query construction launched $jobs Spark jobs " +
        "(expected at most the parquet schema read)")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("q101 unigram-LM build runs no table-scan job (token total folded into the plan)") {
    // same discipline as q55: the corpus token total is a one-row
    // in-plan aggregate, not a driver-side count at build time
    @volatile var jobs = 0
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(l)
    try {
      SparkEntry.queries("q101_unigram_logprob")(spark, sfDir)
      Thread.sleep(500)
      assert(jobs <= 1, s"query construction launched $jobs Spark jobs " +
        "(expected at most the parquet schema read)")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("q73 embedding near-dup plans without a cartesian product") {
    val plan = planOf("q73_embedding_neardup")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("q76 bucketed percentile selection: exactly 2 scans per metric, no row shuffle") {
    // each exactPercentiles call = bucket-count pass + selection pass;
    // q76 runs it for price and quantity -> exactly 4 parquet scans.
    // More means a subframe got referenced twice and its lineage
    // (including the scan) re-runs — the DAG-duplication regression
    // this operator exists to avoid.
    val df = SparkEntry.queries("q76_percentiles")(spark, sfDir)
    df.collect() // finalize AQE
    // AQE's toString prints Final AND Initial plan sections — count
    // scans only in the final one
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 4, s"expected 4 scans, got $scans:\n${plan.take(3000)}")
  }

  test("q191 winsorize bound join broadcasts (3-row bounds never sort-merge the fact side)") {
    val plan = planOf("q191_winsorize")
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      s"clip bounds must broadcast:\n${plan.take(2000)}")
  }

  test("q192 match-distribution per-row path is join-free (literal bins + hash filter only)") {
    // the two config-sized summaries run at BUILD time (collects in
    // the operator); the emitted PLAN over the corpus must be a
    // narrow scan -> filter/project -> sort, with no join of any kind
    val plan = planOf("q192_match_distribution")
    assert(!plan.contains("Join"),
      s"resampling must not join the corpus:\n${plan.take(2000)}")
  }

  test("q193 point-in-time join plans as a window composition — no join, one exchange for the window") {
    val plan = planOf("q193_pit_join")
    // the scd2 build + pitJoin share the user_id hash partitioning;
    // no Join node may appear anywhere (interval containment must
    // never become a range join)
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"PIT must stay a window plan:\n${plan.take(2000)}")
  }

  test("q03 fact join degrades to sort-merge when dims exceed the broadcast threshold") {
    // the 100 TB story: a dimension that outgrows the broadcast
    // threshold must NOT fail or cartesian — the planner falls back to
    // a shuffled sort-merge join on the equi keys
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q03_join_revenue")(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffled join fallback:\n${plan.take(2000)}")
      assert(!plan.contains("CartesianProduct"), "must stay an equi-join")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q83 repetition metrics scan reads only doc_id and text (column pruning)") {
    val plan = planOf("q83_repetition")
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.nonEmpty)
    assert(readSchemas.forall(s => !s.contains("lang") && !s.contains("source")),
      s"payload-adjacent columns must prune out: $readSchemas")
  }

  test("oracle SQL exists for every query except declared rows-only ops") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // q29: HLL is approximate by contract (bound asserted in ApproxSpec);
    // q112: no SQL engine mirrors gzip (contract pinned in TextSpec)
    assert(rowsOnly == Set("q29_approx_distinct", "q112_compression_ratio"),
      s"unexpected rows-only: $rowsOnly")
  }

  test("bpeTokenize maps occurrences back through a broadcast vocabulary join") {
    // the iterative merge work runs on the distinct-word vocabulary;
    // the corpus-scale word stream must join it WITHOUT shuffling on
    // the word key (the vocab is the small side by construction)
    val d = Tables.load(spark, sfDir, "documents")
    val plan = graft.operators.TextAnalysis.bpeTokenize(d, col("doc_id"), col("text"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"vocabulary must broadcast to the occurrence stream:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"no sort-merge on the corpus word stream:\n${plan.take(2000)}")
  }

  test("knBigramLogProb scores the corpus bigram stream through a broadcast surprise table") {
    // the count tables are bigram-TYPE-keyed (vocabulary-scale); the
    // corpus-scale bigram stream must meet the assembled surprise
    // table as a broadcast, never a shuffle on (w1, w2)
    val d = Tables.load(spark, sfDir, "documents")
    val plan = graft.operators.TextAnalysis.knBigramLogProb(d, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the surprise table must broadcast onto the bigram stream:\n${plan.take(2000)}")
  }

  test("bm25Retrieve joins stats and query terms broadcast; no sort-merge, no cartesian") {
    // inverted-index shape: the only shuffles are the tf/dl/score
    // aggregations; need/qterms/idf/avgdl all ride broadcasts
    val d = Tables.load(spark, sfDir, "documents")
    val plan = graft.operators.TextAnalysis.bm25Retrieve(
        d, d.filter(col("doc_id") % 97 === 0), "doc_id", "text", topK = 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"bm25Retrieve must stay broadcast-joined:\n${plan.take(2000)}")
    assert(plan.contains("BroadcastHashJoin"), "expected broadcast joins")
  }

  test("bm25 and bm25Candidates serve idf and contrib from ONE (doc, term) tf shuffle (ReusedExchange)") {
    // both BM25 entry points derive idf and the per-term contribution
    // from the same tf aggregate; ReuseExchange must serve the second
    // consumer from the first one's (doc, term) exchange, or the corpus
    // token stream is exploded and shuffled twice. Only the final
    // (post-execution) adaptive plan shows the reuse, so collect first.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    object helper extends AdaptiveSparkPlanHelper
    def reusedHashKeys(df: DataFrame): Seq[Seq[String]] = {
      df.collect()
      helper.collect(df.queryExecution.executedPlan) {
        case r: ReusedExchangeExec => r.child.outputPartitioning
      }.collect { case h: HashPartitioning =>
        h.expressions.collect { case a: Attribute => a.name }
      }
    }
    val d = Tables.load(spark, sfDir, "documents")
    val fixed = reusedHashKeys(graft.operators.TextAnalysis.bm25(d, "doc_id", "text",
      queryTerms = Seq("hash", "join", "scan", "merge")))
    assert(fixed.length == 1 && fixed.head.last == "term" && fixed.head.length == 2,
      s"bm25: expected one reused (doc, term) exchange, got $fixed")
    val perQuery = reusedHashKeys(graft.operators.TextAnalysis.bm25Candidates(
      d, d.filter(col("doc_id") % 97 === 0), "doc_id", "text"))
    assert(perQuery.length == 1 && perQuery.head.last == "term" && perQuery.head.length == 2,
      s"bm25Candidates: expected one reused (doc, term) exchange, got $perQuery")
  }

  test("int8 quantization is a narrow projection: no Exchange in the plan") {
    val e = Tables.load(spark, sfDir, "embeddings")
    val plan = graft.operators.Similarity.int8Quantize(e, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"int8Quantize must compose with the scan, not shuffle:\n${plan.take(2000)}")
  }

  test("topP plans exactly one shuffle (the group key) and no global window") {
    val d = Tables.load(spark, sfDir, "documents")
    val plan = graft.operators.CorpusOps.topP(d, col("lang"), col("doc_id"),
        col("n_chars"), 800)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected one hash exchange, found $exchanges:\n${plan.take(2000)}")
    assert(!plan.contains("Exchange SinglePartition") ||
      !plan.contains("Window ["), // no windows over a single global partition
      s"topP must never plan a global window:\n${plan.take(2000)}")
  }

  test("q167 IN-subquery plans as a left-semi join on the order key") {
    val plan = planOf("q167_big_order_customers")
    assert(plan.contains("LeftSemi"),
      s"the HAVING subquery must plan as a semi join, not a filter:\n${plan.take(2000)}")
  }

  test("TPC-H EXISTS/NOT-EXISTS shapes stay de-correlated as semi/anti hash joins") {
    // q121 (EXISTS + NOT EXISTS other-supplier probes), q122 (NOT
    // EXISTS recent order) and q88 (EXISTS large order, NOT EXISTS
    // return) rely on Catalyst's subquery de-correlation planning the
    // probes as LeftSemi/LeftAnti HASH joins. A Spark upgrade or a
    // stats change silently regressing one to a nested-loop probe
    // per row is the classic 100x cliff — pin the shapes. q122
    // legitimately keeps ONE BroadcastNestedLoopJoin: its acctbal
    // threshold is a one-row global aggregate joined by a theta
    // condition (scalar broadcast, never corpus x corpus).
    val shapes = Map(
      "q121_sole_late_supplier" -> (("LeftSemi", "LeftAnti", 0)),
      "q122_lapsed_customers" -> (("LeftAnti", "LeftAnti", 1)),
      "q88_exists_pair" -> (("LeftSemi", "LeftAnti", 0)))
    for ((name, (need1, need2, bnljAllowed)) <- shapes) {
      val plan = planOf(name)
      assert(plan.contains(need1) && plan.contains(need2),
        s"$name must plan $need1 + $need2 joins:\n${plan.take(2500)}")
      assert(!plan.contains("CartesianProduct"), s"$name planned a cartesian:\n${plan.take(2500)}")
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
      assert(bnlj <= bnljAllowed,
        s"$name planned $bnlj BroadcastNestedLoopJoins (allowed $bnljAllowed):\n${plan.take(2500)}")
      // the semi/anti probes themselves must be HASH joins
      assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin).*(LeftSemi|LeftAnti)".r
        .findFirstIn(plan).isDefined,
        s"$name semi/anti probe is not a hash join:\n${plan.take(2500)}")
    }
  }

  test("q145 fused retrieval: both leg rank windows, the RRF agg and the fused top-k share ONE query_id exchange") {
    // rankFuseScored repartitions the unioned candidates on query_id
    // ONCE (REPARTITION_BY_COL); hash(query_id) then satisfies the
    // per-leg window's (query_id, _leg) clustering, the RRF
    // (query_id, neighbor_id) aggregation, and the fused window — the
    // unfused composition paid an exchange at each of those. In the
    // tree dump everything DOWNSTREAM of the repartition prints above
    // it, so the prefix must contain both windows, the rrf aggregate,
    // and zero hash exchanges (the only exchange left is the final
    // orderBy's range partitioning).
    val plan = planOf("q145_hybrid_retrieval")
    assert(plan.contains("REPARTITION_BY_COL"), s"expected the single fusion repartition:\n${plan.take(2000)}")
    val tail = plan.split("REPARTITION_BY_COL")(0)
    assert("Window \\[row_number".r.findAllIn(tail).length == 2,
      s"expected both rank windows above the one repartition:\n${tail.take(3000)}")
    // the split point is the repartition's own line ("Exchange
    // hashpartitioning(query_id, n), REPARTITION_BY_COL"), so its
    // prefix remains in `tail` — exactly one hash exchange may appear
    assert("Exchange hashpartitioning".r.findAllIn(tail).length == 1,
      s"fusion tail must not re-exchange:\n${tail.take(3000)}")
    assert("Exchange rangepartitioning".r.findAllIn(tail).length == 1,
      s"only the orderBy range exchange may remain:\n${tail.take(3000)}")
  }

  test("psiDrift scores the current load in one scan: baseline enters only as literals") {
    val plan = planOf("q166_psi_drift")
    assert(!plan.contains("SortMergeJoin"),
      s"psiDrift must never shuffle-sort rows:\n${plan.take(3000)}")
    val scans = "FileScan".r.findAllIn(plan).length
    assert(scans == 1,
      s"expected only the current load's scan (baseline pre-collected), got $scans:\n${plan.take(3000)}")
  }
}
