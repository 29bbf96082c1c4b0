package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iters)
      .as[(Long, Long)].collect().toMap

  test("2-cycle is a fixed point: each node holds exactly half the mass") {
    // r = 150e6//2 + 85*5e8//100 = 75e6 + 425e6 = 5e8 every iteration
    val r = ranks(Seq((1L, 2L), (2L, 1L)), 3)
    assert(r == Map(1L -> 500000000L, 2L -> 500000000L))
  }

  test("dangling node leaks mass; source decays to pure teleport") {
    // 1 -> 2, node 2 dangling. After iter 1: r1 = teleport = 75e6,
    // r2 = 75e6 + 85% * 5e8 = 5e8. From iter 2 on:
    // r2 = 75e6 + 85*75e6//100 = 138_750_000 (hand-computed).
    val r = ranks(Seq((1L, 2L)), 3)
    assert(r == Map(1L -> 75000000L, 2L -> 138750000L))
  }

  test("hub with all in-links outranks spokes; result is deterministic") {
    // spokes 1..5 each link to hub 0; hub links back to spoke 1
    val edges = (1L to 5L).map(i => (i, 0L)) :+ (0L, 1L)
    val r = ranks(edges, 3)
    assert(r(0L) > r(1L) && r(1L) > r(2L), s"authority order broken: $r")
    assert((2L to 5L).map(r).toSet.size == 1, s"equal spokes must tie: $r")
    // bit-identical across runs (integer arithmetic, no RNG)
    assert(ranks(edges, 3) == r)
  }

  test("parallel/self edges are dropped before degree counting") {
    val r1 = ranks(Seq((1L, 2L), (1L, 2L), (1L, 1L), (2L, 1L)), 2)
    val r2 = ranks(Seq((1L, 2L), (2L, 1L)), 2)
    assert(r1 == r2)
  }

  private def tris(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.triangles(edges.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long)].collect().toMap

  test("triangles: K4 has four triangles, every node in three; stars have none") {
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(tris(k4) == (1L to 4L).map(_ -> 3L).toMap)
    // star hub: high degree, zero triangles -> empty result, and the
    // orientation means the hub contributes zero wedges
    val star = (1L to 6L).map(i => (0L, i))
    assert(tris(star).isEmpty)
  }

  test("triangles: reversed/parallel/self edges collapse to one undirected edge") {
    val clean = tris(Seq((1L, 2L), (2L, 3L), (3L, 1L)))
    val noisy = tris(Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L), (1L, 1L)))
    assert(clean == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(noisy == clean)
  }

  test("undirected operators: reversed, parallel and self edges collapse to one undirected edge") {
    // triangles {1,2,3} and {2,3,4} sharing edge (2,3), then a tail
    // 4-5-6: every undirected operator has output on it. The noisy
    // copy adds every edge reversed, self-loops (one on a node outside
    // the graph, which must not appear) and a duplicated edge.
    val clean = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L), (3L, 4L), (4L, 5L), (5L, 6L))
    val noisy = clean ++ clean.map(_.swap) ++ Seq((1L, 1L), (4L, 4L), (99L, 99L), clean.head)
    val ops: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      "triangles" -> (Graph.triangles(_, "src", "dst")),
      "kCore" -> (Graph.kCore(_, "src", "dst", k = 2, iters = 3)),
      "linkPredict" -> (Graph.linkPredict(_, "src", "dst")),
      "neighborhoodJaccard" -> (Graph.neighborhoodJaccard(_, "src", "dst")),
      "bfsHops" -> (Graph.bfsHops(_, "src", "dst", Seq(1L), rounds = 3)),
      "labelPropagation" -> (Graph.labelPropagation(_, "src", "dst", iters = 3)))
    for ((name, op) <- ops) {
      val want = op(clean.toDF("src", "dst")).collect().toSet
      val got = op(noisy.toDF("src", "dst")).collect().toSet
      assert(want.nonEmpty, s"$name: empty on the clean graph")
      assert(got == want, s"$name: ${got.diff(want)} extra, ${want.diff(got)} missing")
    }
  }

  test("triangles: two triangles sharing an edge credit the shared nodes twice") {
    // {1,2,3} and {2,3,4} share edge (2,3)
    val r = tris(Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L), (3L, 4L)))
    assert(r == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("kCore: the peel cascade needs its iterations; enough peels give the exact core") {
    // pendant chain 1-2-3 hanging off triangle {3,4,5}: the 2-core is
    // the triangle, but node 2 only drops AFTER node 1's removal
    // exposes it — peel depth 2
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 3L))
    def core(iters: Int): Map[Long, Long] =
      Graph.kCore(edges.toDF("src", "dst"), "src", "dst", k = 2, iters = iters)
        .as[(Long, Long)].collect().toMap
    // one peel removes node 1 but node 2 (now degree 1) is still in
    assert(core(1) == Map(2L -> 1L, 3L -> 3L, 4L -> 2L, 5L -> 2L))
    // two peels converge to the triangle; a third changes nothing
    assert(core(2) == Map(3L -> 2L, 4L -> 2L, 5L -> 2L))
    assert(core(3) == core(2))
  }

  test("personalizedPageRank: chain from a single seed, hand-computed integer ranks") {
    // 1 -> 2 -> 3, seed {1}: all mass starts at the seed; teleport
    // returns only there. Hand trace on the integer grid:
    //   r0 = (1e9, 0, 0)
    //   r1 = (150M, 850M, 0)          (850M = 85*1e9 // 100)
    //   r2 = (150M, 127.5M, 722.5M)   (2 gets 85*150M//100; 3 gets 85*850M//100)
    val edges = Seq((1L, 2L), (2L, 3L))
    def ppr(iters: Int): Map[Long, Long] =
      Graph.personalizedPageRank(edges.toDF("src", "dst"), "src", "dst",
          seeds = Seq(1L), iters = iters)
        .as[(Long, Long)].collect().toMap
    assert(ppr(1) == Map(1L -> 150000000L, 2L -> 850000000L, 3L -> 0L))
    assert(ppr(2) == Map(1L -> 150000000L, 2L -> 127500000L, 3L -> 722500000L))
    // seed-proximity: with two seeds the mass splits exactly in half
    val two = Graph.personalizedPageRank(Seq((1L, 2L), (3L, 2L)).toDF("src", "dst"),
        "src", "dst", seeds = Seq(1L, 3L), iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(two(1L) == 75000000L && two(3L) == 75000000L && two(2L) == 850000000L, two.toString)
    // the srcSalt hub lever (shared prStep seam) is bit-identical
    // here too — a seed-adjacent out-hub concentrates PPR mass flow
    // exactly like the global walk
    val hubEdges = (1L to 50L).map(i => (0L, i)) :+ (7L, 0L)
    val plain = Graph.personalizedPageRank(hubEdges.toDF("src", "dst"),
      "src", "dst", seeds = Seq(0L), iters = 3).as[(Long, Long)].collect().toMap
    val salted = Graph.personalizedPageRank(hubEdges.toDF("src", "dst"),
      "src", "dst", seeds = Seq(0L), iters = 3, srcSalt = 4)
      .as[(Long, Long)].collect().toMap
    assert(salted == plain, "salted PPR must be bit-identical")
  }

  test("personalizedPageRank: a repeated seed carries the mass of one seed, not a split of it") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    def ppr(seeds: Seq[Long]): Seq[(Long, Long)] =
      Graph.personalizedPageRank(edges, "src", "dst", seeds, iters = 3)
        .orderBy(col("node")).as[(Long, Long)].collect().toSeq
    assert(ppr(Seq(3L, 3L)) == ppr(Seq(3L)))
    assert(ppr(Seq(1L, 3L, 1L)) == ppr(Seq(1L, 3L)))
  }

  test("personalizedPageRank with every node a seed equals pageRank bit for bit") {
    // 7 nodes, so 1e9/7 and 1.5e8/7 both floor; node 0 is dangling
    val edges = ((1L to 5L).map(i => (i, 0L)) ++
      Seq((1L, 2L), (2L, 3L), (6L, 1L), (3L, 6L))).toDF("src", "dst")
    for (salt <- Seq(1, 3)) {
      val pr = Graph.pageRank(edges, "src", "dst", iters = 4, srcSalt = salt)
        .orderBy(col("node")).as[(Long, Long)].collect().toSeq
      val ppr = Graph.personalizedPageRank(edges, "src", "dst", seeds = 0L to 6L,
          iters = 4, srcSalt = salt)
        .orderBy(col("node")).as[(Long, Long)].collect().toSeq
      assert(pr.map(_._1) == (0L to 6L), pr.toString)
      assert(ppr == pr, s"srcSalt $salt")
    }
  }

  test("linkPredict: triangle+tail graph — adjacent pairs excluded, cn and AA hand-checked") {
    // edges 1-2, 2-3, 1-3 (triangle) and 3-4 (tail). Wedges: center 3
    // {1,2,4}: (1,2) adjacent, (1,4) and (2,4) non-adjacent, cn=1;
    // centers 1 and 2 produce only adjacent pairs. deg(3)=3, so each
    // AA contribution = 1e12 div floor(ln(3)*1e6+0.5).
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val aa3 = 1000000000000L / math.floor(math.log(3.0) * 1e6 + 0.5).toLong
    val got = Graph.linkPredict(edges, "src", "dst")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 4L, 1L, aa3), (2L, 4L, 1L, aa3)), s"wrong pairs: $got")
  }

  test("linkPredict: maxCenterDegree skips hub centers") {
    // star center 9 with leaves 1..4: without a cap, all 6 leaf pairs
    // appear; capping below deg(9)=4 removes every wedge.
    val edges = Seq((9L, 1L), (9L, 2L), (9L, 3L), (9L, 4L)).toDF("src", "dst")
    assert(Graph.linkPredict(edges, "src", "dst").count() == 6L)
    assert(Graph.linkPredict(edges, "src", "dst", maxCenterDegree = 3).count() == 0L)
  }

  test("linkPredict cap: hub wedges vanish, selective wedges and their AA survive untouched") {
    // hub 9 (deg 4) and selective center 8 (deg 2) both connect 1 and
    // 2: uncapped, pair (1,2) has cn=2 with AA from both centers;
    // capped at 3, only center 8 certifies it — cn=1 and AA exactly
    // 8's contribution — and hub-only pairs like (3,4) vanish.
    val edges = Seq((9L, 1L), (9L, 2L), (9L, 3L), (9L, 4L),
      (8L, 1L), (8L, 2L)).toDF("src", "dst")
    val aa = (d: Int) => 1000000000000L / math.floor(math.log(d.toDouble) * 1e6 + 0.5).toLong
    val un = Graph.linkPredict(edges, "src", "dst")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(un.contains((1L, 2L, 2L, aa(4) + aa(2))), s"uncapped: $un")
    // capped survivors: (1,2) via center 8 only, and (8,9) via
    // centers 1 and 2 (deg 2 each); hub-only pairs like (3,4) vanish
    val capped = Graph.linkPredict(edges, "src", "dst", maxCenterDegree = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(capped == Set((1L, 2L, 1L, aa(2)), (8L, 9L, 2L, 2 * aa(2))),
      s"cap must drop hub-centered wedges only: $capped")
    assert(!capped.exists(p => p._1 == 3L || p._2 == 4L),
      s"hub-only pairs must vanish: $capped")
  }

  test("neighborhoodJaccard: triangle+tail hand case, adjacent pairs included, minSim prunes") {
    // triangle 1-2-3, tail 3-4. N(1)={2,3} N(2)={1,3} N(3)={1,2,4}
    // N(4)={3}. (3,4) share nothing -> absent; adjacent (1,2) IS
    // present (common neighbor 3).
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = Graph.neighborhoodJaccard(edges, "src", "dst")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 2L, 1L, 3L, 333333L),
      (1L, 3L, 1L, 4L, 250000L),
      (2L, 3L, 1L, 4L, 250000L),
      (1L, 4L, 1L, 2L, 500000L),
      (2L, 4L, 1L, 2L, 500000L)), s"wrong similarities: $got")
    val pruned = Graph.neighborhoodJaccard(edges, "src", "dst",
        minSimMicro = 400000L)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(pruned == Set((1L, 4L, 1L, 2L, 500000L), (2L, 4L, 1L, 2L, 500000L)),
      s"minSim must prune below-threshold pairs: $pruned")
  }

  test("bfsHops: multi-source min-hop distances, bounded by rounds") {
    // path 1-2-3-4-5, seeds {1,5}: exact dists 0,1,2,1,0. With
    // rounds=1 node 3 (dist 2) is still unreached.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val full = Graph.bfsHops(edges, "src", "dst", Seq(1L, 5L), rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(full == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 0L))
    val r1 = Graph.bfsHops(edges, "src", "dst", Seq(1L, 5L), rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 0L, 2L -> 1L, 4L -> 1L, 5L -> 0L))
  }

  test("pageRank loop body scans each persisted invariant once and shuffles once (plan pin)") {
    // the round-12 hoist: ej (edges + outdegrees, partitioned by _src)
    // and nodesT (teleport/init mass, partitioned by node) are built
    // ONCE and persisted; a round must then read each exactly once and
    // pay exactly one exchange (the contribution aggregation). A
    // regression that re-derives an invariant inside the loop shows up
    // here as extra scans/exchanges. Broadcast is disabled so the tiny
    // test frames plan like corpus-scale ones.
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // AQE wraps exchanges/cache scans in query stages; the static
    // prepared plan exposes them as plain nodes for exact counting
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
        .select(col("src").as("_src"), col("dst").as("_dst"))
      val outdeg = e.groupBy(col("_src")).agg(count(lit(1)).as("_outdeg"))
      val ej = e.join(outdeg, "_src").repartition(col("_src")).persist()
      val nodesT = e.select(col("_src").as("node"))
        .union(e.select(col("_dst").as("node"))).distinct()
        .select(col("node"), lit(50000000L).as("_tele"),
          lit(333333333L).as("_init"))
        .repartition(col("node")).persist()
      try {
        val ranks = nodesT.select(col("node"), col("_init").as("rank_u"))
          .localCheckpoint()
        // executedPlan = after EnsureRequirements (sparkPlan would
        // hide the exchanges the planner inserts). InMemoryTableScan
        // has no children, so the counts never descend into the
        // invariants' own (already-run) build plans.
        val plan = Graph.prStep(ej, nodesT, ranks).queryExecution.executedPlan
        val scans = plan.collect { case s: InMemoryTableScanExec => s }
        assert(scans.length == 2,
          s"expected exactly one scan of each persisted invariant, got ${scans.length}:\n$plan")
        // the checkpointed ranks RDD keeps its hash(node) partitioning
        // and both invariants are persisted pre-partitioned on their
        // join keys, so the ONLY exchange left is the contribution
        // aggregation's
        val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
        assert(shuffles.length == 1,
          s"expected exactly the contribution shuffle, got ${shuffles.length}:\n$plan")
      } finally { ej.unpersist(); nodesT.unpersist() }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("pageRank hub skew: map-side combine absorbs in-degree hubs; srcSalt splits out-degree hubs bit-identically") {
    // in-degree hub: 400 spokes all link to node 0; out-degree hub:
    // node 0 links back to every spoke (out-degree 400). The absorb
    // mechanism for the in-hub is the PARTIAL aggregation before the
    // contribution exchange (reduce side sees <= numPartitions rows
    // per key, never the in-degree) — pinned below. The out-hub's
    // join map work cannot be AQE-split (the pinned loop join has no
    // shuffle read), so srcSalt is the lever: hub out-edges spread
    // over (_src, _salt) partitions while the integer grid keeps the
    // result BIT-IDENTICAL to the unsalted plan.
    val edges = (1L to 400L).flatMap(i => Seq((i, 0L), (0L, i)))
    val unsalted = ranks(edges, 3)
    val salted = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst",
        iters = 3, srcSalt = 4)
      .as[(Long, Long)].collect().toMap
    assert(salted == unsalted, "salted ranks must be bit-identical")
    // plan pins on the salted round: ranks replicated via explode
    // (Generate), join keyed on _salt, and the contribution sum still
    // partially aggregated before its exchange
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val e = edges.toDF("src", "dst")
      .select(col("src").as("_src"), col("dst").as("_dst"))
    val outdeg = e.groupBy(col("_src")).agg(count(lit(1)).as("_outdeg"))
    val ej = e.join(outdeg, "_src")
      .withColumn("_salt", pmod(xxhash64(col("_dst")), lit(4L)))
      .repartition(col("_src"), col("_salt")).persist()
    val nodesT = e.select(col("_src").as("node"))
      .union(e.select(col("_dst").as("node"))).distinct()
      .select(col("node"), lit(374064L).as("_tele"), lit(2493765L).as("_init"))
      .repartition(col("node")).persist()
    // executedPlan (post-EnsureRequirements) with AQE off, as in the
    // prStep pin: sparkPlan predates exchange insertion, and AQE
    // wraps stages in leaves collect() cannot descend into
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val rk = nodesT.select(col("node"), col("_init").as("rank_u")).localCheckpoint()
      val plan = Graph.prStep(ej, nodesT, rk, salt = 4).queryExecution.executedPlan
      val saltKeyed = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.leftKeys.exists(_.references.exists(_.name == "_salt")) ||
             j.rightKeys.exists(_.references.exists(_.name == "_salt")) => j
      }
      assert(saltKeyed.nonEmpty, s"expected a _salt-keyed join:\n$plan")
      // the partial agg must sit BELOW the contribution exchange
      // (combine before shuffle — the in-degree-hub absorption)
      val partialBelowExchange = plan.collect {
        case ex: ShuffleExchangeExec
          if ex.child.collectFirst {
            case a: BaseAggregateExec if a.aggregateExpressions.exists(
              _.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Partial) &&
              a.groupingExpressions.nonEmpty => a
          }.nonEmpty => ex
      }
      assert(partialBelowExchange.nonEmpty,
        s"partial agg must feed the exchange, not follow it:\n$plan")
    } finally {
      ej.unpersist(); nodesT.unpersist()
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("ckptMeasured stats: fixed-width rows keep exact arithmetic; string frames carry measured block bytes") {
    // round-14 policy pin (closes round-13 ADVICE on withKnownStats):
    // rowCount x defaultSize is only exact for fixed-width schemas —
    // a string frame must carry its MATERIALIZED cached-block bytes
    // instead, or a long-text frame's drastic underestimate could
    // spuriously broadcast gigabytes.
    import graft.operators.Graph
    val fixed = Graph.ckptMeasured(
      spark.range(100).select(col("id").as("a"), (col("id") * 2).as("b")))
    val fStats = fixed.queryExecution.optimizedPlan.stats
    assert(fStats.rowCount.contains(BigInt(100)))
    assert(fStats.sizeInBytes == BigInt(100) * (8 + 8 + 8),
      s"fixed-width stays exact arithmetic: ${fStats.sizeInBytes}")
    // 100 rows x ~1 KB of string payload: the defaultSize guess
    // (20 bytes/string) would say ~3 KB; the measured blocks must
    // reflect the actual ~100 KB
    val big = Graph.ckptMeasured(
      spark.range(100).select(col("id"),
        concat_ws("", (0 until 32).map(i => md5(concat(col("id"), lit(i)))): _*).as("txt")))
    val bStats = big.queryExecution.optimizedPlan.stats
    assert(bStats.rowCount.contains(BigInt(100)))
    val guess = BigInt(100) * (8 + 20 + 8)
    assert(bStats.sizeInBytes > guess * 10,
      s"string frame must carry measured bytes, not the $guess-byte guess: ${bStats.sizeInBytes}")
  }

  test("kCore round plan maintains degrees by delta: one edge scan, no full re-aggregation (plan pin)") {
    // the round-13 incremental rewrite: a peel round's degree update
    // must derive from the REMOVED-node delta (flag edges against the
    // small removed frame, aggregate only removed-incident survivors)
    // — never re-aggregate the full edge table. A regression back to
    // the round-12 shape shows up here as a second scan of the
    // checkpointed edge RDD (the degree union read it twice).
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 3L))
      .toDF("a", "b").localCheckpoint()
    val deg = graft.operators.Graph.ckptMeasured(
      e.select(col("a").as("node")).union(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("_d")))
    val (e2, deg2) = graft.operators.Graph.kCoreStep(e, deg, k = 2)
    // sparkPlan, not executedPlan: AQE wraps the latter in an
    // AdaptiveSparkPlanExec leaf that collect() cannot descend into
    def eScans(p: org.apache.spark.sql.execution.SparkPlan): Int =
      p.collect {
        case s: RDDScanExec if s.output.map(_.name).toSet == Set("a", "b") => s
      }.length
    // the deg update flags e once (the delta source feeds it through
    // the checkpointed dec frame, which is already materialized and
    // scans e zero further times); the survivor filter scans e once
    assert(eScans(deg2.queryExecution.sparkPlan) == 0,
      s"deg update must read edges only through the materialized delta:\n${deg2.queryExecution.sparkPlan}")
    assert(eScans(e2.queryExecution.sparkPlan) == 1,
      s"survivor filter must scan the edge table exactly once:\n${e2.queryExecution.sparkPlan}")
    // and the update keeps the anti-join against the removed set
    val anti = deg2.queryExecution.sparkPlan.collect {
      case j: BaseJoinExec if j.joinType == LeftAnti => j
    }
    assert(anti.nonEmpty, s"expected the removed-node anti join:\n${deg2.queryExecution.sparkPlan}")
    // semantic check on the same frames: one peel of the pendant
    // chain removes node 1 and decrements node 2
    val degMap = deg2.as[(Long, Long)].collect().toMap
    assert(degMap == Map(2L -> 1L, 3L -> 3L, 4L -> 2L, 5L -> 2L), degMap.toString)
  }

  test("labelPropagation: bridged triangles settle into two communities (hand-traced rounds)") {
    // triangles {1,2,3} and {10,11,12} bridged by 3-10. Synchronous
    // min-tie rounds, traced by hand: after round 4 clique A carries
    // label 1 and clique B label 3 (the bridge pulls 3's label into
    // B's round-2 argmax, which B then amplifies), and the assignment
    // is a fixed point from there.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L), (3L, 10L))
    def lpa(iters: Int): Map[Long, Long] =
      Graph.labelPropagation(edges.toDF("src", "dst"), "src", "dst", iters)
        .as[(Long, Long)].collect().toMap
    val r4 = lpa(4)
    assert(r4 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 3L, 11L -> 3L, 12L -> 3L),
      s"hand-traced round-4 labels wrong: $r4")
    assert(lpa(5) == r4, "round-4 assignment must be a fixed point")
    // determinism: same input, same labels
    assert(lpa(4) == r4)
  }
}
