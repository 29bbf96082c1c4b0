package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.quantize.micro

/** Link-graph analytics for web-corpus curation: a domain/host-level
  * authority score (PageRank) is a standard quality prior for weighting
  * or filtering crawled training data (domains nobody links to are
  * disproportionately spam/SEO farms).
  *
  * Determinism contract: ranks live on an INTEGER micro-rank grid
  * (1e-9 units of probability mass) and every update is integer
  * arithmetic — floor division for the per-edge contribution split and
  * the damping factor — so a fixed iteration count yields bit-identical
  * longs on any engine, partitioning, or aggregation order. No doubles
  * exist anywhere in the computation, which is what lets a DuckDB
  * oracle replay it exactly (q102).
  */
object Graph {

  /** Micro-rank scale: 1 full unit of probability mass = 1e9. */
  val RANK_SCALE = 1000000000L

  /** Exact long floor-division for NON-NEGATIVE operands — Catalyst
    * `IntegralDivide` (SQL `div`): pure long arithmetic, exact at any
    * magnitude (no 2^53 double ceiling). Mirrors DuckDB's `//` on the
    * non-negative grid these rank units live on.
    */
  private def ldiv(a: Column, b: Column): Column =
    graft.functions.intmath.ldiv(a, b)

  /** Checkpoint cadence for the SINGLE-CHAIN fixed-iteration loops
    * (pageRank/PPR/bfsHops/labelPropagation): LAZY in the steady
    * state — the plan is truncated at build (each round sees a
    * LogicalRDD) but nothing runs until the last/periodic EAGER
    * round, so the whole loop materializes as one multi-stage job
    * instead of paying a driver job round-trip per iteration.
    *
    * SAFETY CONSTRAINT (measured, round 12): a lazily-checkpointed
    * LogicalRDD carries the size ESTIMATE of the plan it truncates,
    * and each round's estimate composes the previous round's. That
    * is safe ONLY for single-chain recurrences — state_{i+1} =
    * f(invariant, state_i) with the invariants persisted (REAL
    * stats) — where the estimate's bit length grows LINEARLY per
    * round. A loop that joins the chain against an aggregate OF THE
    * CHAIN ITSELF (kCore's e >< keep(e) >< keep(e)) MULTIPLIES
    * chain-derived estimates: ~3x the bit length per round, and by
    * round ~15 Catalyst multiplies million-bit BigIntegers at plan
    * time (the 30-iteration kCore property test went from seconds to
    * unbounded — measured per-round stats bit lengths are recorded in ROADMAP.md round 12). Such
    * self-multiplying loops must checkpoint every round and never
    * lazily checkpoint the derived frame; connectedComponents does
    * exactly that. ROUND-13 REFINEMENT: when the loop maintains TWO
    * chains joined against each other (kCore's incremental degrees),
    * even EAGER checkpoints compound — LogicalRDD carries the
    * composed estimate as `originStats` regardless of eagerness —
    * and the firebreak is [[ckptMeasured]], which overwrites the
    * estimate with measured rowCount x row-width stats.
    */
  private[graft] def ckptEager(i: Int, iters: Int): Boolean =
    i % 4 == 3 || i == iters - 1

  /** Eager localCheckpoint whose LogicalRDD carries MEASURED stats
    * instead of the composed estimate of the truncated plan — the
    * round-13 discovery extending [[ckptEager]]'s constraint: even an
    * EAGER checkpoint propagates the estimate (`originStats`), so a
    * loop whose per-round plan joins >= 2 chain-derived frames still
    * compounds ~3x bit-length PER ROUND into plan-time BigInteger
    * blowup (measured: kCore's incremental-degree shape went
    * 37 -> 108 -> 321 -> ... -> 6.3M bits by round 12 under plain
    * eager checkpoints). Overwriting the stats with rowCount x
    * row-width from the materialized rdd (one cached-scan count job)
    * firebreaks the recurrence AND keeps broadcast-join decisions
    * honest — the small `removed`/`dec` frames those loops join
    * against still qualify for broadcast, which a stats-less
    * LogicalRDD (defaultSizeInBytes) never would.
    */
  private[graft] def ckptMeasured(df: DataFrame): DataFrame =
    ckptMeasuredN(df)._1

  /** [[ckptMeasured]] that also RETURNS the row count it already paid
    * for — loop drivers (connectedComponents' convergence probe) use
    * it to decide termination without a second action over the frame.
    */
  private[graft] def ckptMeasuredN(df: DataFrame): (DataFrame, Long) = {
    // LAZY checkpoint + count = ONE driver job that both materializes
    // the cache and measures the row count (an eager checkpoint would
    // pay a materialization job AND a count job per call)
    val ck = df.localCheckpoint(eager = false)
    val n = ck.count()
    (withKnownStats(ck, n), n)
  }

  /** [[ckptMeasured]] when the caller already KNOWS the row count (an
    * invariant of its loop, e.g. a mapping frame whose keys never
    * change across compression passes): lazy checkpoint + measured
    * stats with NO count job — the caller's own next action over the
    * returned frame materializes the blocks. `sizeHint` carries a
    * measured byte size for VARIABLE-WIDTH frames (the lazy path has
    * no blocks to measure yet); loop drivers read it off the
    * already-measured frame the loop iterates on.
    */
  private[graft] def ckptKnownStats(df: DataFrame, n: Long,
      sizeHint: Option[BigInt] = None): DataFrame =
    withKnownStats(df.localCheckpoint(eager = false), n, sizeHint)

  /** sizeInBytes policy (round-14, closing the round-13 ADVICE):
    * rowCount x schema defaultSize is only a MEASUREMENT for
    * fixed-width rows — for string/binary/array columns defaultSize
    * is a fixed guess, and a drastic underestimate would let the
    * optimizer broadcast a multi-GB frame (driver OOM risk). So:
    * fixed-width schemas keep the exact arithmetic; variable-width
    * schemas take the caller's measured `sizeHint`, else the
    * MATERIALIZED rdd's actual cached block bytes (driver metadata,
    * no job — present on the ckptMeasuredN path because count() just
    * ran), else fall back to the estimate (lazy path with no hint:
    * short-id mapping frames only — connectedComponents passes the
    * measured hint for exactly this case).
    */
  private def withKnownStats(ck: DataFrame, n: Long,
      sizeHint: Option[BigInt] = None): DataFrame = {
    val fixedWidth = ck.schema.forall { f =>
      import org.apache.spark.sql.types._
      f.dataType match {
        case BooleanType | ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType | DateType | TimestampType |
             TimestampNTZType | _: DecimalType => true
        case _ => false
      }
    }
    val rowBytes = ck.schema.map(_.dataType.defaultSize).sum + 8
    val estimate = BigInt(n) * rowBytes
    val size =
      if (fixedWidth) estimate
      else sizeHint
        .orElse(org.apache.spark.sql.graft.shims.materializedSizeInBytes(ck).map(BigInt(_)))
        .getOrElse(estimate)
    org.apache.spark.sql.graft.shims.withMeasuredStats(ck, size, BigInt(n))
  }


  /** The undirected front end of every undirected operator: each edge
    * as its canonical (a, b) pair with a < b. Self-loops drop, and
    * parallel and reversed edges collapse to one row, so a node's
    * degree over this frame counts its distinct neighbours.
    */
  private def undirected(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()

  /** The symmetric (node, nbr) adjacency of a canonical (a, b) frame:
    * every undirected edge in both directions.
    */
  private def adjacency(canon: DataFrame): DataFrame =
    canon.select(col("a").as("node"), col("b").as("nbr"))
      .union(canon.select(col("b").as("node"), col("a").as("nbr")))

  /** (node, `name`): each node's degree over a canonical (a, b) frame. */
  private def degrees(canon: DataFrame, name: String = "_deg"): DataFrame =
    adjacency(canon).groupBy(col("node")).agg(count(lit(1)).as(name))

  /** The common-neighbour wedge engine of [[linkPredict]] and
    * [[neighborhoodJaccard]]: every (_x, _y) pair with _x < _y that
    * shares a centre _z, from the self-join of the adjacency `und` on
    * the centre — cost sum_z deg(z)^2, the price every common-neighbour
    * definition pays. Centres are the nodes of `deg` (node, _deg, ...)
    * with 2 <= _deg <= `maxCenterDegree`; the cap is the scale lever
    * (skipping hub centres bounds the fan-out at cap^2 per node). The
    * centre's other `deg` columns ride along on each wedge.
    */
  private def wedges(und: DataFrame, deg: DataFrame, maxCenterDegree: Int): DataFrame = {
    require(maxCenterDegree >= 2, s"maxCenterDegree must be >= 2, got $maxCenterDegree")
    val centres = deg.filter(col("_deg") >= 2 && col("_deg") <= maxCenterDegree)
      .withColumnRenamed("node", "_z")
    val w1 = und.select(col("node").as("_z"), col("nbr").as("_x"))
    val w2 = und.select(col("node").as("_z"), col("nbr").as("_y"))
    w1.join(w2, "_z").filter(col("_x") < col("_y")).join(centres, "_z")
  }

  /** Fixed-iteration PageRank over an edge list (src -> dst), damping
    * 85/100, uniform teleport. Returns (node, rank_u) with rank_u in
    * micro-rank units.
    *
    * Semantics notes (all mirrored by the oracle):
    *  - parallel edges count once — callers pass a distinct edge list
    *    (this function distincts defensively);
    *  - dangling nodes (no out-edges) leak their mass — the standard
    *    simplification; total mass therefore decays slightly per
    *    iteration, which is irrelevant for the RANKING use;
    *  - integer floor-division drops sub-micro remainders (same).
    *
    * The walk, its scale shape and the `srcSalt` out-degree-hub lever
    * are [[rankWalk]]'s; the node count enters as a broadcast one-row
    * aggregate (no driver count).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, srcSalt: Int = 1): DataFrame =
    rankWalk(edges, srcCol, dstCol, iters, srcSalt) { nodes =>
      nodes.crossJoin(broadcast(nodes.agg(count(lit(1)).as("_n"))))
        .select(col("node"),
          ldiv(lit(RANK_SCALE * 15L / 100L), col("_n")).as("_tele"),
          ldiv(lit(RANK_SCALE), col("_n")).as("_init"))
    }

  /** The rank walk of [[pageRank]] and [[personalizedPageRank]], which
    * differ only in where the mass starts and where teleport returns:
    * `mass` maps the node frame (node) to (node, _tele, _init).
    *
    * Scale shape: per iteration, ONE shuffle of (node, contribution)
    * longs — the Pregel pattern the connected-components operator
    * already uses. The LOOP-INVARIANT frames are built ONCE, before
    * the loop: the edge list pre-joined to its out-degrees and
    * pre-partitioned on the per-iteration join key (`_src`), and the
    * node table with its teleport/init mass columns pre-partitioned
    * on `node` — both persisted, so no iteration re-derives them
    * (round 11 re-ran scan -> distinct -> groupBy inside EVERY round:
    * at 100 TB that is iters x a full edge re-scan + re-shuffle).
    * With both invariants persisted on their join keys, the only
    * per-round exchange is the contribution aggregation itself.
    * `localCheckpoint` truncates the iterative lineage each round.
    * Iterations are FIXED — no convergence probe, no collect; the only
    * driver-triggered jobs are the eager per-iteration
    * `localCheckpoint` materializations that truncate the lineage.
    * GraphSpec pins the loop-body plan via [[prStep]]: exactly one
    * scan of each persisted invariant per round.
    *
    * Hub skew (round 13). The two hub directions behave differently:
    *  - IN-degree hubs (10^5 pages link to one domain) are absorbed
    *    for free — the contribution aggregation is map-side combined
    *    (partial_sum before its exchange, GraphSpec-pinned), so the
    *    reduce side receives at most numPartitions rows per hub key,
    *    never its in-degree.
    *  - OUT-degree hubs concentrate the ej >< ranks join's MAP work:
    *    both sides are pre-partitioned on the join key, the join has
    *    NO shuffle read, and AQE's skew-split only rewrites shuffle
    *    reads — it structurally cannot engage here. `srcSalt` > 1 is
    *    the lever: ej partitions on (_src, salt-of-dst) so a hub's
    *    out-edges spread over `srcSalt` partitions, and the ranks
    *    side is replicated srcSalt x per round (one extra exchange
    *    of |V| x srcSalt long-pairs — the standard replicate-the-
    *    small-side salting trade; results are BIT-IDENTICAL because
    *    the integer grid is aggregation-order-free, GraphSpec-
    *    proven). Engage it for power-law link graphs (a seed-adjacent
    *    hub concentrates PPR mass flow exactly like the global walk);
    *    leave 1 for the co-partitioned zero-exchange join.
    */
  private def rankWalk(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, srcSalt: Int)(mass: DataFrame => DataFrame): DataFrame = {
    // iters = 0 would silently return the init ranks — and, with the
    // post-loop unpersist() below, a frame that recomputes its whole
    // invariant lineage on every action
    require(iters >= 1, s"need iters >= 1, got $iters")
    require(srcSalt >= 1, s"need srcSalt >= 1, got $srcSalt")
    // the distinct edge list feeds FOUR build lineages (nodes x2 via
    // the union, outdeg, ej) — persist it so the raw-edge scan +
    // distinct runs once, not once per consumer
    val e = edges.select(col(srcCol).as("_src"), col(dstCol).as("_dst"))
      .filter(col("_src") =!= col("_dst")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("_src").as("node"))
      .union(e.select(col("_dst").as("node"))).distinct()
    val outdeg = e.groupBy(col("_src")).agg(count(lit(1)).as("_outdeg"))
    val ejBase = e.join(outdeg, "_src")
    val ej = (if (srcSalt == 1) ejBase.repartition(col("_src"))
      else ejBase
        .withColumn("_salt", pmod(xxhash64(col("_dst")), lit(srcSalt.toLong)))
        .repartition(col("_src"), col("_salt")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodesT = mass(nodes).repartition(col("node"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var ranks = nodesT.select(col("node"), col("_init").as("rank_u"))
    // [[ckptEager]] cadence: lazy checkpoints truncate each round's
    // plan at build, the periodic/last eager rounds run the chain as
    // one multi-stage job (and firebreak the stats estimate — see
    // ckptEager). The last round is always eager, so the persisted
    // invariants are fully materialized and safe to release below.
    for (i <- 0 until iters)
      ranks = prStep(ej, nodesT, ranks, srcSalt)
        .localCheckpoint(eager = ckptEager(i, iters))
    e.unpersist()
    ej.unpersist()
    nodesT.unpersist()
    ranks
  }

  /** One synchronous rank round over [[rankWalk]]'s persisted loop
    * invariants, and a separate seam so GraphSpec can pin the
    * loop-body plan: one scan of the persisted edge frame, one scan of
    * the persisted node frame, and the single contribution shuffle
    * (salt = 1); with salt > 1 the ranks side is replicated salt x and
    * joined on (_src, _salt) so out-degree hub edges spread across
    * salt partitions.
    *
    * @param ej     persisted (_src, _dst, _outdeg), partitioned by _src
    *               (salt = 1) or (_src, _salt) (salt > 1)
    * @param nodesT persisted (node, _tele, _init), partitioned by node
    * @param ranks  previous round's (node, rank_u)
    */
  private[graft] def prStep(ej: DataFrame, nodesT: DataFrame,
      ranks: DataFrame, salt: Int = 1): DataFrame = {
    val contribs = if (salt == 1) {
      ej.join(ranks, ej("_src") === ranks("node"))
        .select(col("_dst").as("node"),
          ldiv(col("rank_u"), col("_outdeg")).as("_c"))
    } else {
      // integer-grid update is aggregation-order-free, so the salted
      // split is bit-identical to the unsalted plan (GraphSpec-proven)
      val ranksS = ranks.select(col("node"), col("rank_u"),
        explode(sequence(lit(0L), lit(salt.toLong - 1))).as("_salt"))
      ej.join(ranksS,
          ej("_src") === ranksS("node") && ej("_salt") === ranksS("_salt"))
        .select(col("_dst").as("node"),
          ldiv(col("rank_u"), col("_outdeg")).as("_c"))
    }
    val inSum = contribs.groupBy(col("node")).agg(sum(col("_c")).as("_s"))
    nodesT.join(inSum, Seq("node"), "left")
      .select(col("node"),
        (col("_tele") + ldiv(lit(85L) * coalesce(col("_s"), lit(0L)), lit(100L))).as("rank_u"))
  }

  /** Per-node triangle counts over an undirected graph — the local
    * clustering signal link-spam detectors use (spam farms have
    * star-like link graphs: high degree, near-zero triangles; organic
    * communities triangulate).
    *
    * Degree-ordered orientation (the standard distributed-triangle
    * trick): order nodes by (degree, id) and orient every edge from
    * the smaller to the larger endpoint. Each triangle then has
    * exactly one node with two out-edges, so the wedge self-join
    * enumerates it ONCE, and — the scale property — a wedge fans out
    * from the LOW-degree endpoint: a star hub with degree d and no
    * triangles contributes zero wedges instead of d^2/2. All joins are
    * hash equi-joins on node keys; nothing is quadratic in degree for
    * hub nodes. Output: (node, n_triangles) for nodes in >= 1
    * triangle; integer counts, exact on any engine (q118).
    */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val canon = undirected(edges, srcCol, dstCol)
    val deg = degrees(canon, "deg")
    // orient (a, b) from the (deg, id)-smaller endpoint to the larger
    val withDeg = canon
      .join(deg.select(col("node").as("a"), col("deg").as("_da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("_db")), "b")
    val aFirst = (col("_da") < col("_db")) ||
      (col("_da") === col("_db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"),
      when(aFirst, col("_db")).otherwise(col("_da")).as("_dd"))
    // wedges from each source: (dst1, dst2) with pi(dst1) < pi(dst2);
    // the closing edge, if present, is oriented dst1 -> dst2
    val e1 = oriented.select(col("src").as("_s"), col("dst").as("_v"), col("_dd").as("_dv"))
    val e2 = oriented.select(col("src").as("_s"), col("dst").as("_w"), col("_dd").as("_dw"))
    val wedges = e1.join(e2, "_s")
      .filter((col("_dv") < col("_dw")) ||
        (col("_dv") === col("_dw") && col("_v") < col("_w")))
    val closed = wedges.join(
      oriented.select(col("src").as("_v"), col("dst").as("_w")), Seq("_v", "_w"))
    closed.select(explode(array(col("_s"), col("_v"), col("_w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Fixed-iteration k-core peeling: repeatedly delete nodes with
    * undirected degree < k (each deletion can drop a neighbor under
    * k, hence the iteration). The k-core is the classic "dense
    * engaged community" extractor — link-farm leaves and drive-by
    * pages fall out, densely interlinked hubs survive. Returns
    * (node, deg): the degree each surviving node has in the induced
    * subgraph after `iters` peels.
    *
    * Like [[pageRank]], iterations are FIXED (no convergence probe) so
    * an oracle can unroll them as CTEs; `iters` >= the graph's peel
    * depth yields the exact k-core (GraphSpec shows depth-2 chains).
    *
    * Degrees are maintained INCREMENTALLY (round 13): the full degree
    * aggregation runs ONCE before the loop; each round then derives
    * the removed-node set from the maintained degree table and
    * subtracts the removed edges' contributions — an edge with
    * exactly one removed endpoint decrements its SURVIVOR, an edge
    * with both removed decrements nobody (both rows leave the table
    * anyway). Late peel rounds remove few nodes, so the per-round
    * aggregation shrinks from O(|E_remaining|) shuffle records (the
    * round-12 shape re-aggregated every edge every round) to
    * O(|removed edges|); the survivor filter is the same two
    * endpoint joins as before, now against the small `removed` frame
    * (broadcast when small — `removed` descends from a
    * measured-stats frame, so the optimizer sees its true scale).
    * Measured on a 10k-node path at k=2 (30 rounds, ~2 removals per
    * round, SCALE.md "Round-13"): 867k -> 30k shuffle records (29x).
    * Wall time at that toy scale RISES 8.1 -> ~11s — the per-round
    * broadcast-build + count driver jobs are the same per-stage
    * launch floor ROADMAP documents for q102/q123; what transfers to
    * a 1000-executor graph is the avoided O(|V|+|E|) re-aggregation
    * shuffle per round, which dwarfs those fixed-latency jobs the
    * moment degrees stop fitting a toy.
    *
    * The maintained degree table checkpoints with MEASURED stats
    * every round ([[ckptMeasured]]) — plain eager checkpoints are
    * NOT enough here: this loop joins each chain against frames
    * derived from the chains themselves (deg >< removed(deg) ><
    * dec(e, removed)), and Spark's LogicalRDD carries the composed
    * size ESTIMATE through eager checkpoints too, so the estimate
    * triples its bit length per round into plan-time BigInteger
    * blowup (the round-13 extension of ckptEager's round-12
    * constraint).
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, iters: Int): DataFrame = {
    require(k >= 1 && iters >= 1, s"need k >= 1, iters >= 1; got ($k, $iters)")
    var e = undirected(edges, srcCol, dstCol).localCheckpoint()
    // the ONLY full degree aggregation; the loop maintains it by delta
    var deg = ckptMeasured(degrees(e, "_d"))
    // deg goes through [[ckptMeasured]], NOT plain eager
    // localCheckpoint: its round plan joins two deg-derived frames,
    // and carried-over stats ESTIMATES would compound ~3x bits/round
    // even under eager checkpointing (see ckptMeasured) — measured
    // stats firebreak the recurrence and let the small removed/dec
    // frames broadcast. e is a SINGLE additive chain (its per-round
    // joins are against the measured-stats removed frame, so its
    // estimate grows linearly) — a plain lazy checkpoint truncates
    // its plan for free; the round's dec/deg count jobs force its
    // cache, so rounds still execute in lockstep
    for (_ <- 0 until iters) {
      val (e2, deg2) = kCoreStep(e, deg, k)
      e = e2.localCheckpoint(eager = false)
      deg = ckptMeasured(deg2)
    }
    // survivors' induced degrees: the maintained table IS the induced
    // degree of e (nodes whose last edge left carry _d = 0 and are
    // filtered, matching the aggregate-over-e contract)
    deg.filter(col("_d") >= 1).select(col("node"), col("_d").as("deg"))
  }

  /** One incremental peel round over (edges, maintained degrees) —
    * a seam so GraphSpec can pin the delta plan: the round's degree
    * update scans the edge table ONCE (the removed-endpoint flagging)
    * instead of re-aggregating it, and filters survivors via the
    * removed set. Returns (surviving edges, their updated degrees);
    * both must be checkpointed by the caller (see [[kCore]]).
    */
  private[graft] def kCoreStep(e: DataFrame, deg: DataFrame,
      k: Int): (DataFrame, DataFrame) = {
    val removed = deg.filter(col("_d") < k).select(col("node"))
    // flag each edge's endpoints against the removed set (two hash
    // joins on the SMALL removed frame); survivors keep both nulls
    val flagged = e
      .join(removed.select(col("node").as("a"), lit(1).as("_ra")), Seq("a"), "left")
      .join(removed.select(col("node").as("b"), lit(1).as("_rb")), Seq("b"), "left")
    val e2 = flagged.filter(col("_ra").isNull && col("_rb").isNull)
      .select(col("a"), col("b"))
    // degree delta: exactly-one-removed-endpoint edges decrement
    // their survivor; the aggregation is O(|removed edges|).
    // ckptMeasured, not a lazy frame: dec's ESTIMATE is a
    // join-product (size(e) x size(removed)^2 bytes — Catalyst's
    // no-CBO join estimate multiplies), so left lazy it would never
    // broadcast and the deg update would shuffle the WHOLE degree
    // table every round (measured: ~|deg| shuffle records/round on
    // the path probe). Measured stats let the optimizer broadcast
    // dec exactly when it is genuinely small — every late peel
    // round — and fall back to a shuffle join only when a real
    // round-1 mass peel makes it big.
    val dec = ckptMeasured(
      flagged.filter(col("_ra").isNotNull =!= col("_rb").isNotNull)
        .select(when(col("_ra").isNotNull, col("b")).otherwise(col("a")).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("_dec")))
    val deg2 = deg.join(removed, Seq("node"), "left_anti")
      .join(dec, Seq("node"), "left")
      .select(col("node"),
        (col("_d") - coalesce(col("_dec"), lit(0L))).as("_d"))
    (e2, deg2)
  }

  /** Fixed-iteration PERSONALIZED PageRank: identical update rule to
    * [[pageRank]] but all teleport mass returns to a SEED set instead
    * of spreading uniformly — the "related domains" expansion query
    * (rank the graph by proximity to a trusted seed list, then widen a
    * curation whitelist from the top). Initial mass and the 15%
    * teleport split equally (integer floor) over the DISTINCT seeds, so
    * a repeated seed id carries the same mass as a single one;
    * non-seed nodes start at zero and receive only damped in-flow. The
    * oracle unrolls iterations with a CASE on the seed set (q149).
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: Seq[Long], iters: Int, srcSalt: Int = 1): DataFrame = {
    require(seeds.nonEmpty && iters >= 1,
      s"need seeds and iters >= 1; got (${seeds.size}, $iters)")
    val seedSet = seeds.distinct
    val isSeed = col("node").isInCollection(seedSet)
    // exact Scala floor-div of the constant mass shares (n is a literal)
    val initU = RANK_SCALE / seedSet.length
    val teleportU = (RANK_SCALE * 15L / 100L) / seedSet.length
    rankWalk(edges, srcCol, dstCol, iters, srcSalt) { nodes =>
      nodes.select(col("node"),
        when(isSeed, lit(teleportU)).otherwise(lit(0L)).as("_tele"),
        when(isSeed, lit(initU)).otherwise(lit(0L)).as("_init"))
    }
  }

  /** Link prediction over an undirected graph: for every NON-adjacent
    * node pair with >= 1 common neighbor, the common-neighbor count
    * and the Adamic-Adar score — the classic "who should link to
    * whom" features (Liben-Nowell & Kleinberg 2003), used in corpus
    * curation to densify sparse domain graphs before community
    * detection and in entity resolution as a second-order evidence
    * score. Adamic-Adar weights each shared neighbor z by
    * 1/ln(deg(z)) so promiscuous hubs certify less than selective
    * nodes.
    *
    * Determinism: ln(deg) is quantized to the integer micro-nat grid
    * FIRST (floor(ln(d)*1e6+0.5), the q101 discipline), then each
    * contribution is the exact integer quotient 1e12 div lnu — so
    * aa_micro (1e-6 AA units) is a long any engine replays.
    *
    * Scale shape: candidate pairs come from [[wedges]], whose
    * `maxCenterDegree` cap is the standard estimator trade (a hub's
    * 1/ln(deg) contribution is negligible anyway — document the cap
    * when you use it). Adjacent pairs leave via one left-anti
    * equi-join against the edge list. Output: (node_a, node_b,
    * common_neighbors, aa_micro) with node_a < node_b.
    */
  def linkPredict(edges: DataFrame, srcCol: String, dstCol: String,
      maxCenterDegree: Int = Int.MaxValue): DataFrame = {
    val canon = undirected(edges, srcCol, dstCol)
    // each centre's quantized inverse-log contribution; only deg >= 2
    // nodes centre a wedge, so ln(deg) > 0 where it is used
    val contrib = degrees(canon).withColumn("_aa",
      ldiv(lit(1000000000000L), micro(log(col("_deg")))))
    wedges(adjacency(canon), contrib, maxCenterDegree)
      .groupBy(col("_x"), col("_y"))
      .agg(count(lit(1)).as("common_neighbors"), sum(col("_aa")).as("aa_micro"))
      .join(canon, col("_x") === col("a") && col("_y") === col("b"), "left_anti")
      .select(col("_x").as("node_a"), col("_y").as("node_b"),
        col("common_neighbors"), col("aa_micro"))
  }

  /** Neighborhood Jaccard similarity: for every node pair sharing at
    * least one neighbor, |N(a) ∩ N(b)| / |N(a) ∪ N(b)| — structural
    * role similarity ("these two domains link into the same
    * community"), the graph-side near-dup signal that pairs with the
    * text-side MinHash family: two mirrors that copy each other's
    * link structure score high here even when their text already
    * diverged. Note adjacent pairs are INCLUDED (unlike
    * [[linkPredict]], which predicts absent links) — a↔b being
    * linked doesn't change N(a) ∩ N(b).
    *
    * Candidates come from [[wedges]]. With the cap INACTIVE the result
    * is exact. With the cap active, skipped hub centers UNDERCOUNT
    * the intersection, and because union_size is computed as
    * deg_a + deg_b − common from that capped count, the union is
    * correspondingly OVERSTATED — jac_micro is a biased-low
    * approximation in both numerator and denominator (the degrees
    * themselves stay exact; only `common` is capped). Callers who
    * need exact similarity on hub-heavy graphs must raise the cap.
    * Intersections are counted map-side, degrees joined back from
    * the (node, degree) frame. jac_micro = floor(common·1e6 / union) —
    * an exact integer quotient, bit-stable on any engine. `minSim`
    * (micro units) prunes the long tail before the output shuffle.
    */
  def neighborhoodJaccard(edges: DataFrame, srcCol: String, dstCol: String,
      minSimMicro: Long = 0L, maxCenterDegree: Int = Int.MaxValue): DataFrame = {
    val canon = undirected(edges, srcCol, dstCol)
    val deg = degrees(canon)
    val common = wedges(adjacency(canon), deg, maxCenterDegree)
      .groupBy(col("_x"), col("_y"))
      .agg(count(lit(1)).as("common_neighbors"))
    common
      .join(deg.select(col("node").as("_x"), col("_deg").as("_da")), "_x")
      .join(deg.select(col("node").as("_y"), col("_deg").as("_db")), "_y")
      .select(col("_x").as("node_a"), col("_y").as("node_b"),
        col("common_neighbors"),
        (col("_da") + col("_db") - col("common_neighbors")).as("union_size"),
        expr("common_neighbors * 1000000L div (_da + _db - common_neighbors)")
          .as("jac_micro"))
      .filter(col("jac_micro") >= minSimMicro)
  }

  /** Multi-source BFS hop distance, FIXED rounds: every node's
    * minimum hop count from the seed set, exploring `rounds` hops —
    * the reachability/radius query ("how far is every domain from
    * the trusted whitelist"), and the building block of
    * shortest-path features. Unreached nodes are absent (no
    * sentinel distances).
    *
    * Pregel cadence: per round, one hash join of the adjacency
    * against the frontier-so-far (shuffles (node, hops) longs), one
    * map-side-combined min — monotone, so re-relaxing already-settled
    * nodes is free of correctness risk; `localCheckpoint` truncates
    * the loop lineage on the [[ckptEager]] cadence, and rounds are
    * FIXED so an oracle unrolls them as CTEs (q175). rounds >= the
    * graph's eccentricity yields exact distances.
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: Seq[Long], rounds: Int): DataFrame = {
    require(seeds.nonEmpty && rounds >= 1,
      s"need seeds and rounds >= 1; got (${seeds.size}, $rounds)")
    // loop-invariant adjacency, persisted pre-partitioned on the
    // per-round join key: the frontier join then shuffles only the
    // (node, hops) side, and no round re-derives scan -> distinct ->
    // union
    val und = adjacency(undirected(edges, srcCol, dstCol))
      .repartition(col("node"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = und.select(col("node")).distinct()
    var dist = nodes.filter(col("node").isInCollection(seeds))
      .select(col("node"), lit(0L).as("hops")).localCheckpoint(eager = false)
    for (i <- 0 until rounds) {
      val reach = und.join(dist, "node")
        .select(col("nbr").as("node"), (col("hops") + 1L).as("hops"))
      dist = dist.union(reach)
        .groupBy(col("node")).agg(min(col("hops")).as("hops"))
        .localCheckpoint(eager = ckptEager(i, rounds))
    }
    und.unpersist()
    dist
  }

  /** Fixed-iteration SYNCHRONOUS label propagation — the cheap
    * community detector for link graphs (Raghavan et al. 2007), used
    * in corpus curation to group domains into communities before
    * per-community quality sampling. Labels start as node ids; each
    * round every node simultaneously adopts the most frequent label
    * among its neighbors, ties broken by SMALLEST label. Classic LPA
    * is asynchronous with random tie-breaks; the synchronous min-tie
    * variant is bit-reproducible on any engine, partitioning, or
    * aggregation order — the same determinism rewrite pageRank's
    * integer grid makes (q146 replays it as unrolled CTEs). Isolated
    * nodes never appear (the node set comes from the edge list).
    *
    * Scale shape: per iteration, one hash join of the undirected
    * adjacency against the label table (shuffles (node, label) pairs,
    * i.e. 2|E| rows), one map-side-combined count, and a per-node
    * argmax window whose partitions are bounded by degree;
    * `localCheckpoint` truncates the loop lineage on the
    * [[ckptEager]] cadence. Returns (node, label).
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    import org.apache.spark.sql.expressions.Window
    // loop-invariant adjacency, persisted pre-partitioned on the
    // per-round join key (`nbr` — each round joins the label table
    // onto the NEIGHBOR end): the join then shuffles only the (node,
    // label) side, and no round re-derives scan -> distinct -> union
    val und = adjacency(undirected(edges, srcCol, dstCol))
      .repartition(col("nbr"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = und.select(col("node")).distinct()
      .select(col("node"), col("node").as("label")).localCheckpoint(eager = false)
    for (i <- 0 until iters) {
      val nb = und
        .join(labels.select(col("node").as("nbr"), col("label")), "nbr")
        .groupBy(col("node"), col("label")).agg(count(lit(1)).as("_c"))
      val w = Window.partitionBy(col("node")).orderBy(col("_c").desc, col("label"))
      // every node has >= 1 neighbor by construction, so the argmax
      // covers the full node set — no left-join backfill needed
      labels = nb.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).select(col("node"), col("label"))
        .localCheckpoint(eager = ckptEager(i, iters))
    }
    und.unpersist()
    labels
  }
}
