package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.quantize.micro

/** Data-quality profiling — the validation pass a 100 TB ingest runs
  * before anything downstream trusts the tables: per-column profiles
  * (cardinality, null rate, bounds) and referential-integrity orphan
  * detection. Both are plain aggregations/anti-joins so the same code
  * audits a 60k-row fixture and a petabyte lake (profiles are one
  * map-side-combined aggregation per column over one shared scan per
  * column set; orphan checks are hash anti-joins on the key).
  */
object Profiler {

  /** One profile row per requested column: total rows, nulls, exact
    * distinct count, and min/max rendered as strings (the
    * engine-portable envelope for heterogeneous column types). One
    * aggregation pass per column — Catalyst shares the scan when the
    * caller persists `df`; cardinality is EXACT (count distinct)
    * because profile correctness gates pipeline decisions; swap in
    * approx_count_distinct when 2% error is acceptable at scale.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "at least one column required")
    cols.map { c =>
      df.agg(
          count(lit(1)).as("n_rows"),
          (count(lit(1)) - count(col(c))).as("n_nulls"),
          countDistinct(col(c)).as("n_distinct"),
          min(col(c)).cast("string").as("v_min"),
          max(col(c)).cast("string").as("v_max"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("v_min"), col("v_max"))
    }.reduce(_ unionAll _)
  }

  /** Orphaned foreign keys: child keys (non-null) with no matching
    * parent — returned as (key, n_rows) so hot orphans surface first.
    * A hash anti-join against the distinct parent keys; broadcast
    * when the parent is a dimension.
    */
  def referentialOrphans(child: DataFrame, childKey: Column,
      parent: DataFrame, parentKey: Column): DataFrame =
    child.select(childKey.as("orphan_key")).filter(col("orphan_key").isNotNull)
      .join(parent.select(parentKey.as("orphan_key")).distinct(),
        Seq("orphan_key"), "left_anti")
      .groupBy(col("orphan_key")).agg(count(lit(1)).as("n_rows"))

  /** Full referential audit: one row per declared (name, child, key,
    * parent, key) relationship with child row count and orphan count —
    * the report a lake-ingest gate reads. Each edge is an independent
    * aggregation + anti-join; totals are exact.
    */
  def auditReferences(edges: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    require(edges.nonEmpty, "at least one relationship required")
    edges.map { case (name, child, ck, parent, pk) =>
      val orphans = referentialOrphans(child, col(ck), parent, col(pk))
        .agg(coalesce(sum(col("n_rows")), lit(0L)).as("n_orphans"))
      child.agg(count(lit(1)).as("n_child"))
        .crossJoin(orphans)
        .select(lit(name).as("relationship"), col("n_child"), col("n_orphans"))
    }.reduce(_ unionAll _)
  }

  /** Driver-side summary of a baseline load for PSI drift scoring:
    * the equi-depth bin boundaries (the baseline's exact i/nBins
    * percentiles) and the per-bin baseline counts. This is
    * CONFIG-sized — nBins doubles + nBins longs — so it collects to
    * the driver like a broadcast dimension would and embeds in later
    * plans as literals: scoring a new load against it never re-reads
    * or re-joins baseline data. Compute once per baseline (three
    * kilobyte-shuffle passes over it), score any number of loads.
    */
  case class PsiBaseline(bounds: Seq[Double], binCounts: Seq[Long]) {
    def nBins: Int = binCounts.length
    def total: Long = binCounts.sum
  }

  /** Membership of `v` in the equi-depth bins: count of boundaries
    * strictly below it — a codegen'd literal comparison chain, no
    * join, no lookup table.
    */
  private def binOf(v: Column, bounds: Seq[Double]): Column =
    bounds.map(b => when(v > lit(b), 1).otherwise(0)).reduce(_ + _)

  /** Build the [[PsiBaseline]] summary: boundaries via
    * [[Quantiles.exactPercentiles]] (exact doubles — with integer-grid
    * measures and power-of-two nBins any SQL engine replays them
    * bit-for-bit), then one map-side-combined bin-count pass. Eager:
    * runs the two baseline jobs at call time.
    */
  def psiBaseline(baseline: DataFrame, value: Column,
      nBins: Int = 8): PsiBaseline = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val ps = (1 until nBins).map(i => (s"_q$i", i.toDouble / nBins))
    val rows = Quantiles.exactPercentiles(
        baseline.select(value.cast("double").as("_v")), lit(1L), col("_v"), ps)
      .collect()
    require(rows.nonEmpty, "baseline must be non-empty")
    val bounds = ps.map { case (n, _) => rows.head.getAs[Double](n) }
    val counts = baseline.select(value.cast("double").as("_v"))
      .filter(col("_v").isNotNull)
      .groupBy(binOf(col("_v"), bounds).as("bin")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getAs[Number](0).intValue -> r.getLong(1)).toMap
    PsiBaseline(bounds, (0 until nBins).map(b => counts.getOrElse(b, 0L)))
  }

  /** Score one load against a precomputed [[PsiBaseline]]: ONE narrow
    * pass over the load (scan -> literal bin chain -> map-side-combined
    * count) — the baseline never appears in the plan except as
    * literals, so per-evaluation cost follows the CURRENT load alone
    * at any baseline size. Output: one row per bin — bin index, both
    * counts, and the bin's PSI contribution in integer MICRO-PSI:
    * (p - q) * ln(p/q) with zero counts floored at 1 (standard
    * smoothing), ln quantized to the micro-nat grid first (the q101
    * pattern — absorbs cross-libm ulp differences), the product
    * floored to micro-units. Total PSI = sum(psi_micro) / 1e6; the
    * industry rule of thumb reads < 0.1 as stable, > 0.25 as
    * drifted. The load must be non-empty (proportions are undefined
    * otherwise).
    */
  def psiAgainst(pb: PsiBaseline, current: DataFrame, value: Column): DataFrame = {
    require(pb.bounds.length == pb.nBins - 1,
      s"malformed PsiBaseline: ${pb.bounds.length} boundaries for ${pb.nBins} bins")
    val curCounts = current.select(value.cast("double").as("_v"))
      .filter(col("_v").isNotNull)
      .groupBy(binOf(col("_v"), pb.bounds).as("bin"))
      .agg(count(lit(1)).as("cur_cnt"))
    // every bin 0..nBins-1 gets a row even when empty on both sides;
    // the window total runs over this <= nBins-row frame only
    val allBins = current.sparkSession.range(pb.nBins)
      .select(col("id").cast("int").as("bin"))
    val joined = allBins.join(broadcast(curCounts), Seq("bin"), "left")
      .na.fill(0L, Seq("cur_cnt"))
      .withColumn("base_cnt",
        element_at(lit(pb.binCounts.toArray), col("bin") + 1))
    val w = Window.partitionBy(lit(1))
    joined
      .withColumn("_ct",
        // a load with zero measurable rows has undefined proportions;
        // without this a monitoring gate would compare null PSI
        // against its threshold and silently pass the degenerate load
        when(sum(col("cur_cnt")).over(w) === 0, raise_error(
          lit("psiAgainst: current load has no measurable rows (PSI undefined)")))
          .otherwise(sum(col("cur_cnt")).over(w)))
      .withColumn("psi_micro",
        when(col("base_cnt") === 0 && col("cur_cnt") === 0, lit(0L))
          .otherwise(psiTerm(lit(pb.total.toDouble), col("_ct").cast("double"))))
      .select(col("bin"), col("base_cnt"), col("cur_cnt"), col("psi_micro"))
  }

  /** One bin's PSI contribution in integer micro-PSI, the term
    * [[psiAgainst]] and [[psiCategoricalCounts]] share: (p - q) *
    * ln(p/q) over the `base_cnt` and `cur_cnt` columns with zero counts
    * floored at 1, p = base/`bt`, q = cur/`ct`; ln is quantized to the
    * micro-nat grid first, then the product is floored to micro-units.
    */
  private def psiTerm(bt: Column, ct: Column): Column = {
    val bs = greatest(col("base_cnt"), lit(1L)).cast("double")
    val cs = greatest(col("cur_cnt"), lit(1L)).cast("double")
    floor((bs / bt - cs / ct) * micro(log((bs * ct) / (cs * bt))).cast("double") + lit(0.5))
      .cast("long")
  }

  /** Population-stability-index drift between two loads of the same
    * measure — the monitoring gate that catches "today's data is not
    * distributed like the data the model trained on" before a bad
    * batch poisons training: [[psiBaseline]] (eager, config-sized)
    * composed with [[psiAgainst]] (one narrow pass over `current`).
    * Keep the [[PsiBaseline]] and call [[psiAgainst]] directly to
    * score many loads — or a stream of them
    * ([[graft.streaming.StreamingOps.driftStream]]) — against one
    * baseline without repaying its passes.
    */
  def psiDrift(baseline: DataFrame, current: DataFrame, value: Column,
      nBins: Int = 8): DataFrame =
    psiAgainst(psiBaseline(baseline, value, nBins), current, value)

  /** CATEGORICAL population-stability drift — [[psiDrift]]'s sibling
    * for discrete columns (language, source, ship mode, label),
    * where equi-depth numeric bins make no sense: each observed
    * category IS a bin, including categories only ONE side carries
    * (a brand-new category in today's load is exactly the drift a
    * gate must see — the full-outer category union guarantees it
    * surfaces, with the standard floor-at-1 smoothing). Same
    * integer micro-PSI discipline as [[psiAgainst]]: ln of the
    * proportion ratio quantized to micro-nats first, the product
    * floored to micro-units — bit-stable across engines.
    *
    * Scale shape: two map-side-combined category counts (the only
    * passes over data), one full-outer join + one window over the
    * CATEGORY-sized frame (a categorical domain is config-sized by
    * definition — a "category" column with millions of values is an
    * id, profile it as one). Nulls are excluded (profile null rates
    * via [[profile]]); an empty side raises rather than comparing
    * against undefined proportions — including when BOTH sides are
    * empty: a flagged sentinel row keeps the guard window non-empty
    * so the raise still evaluates instead of silently returning an
    * empty frame (the sentinel never reaches the output).
    */
  def psiCategorical(baseline: DataFrame, current: DataFrame,
      cat: Column): DataFrame = {
    def countsOf(df: DataFrame, cnt: String) =
      df.select(cat.cast("string").as("cat"))
        .filter(col("cat").isNotNull)
        .groupBy(col("cat")).agg(count(lit(1)).as(cnt))
    psiCategoricalCounts(countsOf(baseline, "base_cnt"),
      countsOf(current, "cur_cnt"))
  }

  /** [[psiCategorical]] from PRE-AGGREGATED counts — the serving
    * seam: a stream scoring every micro-batch against one fixed
    * baseline must not re-run the baseline's counting lineage per
    * trigger (the maintainIvfIndex lesson); it collects the
    * config-sized (cat, base_cnt) table once and replays it as a
    * LocalRelation. `bc` must have columns (cat, base_cnt), `cc`
    * (cat, cur_cnt); same math, same sentinel empty-side guard.
    */
  def psiCategoricalCounts(bc: DataFrame, cc: DataFrame): DataFrame = {
    val sentinel = bc.sparkSession.range(1)
      .select(lit("_").as("cat"), lit(0L).as("base_cnt"),
        lit(0L).as("cur_cnt"), lit(true).as("_sent"))
    val j = bc.join(cc, Seq("cat"), "full_outer")
      .na.fill(0L, Seq("base_cnt", "cur_cnt"))
      .withColumn("_sent", lit(false))
      .unionByName(sentinel)
    val w = Window.partitionBy(lit(1))
    def tot(c: Column, side: String): Column =
      when(sum(c).over(w) === 0, raise_error(
        lit(s"psiCategorical: $side side has no measurable rows (PSI undefined)")))
        .otherwise(sum(c).over(w))
    j.withColumn("_bt", tot(col("base_cnt"), "baseline"))
      .withColumn("_ct", tot(col("cur_cnt"), "current"))
      .filter(!col("_sent"))
      .withColumn("psi_micro", psiTerm(col("_bt").cast("double"), col("_ct").cast("double")))
      .select(col("cat"), col("base_cnt"), col("cur_cnt"), col("psi_micro"))
  }
}
