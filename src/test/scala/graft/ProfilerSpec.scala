package graft

import org.apache.spark.sql.functions._

import graft.operators.Profiler

/** Data-quality profiling: column profiles and referential orphans. */
class ProfilerSpec extends SparkSpec {
  import spark.implicits._

  test("profile: nulls, distincts and bounds per column, including an all-null column") {
    val df = Seq(
      (1L, Some("a"), Option.empty[String]),
      (2L, Some("b"), None),
      (3L, None, None),
      (3L, Some("b"), None))
      .toDF("id", "tag", "dead")
    val p = Profiler.profile(df, Seq("id", "tag", "dead"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    assert(p("id") == ((4L, 0L, 3L, "1", "3")))
    assert(p("tag") == ((4L, 1L, 2L, "a", "b")))
    // an entirely-null column: zero distincts, null bounds
    assert(p("dead")._1 == 4L && p("dead")._2 == 4L && p("dead")._3 == 0L)
    assert(p("dead")._4 == null && p("dead")._5 == null)
  }

  test("referentialOrphans: planted orphans surface with multiplicity; null keys are ignored") {
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq(Some(1L), Some(2L), Some(9L), Some(9L), Some(7L), None)
      .toDF("fk")
    val got = Profiler.referentialOrphans(child, col("fk"), parent, col("pk"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(9L -> 2L, 7L -> 1L), s"wrong orphans: $got")
    // audit report: totals include the null-key row, orphans do not
    val audit = Profiler.auditReferences(Seq(("child->parent", child, "fk", parent, "pk")))
      .collect().head
    assert(audit.getString(0) == "child->parent" &&
      audit.getLong(1) == 6L && audit.getLong(2) == 3L)
    // a clean relationship audits to zero orphans
    val clean = Profiler.auditReferences(Seq(
      ("ok", Seq(1L, 2L).toDF("fk"), "fk", parent, "pk"))).collect().head
    assert(clean.getLong(2) == 0L)
  }

  test("psiDrift: identical distributions score zero in every bin") {
    val base = (1L to 80L).toDF("v")
    val got = Profiler.psiDrift(base, base, col("v"), nBins = 8)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 8 && got.map(_._1).toSeq == (0 until 8))
    // equi-depth bins of 1..80: ten rows each, psi contribution 0
    assert(got.forall { case (_, b, c, psi) => b == 10L && c == 10L && psi == 0L },
      s"wrong bins: ${got.toSeq}")
  }

  test("psiDrift: a wholesale shift crosses the 0.25 drift threshold; counts conserved") {
    val base = (1L to 80L).toDF("v")
    val cur = (1L to 80L).map(_ + 1000L).toDF("v")
    val got = Profiler.psiDrift(base, cur, col("v"), nBins = 8).collect()
    assert(got.map(_.getLong(1)).sum == 80L && got.map(_.getLong(2)).sum == 80L)
    val totalPsi = got.map(_.getLong(3)).sum / 1e6
    assert(totalPsi > 0.25, s"shifted load must read as drifted, got $totalPsi")
  }

  test("psiCategorical: identical mixes score zero; a vanished and a new category both surface") {
    val base = (Seq.fill(50)("a") ++ Seq.fill(30)("b") ++ Seq.fill(20)("c"))
      .toDF("cat")
    val same = Profiler.psiCategorical(base, base, col("cat"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(same.toSet == Set(("a", 50L, 50L, 0L), ("b", 30L, 30L, 0L),
      ("c", 20L, 20L, 0L)), s"identical mixes must be flat: ${same.toSeq}")
    // current drops c entirely and introduces d — BOTH must surface
    val cur = (Seq.fill(50)("a") ++ Seq.fill(30)("b") ++ Seq.fill(20)("d"))
      .toDF("cat")
    val got = Profiler.psiCategorical(base, cur, col("cat"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == Set("a", "b", "c", "d"))
    assert(got("c")._2 == 0L && got("c")._3 > 0L,
      s"vanished category must contribute positive PSI: ${got("c")}")
    assert(got("d")._1 == 0L && got("d")._3 > 0L,
      s"new category must contribute positive PSI: ${got("d")}")
    val total = got.values.map(_._3).sum / 1e6
    assert(total > 0.25, s"a 20% category swap must read as drifted, got $total")
    // empty side raises instead of comparing against undefined proportions
    val ex = intercept[Exception] {
      Profiler.psiCategorical(base, base.where(col("cat") === "zz"), col("cat"))
        .collect()
    }
    assert(ex.getMessage.contains("no measurable rows"), ex.getMessage)
  }

  test("psiAgainst and psiCategorical score the same per-bin counts to the same psi_micro") {
    // one PSI term behind both: values 1..7 are bins 0..6 under bounds
    // 1.5..6.5 and categories "1".."7" categorically; value 6 is absent
    // from the current load and value 7 new in it (floor-at-1 smoothing)
    val baseCounts = Seq(40L, 25L, 13L, 9L, 7L, 5L, 0L)
    val curCounts = Seq(10L, 30L, 20L, 15L, 3L, 0L, 12L)
    def load(counts: Seq[Long]) =
      counts.zipWithIndex.flatMap { case (c, i) => Seq.fill(c.toInt)(i + 1L) }.toDF("v")
    val (base, cur) = (load(baseCounts), load(curCounts))
    val pb = Profiler.PsiBaseline((1 to 6).map(_ + 0.5), baseCounts)
    val binned = Profiler.psiAgainst(pb, cur, col("v"))
      .collect().map(r => (r.getInt(0) + 1).toString -> r.getLong(3)).toMap
    val categorical = Profiler.psiCategorical(base, cur, col("v"))
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(binned.size == 7 && binned == categorical,
      s"binned $binned vs categorical $categorical")
    assert(binned.values.forall(_ > 0L), s"every bin moved: $binned")
  }

  test("psiDrift: bins empty on both sides contribute exactly zero") {
    // a constant measure collapses every boundary: all mass lands in
    // bin 0 and bins 1..7 must smooth to 0, not NaN or a spurious hit
    val const = Seq.fill(10)(42L).toDF("v")
    val got = Profiler.psiDrift(const, const, col("v"), nBins = 8)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(0) == ((10L, 10L, 0L)))
    (1 until 8).foreach(b => assert(got(b) == ((0L, 0L, 0L)), s"bin $b: ${got(b)}"))
    intercept[IllegalArgumentException] {
      Profiler.psiDrift(const, const, col("v"), nBins = 1)
    }
  }
}
