package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{floor, lit}

/** The cross-engine deterministic rounding contract, in ONE place.
  *
  * floor(x * 10^n + 0.5) / 10^n is pure IEEE double arithmetic and
  * therefore bit-identical in any engine — unlike `round()`, which
  * Spark applies to the shortest decimal string (HALF_UP) and DuckDB
  * to the binary value, diverging at .5 quantum boundaries. Every
  * oracle-compared double in the query corpus goes through this
  * helper (the oracle SQL spells out the same floor formulation).
  */
object quantize {
  def qN(c: Column, n: Int): Column = {
    val p = math.pow(10, n)
    floor(c * p + lit(0.5)) / lit(p)
  }

  /** 2-decimal (money). */
  def q2(c: Column): Column = qN(c, 2)

  /** 6-decimal (scores, similarities, ratios). */
  def q6(c: Column): Column = qN(c, 6)

  /** The integer micro-unit grid: floor(x * 1e6 + 0.5) as a long. A
    * value on this grid (micro-nats, micro-distances) sums exactly in
    * any partitioning or order, so per-item terms are quantized here
    * BEFORE any aggregation. [[graft.operators.CorpusOps.microLn]] is
    * the driver-side twin for ln.
    */
  def micro(c: Column): Column = floor(c * 1e6 + lit(0.5)).cast("long")
}
