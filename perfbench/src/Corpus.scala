package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, xxhash64}

import graft.SparkEntry

/** corpus_batch: operator-module queries from `SparkEntry.queries` over
  * the fixed documents table in perfbench/data, in an order the seed
  * shuffles. Each result is reduced to per-row
  * xxhash64 values over all its columns and collected, which evaluates
  * every output column as the noop sink does; their wrapping sum and the
  * row count must match data/expected.tsv.
  */
object Corpus {
  /** query -> family; the family sums are the per-module figures. */
  val queries: Seq[(String, String)] = Seq(
    "q231_spine_decontam" -> "spine",
    "q75_dedup_clusters" -> "dedup",
    "q208_mulaw_audio" -> "multimodal", "q211_ima_adpcm_audio" -> "multimodal",
    "q128_hashed_tfidf" -> "text")
  val families: Seq[String] = queries.map(_._2).distinct

  final case class Run(name: String, startMs: Double, endMs: Double, rows: Long, hash: Long) {
    def ms: Double = endMs - startMs
  }

  /** Expected (rows, hash) per query, recorded from the engine at the
    * commit that introduced the benchmark.
    */
  def expected(data: Path): Map[String, (Long, Long)] =
    Files.readAllLines(data.resolve("expected.tsv"), UTF_8).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(q, rows, hash) = l.split("\t")
        q -> (rows.toLong, hash.toLong)
      }.toMap

  def order(seed: Long, round: Int): Seq[String] =
    new scala.util.Random(seed * 31 + round).shuffle(queries.map(_._1))

  /** Input rows of each query: every one reads the documents table. */
  def inputRows(spark: SparkSession, dir: Path): Map[String, Long] = {
    val docs = spark.read.parquet(dir.resolve("documents.parquet").toString).count()
    queries.map { case (q, _) => q -> docs }.toMap
  }

  private def hashes(spark: SparkSession, name: String, dir: Path): Array[Long] = {
    val df = SparkEntry.queries(name)(spark, dir.toString)
    df.select(xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*)).collect().map(_.getLong(0))
  }

  def run(spark: SparkSession, name: String, dir: Path, tracer: Tracer, parent: Int): Run = {
    val (hashes, s) = tracer.span(name, "operators", parent)(_ => this.hashes(spark, name, dir))
    // composed pipelines drop their release handles by design; clear
    // between queries so each one starts against an empty block manager
    spark.catalog.clearCache()
    Run(name, s.start, s.end, hashes.length.toLong, hashes.sum)
  }

  /** Untimed warm pass: every query once on the same tables, all at
    * once. It only has to load classes and compile code; the queries
    * spend most of their time waiting on the driver, so overlapping them
    * takes no longer than one pass over a small slice would.
    */
  def warm(spark: SparkSession, dir: Path): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(queries.size)
    try queries.map { case (q, _) => pool.submit(() => hashes(spark, q, dir)) }.foreach(_.get())
    finally pool.shutdown()
    spark.catalog.clearCache()
  }
}
