package graft

import org.apache.spark.sql.functions._

/** Bucketing — the shuffle-free co-located join the 100 TB design
  * notes promise (SURVEY §2 "Partitioning & shuffle"). Until now that
  * claim lived only in prose; this spec pins it in a plan: two tables
  * bucketed 8-ways on the join key sort-merge-join WITHOUT either side
  * exchanging, where the same join on plain parquet shuffles both.
  */
class BucketingSpec extends SparkSpec {

  test("bucketed tables co-locate the join: no Exchange on the join key") {
    val base = tmpDir("graft-bucket")
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "lang", "source")
    val toks = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a real join
    try {
      docs.write.option("path", s"$base/t1")
        .bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("g_bucket_docs")
      toks.write.option("path", s"$base/t2")
        .bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("g_bucket_toks")
      val j = spark.table("g_bucket_docs")
        .join(spark.table("g_bucket_toks"), "doc_id")
      j.collect()
      val plan = j.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n${plan.take(2000)}")
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n${plan.take(3000)}")

      // control: the same join on unbucketed parquet shuffles both sides
      val p1 = docs
      val p2 = toks
      val ctrl = p1.join(p2, "doc_id")
      ctrl.collect()
      val ctrlPlan = ctrl.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(ctrlPlan.contains("Exchange hashpartitioning(doc_id"),
        s"control join should shuffle:\n${ctrlPlan.take(2000)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.sql("DROP TABLE IF EXISTS g_bucket_docs")
      spark.sql("DROP TABLE IF EXISTS g_bucket_toks")
    }
  }

  test("bucketed scan prunes buckets for a point-lookup filter") {
    val base = tmpDir("graft-bucket2")
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "lang")
    // the planner's auto-bucketed-scan turns bucketed reads OFF when no
    // join/agg needs the distribution; disable it so the point lookup
    // keeps the bucketed layout and pruning can fire
    val prevAuto = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      docs.write.option("path", s"$base/t")
        .bucketBy(8, "doc_id").saveAsTable("g_bucket_prune")
      val q = spark.table("g_bucket_prune").filter(col("doc_id") === 42L)
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      // the v1 bucketed scan reports selected buckets as "1 out of 8"
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
        s"expected bucket pruning:\n${plan.take(2000)}")
    } finally {
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prevAuto)
      spark.sql("DROP TABLE IF EXISTS g_bucket_prune")
    }
  }
}
