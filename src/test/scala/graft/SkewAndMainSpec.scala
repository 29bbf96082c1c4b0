package graft

import org.apache.spark.sql.functions._

import graft.operators.SkewOps

class SkewSpec extends SparkSpec {

  test("salted join returns exactly the rows of the plain join") {
    val li = Tables.load(spark, sfDir, "lineitem")
    val o = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    val plain = li.join(o, "l_orderkey")
      .agg(count(lit(1)), sum(floor(col("o_totalprice"))).cast("long")).collect().head
    val salted = SkewOps.saltedJoin(li, o, "l_orderkey", col("l_linenumber"), buckets = 8)
      .agg(count(lit(1)), sum(floor(col("o_totalprice"))).cast("long")).collect().head
    assert(plain == salted)
  }

  test("salt spreads a hot key across buckets") {
    val hot = (1 to 1000).map(i => (42L, i)).toSeq
    import spark.implicits._
    val df = hot.toDF("key", "row_id")
    val buckets = df.select(SkewOps.salt(col("row_id"), 8).as("s"))
      .groupBy("s").count().collect()
    assert(buckets.length == 8)
    assert(buckets.map(_.getLong(1)).max < 400) // no bucket holds most rows
  }

  test("AQE splits a skewed join partition at runtime (the no-code-change skew path)") {
    // SCALE.md's skew guidance names two tools: salting (above) and
    // AQE's runtime skew-join split. This pins the second in an
    // executed plan: a 100x-hot key under thresholds scaled to the
    // fixture makes AQE rewrite the sort-merge join with a skew=true
    // shuffle read — exactly what a 1000-executor job relies on when
    // one key holds a terabyte.
    import spark.implicits._
    val prev = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize",
      "spark.sql.adaptive.forceOptimizeSkewedJoin"
    ).map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16KB")
    // the aggregation after the join reuses the join's partitioning, so
    // splitting the skewed partition costs an extra shuffle — accept it
    // (the 100 TB trade: one extra shuffle of the hot key's rows beats
    // one straggler task holding the whole key)
    spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    try {
      // left: one hot key with 200k rows + uniform tail; right: one row
      // per key. `v` stays in the output so the hot partition carries
      // real (incompressible) bytes, not just 200k identical keys that
      // lz4 would flatten below the skew threshold.
      val left = spark.range(200000).select(lit(0L).as("k"), (xxhash64(col("id")) % 1000000000L).as("v"))
        .union(spark.range(20000).select((col("id") % 64 + 1).as("k"), col("id").as("v")))
      val right = spark.range(65).select(col("id").as("k"), (col("id") * 7).as("w"))
      val j = left.join(right, "k").groupBy("k")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      val byKey = j.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(byKey(0L) == 200000L, "join result wrong under skew handling")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected an AQE skew-split shuffle read:\n${plan.take(3000)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("zorderKey2 interleaves bits exactly (hand values)") {
    import spark.implicits._
    val got = Seq((1L, 0L), (0L, 1L), (3L, 3L), (5L, 2L), (1023L, 1023L))
      .toDF("x", "y")
      .select(graft.operators.SkewOps.zorderKey2(col("x"), col("y"), bits = 10))
      .collect().map(_.getLong(0)).toSeq
    // z(x,y): x in even bits, y in odd. z(3,3)=0b1111=15; z(5,2)=
    // x bits {0,2}->{0,4}=17, y bit {1}->{3}=8 -> 25; full 10 bits -> 2^20-1
    assert(got == Seq(1L, 2L, 15L, 25L, 1048575L), got.toString)
  }

  test("zorderKey2 clamps negative dimensions to the domain edge") {
    import spark.implicits._
    val got = Seq((-5L, 3L), (0L, 3L), (7L, -1L), (7L, 0L)).toDF("x", "y")
      .select(graft.operators.SkewOps.zorderKey2(col("x"), col("y"), bits = 10))
      .collect().map(_.getLong(0)).toSeq
    assert(got(0) == got(1), s"z(-5,3)=${got(0)} must equal z(0,3)=${got(1)}")
    assert(got(2) == got(3), s"z(7,-1)=${got(2)} must equal z(7,0)=${got(3)}")
    assert(got.forall(_ >= 0L), s"no negative interleaved keys: $got")
  }

  test("z-order layout prunes a 2-D range query better than a single-dimension sort") {
    import spark.implicits._
    // sf0.01: 1000 parts spread over size 1-50 x price 900-999 (the
    // sf0.001 slice only covers prices to 920 — too narrow a box)
    val part = Tables.load(spark, "/root/testdata/sf0.01", "part")
      .select(col("p_size").cast("long").as("x"),
        floor(col("p_retailprice")).cast("long").as("y"))
    val rows = part.withColumn("zkey",
        graft.operators.SkewOps.zorderKey2(col("x"), col("y"), bits = 10))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // simulate file-level min/max skipping: chunk each layout into
    // 16-row blocks, count blocks whose [min,max] envelopes intersect
    // the query box (those must be read; the rest skip)
    val (qx, qy) = ((10L, 20L), (920L, 940L))
    def blocksTouched(sorted: Seq[(Long, Long, Long)]): Int =
      sorted.grouped(16).count { blk =>
        val (xs, ys) = (blk.map(_._1), blk.map(_._2))
        xs.min <= qx._2 && xs.max >= qx._1 && ys.min <= qy._2 && ys.max >= qy._1
      }
    val bySize = blocksTouched(rows.sortBy(r => (r._1, r._2)).toSeq)
    val byZ = blocksTouched(rows.sortBy(r => (r._3, r._1)).toSeq)
    assert(byZ < bySize,
      s"z-order must touch fewer blocks: z=$byZ vs size-sort=$bySize")
  }
}

class FlatMapStateSpec extends SparkSpec {
  import graft.streaming.StatefulOps
  import graft.streaming.StatefulOps.Keyed
  import spark.implicits._

  test("flatMapGroupsWithState emits per-record admission decisions across batches") {
    val base = tmpDir("graft-fms")
    Seq(Keyed("a", 60L), Keyed("a", 30L)).toDS().coalesce(1).write.json(s"$base/in/f1")
    Seq(Keyed("a", 30L)).toDS().coalesce(1).write.json(s"$base/in/f2")
    val stream = spark.readStream.schema("key STRING, size LONG")
      .option("maxFilesPerTrigger", "1").option("recursiveFileLookup", "true")
      .json(s"$base/in").as[Keyed]
    val q = StatefulOps.quotaDecisions(stream, quota = 100L)
      .writeStream.outputMode("append").format("memory").queryName("fms_out")
      .option("checkpointLocation", s"$base/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val rows = spark.table("fms_out").as[StatefulOps.Decision].collect().sortBy(_.usedAfter)
    // 60 accepted, 30 accepted (90), second-batch 30 rejected (would be 120)
    assert(rows.map(_.accepted).toSeq == Seq(true, true, false))
    assert(rows.last.usedAfter == 90L)
  }
}

/** Drives graft.Main --once end-to-end: the runnable pipeline. */
class MainSpec extends SparkSpec {
  import Fixtures._

  test("Main --once delivers a record through the full pipeline") {
    val base = tmpDir("graft-main")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/in"))
    val rec = record("r1", envelopeJson("DATA_MESSAGE", Seq("Hello Main!")))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/in/f.json"),
      s"""{"recordId":"${rec._1}","data":"${rec._2}"}""".getBytes)
    Main.stopOnExit = false
    Main.main(Array(s"$base/in", s"$base/out", s"$base/ck", "--once"))
    val primary = spark.read.text(s"$base/out/primary").collect().map(_.getString(0))
    assert(primary.toSeq == Seq("Hell Yeah Main!"))
  }
}
