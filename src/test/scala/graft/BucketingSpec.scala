package graft

import org.apache.spark.sql.functions._

/** Bucketing = pre-shuffled storage: two tables bucketed on the join key
  * join WITHOUT an Exchange — the co-located join pattern that matters
  * most at 100 TB (fact-fact joins where neither side broadcasts).
  */
class BucketingSpec extends SparkSpecBase {
  import spark.implicits._

  test("bucketed fact-fact join has no shuffle on the bucketed key") {
    // warehouse dir is static conf — tables land in ./spark-warehouse
    // (gitignored) and are dropped in the finally block.
    val orders = Core.load(spark, sf("sf0.001"), "orders")
      .select($"o_orderkey", $"o_totalprice")
    val lineitem = Core.load(spark, sf("sf0.001"), "lineitem")
      .select($"l_orderkey", $"l_quantity")
    orders.write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("orders_b")
    lineitem.write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("lineitem_b")
    // force the fact-fact (sort-merge) path: at this tiny SF the planner
    // would otherwise broadcast, which hides the property under test
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("orders_b")
        .join(spark.table("lineitem_b"), $"o_orderkey" === $"l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      // and it is still correct
      val expected = orders.join(lineitem, $"o_orderkey" === $"l_orderkey").count()
      assert(joined.count() == expected)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("one z-ordered layout row-group-skips single-column predicates on BOTH dimensions") {
    // The payoff the zorder_cluster entry's Morton key exists for: a
    // table sorted by interleave_bits(a, b) tiles (a, b) space in
    // bounded rectangles, so row-group [min,max] stats discriminate on
    // EITHER column — ONE layout serves both predicate families, where
    // a single-column sort serves only its own column and reads the
    // whole table for the other. The vectorized reader drops pushed
    // filters to row-group granularity, so the SCAN node's output row
    // count measures exactly what survived skipping. Keys are folded to
    // balanced 2^12 domains: skipping needs the per-group rectangle
    // smaller than the key domain, and raw l_partkey's 2^11 domain is
    // denser than a 2.7k-row group's rectangle at this SF (measured:
    // full-range partkey stats in every group — no discrimination).
    graft.functions.VectorExprs.register(spark)
    val li = Core.load(spark, sf("sf0.01"), "lineitem")
      .select(($"l_orderkey" % 4096).as("a"),
        pmod($"l_partkey" * 7919, lit(4096)).as("b"), $"l_quantity")
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    // small row groups so sf0.01's 60k rows span ~22 groups; one file
    // per layout so file-count effects don't differ
    val blockOpt = ("parquet.block.size", (64 * 1024).toString)
    li.orderBy(call_function("interleave_bits", $"a", $"b"))
      .coalesce(1).write.option(blockOpt._1, blockOpt._2).parquet(s"$dir/zorder")
    li.orderBy($"a")
      .coalesce(1).write.option(blockOpt._1, blockOpt._2).parquet(s"$dir/bya")
    def scanFrac(path: String, pred: org.apache.spark.sql.Column): Double = {
      val df = spark.read.parquet(path).filter(pred)
      // execute THIS plan (collect), then read ITS scan metric — a
      // count() would execute a different aggregate plan and leave
      // these metrics untouched
      df.collect()
      val plan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val scans = plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty)
      scans.map(_.metrics("numOutputRows").value).sum.toDouble / 60000.0
    }
    try {
      // measured at this fixture: z reads 27%/41% for a/b; the a-sorted
      // control reads 14%/100% — better on its own column, blind on the
      // other. Thresholds leave headroom over the measured values.
      assert(scanFrac(s"$dir/bya", $"a" < 512) < 0.25, "control must skip on its sort column")
      assert(scanFrac(s"$dir/bya", $"b" < 512) > 0.95,
        "fixture check: a single-column sort reads ~everything for the other column")
      val za = scanFrac(s"$dir/zorder", $"a" < 512)
      val zb = scanFrac(s"$dir/zorder", $"b" < 512)
      assert(za < 0.5 && zb < 0.55,
        f"z-ordered layout must skip on BOTH dimensions, read a=$za%.2f b=$zb%.2f of the table")
    } finally {
      rm(new java.io.File(dir))
    }
  }
}
