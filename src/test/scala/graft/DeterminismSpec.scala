package graft

import org.apache.spark.sql.SparkSession

/** SURVEY.md §5.2 determinism audit: every declared query must produce
  * IDENTICAL ordered output under different shuffle parallelism — the
  * driver hash-compares outputs, so partition-count-dependent results
  * (bare limits, nondeterministic picks, unordered floats) would flake.
  */
class DeterminismSpec extends SparkSpecBase {

  private def runAll(parts: Int): Map[String, Seq[String]] = {
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    try SparkEntry.queries.map { case (name, fn) =>
      name -> fn(spark, sf("sf0.001")).collect().map(_.toString).toSeq
    }
    finally spark.conf.set("spark.sql.shuffle.partitions", 4)
  }

  test("every declared query is byte-identical at shuffle.partitions 4 vs 7") {
    val a = runAll(4)
    val b = runAll(7)
    val diff = a.keys.filter(k => a(k) != b(k)).toSeq.sorted
    assert(diff.isEmpty, s"nondeterministic under repartitioning: $diff")
  }

  test("heavy similarity operators byte-identical at partitions 4 vs 32") {
    // the wide split (4 vs 32) exercises partial-aggregation fan-in,
    // collect_list grouping order, and checkpointed label propagation
    // far harder than 4-vs-7 — re-pins the docs/SCALE.md claim in CI
    // for the operators whose plans carry the most shuffle structure
    val heavy = Seq("text_dedup_near", "text_dedup_cluster", "text_dedup_keep",
      "text_ngram_jaccard", "text_dedup_shingle", "sim_index_incremental",
      "vec_knn_join_lsh", "vec_cosine_pairs")
    def run(parts: Int): Map[String, Seq[String]] = {
      // the cluster labels are a persisted lake artifact — without
      // evicting the memo AND deleting the stamp, both runs would read
      // the SAME labels.parquet and the cluster-family comparison would
      // be vacuously equal (round-6 review finding). Forcing a rebuild
      // per parallelism makes the propagation itself face the 4-vs-32
      // split.
      queries.Frames.release(spark)
      new java.io.File(
        s"${queries.IndexOps.indexDir(sf("sf0.001"))}/labels.version").delete()
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try heavy.map(n =>
        n -> SparkEntry.queries(n)(spark, sf("sf0.001")).collect().map(_.toString).toSeq).toMap
      finally spark.conf.set("spark.sql.shuffle.partitions", 4)
    }
    val a = run(4)
    val b = run(32)
    val diff = heavy.filter(k => a(k) != b(k))
    assert(diff.isEmpty, s"nondeterministic under wide repartitioning: $diff")
  }

  test("oracleSql keys are a subset of queries keys; entry returns rows") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("curate_token_budget: byte-identical at partitions 4 vs 32") {
    // the two-level prefix sum (bucket running sum + bucket-partitioned
    // doc windows) must select the IDENTICAL prefix at any parallelism:
    // token counts are exact longs and quality rounds to 4dp before
    // grouping, so no accumulation order can move a doc across the cut
    import spark.implicits._
    def run(parts: Int): Seq[(Long, String, Double, Long, Long)] = {
      queries.Frames.release(spark)
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try SparkEntry.queries("curate_token_budget")(spark, sf("sf0.01"))
        .as[(Long, String, Double, Long, Long)].collect().toSeq
      finally spark.conf.set("spark.sql.shuffle.partitions", 4)
    }
    val a = run(4); val b = run(32)
    queries.Frames.release(spark)
    assert(a.nonEmpty && a == b, "budget prefix must be partition-order independent")
  }

  test("agg_percentile_approx: tolerance contract under repartitioning at sf0.01") {
    // QuantileSummaries merges are order-dependent once per-partition
    // compression engages, so BYTE equality across differing parallelism
    // is not this entry's contract at scale (pinned at the entry
    // declaration) — the contract is a ±5%-of-exact bound that must hold
    // under ANY partitioning. Checked at the larger gate SF with the
    // same 4-vs-7 split the byte audit uses.
    import spark.implicits._
    val exact = SparkEntry.queries("agg_percentile")(spark, sf("sf0.01"))
      .select($"event_type", $"p50", $"p90")
      .as[(String, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    for (parts <- Seq(4, 7)) {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try {
        val approx = SparkEntry.queries("agg_percentile_approx")(spark, sf("sf0.01"))
          .as[(String, Double, Double)].collect()
        assert(approx.nonEmpty)
        approx.foreach { case (k, p50, p90) =>
          val (e50, e90) = exact(k)
          assert(math.abs(p50 - e50) / math.max(math.abs(e50), 1e-9) <= 0.05,
            s"parts=$parts $k: p50 $p50 vs exact $e50")
          assert(math.abs(p90 - e90) / math.max(math.abs(e90), 1e-9) <= 0.05,
            s"parts=$parts $k: p90 $p90 vs exact $e90")
        }
      } finally spark.conf.set("spark.sql.shuffle.partitions", 4)
    }
  }
}
