package graft

import org.apache.spark.sql.functions._
import graft.queries.PipelineOps

/** Incremental aggregate state (the mixing family's MV): the persisted
  * per-source token totals plus a batch's partial aggregates must
  * reproduce the full-corpus recompute EXACTLY — and the serving plan
  * must read the lake artifact, not the corpus.
  */
class MixStateSpec extends SparkSpecBase {
  import spark.implicits._

  private val dir = sf("sf0.001")

  test("mix_weights_incremental equals the full mix_weights recompute") {
    val inc = SparkEntry.queries("mix_weights_incremental")(spark, dir).collect().toSeq
    val full = SparkEntry.queries("mix_weights")(spark, dir).collect().toSeq
    assert(inc == full)
  }

  test("the incremental entry's state side reads the lake artifact, not the corpus") {
    val plan = SparkEntry.queries("mix_weights_incremental")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("aggstate"),
      "no lake aggstate scan in the plan — the entry recomputed the state")
  }

  test("mergeIntoMixState folds a batch into a namespace state that equals a recompute") {
    val ns = "spec-merge"
    val nsDir = new java.io.File(PipelineOps.mixStateDir(dir, ns))
    rm(nsDir)
    try {
      // batch = the standard slice, straight from the raw documents table
      // (mergeIntoMixState owns its own tokenize — the write path must
      // not depend on the session cache)
      val batch = Core.load(spark, dir, "documents")
        .filter(pmod($"doc_id", lit(10)) === 7)
      val path = PipelineOps.mergeIntoMixState(spark, dir, batch, ns)
      val got = spark.read.parquet(s"$path/mix_state.parquet")
        .select($"source", $"n_docs", $"n_tokens")
        .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
      val want = Core.load(spark, dir, "documents")
        .select($"source", Core.tokens(lower($"text")).as("toks"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum(size($"toks")).as("n_tokens"))
        .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == want, s"merged state drifted from recompute:\n$got\nvs\n$want")
    } finally rm(nsDir)
  }

  test("agg_hll_incremental: merged sketch estimate equals the from-scratch estimate exactly") {
    val inc = SparkEntry.queries("agg_hll_incremental")(spark, dir)
      .as[(String, Long)].collect().toMap
    val full = Core.loadEvents(spark, dir)
      .groupBy($"event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg($"user_id")).as("approx_users"))
      .as[(String, Long)].collect().toMap
    assert(inc == full,
      s"sketch merge drifted from from-scratch sketch:\n$inc\nvs\n$full")
    // and the serving plan reads the persisted sketch state
    val plan = SparkEntry.queries("agg_hll_incremental")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("aggstate"), "no lake sketch-state scan in the plan")
  }

  test("a stale or missing state stamp rebuilds, never serves old structure") {
    // tamper the mix-state stamp: the next entry run must rebuild the
    // artifact (same discipline as the index families) and still match
    // the full recompute
    val path = graft.queries.PipelineOps.mixStateDir(dir)
    val stamp = new java.io.File(s"$path/mix_state.version")
    assert(stamp.isFile, "state should exist from earlier tests")
    java.nio.file.Files.write(stamp.toPath, "mixstate-v0:obsolete".getBytes("UTF-8"))
    val inc = SparkEntry.queries("mix_weights_incremental")(spark, dir).collect().toSeq
    val full = SparkEntry.queries("mix_weights")(spark, dir).collect().toSeq
    assert(inc == full)
    assert(new String(java.nio.file.Files.readAllBytes(stamp.toPath), "UTF-8")
      == graft.queries.PipelineOps.mixState.stamp(spark, dir), "rebuild must restamp")
  }

  for ((form, lakeOf) <- lakeDirForms) {
    test(s"vacuumStaging removes only orphaned staging dirs, one namespace level deep$form") {
      val lake = java.nio.file.Files.createTempDirectory("graft-vacuum").toString
      new java.io.File(s"$lake/t.parquet").mkdirs()
      new java.io.File(s"$lake/t.parquet.__staging__").mkdirs()
      new java.io.File(s"$lake/ns1/u.parquet").mkdirs()
      new java.io.File(s"$lake/ns1/u.parquet.__staging__/part").mkdirs()
      val deleted = sources.Ingest.vacuumStaging(spark, lakeOf(lake))
      assert(deleted.map(p => p.stripPrefix(lakeOf(lake) + "/")).toSet ==
        Set("t.parquet.__staging__", "ns1/u.parquet.__staging__"), deleted.toString)
      assert(new java.io.File(s"$lake/t.parquet").isDirectory)
      assert(new java.io.File(s"$lake/ns1/u.parquet").isDirectory)
      assert(!new java.io.File(s"$lake/t.parquet.__staging__").exists())
      assert(!new java.io.File(s"$lake/ns1/u.parquet.__staging__").exists())
    }
  }

  test("a batch without the source column is refused loudly") {
    intercept[IllegalArgumentException] {
      PipelineOps.mergeIntoMixState(spark, dir,
        Core.load(spark, dir, "documents").drop("source"), "spec-refuse")
    }
  }
}
