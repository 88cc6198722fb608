package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.PlanGuard

/** PlanGuard (plans/PlanGuard.scala): the user-facing preflight gate
  * must flag each scale-unsafe shape on a plan that provably HAS it,
  * stay quiet on clean plans, and honor per-call allowlists — the same
  * contract the fleet-wide PlanAuditSpec sweep runs through it.
  */
class PlanGuardSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")

  test("flags a cartesian product") {
    val big = docs.select($"doc_id")
    // two multi-row sides, no join condition, too big to auto-broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val v = PlanGuard.audit(big.as("a").crossJoin(big.as("b")))
      assert(v.exists(_.kind == "cartesian"), v.mkString("; "))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("flags a broadcast nested-loop join, and allowlisting suppresses it") {
    val one = docs.agg(count(lit(1)).as("n"))
    val df = docs.crossJoin(broadcast(one))
    val v = PlanGuard.audit(df)
    assert(v.exists(_.kind == "bnlj"), v.mkString("; "))
    assert(v.forall(_.kind != "cartesian"), "1-row broadcast is BNLJ, not cartesian")
    assert(PlanGuard.audit(df, allow = Set("bnlj")).isEmpty)
    intercept[IllegalStateException](PlanGuard.require(df))
    // the gate form passes the frame through untouched when allowed
    assert(PlanGuard.require(df, allow = Set("bnlj")) eq df)
  }

  test("flags an unpartitioned window (logical plan — physical text never shows it)") {
    val w = Window.orderBy($"doc_id")
    val df = docs.withColumn("rn", row_number().over(w))
    val v = PlanGuard.audit(df)
    assert(v.exists(_.kind == "unpartitioned-window"), v.mkString("; "))
    assert(PlanGuard.audit(df, allow = Set("unpartitioned-window")).isEmpty)
  }

  test("clean partitioned-window plan passes") {
    val w = Window.partitionBy($"source").orderBy($"doc_id")
    val df = docs.withColumn("rn", row_number().over(w)).filter($"rn" <= 3)
    assert(PlanGuard.audit(df).isEmpty)
  }

  test("flags an unpruned scan of a partitioned table; a partition filter or allowlist clears it") {
    // the 100 TB failure mode the other three checks don't see: a scan
    // that lists and reads EVERY partition of a partitioned lake table
    val dir = java.nio.file.Files.createTempDirectory("pgpart").toString
    try {
      docs.select($"doc_id", $"source", $"lang")
        .write.partitionBy("source").mode("overwrite").parquet(s"$dir/bronze.parquet")
      val bronze = spark.read.parquet(s"$dir/bronze.parquet")
      val v = PlanGuard.audit(bronze.groupBy($"lang").count())
      assert(v.exists(_.kind == "unpruned-partitioned-scan"), v.mkString("; "))
      // deliberate full pass, reviewed: allowlist suppresses
      assert(PlanGuard.audit(bronze.groupBy($"lang").count(),
        allow = Set("unpruned-partitioned-scan")).isEmpty)
      // a partition-column predicate prunes — the gate stays quiet
      val pruned = bronze.filter($"source" === "web").groupBy($"lang").count()
      assert(PlanGuard.audit(pruned).isEmpty,
        PlanGuard.audit(pruned).mkString("; "))
      // an UNPARTITIONED source never trips this check
      assert(PlanGuard.audit(docs.groupBy($"lang").count()).isEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("flags an oversized broadcast HINT; bounded hints and unhinted joins pass") {
    val other = docs.select($"doc_id", $"source")
    // lower the guard so the fixture's stats exceed it — the check is
    // threshold-relative, the spec pins the mechanism not the default
    spark.conf.set("spark.graft.guard.maxBroadcastBytes", "64")
    try {
      val hinted = other.join(broadcast(docs), "doc_id")
      val v = PlanGuard.audit(hinted, allow = Set("bnlj"))
      assert(v.exists(_.kind == "oversized-broadcast"), v.mkString("; "))
      // allowlist honors a reviewed hit
      assert(PlanGuard.audit(hinted, allow = Set("bnlj", "oversized-broadcast"))
        .forall(_.kind != "oversized-broadcast"))
      // the SAME join without the hint is size-driven planning — quiet
      assert(PlanGuard.audit(other.join(docs, "doc_id"))
        .forall(_.kind != "oversized-broadcast"))
    } finally spark.conf.unset("spark.graft.guard.maxBroadcastBytes")
    // at the 1 GiB default the fixture-scale hint is legitimately quiet
    assert(PlanGuard.audit(other.join(broadcast(docs), "doc_id"))
      .forall(_.kind != "oversized-broadcast"))
  }

  test("a hinted broadcast of a localCheckpointed frame is never flagged oversized") {
    // LogicalRDD leaves carry no catalog stats — sizeInBytes is the
    // defaultSizeInBytes placeholder, so trusting it would flag every
    // bounded checkpointed frame (the text_dedup_cross_source totals
    // shape) as petabytes. Distrust the estimate, stay silent.
    val ckpt = docs.select($"doc_id", $"source").limit(5).localCheckpoint()
    spark.conf.set("spark.graft.guard.maxBroadcastBytes", "64")
    try {
      assert(PlanGuard.audit(docs.join(broadcast(ckpt), "doc_id"), allow = Set("bnlj"))
        .forall(_.kind != "oversized-broadcast"))
    } finally spark.conf.unset("spark.graft.guard.maxBroadcastBytes")
  }

  test("flags unbounded-buffer aggregates; bounded window frames and approx forms pass") {
    // check #6: the buffer, not the plan shape, is the outage — exact
    // percentile / collect_list / collect_set hold every group value
    val exact = docs.groupBy($"source").agg(expr("percentile(n_chars, 0.5)").as("p50"))
    val v = PlanGuard.audit(exact)
    assert(v.exists(_.kind == "unbounded-buffer-agg"), v.mkString("; "))
    assert(PlanGuard.audit(exact, allow = Set("unbounded-buffer-agg")).isEmpty)
    val cl = docs.groupBy($"source").agg(collect_list($"doc_id").as("ids"))
    assert(PlanGuard.audit(cl).exists(_.kind == "unbounded-buffer-agg"))
    // median lowers to Percentile before optimization — covered
    val med = docs.groupBy($"source").agg(median($"n_chars").as("m"))
    assert(PlanGuard.audit(med).exists(_.kind == "unbounded-buffer-agg"),
      PlanGuard.audit(med).mkString("; "))
    // a BOUNDED ROWS window frame is a bounded buffer — quiet
    val w = Window.partitionBy($"source").orderBy($"doc_id").rowsBetween(-7, 0)
    val mov = docs.withColumn("cl", collect_list($"n_chars").over(w))
    assert(PlanGuard.audit(mov).forall(_.kind != "unbounded-buffer-agg"),
      PlanGuard.audit(mov).mkString("; "))
    // the sketch form holds fixed-size state — quiet
    val approx = docs.groupBy($"source")
      .agg(expr("approx_percentile(n_chars, 0.5)").as("p50"))
    assert(PlanGuard.audit(approx).forall(_.kind != "unbounded-buffer-agg"))
  }

  test("a stats broadcast (grouped aggregate of a big scan) is never flagged oversized") {
    // Spark's size-only stats visitor estimates a grouped Aggregate at
    // ~its CHILD's size (it never estimates group count), so a 2-row
    // broadcast(groupBy(source).agg(...)) over the corpus scan reads as
    // corpus-sized. Trusting that estimate would falsely block the
    // textbook stats-broadcast pipeline (ts_anomaly_mad's shape) at
    // exactly lake scale — PlanGuard must treat aggregate estimates as
    // untrusted, the same as join estimates.
    val stats = docs.groupBy($"source").agg(avg(length($"text")).as("mean_len"))
    val df = docs.join(broadcast(stats), "source")
    spark.conf.set("spark.graft.guard.maxBroadcastBytes", "64")
    try assert(PlanGuard.audit(df, allow = Set("bnlj"))
      .forall(_.kind != "oversized-broadcast"),
      PlanGuard.audit(df, allow = Set("bnlj")).mkString("; "))
    finally spark.conf.unset("spark.graft.guard.maxBroadcastBytes")
  }

  test("batch bound: a shuffled or broadcast whole scan of an index table is flagged; filtered and streamed scans pass") {
    val d = java.nio.file.Files.createTempDirectory("graft-pgbound").toString
    Seq((1L, Seq(1L, 2L), Seq(3L, 4L)), (2L, Seq(2L), Seq(5L))).toDF("sid", "ids", "tids")
      .write.parquet(s"$d/sets.parquet")
    Seq((1L, 0, 7L), (2L, 1, 8L)).toDF("sid", "band", "bh").write.parquet(s"$d/bands.parquet")
    val sets = spark.read.parquet(s"$d/sets.parquet")
    val bands = spark.read.parquet(s"$d/bands.parquet")
    val request = Seq((10L, 0, 7L)).toDF("b_doc", "band", "bh")
    val tables = Set("sets", "bands")
    def kinds(df: org.apache.spark.sql.DataFrame) = PlanGuard.batchBoundViolations(df, tables).map(_.kind)
    // the join-form probe: the whole sets table broadcast, its ids
    // column deduplicated through a shuffle
    val joined = bands.join(request, Seq("band", "bh")).join(broadcast(sets.select($"sid", $"tids")), "sid")
    assert(kinds(joined).contains("whole-scan-exchange"), joined.queryExecution.executedPlan.toString)
    assert(kinds(sets.select($"sid", $"ids").distinct()) == Seq("whole-scan-exchange"))
    intercept[IllegalStateException](PlanGuard.requireBatchBounded(sets.select($"sid").distinct(), tables))
    // bounded: a pushed filter by the request's keys, a stream past the
    // request's broadcast rows, and any table outside the set
    assert(kinds(bands.filter($"bh".isin(7L, 8L)).select($"sid").distinct()).isEmpty)
    assert(kinds(bands.join(broadcast(request), Seq("band", "bh"))).isEmpty)
    assert(PlanGuard.batchBoundViolations(sets.select($"sid").distinct(), Set("vecs")).isEmpty)
  }

  test("batch bound: the batch entry's join-form index probe — the admission gates' former per-batch shape — is flagged") {
    // the former join-form probe, built from the index tables: the
    // signed batch's band rows joined to `bands`, verified against
    // `sets`, then the matched families re-attached through a distinct
    // of the whole `sets` table
    val dir = sf("sf0.001")
    val ix = graft.queries.IndexOps
    val path = ix.ensureIndexStatus(spark, dir)._1
    val bands = ix.simIndex.read(spark, path, "bands")
    val sets = ix.simIndex.read(spark, path, "sets")
    val batch = ix.signDocs(spark, docs.filter(pmod($"doc_id", lit(10)) === 7))
      .select($"b_doc", $"btids", posexplode($"bands").as(Seq("band", "bh")))
    val probe = bands.join(batch, Seq("band", "bh"))
      .join(sets.select($"sid", $"tids"), "sid")
      .filter(call_function("sorted_long_intersect_size", $"tids", $"btids") > 0)
      .select($"b_doc", $"sid").distinct()
      .join(sets.select($"sid", $"ids").distinct(), "sid")
    val v = PlanGuard.batchBoundViolations(probe, Set("sets", "bands", "vecs", "vec_bands"))
    assert(v.exists(_.detail.contains("of sets")), v.mkString("; "))
  }

  test("batch bound: the six sim/vec probe plans read every index table by the request's keys") {
    // one matches frame per caller shape: a single query (the pushed
    // form), an entry's batch and a gate micro-batch (the key-row form)
    // per family; building each also runs its guarded candidate collect
    val dir = sf("sf0.001")
    val ix = graft.queries.IndexOps
    val simPath = ix.ensureIndexStatus(spark, dir)._1
    val vecPath = ix.ensureVecIndexStatus(spark, dir)._1
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
    def simQ(p: org.apache.spark.sql.Column) = ix.signDocs(spark, docs.filter(p)).collect().toSeq
    def vecQ(p: org.apache.spark.sql.Column) =
      ix.signVectors(spark, vecs.filter(p), ix.readVecW(spark, vecPath)).collect().toSeq
    val probes = Seq(
      "sim_index_probe" -> ix.simMatches(spark, simPath, simQ($"doc_id" === 0)),
      "sim_index_incremental" -> ix.simMatches(spark, simPath, simQ(pmod($"doc_id", lit(10)) === 7)),
      "screenDocs" -> ix.simMatches(spark, simPath, simQ($"doc_id" < 4)),
      "vec_index_probe" -> ix.vecMatches(spark, vecPath, vecQ($"vec_id" === 0), 3),
      "vec_index_incremental" -> ix.vecMatches(spark, vecPath, vecQ(pmod($"vec_id", lit(10)) === 7), 3),
      "screenVectors" -> ix.vecMatches(spark, vecPath, vecQ($"vec_id" < 4), 2))
    for ((caller, m) <- probes) {
      val v = PlanGuard.batchBoundViolations(m, Set("sets", "bands", "vecs", "vec_bands"))
      assert(v.isEmpty, s"$caller: ${v.mkString("; ")}")
    }
  }
}
