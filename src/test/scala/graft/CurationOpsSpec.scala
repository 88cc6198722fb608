package graft

import org.apache.spark.sql.functions._

/** Semantics specs for the round-11 curation additions: duplicated-span
  * coverage (the exact-substring-dedup audit), weighted downsampling,
  * the Gopher rule battery, MIPS top-k, and the trained quality
  * classifier.
  */
class CurationOpsSpec extends SparkSpecBase {
  import spark.implicits._

  test("text_dedup_spans matches a brute-force interval-union reference at sf0.001") {
    val docs = Core.load(spark, sf("sf0.001"), "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val grams = docs.flatMap { case (id, text) =>
      val toks = text.toLowerCase.split(" ").filter(_.nonEmpty)
      if (toks.length < 8) Seq.empty
      else (0 to toks.length - 8).map(i => (id, i, toks.slice(i, i + 8).mkString(" "), toks.length))
    }
    val dupGrams = grams.groupBy(_._3).collect { case (g, hits) if hits.length >= 2 => g }.toSet
    val expected = grams.filter(t => dupGrams(t._3)).groupBy(_._1).map { case (id, hits) =>
      val starts = hits.map(_._2).sorted
      val covered = starts.flatMap(s => s until s + 8).toSet.size
      (id, hits.head._4.toLong, starts.length.toLong, covered.toLong)
    }.toSeq.sortBy(_._1)
    val got = SparkEntry.queries("text_dedup_spans")(spark, sf("sf0.001"))
      .select($"doc_id", $"n_tokens", $"dup_starts", $"covered_tokens")
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got == expected, s"spans mismatch:\n got=$got\n exp=$expected")
    assert(got.nonEmpty, "sf0.001 should contain near-dup docs sharing 8-token spans")
  }

  test("text_dedup_spans_cut: cut mass is bounded by audit coverage and one canonical copy survives") {
    val dir = sf("sf0.01")
    val audit = SparkEntry.queries("text_dedup_spans")(spark, dir)
      .select($"doc_id", $"covered_tokens").as[(Long, Long)].collect().toMap
    val cut = SparkEntry.queries("text_dedup_spans_cut")(spark, dir)
      .select($"doc_id", $"n_tokens", $"cut_tokens", $"kept_tokens")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(cut.nonEmpty, "clone docs must receive cuts at sf0.01")
    cut.foreach { case (id, nt, c, k) =>
      assert(c + k == nt, s"doc $id: cut+kept != n_tokens")
      assert(c <= audit(id), s"doc $id: cut $c exceeds audited dup coverage ${audit(id)}")
    }
    // canonical survival: docs flagged by the audit but absent from the
    // cut output are pure canonical holders — they must exist (the
    // whole point: one copy of each duplicated span survives)
    val cutIds = cut.map(_._1).toSet
    assert(audit.keySet.exists(id => !cutIds(id)),
      "at least one audited doc should keep all its text as the canonical holder")
  }

  test("sample_weighted: keep rate tracks the quality weights and membership is partition-independent") {
    val out = SparkEntry.queries("sample_weighted")(spark, sf("sf0.01"))
    val kept = out.agg(sum($"n_kept")).as[Long].head()
    val total = Core.load(spark, sf("sf0.01"), "documents").count()
    // E[kept] = sum of per-doc quality ratios (~0.5 corpus-wide)
    assert(kept > total * 3 / 10 && kept < total * 7 / 10,
      s"kept $kept of $total — outside the plausible weighted-keep band")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val again = SparkEntry.queries("sample_weighted")(spark, sf("sf0.01"))
        .as[(String, Long, Long, Double)].collect().sortBy(_._1).toSeq
      val base = out.as[(String, Long, Long, Double)].collect().sortBy(_._1).toSeq
      assert(again == base, "weighted membership must not depend on parallelism")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("text_gopher_rules: pass is the rule conjunction and every rule is live at sf0.01") {
    val out = SparkEntry.queries("text_gopher_rules")(spark, sf("sf0.01")).cache()
    try {
      val bad = out.filter(
        $"pass" =!= ($"r_len" === 1 && $"r_wordlen" === 1 &&
          $"r_stop" === 1 && $"r_rep" === 1).cast("int")).count()
      assert(bad == 0, s"$bad rows where pass != conjunction of rules")
      for (r <- Seq("r_len", "r_wordlen", "r_stop", "r_rep")) {
        val fails = out.filter(col(r) === 0).count()
        assert(fails > 0, s"rule $r never fires at sf0.01 — dead threshold")
      }
      val passed = out.filter($"pass" === 1).count()
      val total = out.count()
      assert(passed > 0 && passed < total, "filter must neither pass nor kill everything")
    } finally { out.unpersist(); () }
  }

  test("curate_quality_e2e: funnel is monotone and consistent with its stage operators") {
    val dir = sf("sf0.01")
    val e2e = SparkEntry.queries("curate_quality_e2e")(spark, dir)
      .select($"source", $"n_docs", $"n_pass_rules", $"n_sampled")
      .as[(String, Long, Long, Long)].collect().toSeq
    e2e.foreach { case (src, n, p, k) =>
      assert(n >= p && p >= k, s"$src: funnel not monotone ($n >= $p >= $k)")
    }
    // stage consistency: rule-survivor total equals the standalone rule
    // battery's pass count, and the sampled set (same third-round hash
    // draw) is a subset of the standalone weighted sample per source
    val gopherPass = SparkEntry.queries("text_gopher_rules")(spark, dir)
      .agg(sum($"pass")).as[Long].head()
    assert(e2e.map(_._3).sum == gopherPass,
      "e2e rule survivors must equal text_gopher_rules pass count")
    val weighted = SparkEntry.queries("sample_weighted")(spark, dir)
      .select($"source", $"n_kept").as[(String, Long)].collect().toMap
    e2e.foreach { case (src, _, _, k) =>
      assert(k <= weighted.getOrElse(src, 0L),
        s"$src: e2e sampled $k exceeds the standalone weighted draw ${weighted.get(src)}")
    }
  }

  test("vec_mips_topk: native dotp scores match the higher-order-function form") {
    val e = Core.load(spark, sf("sf0.001"), "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("emb"))
    val q = e.filter($"vec_id" === 1).select($"emb".as("qemb"))
    val hof = e.filter($"vec_id" =!= 1).crossJoin(broadcast(q))
      .select($"vec_id",
        round(aggregate(zip_with($"emb", $"qemb", (x, y) => x * y),
          lit(0.0), (s, x) => s + x), 6).as("score"))
      .orderBy($"score".desc, $"vec_id").limit(5)
      .as[(Long, Double)].collect().toSeq
    val got = SparkEntry.queries("vec_mips_topk")(spark, sf("sf0.001"))
      .as[(Long, Double)].collect().toSeq
    assert(got == hof, s"native=$got hof=$hof")
  }

  test("stream_quality_filter: two-batch stream agrees with the batch rule battery and scorer") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sc = spark.sqlContext
    val dir = sf("sf0.001")
    val w = queries.QualityOps.trainedWeights(spark, dir)
    val docs = Core.load(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val in = MemoryStream[(Long, String)]
    in.addData(docs.take(docs.length / 2))
    in.addData(docs.drop(docs.length / 2))
    streaming.Streams.runToMemory(
      streaming.Streams.qualityFilterStream(
        in.toDF().toDF("doc_id", "text"), w),
      "qfilter_out", OutputMode.Append())
    val got = spark.table("qfilter_out")
      .select($"doc_id", $"pass_rules", $"keep")
      .as[(Long, Int, Int)].collect().sortBy(_._1).toSeq
    assert(got.map(_._1) == docs.map(_._1).sorted, "stream must emit every doc exactly once")
    // rule flags must agree with the batch entry doc-by-doc
    val batchRules = SparkEntry.queries("text_gopher_rules")(spark, dir)
      .select($"doc_id", $"pass").as[(Long, Int)].collect().toMap
    got.foreach { case (id, pr, _) =>
      assert(pr == batchRules(id), s"doc $id: stream pass_rules=$pr batch=${batchRules(id)}")
    }
    assert(got.exists(_._3 == 1) && got.exists(_._3 == 0),
      "filter should neither keep nor kill everything at sf0.001")
  }

  test("quality classifier: learns the proxy label well beyond the majority class; weights are parallelism-independent") {
    val dir = sf("sf0.01")
    val w1 = queries.QualityOps.trainedWeights(spark, dir).toSeq
    assert(w1.length == 65 && w1.exists(_ != 0L), "training produced no signal")
    val apply = SparkEntry.queries("quality_classifier_apply")(spark, dir)
      .agg(sum($"n_docs"), sum($"n_agree"), sum($"n_label_pos")).as[(Long, Long, Long)].head()
    val (n, agree, pos) = apply
    val majority = math.max(pos, n - pos).toDouble / n
    val acc = agree.toDouble / n
    assert(acc >= 0.85 && acc > majority + 0.05,
      f"classifier accuracy $acc%.3f should beat majority $majority%.3f by ≥0.05")
    // bit-identical retrain under a different parallelism: the
    // exact-decimal-gradient claim
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      queries.Frames.release(spark)
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val w2 = queries.QualityOps.trainedWeights(spark, dir).toSeq
      assert(w1 == w2, "retrained weights differ under repartitioning")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      queries.Frames.release(spark)
    }
  }
}
