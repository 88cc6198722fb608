package graft

import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Semantics + plan-shape specs for the operators whose scale design
  * matters most (SURVEY.md §5.2): as-of correctness on crafted edges,
  * near-dedup recall on planted pairs, and no-all-pairs plan assertions.
  */
class OperatorSpec extends SparkSpecBase {
  import spark.implicits._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString

  test("join_asof carry-forward: purchase with no prior view is dropped; ties pick max view id") {
    // Inline timeline: user 1 -> view(10:00) v1, view(10:00) v2 (tie),
    // purchase(10:00) p3 (same instant: views count), purchase(10:05) p4;
    // user 2 -> purchase with no view ever (must drop).
    val t0 = Timestamp.valueOf("2026-01-01 10:00:00")
    val t5 = Timestamp.valueOf("2026-01-01 10:05:00")
    val df = Seq(
      (1L, 1L, "view", t0), (2L, 1L, "view", t0), (3L, 1L, "purchase", t0),
      (4L, 1L, "purchase", t5), (5L, 2L, "purchase", t0)
    ).toDF("event_id", "user_id", "event_type", "ts")
    import org.apache.spark.sql.expressions.Window
    val tagged = df.select($"event_id", $"user_id", $"ts",
      when($"event_type" === "view", 0).otherwise(1).as("kind"),
      when($"event_type" === "view", $"event_id").as("v_event"))
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"kind", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = tagged.withColumn("v_id", last($"v_event", ignoreNulls = true).over(w))
      .filter($"kind" === 1 && $"v_id".isNotNull)
      .select($"event_id", $"v_id").as[(Long, Long)].collect().sorted.toSeq
    assert(out == Seq((3L, 2L), (4L, 2L)), s"got $out")
  }

  test("join_asof on testdata matches the quadratic reference form") {
    val ev = Core.loadEvents(spark, sf("sf0.001"))
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"user_id", $"ts".as("p_ts"))
    val v = ev.filter($"event_type" === "view")
      .select($"event_id".as("v_id"), $"user_id".as("v_uid"), $"ts".as("v_ts"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"p_id").orderBy($"v_ts".desc, $"v_id".desc)
    val reference = p.join(v, $"user_id" === $"v_uid" && $"v_ts" <= $"p_ts")
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"p_id", $"v_id").as[(Long, Long)].collect().sorted.toSeq
    val fast = SparkEntry.queries("join_asof")(spark, sf("sf0.001"))
      .select($"p_id", $"v_id").as[(Long, Long)].collect().sorted.toSeq
    assert(fast == reference)
  }

  test("text_dedup_near recovers every identical-token-set pair (planted dups)") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select($"doc_id", array_sort(array_distinct(graft.Core.tokens(lower($"text")))).as("toks"))
    val truth = docs.as("a").join(docs.as("b"),
        $"a.toks" === $"b.toks" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id").as[(Long, Long)].collect().toSet
    val got = SparkEntry.queries("text_dedup_near")(spark, sf("sf0.001"))
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "fixture should contain planted identical token sets")
    assert((truth -- got).isEmpty,
      s"minhash-LSH missed ${(truth -- got).size} of ${truth.size} planted pairs")
  }

  test("no all-pairs product in the bucketed/banded plans") {
    for (q <- Seq("text_dedup_near", "text_simhash_dedup", "text_ngram_jaccard", "join_asof")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plan has CartesianProduct")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plan has BNLJ")
    }
  }

  test("vec_knn_topk: scores in [-1,1], 5 rows, descending") {
    val rows = SparkEntry.queries("vec_knn_topk")(spark, sf("sf0.001"))
      .as[(Long, Double)].collect().toSeq
    assert(rows.length == 5)
    assert(rows.forall { case (_, s) => s >= -1.0 && s <= 1.0 })
    assert(rows.map(_._2) == rows.map(_._2).sorted.reverse)
  }

  test("vec_knn_join_lsh candidates are a subset re-rank: rnk<=3 per vector, scores valid") {
    val rows = SparkEntry.queries("vec_knn_join_lsh")(spark, sf("sf0.001"))
      .select($"a_id", $"rnk", $"score").as[(Long, Int, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_._2 <= 3))
    assert(rows.groupBy(_._1).values.forall(g => g.map(_._2).distinct.length == g.length))
  }

  test("vec_knn_join_lsh: bucket-bounded candidates AND a recall floor vs exact 3-NN") {
    // Quantitative contract for the approximate path, both directions:
    //
    // SELECTIVITY — with 4 bands × 16 bits + Hamming-≤2 multi-probe,
    // candidate mass is ≤ 4·137/65536 ≈ 0.84% of all-pairs (the r5
    // config had 16-bucket bands: Θ(n²/16), a constant-factor discount).
    // The emitted pair set bounds the candidate set from below, so
    // asserting it small is the scale contract a config regression
    // (e.g. narrowing bands back) would break.
    //
    // RECALL — the fixture's exact 3-NN are RANDOM vectors at cosine
    // ~0.3–0.5 (near-orthogonal): sign-agreement probability p =
    // 1 − θ/π ≈ 0.63, so any config whose candidates are sub-quadratic
    // has per-pair recall ~4·P(Hamming≤2 over 16 bits) ≈ 9% here — that
    // is the LSH tradeoff, not a defect (no sub-quadratic scheme recalls
    // near-orthogonal neighbors; mid-cosine ANN is vec_ann_ivf's job).
    // The floor pins the MEASURED value at this seed/config minus
    // margin so a silent collapse (e.g. a broken plane seed) still
    // fails; the regime this index is FOR — near-duplicates at cosine
    // ≥0.9, where recall is ~97% — is asserted in IndexSpec's planted
    // near-dup test.
    graft.functions.VectorExprs.register(spark)
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("emb"))
    val n = e.count()
    // measure the CANDIDATE set the entry's join generates (the entry
    // output itself is capped at 3n by the rank filter, so it can't
    // witness a selectivity regression)
    val sigd = e.select($"vec_id",
      posexplode(graft.queries.VecOps.lshBandKeysW($"emb", 16)).as(Seq("band", "bk")))
    val probes = sigd.select($"vec_id", $"band",
      explode(graft.queries.VecOps.probeKeys($"bk", 16, 2)).as("bk"))
    val candidates = probes.as("x").join(sigd.as("y"),
        $"x.band" === $"y.band" && $"x.bk" === $"y.bk" && $"x.vec_id" =!= $"y.vec_id")
      .select($"x.vec_id", $"y.vec_id").distinct().count()
    assert(candidates <= 0.03 * n * n,
      s"candidate selectivity regressed: $candidates candidate pairs at n=$n " +
        s"(${100.0 * candidates / (n * n)}%% of n²; config bound ≈ 4·137/65536 ≈ 0.84%%)")
    val exact = SparkEntry.queries("vec_knn_join")(spark, sf("sf0.001"))
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    val approx = SparkEntry.queries("vec_knn_join_lsh")(spark, sf("sf0.001"))
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    // compare on the exact entry's query subset (vec_id % 4 == 0)
    val approxOnSubset = approx.filter(_._1 % 4 == 0)
    val recall = exact.intersect(approxOnSubset).size.toDouble / exact.size
    assert(recall >= 0.04, f"LSH 3-NN recall collapsed to $recall%.3f (floor 0.04; measured 0.088 at this seed)")
  }

  test("vec_ann_ivf: measured top-5 recall vs exact stays above the floor") {
    // Quantitative contract for the IVF path (the mid-cosine ANN
    // answer): top-5 overlap with the exact scan. The fixture's vectors
    // are RANDOM (no cluster structure), so true neighbors scatter
    // across cells and nprobe=8/64 measures 2-4/5 here — clustered real
    // embeddings recall far higher at the same scan fraction. The floor
    // catches a silent collapse (broken centroid seed/assignment), not
    // a quality target.
    for (d <- Seq("sf0.001", "sf0.01")) {
      val exact = SparkEntry.queries("vec_knn_topk")(spark, sf(d))
        .select($"vec_id").as[Long].collect().toSet
      val ivf = SparkEntry.queries("vec_ann_ivf")(spark, sf(d))
        .select($"vec_id").as[Long].collect().toSet
      val hit = ivf.intersect(exact).size
      assert(hit >= 1, s"$d: IVF top-5 recall collapsed to $hit/5 (measured 2-4/5 at this seed)")
    }
  }

  test("text_simhash_dedup: pigeonhole banding recalls EVERY hamming<=3 pair (exhaustive)") {
    // 4x16-bit chunk banding is exact for hamming<=3 by pigeonhole (3
    // flipped bits cannot touch all 4 chunks) — verify exhaustively
    // against brute-force hamming over all distinct-token-set signature
    // pairs, not just planted dups. The expected side computes the
    // md5-device signature with an INDEPENDENT plain-JVM
    // implementation (MessageDigest, not Spark expressions) so it
    // cross-checks the entry's in-plan bit math, not just its plan.
    import org.apache.spark.sql.functions.{array_sort, lower, size => ssize, min => smin}
    def md5SimHash(toks: Seq[String]): Long = {
      val votes = Array.fill(64)(0)
      val md = java.security.MessageDigest.getInstance("MD5")
      for (t <- toks) {
        val hex = md.digest(t.getBytes("UTF-8")).map(b => f"$b%02x").mkString
        val hi = java.lang.Long.parseLong(hex.substring(0, 8), 16)
        val lo = java.lang.Long.parseLong(hex.substring(8, 16), 16)
        for (i <- 0 until 64) {
          val bit = if (i < 32) (lo >>> i) & 1L else (hi >>> (i - 32)) & 1L
          votes(i) += (if (bit == 1L) 1 else -1)
        }
      }
      (0 until 64).foldLeft(0L)((acc, i) => if (votes(i) > 0) acc | (1L << i) else acc)
    }
    val sims = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select($"doc_id", array_sort(
        org.apache.spark.sql.functions.array_distinct(
          graft.Core.tokens(lower($"text")))).as("toks"))
      .filter(ssize($"toks") > 0)
      .groupBy($"toks").agg(smin($"doc_id").as("sid"))
      .as[(Seq[String], Long)].collect()
      .map { case (toks, sid) => (sid, md5SimHash(toks)) }
    val expected = (for {
      i <- sims.indices; j <- (i + 1) until sims.length
      if java.lang.Long.bitCount(sims(i)._2 ^ sims(j)._2) <= 3
    } yield (math.min(sims(i)._1, sims(j)._1), math.max(sims(i)._1, sims(j)._1))).toSet
    val got = SparkEntry.queries("text_simhash_dedup")(spark, sf("sf0.001"))
      .select($"d1", $"d2").as[(Long, Long)].collect()
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    // got also contains intra-set pairs (hamming 0 by construction) and
    // cross-set pairs; every brute-force sid pair must be present
    assert(expected.subsetOf(got),
      s"banding missed ${(expected -- got).size} of ${expected.size} hamming<=3 pairs")
  }

  test("text_dedup_cluster: pairs never split across clusters; keepers are cluster minima") {
    val cl = SparkEntry.queries("text_dedup_cluster")(spark, sf("sf0.001")).cache()
    val pairs = SparkEntry.queries("text_dedup_near")(spark, sf("sf0.001"))
      .select($"d1", $"d2")
    val lab = cl.select($"doc_id", $"cluster")
    val split = pairs
      .join(lab.withColumnRenamed("doc_id", "d1").withColumnRenamed("cluster", "c1"), "d1")
      .join(lab.withColumnRenamed("doc_id", "d2").withColumnRenamed("cluster", "c2"), "d2")
      .filter($"c1" =!= $"c2").count()
    assert(split == 0, s"$split near-dup pairs split across clusters")
    val badKeeper = cl.groupBy($"cluster")
      .agg(min($"doc_id").as("mn"))
      .join(cl.filter($"keep"), Seq("cluster"))
      .filter($"doc_id" =!= $"mn").count()
    assert(badKeeper == 0, "keeper must be the cluster minimum")
    val keep = SparkEntry.queries("text_dedup_keep")(spark, sf("sf0.001")).count()
    assert(keep == cl.filter($"keep").count())
  }

  test("agg_percentile_approx within 5% of exact per group") {
    val approx = SparkEntry.queries("agg_percentile_approx")(spark, sf("sf0.01"))
    val exact  = SparkEntry.queries("agg_percentile")(spark, sf("sf0.01"))
      .withColumnRenamed("p50", "e50").withColumnRenamed("p90", "e90")
    val joined = approx.join(exact, "event_type")
      .select($"p50", $"e50", $"p90", $"e90")
      .as[(Double, Double, Double, Double)].collect()
    assert(joined.nonEmpty)
    joined.foreach { case (p50, e50, p90, e90) =>
      assert(math.abs(p50 - e50) / math.max(math.abs(e50), 1e-9) <= 0.05, s"p50 $p50 vs $e50")
      assert(math.abs(p90 - e90) / math.max(math.abs(e90), 1e-9) <= 0.05, s"p90 $p90 vs $e90")
    }
  }

  test("agg_hll_merge: unioned daily sketches estimate monthly distincts within 5%") {
    val approx = SparkEntry.queries("agg_hll_merge")(spark, sf("sf0.01"))
      .select($"month", $"approx_users").as[(String, Long)].collect().toMap
    val exact = Core.loadEvents(spark, sf("sf0.01"))
      .select(date_format($"ts", "yyyy-MM").as("month"), $"user_id")
      .groupBy($"month").agg(countDistinct($"user_id").as("n"))
      .as[(String, Long)].collect().toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (m, a) =>
      val e = exact(m)
      assert(math.abs(a - e).toDouble / e <= 0.05, s"$m: sketch $a vs exact $e")
    }
  }

  test("pack_sequences: distributed prefix sum equals sequential concat-and-chunk") {
    val got = SparkEntry.queries("pack_sequences")(spark, sf("sf0.001"))
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    // the two-level (bucket totals + within-bucket windows) offsets must
    // equal the straight sequential scan a single machine would produce
    var off = 0L
    got.sortBy(_._1).foreach { case (id, nt, tokOff, seqFirst, seqLast) =>
      assert(tokOff == off, s"doc $id: offset $tokOff != sequential $off")
      assert(seqFirst == off / 2048, s"doc $id seq_first")
      assert(seqLast == (off + math.max(nt, 1) - 1) / 2048, s"doc $id seq_last")
      off += nt
    }
    // scale shape: the per-DOC cumsum window must be partitioned by
    // bucket — a global single-partition sort of the corpus is exactly
    // what the two-level form exists to avoid (the only unpartitioned
    // window runs over the tiny bucket-totals frame, which orders by
    // `bucket`, not doc_id)
    val plan = SparkEntry.queries("pack_sequences")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    val docWindows = "windowspecdefinition\\([^)]*doc_id[^)]*\\)".r.findAllIn(plan).toSeq
    assert(docWindows.nonEmpty, "expected a window over doc rows in the plan")
    docWindows.foreach(wsd =>
      assert(wsd.contains("bucket"), s"doc-level window is unpartitioned: $wsd"))
  }

  test("text_lm_score: bigram surprisal invariants hold corpus-wide") {
    // The MLE bigram surprisal ln(c(w1)/c(w1w2)) is >= 0 (a bigram
    // can't outnumber its own history), every doc with >= 2 tokens
    // scores exactly size(toks)-1 bigrams, and a corpus-frequent
    // bigram must contribute LESS surprisal than a rarer one sharing
    // its history (the ordering the quality filter rides).
    val dir = sf("sf0.001")
    val out = SparkEntry.queries("text_lm_score")(spark, dir)
      .as[(Long, Long, Double)].collect()
    assert(out.nonEmpty)
    assert(out.forall(_._3 >= 0.0), "negative surprisal")
    val nTokens = Core.load(spark, dir, "documents")
      .select($"doc_id", size(Core.tokens(lower($"text"))).as("n"))
      .as[(Long, Int)].collect().toMap
    out.foreach { case (id, nbg, _) =>
      assert(nbg == nTokens(id) - 1, s"doc $id: $nbg bigrams vs ${nTokens(id)} tokens")
    }
    assert(out.length == nTokens.count(_._2 >= 2), "docs with >=2 tokens must all score")
    // ordering on a crafted corpus: a doc of one endlessly-repeated
    // bigram is maximally predictable (score ~0); a doc of bigrams
    // that each occur once against a shared history scores higher —
    // the ordering the quality filter rides
    val tmpDir = java.nio.file.Files.createTempDirectory("graft-lm").toString
    Seq((0L, ("x y " * 20).trim, "en", "s", 1L),
        (1L, "x a x b x c x d", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmpDir/documents.parquet")
    val crafted = SparkEntry.queries("text_lm_score")(spark, tmpDir)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(crafted(0L) < crafted(1L),
      s"repeated bigram must score below unique bigrams: $crafted")
  }

  test("ts_retention_cohort: offset-0 diagonal is the cohort size and users conserve") {
    val dir = sf("sf0.001")
    val out = SparkEntry.queries("ts_retention_cohort")(spark, dir)
      .as[(String, Long, Long)].collect()
    assert(out.nonEmpty)
    // every user's first-day row lands at offset 0, so the diagonal
    // sums to the distinct-user count, and no later offset can exceed
    // its cohort's size
    val users = Core.loadEvents(spark, dir).select($"user_id").distinct().count()
    assert(out.filter(_._2 == 0L).map(_._3).sum == users,
      "offset-0 diagonal must partition the user base")
    val cohortSize = out.filter(_._2 == 0L).map(r => r._1 -> r._3).toMap
    out.foreach { case (day, off, n) =>
      assert(n <= cohortSize(day), s"cohort $day offset $off: $n > ${cohortSize(day)}")
    }
  }

  test("ts_interpolate_linear: knowns pass through, gaps bounded by neighbors, grid dense") {
    val dir = sf("sf0.001")
    val rows = SparkEntry.queries("ts_interpolate_linear")(spark, dir)
      .as[(Long, String, Double, Boolean)].collect().toSeq
    assert(rows.nonEmpty)
    val byUser = rows.groupBy(_._1)
    byUser.foreach { case (_, rs) =>
      val seq = rs.sortBy(_._2)
      // dense grid: consecutive calendar days, endpoints observed
      assert(!seq.head._4 && !seq.last._4, "grid endpoints are observed days")
      seq.zipWithIndex.filter(_._1._4).foreach { case ((_, _, v, _), i) =>
        // a gap's interpolant lies within [min, max] of the nearest
        // observed neighbors (linear interpolation never overshoots)
        val prev = seq.take(i).reverse.find(!_._4).get._3
        val next = seq.drop(i + 1).find(!_._4).get._3
        assert(v >= math.min(prev, next) - 1e-9 && v <= math.max(prev, next) + 1e-9,
          s"interpolant $v outside neighbor range [$prev, $next]")
      }
    }
  }

  test("join_interval_overlap: bucketized form equals a direct theta-join recompute") {
    // the week-cell equi-join + overlap-start-cell dedup must produce
    // exactly what the naive theta join does (the form the oracle runs;
    // here recomputed in-engine so the A/B is engine-internal too)
    val dir = sf("sf0.01")
    val out = SparkEntry.queries("join_interval_overlap")(spark, dir)
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
    val a = Core.load(spark, dir, "orders")
      .filter($"o_orderkey" % 199 === 0)
      .select($"o_orderkey", $"o_orderdate".cast("date").as("a_s"))
      .withColumn("a_e", date_add($"a_s", 7))
    val b = Core.load(spark, dir, "lineitem")
      .select($"l_quantity", $"l_shipdate".cast("date").as("b_s"),
        date_add($"l_shipdate".cast("date"), ($"l_orderkey" % 14).cast("int")).as("b_e"))
    val direct = a.join(b, $"b_s" <= $"a_e" && $"b_e" >= $"a_s")
      .groupBy($"o_orderkey")
      .agg(count(lit(1)).as("n"), round(sum($"l_quantity"), 4).as("q"))
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(out.nonEmpty && out == direct,
      "bucketized interval join drifted from the theta-join semantics")
  }

  test("sample_stratified: per-source quota respected, ranks contiguous, deterministic") {
    val dir = sf("sf0.01")
    val out = SparkEntry.queries("sample_stratified")(spark, dir)
      .as[(Long, String, String, Int)].collect().toSeq
    assert(out.nonEmpty)
    val bySource = out.groupBy(_._3)
    val totals = Core.load(spark, dir, "documents")
      .groupBy($"source").count().as[(String, Long)].collect().toMap
    bySource.foreach { case (src, rows) =>
      val expected = math.min(40L, totals(src))
      assert(rows.size == expected, s"source $src: ${rows.size} sampled, expected $expected")
      assert(rows.map(_._4).sorted == (1 to rows.size).toSeq,
        s"source $src: ranks must be contiguous 1..${rows.size}")
    }
    // hash-ranked selection is partition-independent: rerun must match
    val again = SparkEntry.queries("sample_stratified")(spark, dir)
      .as[(Long, String, String, Int)].collect().toSeq
    assert(out.sortBy(_._1) == again.sortBy(_._1))
  }

  test("sample_balanced: every class lands exactly at the minority count, deterministically") {
    val dir = sf("sf0.01")
    val out = SparkEntry.queries("sample_balanced")(spark, dir)
      .as[(Long, String, Int)].collect().toSeq
    assert(out.nonEmpty)
    val totals = Core.load(spark, dir, "documents")
      .groupBy($"lang").count().as[(String, Long)].collect().toMap
    val minority = totals.values.min
    val byLang = out.groupBy(_._2)
    assert(byLang.keySet == totals.keySet, "every class must survive balancing")
    byLang.foreach { case (lang, rows) =>
      assert(rows.size.toLong == minority,
        s"class $lang: ${rows.size} kept, expected exactly the minority count $minority")
      assert(rows.map(_._3).sorted == (1 to rows.size).toSeq,
        s"class $lang: ranks must be contiguous 1..${rows.size}")
    }
    val again = SparkEntry.queries("sample_balanced")(spark, dir)
      .as[(Long, String, Int)].collect().toSeq
    assert(out.sortBy(_._1) == again.sortBy(_._1))
  }

  test("graph_jaccard_similarity: reported ppm equals the first-principles overlap ratio") {
    val dir = sf("sf0.001")
    val rows = SparkEntry.queries("graph_jaccard_similarity")(spark, dir).collect()
    assert(rows.nonEmpty)
    val e = Core.loadEvents(spark, dir)
      .filter($"event_type".isin("click", "purchase"))
      .select($"user_id", get_json_object($"props", "$.k").cast("long").as("item"))
      .distinct().cache()
    val r = rows.head
    val (ia, ib) = (r.getAs[Long]("item_a"), r.getAs[Long]("item_b"))
    val na = e.filter($"item" === ia).count()
    val nb = e.filter($"item" === ib).count()
    val both = e.as("a").join(e.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.item") === ia && col("b.item") === ib).count()
    assert(r.getAs[Long]("n_both") == both)
    assert(r.getAs[Long]("jaccard_ppm") == both * 1000000L / (na + nb - both),
      "jaccard recompute mismatch")
    e.unpersist()
  }

  test("curate_token_budget: equals the flat quality-ordered prefix, budget maximal") {
    val dir = sf("sf0.01")
    val out = SparkEntry.queries("curate_token_budget")(spark, dir)
      .as[(Long, String, Double, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(out.nonEmpty)
    // independent flat recompute: order all docs by (quality desc,
    // doc_id), take the maximal prefix fitting half the corpus tokens
    val all = Core.load(spark, dir, "documents")
      .select($"doc_id", Core.tokens(lower($"text")).as("toks"))
      .select($"doc_id", size($"toks").cast("long").as("nt"),
        round(size(array_distinct($"toks")) / size($"toks").cast("double"), 4).as("q"))
      .filter($"nt" > 0).as[(Long, Long, Double)].collect().toSeq
    val budget = all.map(_._2).sum / 2
    val ordered = all.sortBy { case (d, _, q) => (-q, d) }
    val prefix = ordered.scanLeft((0L, 0L, 0.0, 0L)) { case ((_, _, _, cum), (d, nt, q)) =>
      (d, nt, q, cum + nt)
    }.drop(1).takeWhile(_._4 <= budget)
    assert(out.map(_._1).toSet == prefix.map(_._1).toSet,
      "engine selection must equal the flat-ordered prefix")
    assert(out.map(r => r._1 -> r._5).toMap == prefix.map(r => r._1 -> r._4).toMap,
      "cumulative token positions must match the flat running sum")
    // maximality: the next doc in order would have burst the budget
    val next = ordered.drop(prefix.size).headOption
    next.foreach { case (_, nt, _) =>
      assert(prefix.last._4 + nt > budget, "prefix must be maximal under the budget")
    }
  }

  test("text_lm_incremental equals full-model scoring restricted to the batch") {
    // The merged model (persisted base counts + batch partials) must be
    // byte-equal to one trained on the full corpus — so the incremental
    // entry's scores must EXACTLY equal text_lm_score's rows for the
    // batch docs, not approximately.
    val dir = sf("sf0.001")
    val full = SparkEntry.queries("text_lm_score")(spark, dir)
      .filter($"doc_id" % 10 === 7)
      .as[(Long, Long, Double)].collect().toSeq
    val inc = SparkEntry.queries("text_lm_incremental")(spark, dir)
      .as[(Long, Long, Double)].collect().toSeq
    assert(inc.nonEmpty)
    assert(inc == full, s"incremental drifted from full recompute:\n$inc\nvs\n$full")
  }

  test("text_embed_hash: corpus form is element-identical to the column-expression form") {
    // two implementations of the same embedding math (explode+groupBy
    // corpus pass vs the per-dimension hashEmbed aggregate) must never
    // drift — the probe side of semantic search signs queries with
    // hashEmbed while the corpus side uses docHashEmbeds
    val dir = sf("sf0.001")
    // the DECLARED entry serializes the exact-integer vector to a
    // space-joined long digest (driver-hashability — round-10 verdict);
    // decode it back so the A/B still checks every element
    val corpus = SparkEntry.queries("text_embed_hash")(spark, dir)
      .select($"doc_id", $"embedding")
      .as[(Long, String)].collect().toMap
      .map { case (id, s) => id -> s.split(" ").toSeq.map(_.toDouble) }
    val direct = Core.load(spark, dir, "documents")
      .select($"doc_id",
        graft.queries.VecOps.hashEmbed(Core.tokens(lower($"text"))).as("e"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(corpus.keySet.subsetOf(direct.keySet))
    assert(corpus.nonEmpty)
    corpus.foreach { case (id, e) =>
      assert(e == direct(id), s"doc $id: corpus form $e != column form ${direct(id)}")
    }
    // norms: unit contract is NOT claimed (signed contributions cancel);
    // but norm must equal sqrt(dot(e,e)) as declared
    val norms = SparkEntry.queries("text_embed_hash")(spark, dir)
      .select($"doc_id", $"norm").as[(Long, Double)].collect().toMap
    corpus.foreach { case (id, e) =>
      val expect = BigDecimal(math.sqrt(e.map(x => x * x).sum))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(norms(id) - expect) < 1e-9, s"doc $id norm")
    }
  }

  test("metadata-keyed consumers fail loudly on a bare (doc_id, text) corpus") {
    // docTokens synthesizes null source/lang for gate-shaped corpora so
    // the signature pipeline keeps working there — but a consumer that
    // GROUPS or JOINS on those columns must refuse (requireDocMeta),
    // not silently aggregate the whole corpus under one null group.
    val dir = java.nio.file.Files.createTempDirectory("graft-baremeta").toString
    try {
      Core.load(spark, sf("sf0.001"), "documents")
        .select($"doc_id", $"text")
        .write.parquet(s"$dir/documents.parquet")
      for (q <- Seq("mix_weights", "mix_apply", "semantic_search_e2e")) {
        val e = intercept[IllegalArgumentException] {
          SparkEntry.queries(q)(spark, dir)
        }
        assert(e.getMessage.contains("documents table"), s"$q: ${e.getMessage}")
      }
      // and a toks-only consumer still works on the same bare corpus
      assert(SparkEntry.queries("pack_sequences")(spark, dir).count() > 0)
    } finally {
      rm(new java.io.File(dir))
    }
  }

  test("agg_approx_distinct within 2% of exact") {
    val approx = SparkEntry.queries("agg_approx_distinct")(spark, sf("sf0.01"))
    val cols = approx.columns
    val ev = Core.loadEvents(spark, sf("sf0.01"))
    val exact = ev.groupBy($"event_type").agg(countDistinct($"user_id").as("exact"))
    val joined = approx.join(exact, "event_type")
      .select(col(cols(1)).cast("double"), $"exact".cast("double"))
      .as[(Double, Double)].collect()
    joined.foreach { case (a, e) =>
      assert(math.abs(a - e) / e <= 0.05, s"approx $a vs exact $e")
    }
  }

  test("exact all-pairs anchors refuse oversized inputs, naming the banded sibling") {
    // The quadratic oracle anchors carry a loud plan-construction-time
    // row guard (Core.exactAnchorGuard) so a lake-scale corpus can never
    // accidentally run the O(n^2) form. Dial the cap below the fixture's
    // row count and each must refuse with a message pointing at its
    // scale-safe sibling; at the default cap they run unchanged.
    val cases = Seq(
      "vec_cosine_pairs"  -> "vec_knn_join_lsh",
      "vec_knn_join"      -> "vec_knn_join_lsh",
      "text_ngram_jaccard" -> "text_dedup_near")
    spark.conf.set("spark.graft.exact.maxRows", "10")
    try {
      cases.foreach { case (name, sibling) =>
        val e = intercept[IllegalArgumentException] {
          SparkEntry.queries(name)(spark, sf("sf0.001"))
        }
        assert(e.getMessage.contains(name) && e.getMessage.contains(sibling),
          s"$name guard message must name the entry and sibling: ${e.getMessage}")
      }
    } finally spark.conf.unset("spark.graft.exact.maxRows")
    // default cap: entries still construct and run
    cases.foreach { case (name, _) =>
      assert(SparkEntry.queries(name)(spark, sf("sf0.001")).count() >= 0)
    }
  }

  test("vec_pca_power returns a genuine top eigenpair of the exact Gram matrix") {
    import spark.implicits._
    // property check, not a re-derivation: rebuild the Gram matrix
    // independently (plain Scala over the collected vectors, same
    // milli-quantization) and verify the declared (v, λ) satisfies
    // ‖Gv − λv‖/λ ≈ 0 with ‖v‖ = 1 — a wrong eigenvector or a sign/
    // normalization bug fails this regardless of how the entry
    // computed it.
    val dims = 64
    val vecs = Core.load(spark, sf("sf0.001"), "embeddings")
      .select($"embedding".cast("array<double>")).as[Seq[Double]].collect()
    val g = Array.ofDim[Double](dims, dims)
    for (v <- vecs) {
      val m = Array.tabulate(dims)(i => math.floor(v(i) * 1000 + 0.5))
      for (i <- 0 until dims; j <- 0 until dims) g(i)(j) += m(i) * m(j)
    }
    val out = SparkEntry.queries("vec_pca_power")(spark, sf("sf0.001"))
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    val v = out.map(_._2)
    val lambda = out.head._3
    assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-4, "v not unit-norm")
    assert(lambda > 0, "eigenvalue must be positive for a Gram matrix")
    val gv = Array.tabulate(dims)(i => (0 until dims).map(j => g(i)(j) * v(j)).sum)
    val resid = math.sqrt(gv.zip(v).map { case (a, b) => val d = a - lambda * b; d * d }.sum)
    assert(resid / lambda < 1e-2,
      s"not an eigenpair: relative residual ${resid / lambda}")
    val firstNz = v.find(math.abs(_) > 1e-12).get
    assert(firstNz > 0, "canonical sign: first nonzero component positive")
  }

  test("agg_weighted_median picks the smallest price whose cumulative weight crosses half") {
    val fx = sf("sf0.001")
    val got = SparkEntry.queries("agg_weighted_median")(spark, fx).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // independent driver replay of the definition over the raw rows
    val rows = spark.read.parquet(s"$fx/lineitem.parquet")
      .select($"l_returnflag", $"l_extendedprice", $"l_quantity")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2).toLong))
    val ref = rows.groupBy(_._1).map { case (flag, rs) =>
      val byPrice = rs.groupBy(_._2).view.mapValues(_.map(_._3).sum)
        .toSeq.sortBy(_._1)
      val total = byPrice.map(_._2).sum
      var cum = 0L
      val crossing = byPrice.find { case (_, w) => cum += w; 2 * cum >= total }.get._1
      flag -> math.rint(crossing * 10000) / 10000
    }
    assert(got == ref, s"weighted medians drifted: got=$got ref=$ref")
  }
}
