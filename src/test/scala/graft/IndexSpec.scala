package graft

import org.apache.spark.sql.functions._

/** Persisted similarity index: build-once-probe-many lifecycle
  * (reference engine.py:72-98). Asserts the probe reads the PERSISTED
  * tables instead of recomputing corpus signatures, and that its
  * results agree with the in-plan near-dup pipeline.
  */
class IndexSpec extends SparkSpecBase {
  import spark.implicits._

  private val dir = sf("sf0.001")

  test("sim_index_build persists sets+bands; summary reflects the corpus") {
    val summary = SparkEntry.queries("sim_index_build")(spark, dir).collect()
    assert(summary.length == 16, "one summary row per LSH band (16 bands × 4 rows)")
    val nDocs = summary.head.getAs[Long]("n_docs")
    val withToks = spark.read.parquet(s"$dir/documents.parquet")
      .filter(size(graft.Core.tokens(lower($"text"))) > 0).count()
    assert(nDocs == withToks, s"index covers $nDocs of $withToks docs")
    for (sub <- Seq("sets.parquet", "bands.parquet")) {
      assert(new java.io.File(graft.queries.IndexOps.indexDir(dir) + "/" + sub).exists())
    }
  }

  test("sim_index_probe answers from the persisted index, no corpus signature recompute") {
    SparkEntry.queries("sim_index_build")(spark, dir).collect()
    val probe = SparkEntry.queries("sim_index_probe")(spark, dir)
    // Plan shape: reads the persisted index; the only corpus access is
    // the pushed-down single-row query read (one documents scan).
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("simindex"), "probe must scan the persisted index")
    val corpusScans = "documents\\.parquet".r.findAllIn(plan).length
    assert(corpusScans <= 1, s"probe plan scans documents $corpusScans times (expected ≤1: the 1-row query side)")

    val got = probe.select($"doc_id", $"jaccard").as[(Long, Double)].collect()
    assert(got.nonEmpty, "probe must at least find the query's own set")
    assert(got.exists { case (id, j) => id == 0L && j == 1.0 },
      "query doc must match itself at jaccard 1.0")
    // Semantics: probe hits = doc 0's partners in the in-plan near-dup
    // pairs (same threshold 0.9), plus doc 0 itself.
    val pairs = SparkEntry.queries("text_dedup_near")(spark, dir)
      .select($"d1", $"d2").as[(Long, Long)].collect()
    val expected = pairs.collect {
      case (0L, d2) => d2
      case (d1, 0L) => d1
    }.toSet + 0L
    assert(got.map(_._1).toSet == expected,
      s"probe set ${got.map(_._1).toSet} != near-dup partners $expected")
  }

  test("regenerated source data stales the stamp (round-9 regression)") {
    // The driver regenerated /root/testdata mid-stream once; version-only
    // stamps were blind to it and would have served an index built from
    // the OLD corpus. The stamp now folds in a (name, length, mtime)
    // fingerprint of the source table — rewriting the data (same or
    // different bytes) must read as non-current and rebuild.
    val tmp = java.nio.file.Files.createTempDirectory("graft-datastamp").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    docs.write.parquet(s"$tmp/documents.parquet")
    SparkEntry.queries("sim_index_build")(spark, tmp).collect()
    val sim = graft.queries.IndexOps.simIndex
    val stampBefore = sim.storedStamp(spark, tmp)
    assert(stampBefore == sim.stamp(spark, tmp))
    assert(sim.current(spark, tmp))
    // "regenerate" the corpus: rewrite the same rows (fresh files/mtimes)
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    assert(!sim.current(spark, tmp),
      "rewritten source data must invalidate the persisted index")
    // the ensure path rebuilds and restamps against the NEW data identity
    graft.queries.Frames.release(spark)
    SparkEntry.queries("sim_index_probe")(spark, tmp).collect()
    assert(sim.storedStamp(spark, tmp) == sim.stamp(spark, tmp),
      "rebuild must restamp with the new fingerprint")
    assert(sim.storedStamp(spark, tmp) != stampBefore,
      "new data identity must produce a new stamp")
  }

  test("stale or uncommitted persisted index is rebuilt, not served") {
    SparkEntry.queries("sim_index_build")(spark, dir).collect()
    val stamp = new java.io.File(graft.queries.IndexOps.indexDir(dir) + "/sim.version")
    assert(stamp.exists(), "build must write a signature-logic stamp")

    // an index written by OLDER signature logic (different stamp) must
    // be rebuilt on probe instead of silently answering with stale
    // semantics
    java.nio.file.Files.write(stamp.toPath, "sim-v0:obsolete".getBytes("UTF-8"))
    SparkEntry.queries("sim_index_probe")(spark, dir).collect()
    val restamped = new String(java.nio.file.Files.readAllBytes(stamp.toPath), "UTF-8")
    assert(restamped == graft.queries.IndexOps.simIndex.stamp(spark, dir),
      s"probe served an index stamped '$restamped' without rebuilding")

    // a crashed build (no parquet _SUCCESS commit marker) must also
    // trigger a rebuild
    val success = new java.io.File(
      graft.queries.IndexOps.indexDir(dir) + "/bands.parquet/_SUCCESS")
    assert(success.exists())
    success.delete()
    SparkEntry.queries("sim_index_probe")(spark, dir).collect()
    assert(success.exists(), "probe served an uncommitted index without rebuilding")
  }

  test("sim_index_incremental: batch-vs-index dedup matches the in-plan pair graph") {
    SparkEntry.queries("sim_index_build")(spark, dir).collect()
    val inc = SparkEntry.queries("sim_index_incremental")(spark, dir)
    val plan = inc.queryExecution.executedPlan.toString
    assert(plan.contains("simindex"), "incremental dedup must scan the persisted index")
    val corpusScans = "documents\\.parquet".r.findAllIn(plan).length
    assert(corpusScans <= 1, s"plan scans documents $corpusScans times (expected ≤1: the batch read)")

    val got = inc.select($"b_doc", $"match_doc").as[(Long, Long)].collect().toSet
    // Expected: every near-dup pair (threshold 0.9, incl. identical-set
    // partners) with a batch-side member, oriented batch-first.
    val pairs = SparkEntry.queries("text_dedup_near")(spark, dir)
      .select($"d1", $"d2").as[(Long, Long)].collect()
    val expected = pairs.flatMap { case (d1, d2) =>
      Seq(d1 -> d2, d2 -> d1)
    }.filter { case (b, _) => b % 10 == 7 }.toSet
    assert(got == expected, s"incremental ${got.size} pairs vs expected ${expected.size}")
    assert(expected.nonEmpty, "fixture should give the batch at least one near-dup")
  }

  test("vec_index_incremental: batch top-3 from persisted index, exact re-rank scores") {
    SparkEntry.queries("vec_index_build")(spark, dir).collect()
    val inc = SparkEntry.queries("vec_index_incremental")(spark, dir)
    val plan = inc.queryExecution.executedPlan.toString
    assert(plan.contains("simindex"), "must scan the persisted index")
    assert("embeddings\\.parquet".r.findAllIn(plan).length <= 1,
      "only the batch read may touch the corpus table")
    val got = inc.select($"b_id", $"rnk", $"vec_id", $"score")
      .as[(Long, Int, Long, Double)].collect()
    assert(got.nonEmpty)
    assert(got.forall { case (b, r, v, _) => b % 10 == 7 && r <= 3 && v != b })
    // per-batch-vector ranks are unique and scores descending
    got.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2).distinct.length == sorted.length)
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sortBy(-(_: Double)).toSeq)
    }
  }

  test("vec_index_build persists vecs+bands; summary covers the corpus") {
    val summary = SparkEntry.queries("vec_index_build")(spark, dir).collect()
    assert(summary.length == 4, "one summary row per LSH band")
    val nVecs = summary.head.getAs[Long]("n_vecs")
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(nVecs == corpus, s"index covers $nVecs of $corpus vectors")
  }

  test("vec index: measured recall ≥ 0.9 on planted near-duplicate queries (the dedup regime)") {
    // The quantitative recall contract for the persisted-ANN probe
    // paths. Regime matters: the fixture's organic neighbors are random
    // vectors at cosine ~0.3–0.5, where NO sub-quadratic LSH recalls
    // reliably (sign-agreement p ≈ 0.63 ⇒ per-pair hit ~10% — vec_ann_ivf
    // is the mid-cosine path). The regime this index exists for is
    // near-DUPLICATE detection at cosine ≥ 0.9, where 4×16-bit bands
    // with Hamming-≤2 multi-probe recall ≥97% analytically — so the
    // contract is measured on PLANTED near-copies: perturb K corpus
    // vectors to cosine ≥ 0.985 and require ≥90% of them to be caught
    // by the same probe machinery the gates and batch entries share
    // (novelVectors: planted dup admitted ⇔ probe missed it).
    SparkEntry.queries("vec_index_build")(spark, dir).collect()
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val rnd = new scala.util.Random(7)
    val planted = corpus.take(40).map { case (id, v) =>
      val pert = v.map(x => x + (rnd.nextFloat() - 0.5f) * 0.15f * math.max(math.abs(x), 0.1f))
      (900000L + id, pert.toSeq)
    }
    // self-verify the planted cosines so the ground truth is explicit
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val byId = corpus.toMap
    val truth = planted.filter { case (pid, pv) => cos(byId(pid - 900000L), pv) >= 0.985 }
    assert(truth.length >= 30, s"perturbation too strong: only ${truth.length} planted pairs ≥0.985")
    val batch = truth.toSeq.toDF("vec_id", "embedding")
    // isolated namespace: this probe must not grow the shared index
    val admitted = graft.queries.IndexOps
      .novelVectors(spark, dir, batch, 0.985, "recalltest")
      .select($"vec_id").as[Long].collect().toSet
    val recall = 1.0 - admitted.size.toDouble / truth.length
    assert(recall >= 0.9,
      f"planted near-dup recall $recall%.3f < 0.9 (${admitted.size} of ${truth.length} planted dups missed)")
  }

  test("vec index band width is corpus-sized at build and frozen into the artifact") {
    // r14 verdict ask #1: the dial replaces the frozen w=16. Three
    // properties: (1) the dial keeps the Hamming-≤3 ring's expected
    // RANDOM collision mass per (probe, band) ≤ 3 until the w=28 plane
    // budget caps it; (2) it is monotone in n; (3) the artifact
    // round-trips the chosen w (vec_w file), so every later signer
    // reads the build's width.
    def masks3(w: Int): Long =
      1L + w + w.toLong * (w - 1) / 2 + w.toLong * (w - 1) * (w - 2) / 6
    val samples = Seq(100L, 282L, 283L, 500L, 2000L, 5000L, 20000L, 50000L,
      158000L, 200000L, 1000000L)
    for (n <- samples) {
      val w = graft.queries.VecOps.vecIndexBandBits(n)
      assert(w >= 16 && w <= 28)
      assert(n * masks3(w) <= 3L * (1L << w) || w == 28,
        s"dial at n=$n chose w=$w with ring mass ${n * masks3(w)} > ${3L * (1L << w)}")
      // minimality: one notch narrower would blow the bound
      if (w > 16)
        assert(n * masks3(w - 1) > 3L * (1L << (w - 1)),
          s"dial at n=$n chose w=$w but w-1 also satisfies the bound")
    }
    assert(samples.map(graft.queries.VecOps.vecIndexBandBits) ==
      samples.map(graft.queries.VecOps.vecIndexBandBits).sorted, "dial must be monotone")
    assert(graft.queries.VecOps.vecIndexBandBits(282) == 16)   // last of the w=16 class
    assert(graft.queries.VecOps.vecIndexBandBits(283) == 17)   // first step
    assert(graft.queries.VecOps.vecIndexBandBits(500) == 18)   // the sf fixtures' class
    assert(graft.queries.VecOps.vecIndexBandBits(50000) == 26) // the r14 cliff's class
    // artifact round-trip at the real fixture
    SparkEntry.queries("vec_index_build")(spark, dir).collect()
    val stored = graft.queries.IndexOps.readVecW(spark, graft.queries.IndexOps.indexDir(dir))
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(stored == graft.queries.VecOps.vecIndexBandBits(n),
      s"stored w=$stored != dial(${n})")
  }

  test("vec index: planted recall holds at a WIDE dialed width (synthetic 5k corpus)") {
    // The sf fixtures only exercise w=18; the cliff the dial cures
    // lives at 20k-50k corpora (w=24-26). A seeded synthetic 5k corpus
    // lands at w=22 and proves the whole artifact round-trip — build
    // signs at the dialed width, vec_w freezes it, novelVectors reads
    // it back — still catches planted near-duplicates. (Analytically:
    // cosine ≥0.985 ⇒ plane-flip p ≈ 0.055, Hamming-≤2 per-band hit
    // ~0.87 at w=22, 4 bands ⇒ ~99.97% — the 0.9 floor has margin.)
    val rnd = new scala.util.Random(13)
    val corpus = (0L until 5000L).map { id =>
      (id, Seq.fill(64)((rnd.nextDouble() * 2 - 1).toFloat), 0)
    }
    val tmp = java.nio.file.Files.createTempDirectory("vecwidth").toString
    corpus.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    // the throwaway source dir gets a throwaway lake index — delete it
    // after the test (unique temp names would otherwise accrete one
    // orphaned 5k index per run; same ownership rule as dropGate)
    def rmLake(): Unit = {
      rm(new java.io.File(graft.queries.IndexOps.indexDir(tmp)))
      rm(new java.io.File(graft.queries.IndexOps.indexDir(tmp, "widetest")))
    }
    try {
    val path = graft.queries.IndexOps.ensureVecIndexStatus(spark, tmp)._1
    assert(graft.queries.IndexOps.readVecW(spark, path) == 22,
      "5k corpus must land in the w=22 size class")
    val planted = corpus.take(40).map { case (id, v, _) =>
      (900000L + id,
        v.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f * math.max(math.abs(x), 0.1f)))
    }
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val byId = corpus.map(c => c._1 -> c._2).toMap
    val truth = planted.filter { case (pid, pv) => cos(byId(pid - 900000L), pv) >= 0.985 }
    assert(truth.length >= 30, s"perturbation too strong: only ${truth.length} ≥0.985")
    val admitted = graft.queries.IndexOps
      .novelVectors(spark, tmp, truth.toDF("vec_id", "embedding"), 0.985, "widetest")
      .select($"vec_id").as[Long].collect().toSet
    val recall = 1.0 - admitted.size.toDouble / truth.length
    assert(recall >= 0.9,
      f"planted recall $recall%.3f < 0.9 at w=22 (${admitted.size} of ${truth.length} missed)")
    } finally rmLake()
  }

  test("cluster labels are a version-stamped lake artifact: stale stamp rebuilds, then serves from the lake") {
    // corpus-static labels must not be re-propagated per session
    // (VERDICT r5 #3): text_dedup_cluster serves (doc_id, label) from
    // labels.parquet beside the sim index, keyed by the signature-logic
    // version. A stale stamp (older code version) must rebuild; a warm
    // artifact must be served without the propagation loop.
    val before = SparkEntry.queries("text_dedup_cluster")(spark, dir)
      .as[(Long, Long, Boolean)].collect().sorted.toSeq
    val stamp = new java.io.File(
      graft.queries.IndexOps.indexDir(dir) + "/labels.version")
    assert(stamp.exists(), "cluster run must leave a stamped lake artifact")
    java.nio.file.Files.write(stamp.toPath, "cc-v0:obsolete".getBytes("UTF-8"))
    // memoized frames would mask the staleness — evict, as a new session would start
    graft.queries.Frames.release(spark)
    val after = SparkEntry.queries("text_dedup_cluster")(spark, dir)
      .as[(Long, Long, Boolean)].collect().sorted.toSeq
    assert(after == before, "rebuild after stale stamp must reproduce identical labels")
    val restamped = new String(java.nio.file.Files.readAllBytes(stamp.toPath), "UTF-8")
    assert(restamped == graft.queries.TextOps.labels.stamp(spark, dir),
      s"stale labels stamp not refreshed: '$restamped'")
    // warm serve: a fresh session-equivalent (evicted memo) must read
    // the artifact, not re-run propagation — asserted by plan shape
    graft.queries.Frames.release(spark)
    val scans = scannedRoots(SparkEntry.queries("text_dedup_cluster")(spark, dir))
    assert(scans.exists(_._1 == "labels"), "warm path must serve labels from the lake")
  }

  test("rebuild recovery runs BEFORE the stamp: a crashed recovery is retried, not trusted") {
    // The gate crash-durability contract (round-6 review): when a
    // rebuild's recovery hook dies mid-way, the index must NOT be left
    // stamped servable — the next ensure must rebuild and re-run the
    // recovery. Simulated by a hook that throws on its first invocation.
    val ns = "crashspec"
    val path = graft.queries.IndexOps.indexDir(dir, ns)
    val admitted = Seq((900901L, "crashspec recovery sentinel tokens wholly unlike corpus text"))
      .toDF("doc_id", "text")
    // seed the namespace, then invalidate it as a version bump would
    graft.queries.IndexOps.ensureIndexStatus(spark, dir, ns)
    java.nio.file.Files.write(
      new java.io.File(s"$path/sim.version").toPath, "sim-v0:obsolete".getBytes("UTF-8"))
    intercept[RuntimeException] {
      graft.queries.IndexOps.ensureIndexStatus(spark, dir, ns,
        recover = _ => throw new RuntimeException("simulated crash mid-recovery"))
    }
    val stamp = new java.io.File(s"$path/sim.version")
    assert(!stamp.exists() ||
      new String(java.nio.file.Files.readAllBytes(stamp.toPath), "UTF-8")
        != graft.queries.IndexOps.simIndex.stamp(spark, dir),
      "a crashed recovery must not leave the index stamped current")
    // next ensure: rebuilds again AND the recovery hook runs to completion
    val (_, rebuilt) = graft.queries.IndexOps.ensureIndexStatus(spark, dir, ns,
      recover = p => graft.queries.IndexOps.appendToIndexAt(spark, p, admitted))
    assert(rebuilt, "post-crash ensure must rebuild (index was never stamped)")
    assert(new String(java.nio.file.Files.readAllBytes(stamp.toPath), "UTF-8")
      == graft.queries.IndexOps.simIndex.stamp(spark, dir))
    val recovered = spark.read.parquet(s"$path/sets.parquet")
      .filter($"sid" === 900901L).count()
    assert(recovered == 1, "recovery append must be visible in the rebuilt index")
  }

  test("single-query probes push literal bucket predicates into the sorted index scan") {
    SparkEntry.queries("sim_index_build")(spark, dir).collect()
    SparkEntry.queries("vec_index_build")(spark, dir).collect()
    // The serving contract: the probe's (band, bucket) point predicates
    // reach the parquet scan as PUSHED filters (the (band, bh)-sorted
    // row groups then stat-skip everything outside the probed buckets),
    // and the index scans carry NO dynamic-pruning subquery that would
    // duplicate the query-side subtree.
    val simPlan = SparkEntry.queries("sim_index_probe")(spark, dir)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(simPlan.contains("And(EqualTo(band,0),EqualTo(bh,") &&
      "EqualTo\\(band,".r.findAllIn(simPlan).length >= 16,
      s"sim probe must push all 16 (band, bh) point predicates:\n" +
        simPlan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
    val vecPlan = SparkEntry.queries("vec_index_probe")(spark, dir)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert("And\\(EqualTo\\(band,0\\),\\s*In\\(bk,".r.findFirstIn(vecPlan).isDefined &&
      "EqualTo\\(band,".r.findAllIn(vecPlan).length >= 4,
      s"vec probe must push the per-band multi-probe ring In(bk, …) filters:\n" +
        vecPlan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
    for ((p, n) <- Seq((simPlan, "sim"), (vecPlan, "vec")))
      assert(!p.contains("dynamicpruning"), s"$n probe scan must not need DPP")
  }

  test("rebuild triggered under a CURRENT stamp invalidates it before recovery (crash-durability)") {
    // The round-6 ADVICE hole: a rebuild can be triggered while the
    // version stamp is still current (here: a table's _SUCCESS lost to
    // a crashed compaction swap). If recovery then crashes, the stamp
    // left in place would make the base-only index read as servable and
    // silently drop admission history — the stamp must be invalidated
    // the moment the rebuild starts.
    val ns = "crashspec2"
    val path = graft.queries.IndexOps.indexDir(dir, ns)
    graft.queries.IndexOps.ensureIndexStatus(spark, dir, ns)
    val stamp = new java.io.File(s"$path/sim.version")
    assert(stamp.exists(), "seed build must stamp")
    val success = new java.io.File(s"$path/sets.parquet/_SUCCESS")
    assert(success.delete(), "fixture: simulate a crashed compaction swap")
    intercept[RuntimeException] {
      graft.queries.IndexOps.ensureIndexStatus(spark, dir, ns,
        recover = _ => throw new RuntimeException("simulated crash mid-recovery"))
    }
    assert(!stamp.exists() ||
      new String(java.nio.file.Files.readAllBytes(stamp.toPath), "UTF-8")
        != graft.queries.IndexOps.simIndex.stamp(spark, dir),
      "crashed recovery after a _SUCCESS-triggered rebuild left a CURRENT stamp")
    // and the next ensure rebuilds + recovers to a servable state
    val (_, rebuilt) = graft.queries.IndexOps.ensureIndexStatus(spark, dir, ns)
    assert(rebuilt, "post-crash ensure must rebuild")
    assert(new String(java.nio.file.Files.readAllBytes(stamp.toPath), "UTF-8")
      == graft.queries.IndexOps.simIndex.stamp(spark, dir))
  }

  test("append paths own a compaction cadence: repeated appends keep the file count bounded") {
    // Verdict item: the gates compact every 8 batches, but DIRECT
    // callers of appendToIndex had no cadence owner — N appends left
    // N× small files, degrading probe scans linearly with append
    // count. The append path itself must now hold the invariant: after
    // every appendToIndex return, the bands table's part-file count is
    // <= max(threshold, compacted size), with no explicit compact call.
    val ns = "cadencespec"
    val threshold = 6
    spark.conf.set("spark.graft.index.compactFiles", threshold.toString)
    try {
      val path = graft.queries.IndexOps.indexDir(dir, ns)
      // fresh namespace every run: the lake persists across sessions,
      // and replaying byte-identical appends would let compaction's
      // distinct() legitimately shrink the row count below the
      // fresh-run expectation asserted at the bottom
      rm(new java.io.File(path))
      graft.queries.IndexOps.ensureIndexStatus(spark, dir, ns)
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val sets0 = spark.read.parquet(s"$path/sets.parquet").count()
      var appended = 0L
      for (i <- 0 until 10) {
        // distinct synthetic ids per batch: every append admits new docs
        val batch = docs.filter($"doc_id" % 50 === i)
          .withColumn("doc_id", $"doc_id" + lit(1000000L * (i + 1)))
        appended += batch.filter(size(graft.Core.tokens(lower($"text"))) > 0).count()
        graft.queries.IndexOps.appendToIndex(spark, dir, batch, ns)
        val n = graft.queries.IndexOps.tableFileCount(spark, path, "bands")
        // invariant: count never exceeds compacted-baseline (4) +
        // threshold — the backstop counts APPEND growth over the
        // compacted layout, so a fresh compact never re-triggers
        assert(n <= 4 + threshold,
          s"after append $i the bands table holds $n part-files (> 4+$threshold): no cadence fired")
      }
      // compaction must only have COMPACTED — every appended set survives
      val setsN = spark.read.parquet(s"$path/sets.parquet").count()
      assert(setsN == sets0 + appended,
        s"sets rows $setsN != base $sets0 + appended $appended after compaction cycles")
    } finally spark.conf.unset("spark.graft.index.compactFiles")
  }

  test("compaction never re-stamps a family it did not validate (no stale-stamp laundering)") {
    val ns = "compactspec"
    val path = graft.queries.IndexOps.indexDir(dir, ns)
    graft.queries.IndexOps.ensureIndexStatus(spark, dir, ns)
    graft.queries.IndexOps.ensureVecIndexStatus(spark, dir, ns)
    // sim family goes stale (an old code version built it); vec stays current
    java.nio.file.Files.write(
      new java.io.File(s"$path/sim.version").toPath, "sim-v0:obsolete".getBytes("UTF-8"))
    graft.queries.IndexOps.compactIndex(spark, dir, ns)
    val simStamp = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(s"$path/sim.version").toPath), "UTF-8")
    assert(simStamp == "sim-v0:obsolete",
      s"compaction laundered a stale sim stamp into '$simStamp'")
    // the current vec family was compacted and is still servable
    assert(new java.io.File(s"$path/vecs.parquet/_SUCCESS").exists())
    val (_, vecRebuilt) = graft.queries.IndexOps.ensureVecIndexStatus(spark, dir, ns)
    assert(!vecRebuilt, "compaction must leave a current family servable")
    // and the stale sim family still rebuilds through its ensure path
    val (_, simRebuilt) = graft.queries.IndexOps.ensureIndexStatus(spark, dir, ns)
    assert(simRebuilt, "stale family must still rebuild after compaction")
  }

  test("vec_index_probe re-ranks persisted candidates with exact cosine") {
    SparkEntry.queries("vec_index_build")(spark, dir).collect()
    val probe = SparkEntry.queries("vec_index_probe")(spark, dir)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("simindex"), "probe must scan the persisted index")
    val corpusScans = "embeddings\\.parquet".r.findAllIn(plan).length
    assert(corpusScans <= 1, s"probe plan scans embeddings $corpusScans times (expected ≤1: the 1-row query side)")

    val got = probe.as[(Long, Double)].collect().toSeq
    assert(got.nonEmpty && got.length <= 5)
    assert(got.map(_._2) == got.map(_._2).sorted.reverse, "scores must be descending")
    assert(!got.exists(_._1 == 0L), "query vector must not match itself")
    // Re-rank exactness: each returned score equals the exact cosine
    // between vector 0 and the returned id (LSH only bounds WHICH
    // candidates are scored, never the score itself).
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("emb"))
      .as[(Long, Array[Double])].collect().toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    got.foreach { case (id, score) =>
      val exact = BigDecimal(cos(e(0L), e(id)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(exact - score) < 1e-9, s"id $id: probe $score vs exact $exact")
    }
  }
}
