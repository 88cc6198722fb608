package graft

import org.apache.spark.sql.functions._

/** Persisted IVF ANN index: build-once-serve-many applied to the coarse
  * quantizer. The load-bearing contracts: the serving path answers
  * byte-identically to the in-plan `vec_ann_ivf` (same kmeansCells
  * definition), the probe plan prunes the cells scan to the probed
  * partitions instead of scanning the corpus, and a stale persisted
  * quantizer rebuilds instead of serving old geometry.
  */
class IvfSpec extends SparkSpecBase {
  import spark.implicits._

  private val dir = sf("sf0.001")

  test("ivf_index_build persists centroids + cell-partitioned vectors covering the corpus") {
    val summary = SparkEntry.queries("ivf_index_build")(spark, dir).collect()
    val nCells = summary.head.getAs[Long]("n_cells")
    assert(nCells >= 1 && nCells <= 64, s"K=64 quantizer produced $nCells cells")
    assert(summary.length == nCells, "one summary row per non-empty cell")
    val covered = summary.map(_.getAs[Long]("n_vecs")).sum
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(covered == corpus, s"cells cover $covered of $corpus vectors")
    val base = graft.queries.IndexOps.indexDir(dir)
    for (sub <- Seq("ivf_centroids.parquet", "ivf_cells.parquet"))
      assert(new java.io.File(s"$base/$sub").exists())
    // the cells table is physically partitioned by cell — the layout the
    // probe's partition pruning depends on
    val cellDirs = new java.io.File(s"$base/ivf_cells.parquet")
      .listFiles().count(f => f.isDirectory && f.getName.startsWith("c_id="))
    assert(cellDirs == nCells, s"$cellDirs c_id= partition dirs for $nCells cells")
  }

  test("ivf_index_probe answers byte-identically to the in-plan vec_ann_ivf") {
    SparkEntry.queries("ivf_index_build")(spark, dir).collect()
    val served = SparkEntry.queries("ivf_index_probe")(spark, dir)
      .as[(Long, Double)].collect().toSeq
    val inPlan = SparkEntry.queries("vec_ann_ivf")(spark, dir)
      .as[(Long, Double)].collect().toSeq
    assert(served == inPlan,
      s"persisted-quantizer probe $served drifted from in-plan answer $inPlan")
  }

  test("spark.graft.ivf.nprobe dial moves every consumer together, byte-identically") {
    // the recall/cost dial must not be able to desync the paths that
    // answer byte-identically: all consumers route through the one
    // ivfProbe definition, so a session override changes them in step
    SparkEntry.queries("ivf_index_build")(spark, dir).collect()
    val default = SparkEntry.queries("vec_ann_ivf")(spark, dir)
      .as[(Long, Double)].collect().toSeq
    spark.conf.set("spark.graft.ivf.nprobe", "3")
    try {
      val served = SparkEntry.queries("ivf_index_probe")(spark, dir)
        .as[(Long, Double)].collect().toSeq
      val inPlan = SparkEntry.queries("vec_ann_ivf")(spark, dir)
        .as[(Long, Double)].collect().toSeq
      assert(served == inPlan,
        s"nprobe=3: persisted probe $served drifted from in-plan $inPlan")
      // and the dial actually took effect (narrower probe on this
      // random-vector fixture must lose at least one of the top-5)
      assert(inPlan != default,
        "nprobe=3 answered identically to nprobe=8 — conf not consulted")
    } finally spark.conf.unset("spark.graft.ivf.nprobe")
  }

  test("ivf_index_probe prunes: no quantizer recompute, cells scan partition-pruned") {
    SparkEntry.queries("ivf_index_build")(spark, dir).collect()
    val probe = SparkEntry.queries("ivf_index_probe")(spark, dir)
    val scans = scannedRoots(probe)
    assert(scans.exists(_._1 == "ivf_cells"), "probe must scan the persisted index")
    // Every corpus access must be the pushed-down 1-row query read — a
    // quantizer recompute (k-means over all embeddings) would appear as
    // an UNFILTERED embeddings scan. (DPP's duplicating subquery may
    // legitimately repeat the filtered 1-row scan; broadcast-exchange
    // reuse elides it at execution.)
    val corpusScans = scans.collect { case ("embeddings", f) => f.toString }
    assert(corpusScans.nonEmpty && corpusScans.forall(_.contains("EqualTo(vec_id,0)")),
      s"probe plan contains a non-query-row corpus scan:\n${corpusScans.mkString("\n")}")
    // the cells scan must carry a dynamic partition filter on c_id
    // (pruned by the broadcast nprobe-row probe side): the literal form
    // of "a probe scans ~nprobe/K of the corpus"
    val cellsScan = scans.collect { case ("ivf_cells", f) => f.toString }.mkString("\n")
    assert(cellsScan.contains("dynamicpruning"),
      s"cells scan is not partition-pruned:\n$cellsScan")
    probe.collect()
  }

  test("ivf_index_incremental: batch top-3, exact re-rank scores, quantizer from the lake") {
    SparkEntry.queries("ivf_index_build")(spark, dir).collect()
    val inc = SparkEntry.queries("ivf_index_incremental")(spark, dir)
    val scans = scannedRoots(inc)
    assert(scans.exists(_._1 == "ivf_cells"), "must scan the persisted index")
    // every corpus access must be the pushed-down batch read (vec_id %
    // 10 == 7) — an unfiltered scan would mean quantizer recompute
    val corpusScans = scans.collect { case ("embeddings", f) => f.toString }
    assert(corpusScans.nonEmpty && corpusScans.forall(_.contains("pmod(vec_id")),
      s"plan contains a non-batch corpus scan:\n${corpusScans.mkString("\n")}")
    // the cells scan is dynamically pruned to the batch's probed cells
    val cellsScan = scans.collect { case ("ivf_cells", f) => f.toString }.mkString("\n")
    assert(cellsScan.contains("dynamicpruning"),
      s"cells scan is not partition-pruned:\n$cellsScan")
    val got = inc.as[(Long, Int, Long, Double)].collect()
    assert(got.nonEmpty)
    assert(got.forall { case (b, r, v, _) => b % 10 == 7 && r <= 3 && v != b })
    // per-batch-vector ranks unique, scores descending
    got.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2).distinct.length == sorted.length)
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sortBy(-(_: Double)).toSeq)
    }
    // re-rank exactness: each reported score is the exact cosine of the
    // pair (IVF bounds WHICH candidates are scored, never the score)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("emb"))
      .as[(Long, Array[Double])].collect().toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    got.foreach { case (b, _, v, score) =>
      val exact = BigDecimal(cos(e(b), e(v)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(exact - score) < 1e-9, s"pair ($b,$v): reported $score vs exact $exact")
    }
  }

  test("ivf_index_incremental: measured top-3 recall vs exact stays above the floor on BOTH gate fixtures") {
    // The quantitative recall contract for the batch ANN lookup, the
    // vec_ann_ivf convention: on THIS fixture's random vectors (no
    // cluster structure — true neighbors sit at cosine ~0.3-0.5 and
    // scatter uniformly across cells) the shared serving dial
    // (VecOps.ivfNprobe = 8 of K=64) scans ~12.5% of the corpus and
    // measured top-3 recall is ~0.7 at both gate SFs; real embedding
    // corpora cluster, recalling far higher at the same scan fraction.
    // Floor at 0.65 (round 12, tightened from 0.5 as a regression
    // guard at the measured value minus margin) so a broken quantizer,
    // assignment, or probe regression fails CI instead of silently
    // degrading answers.
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    for (d <- Seq(sf("sf0.001"), sf("sf0.01"))) {
      SparkEntry.queries("ivf_index_build")(spark, d).collect()
      val got = SparkEntry.queries("ivf_index_incremental")(spark, d)
        .select($"b_id", $"vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val e = spark.read.parquet(s"$d/embeddings.parquet")
        .select($"vec_id", $"embedding".cast("array<double>").as("emb"))
        .as[(Long, Array[Double])].collect()
      val batch = e.filter(_._1 % 10 == 7)
      val hits = batch.map { case (b, bemb) =>
        val exact = e.filter(_._1 != b)
          .map { case (v, ve) =>
            (BigDecimal(cos(bemb, ve)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, v)
          }
          .sortBy { case (s, v) => (-s, v) }.take(3).map(_._2).toSet
        exact.intersect(got.getOrElse(b, Set.empty)).size
      }
      val recall = hits.sum.toDouble / (batch.length * 3)
      assert(recall >= 0.65,
        f"$d: IVF incremental top-3 recall $recall%.3f < 0.65 (measured ~0.7 at this seed)")
    }
  }

  test("appendToIvfIndex grows cells without re-clustering; rows land in their nearest cell") {
    SparkEntry.queries("ivf_index_build")(spark, dir).collect()
    val base = graft.queries.IndexOps.indexDir(dir)
    val before = spark.read.parquet(s"$base/ivf_cells.parquet").count()
    // batch = near-copies of corpus vectors under fresh ids; carries
    // label because ivf-v2 appends must supply exactly the metadata
    // columns the build carried (enforced with a loud require — a
    // label-less append would land rows filtered probes silently skip)
    val batch = spark.read.parquet(s"$dir/embeddings.parquet")
      .limit(5)
      .select((col("vec_id") + 800000L).as("vec_id"), col("embedding"), col("label"))
    intercept[IllegalArgumentException] {
      graft.queries.IvfIndex.appendToIvfIndex(spark, dir, batch.drop("label"))
    }
    graft.queries.IvfIndex.appendToIvfIndex(spark, dir, batch)
    val cells = spark.read.parquet(s"$base/ivf_cells.parquet")
    assert(cells.count() == before + 5, "append must add exactly the batch rows")
    // the append must NOT invalidate the stamp (no rebuild on next use)
    val stamp = new java.io.File(s"$base/ivf.version")
    assert(new String(java.nio.file.Files.readAllBytes(stamp.toPath), "UTF-8")
      == graft.queries.IvfIndex.ivfIndex.stamp(spark, dir))
    // each appended vector landed in its brute-force nearest cell (max
    // cosine, ties on smallest c_id) — the same cell a rebuild's
    // assignment pass would pick
    val cents = spark.read.parquet(s"$base/ivf_centroids.parquet")
      .as[(Long, Array[Double], Double)].collect()
    val got = cells.filter($"vec_id" >= 800000L)
      .select($"vec_id", $"emb", $"c_id".cast("long"))
      .as[(Long, Array[Double], Long)].collect()
    assert(got.length == 5)
    got.foreach { case (vid, emb, cid) =>
      val n = math.sqrt(emb.map(x => x * x).sum)
      val best = cents.map { case (c, ce, cn) =>
        val d = BigDecimal(emb.zip(ce).map { case (x, y) => x * y }.sum / (n * cn))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (-d, c)
      }.min._2
      assert(cid == best, s"vector $vid appended to cell $cid, nearest is $best")
    }
    // compaction: appends add one file per touched cell per batch —
    // compactIndex must restore ~one file per cell while PRESERVING
    // the cell-partitioned layout and every row (incl. the appends)
    def dataFiles() = filesUnder(new java.io.File(s"$base/ivf_cells.parquet"))
      .count(_.getName.endsWith(".parquet"))
    val rowsBefore = cells.select($"vec_id", $"c_id".cast("long"))
      .as[(Long, Long)].collect().sorted.toSeq
    val filesGrown = dataFiles()
    graft.queries.IndexOps.compactIndex(spark, dir)
    val cellDirs = new java.io.File(s"$base/ivf_cells.parquet")
      .listFiles().count(f => f.isDirectory && f.getName.startsWith("c_id="))
    assert(dataFiles() <= cellDirs,
      s"compaction left ${dataFiles()} files for $cellDirs cells (was $filesGrown)")
    val rowsAfter = spark.read.parquet(s"$base/ivf_cells.parquet")
      .select($"vec_id", $"c_id".cast("long"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(rowsAfter == rowsBefore, "compaction must preserve every (vec_id, c_id) row")
    // restore the pristine corpus-only index for any later consumer
    graft.queries.IvfIndex.ivfIndex.rebuild(spark, dir)
  }

  test("stale or uncommitted persisted quantizer is rebuilt, not served") {
    SparkEntry.queries("ivf_index_build")(spark, dir).collect()
    val stamp = new java.io.File(graft.queries.IndexOps.indexDir(dir) + "/ivf.version")
    assert(stamp.exists(), "build must write a quantizer-logic stamp")
    java.nio.file.Files.write(stamp.toPath, "ivf-v0:obsolete".getBytes("UTF-8"))
    SparkEntry.queries("ivf_index_probe")(spark, dir).collect()
    val restamped = new String(java.nio.file.Files.readAllBytes(stamp.toPath), "UTF-8")
    assert(restamped == graft.queries.IvfIndex.ivfIndex.stamp(spark, dir),
      s"probe served a quantizer stamped '$restamped' without rebuilding")
    val success = new java.io.File(
      graft.queries.IndexOps.indexDir(dir) + "/ivf_cells.parquet/_SUCCESS")
    assert(success.exists())
    success.delete()
    SparkEntry.queries("ivf_index_probe")(spark, dir).collect()
    assert(success.exists(), "probe served uncommitted cells without rebuilding")
  }
}
