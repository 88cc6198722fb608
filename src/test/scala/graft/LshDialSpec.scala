package graft

import org.apache.spark.sql.functions._

/** The corpus-sized LSH band-width dial (VecOps.lshBandBits): unit
  * pins for the width formula and plane prefix-stability, plus an
  * integration run on a synthetic corpus large enough to engage a
  * non-gate width — bounded candidate mass AND planted near-dup recall
  * at the dialed width (the two directions a dial regression can
  * break).
  */
class LshDialSpec extends SparkSpecBase {
  import spark.implicits._

  test("lshBandBits: gate fixtures keep w=16; width grows with n; capped at 28") {
    assert(queries.VecOps.lshBandBits(500) == 16)   // sf0.001/sf0.01 embeddings
    assert(queries.VecOps.lshBandBits(2000) == 17)  // sf0.1
    assert(queries.VecOps.lshBandBits(20000) == 21) // 10x ScaleGen corpus
    assert(queries.VecOps.lshBandBits(1000000000L) == 28)
    // monotone: more vectors never narrows the bands
    val widths = Seq(100L, 1000L, 5000L, 20000L, 100000L, 1000000L, 100000000L)
      .map(queries.VecOps.lshBandBits)
    assert(widths == widths.sorted, s"dial not monotone: $widths")
  }

  test("planes are prefix-stable and probe masks enumerate Hamming<=2 exactly") {
    // a width change must not re-randomize the leading planes the
    // fixed-width persisted indexes signed with
    assert(queries.VecOps.lshPlanesN(112).take(64) == queries.VecOps.lshPlanes)
    for (w <- Seq(16, 19, 23, 28)) {
      val masks = queries.VecOps.probeMasks(w, 2)
      assert(masks.length == 1 + w + w * (w - 1) / 2)
      assert(masks.distinct.length == masks.length)
      assert(masks.forall(m => m >= 0 && m < (1L << w)))
      assert(masks.forall(m => java.lang.Long.bitCount(m) <= 2))
      // the query-bounded entries' ring adds exactly the C(w,3) triples
      val wide = queries.VecOps.probeMasks(w, 3)
      assert(wide.length == masks.length + w * (w - 1) * (w - 2) / 6)
      assert(wide.distinct.length == wide.length && wide.startsWith(masks))
    }
  }

  test("dialed width on a 6k corpus: candidates stay ~linear, planted near-dups recalled") {
    assert(queries.VecOps.lshBandBits(6040) == 19, "fixture sized to engage a non-gate width")
    val rnd = new scala.util.Random(13)
    val base = (0 until 6000).map { i =>
      (i.toLong, Seq.fill(64)((rnd.nextFloat() - 0.5f) * 2f), i % 5L)
    }
    // 40 planted near-copies of the first 40 vectors (cosine ~0.99 —
    // the near-dup regime this join serves)
    val planted = base.take(40).map { case (id, v, lab) =>
      (900000L + id,
        v.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f * math.max(math.abs(x), 0.05f)),
        lab)
    }
    val dir = java.nio.file.Files.createTempDirectory("lshdial").toString
    (base ++ planted).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    try {
      val out = SparkEntry.queries("vec_knn_join_lsh")(spark, dir)
        .select($"a_id", $"b_id").as[(Long, Long)].collect()
      // recall: each planted copy's top-3 must contain its original
      // (cosine ~0.99 vs organic neighbors ~0.5 — rank 1 when recalled)
      val byA = out.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val recalled = planted.count { case (pid, _, _) =>
        byA.getOrElse(pid, Set.empty).contains(pid - 900000L)
      }
      assert(recalled >= 36, s"planted near-dup recall $recalled/40 < 0.9 at dialed width")
      // selectivity: candidate mass at the dialed width stays ~linear
      // (random load ~3/vector/band by construction). The fixed w=16
      // config would generate ~50 candidates per vector here — the
      // 25n bound separates the two regimes.
      val n = 6040L
      val sigd = spark.read.parquet(s"$dir/embeddings.parquet")
        .select($"vec_id", $"embedding".cast("array<double>").as("emb"))
        .select($"vec_id", posexplode(queries.VecOps.lshBandKeysW($"emb", 19)).as(Seq("band", "bk")))
      val probes = sigd.select($"vec_id", $"band",
        explode(queries.VecOps.probeKeys($"bk", 19, 2)).as("bk"))
      val candidates = probes.as("x").join(sigd.as("y"),
          $"x.band" === $"y.band" && $"x.bk" === $"y.bk" && $"x.vec_id" =!= $"y.vec_id")
        .select($"x.vec_id", $"y.vec_id").distinct().count()
      assert(candidates <= 25 * n,
        s"candidate mass $candidates exceeds ~linear bound ${25 * n} at dialed width 19")
    } finally {
      queries.Frames.release(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
