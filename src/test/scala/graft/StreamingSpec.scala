package graft

import graft.streaming.Streams
import graft.streaming.Streams.Ev
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** SURVEY.md §2.9 U-rows: scripted MemoryStream timelines with
  * deterministic assertions (watermark semantics, bounded-state dedup,
  * custom state, late-data drop).
  */
class StreamingSpec extends SparkSpecBase with StreamRestartCases {
  import spark.implicits._

  private def ts(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:$sec%02d")

  test("stream_tumbling_wm: tumbling window counts with watermark") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    in.addData(
      Ev(1, 1, "view", ts(0, 10), 1.0),
      Ev(2, 1, "view", ts(0, 40), 2.0),
      Ev(3, 2, "click", ts(1, 5), 3.0))
    Streams.runToMemory(Streams.tumblingCounts(in.toDF()), "tumbling_out", OutputMode.Complete())
    val rows = spark.table("tumbling_out")
      .select($"w_start".cast("string"), $"event_type", $"n", $"total")
      .as[(String, String, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(rows.toSeq == Seq(
      ("2026-01-01 10:00:00", "view", 2L, 3.0),
      ("2026-01-01 10:01:00", "click", 1L, 3.0)))
  }

  test("stream_dedup: duplicate event_ids within watermark are dropped, even re-stamped") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    in.addData(
      Ev(1, 1, "view", ts(0), 1.0),
      Ev(1, 1, "view", ts(0), 1.0),     // exact dup
      Ev(1, 1, "view", ts(0, 45), 1.0), // redelivery with re-stamped ts
      Ev(2, 1, "view", ts(0, 30), 2.0))
    Streams.runToMemory(Streams.dedupStream(in.toDF()), "dedup_out", OutputMode.Append())
    assert(spark.table("dedup_out").count() == 2)
  }

  test("stream_stateful: mapGroupsWithState accumulates across batches") {
    statefulAccumulateCase() // shared body — StreamRestartCases (RocksDB matrix)
  }

  test("stream_static_join: events enrich from a broadcast static dim") {
    implicit val sc = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val in = MemoryStream[Ev]
    in.addData(
      Ev(1, 1, "view", ts(0), 1.0),
      Ev(2, 2, "view", ts(1), 2.0),
      Ev(3, 9, "view", ts(2), 3.0)) // no dim row -> null tier (left join)
    Streams.runToMemory(
      Streams.enrichWithDim(in.toDF(), dim, "user_id"), "enrich_out", OutputMode.Append())
    val rows = spark.table("enrich_out")
      .select($"event_id", $"tier").as[(Long, Option[String])].collect().sortBy(_._1)
    assert(rows.toSeq == Seq((1L, Some("gold")), (2L, Some("silver")), (3L, None)))
  }

  test("stream_flatmap_state: milestone crossings emit 0..n rows per batch, state carries") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streams.milestoneCrossings(in.toDS(), 5.0).toDF()
      .writeStream.format("memory").queryName("milestone_out")
      .outputMode(OutputMode.Update()).start()
    in.addData(Ev(1, 7, "buy", ts(0), 3.0))  // total 3.0 -> no crossing
    q.processAllAvailable()
    in.addData(Ev(2, 7, "buy", ts(1), 13.0)) // total 16.0 -> crosses 5 and 10 and 15
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("milestone_out")
      .as[Streams.Crossing].collect().sortBy(_.milestone)
    assert(rows.toSeq == Seq(
      Streams.Crossing(7, 5.0, 16.0),
      Streams.Crossing(7, 10.0, 16.0),
      Streams.Crossing(7, 15.0, 16.0)))
  }

  test("stream_attribution: time-decay credits match the batch integer formula; state evicts and caps") {
    attributionCrossBatchCase() // shared body - StreamRestartCases (RocksDB matrix)
  }

  test("stream_attribution: view buffer is capped and out-of-window views earn nothing") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streams.streamAttribution(in.toDS()).toDF()
      .writeStream.format("memory").queryName("attr_cap_out")
      .outputMode(OutputMode.Append()).start()
    // 70 views: only the newest 64 survive the cap; the first 6 ids drop
    val views = (1 to 70).map(i => Ev(i, 9, "view", ts(0, i % 60), 1.0))
    in.addData(views: _*)
    // a stale view 8 days before the purchase would be in-window only if
    // eviction failed
    in.addData(Ev(200, 9, "view", Timestamp.valueOf("2025-12-20 10:00:00"), 1.0))
    in.addData(Ev(300, 9, "purchase", Timestamp.valueOf("2026-01-01 12:00:00"), 1.0))
    q.processAllAvailable()
    q.stop()
    val credited = spark.table("attr_cap_out").as[Streams.Credit].collect()
      .map(_.v_id).toSet
    assert(!credited.exists(_ <= 6), "capped-out views must not earn credit")
    assert(!credited.contains(200L), "out-of-window view must not earn credit")
    assert(credited.size == 63, s"expected 63 credited views, got ${credited.size}")
  }

  test("stream_stream_join: purchases match same-user views within the 5-minute interval") {
    implicit val sc = spark.sqlContext
    val views = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    views.addData(
      Ev(10, 1, "view", ts(0), 0.0),   // in-window for p20 (10:03)
      Ev(11, 1, "view", ts(1), 0.0),   // in-window for p20
      Ev(12, 2, "view", ts(0), 0.0),   // other user
      Ev(13, 1, "view", ts(20), 0.0))  // far future: out of window
    purchases.addData(
      Ev(20, 1, "purchase", ts(3), 1.0),
      Ev(21, 3, "purchase", ts(3), 1.0)) // user with no views: no match
    Streams.runToMemory(
      Streams.viewPurchaseJoin(views.toDF(), purchases.toDF()),
      "ssjoin_out", OutputMode.Append())
    val rows = spark.table("ssjoin_out")
      .select($"p_id", $"v_id").as[(Long, Long)].collect().sorted.toSeq
    assert(rows == Seq((20L, 10L), (20L, 11L)), s"got $rows")
  }

  test("stream_stream_join_outer: view-less purchases emit null, but only after the watermark closes their window") {
    implicit val sc = spark.sqlContext
    val views = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val q = Streams.viewPurchaseJoinOuter(views.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("ssjoin_outer_out")
      .outputMode(OutputMode.Append()).start()
    views.addData(Ev(10, 1, "view", ts(0), 0.0))
    purchases.addData(
      Ev(20, 1, "purchase", ts(3), 1.0),  // matches view 10
      Ev(21, 3, "purchase", ts(3), 1.0))  // no view for user 3
    q.processAllAvailable()
    // the matched pair emits immediately; the unmatched purchase must
    // NOT have a null row yet — a matching view could still arrive
    val early = spark.table("ssjoin_outer_out")
      .select($"p_id", $"v_id").as[(Long, Option[Long])].collect().toSeq
    assert(early == Seq((20L, Some(10L))), s"got $early")
    // advance BOTH watermarks far past p21's join window (two rounds:
    // the watermark updates at end-of-batch, and outer null rows emit
    // in the batch AFTER the state is provably unmatched)
    views.addData(Ev(90, 9, "view", ts(60), 0.0))
    purchases.addData(Ev(91, 9, "purchase", ts(120), 0.0))
    q.processAllAvailable()
    views.addData(Ev(92, 9, "view", ts(180), 0.0))
    purchases.addData(Ev(93, 9, "purchase", ts(240), 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssjoin_outer_out")
      .select($"p_id", $"v_id").as[(Long, Option[Long])].collect().toSet
    assert(rows.contains((21L, None)),
      s"view-less purchase should emit a null row after watermark close; got $rows")
    assert(rows.contains((20L, Some(10L))) && !rows.contains((21L, Some(10L))), s"got $rows")
  }

  test("stream_session_wm: gap-separated bursts form distinct sessions; closed sessions emit once") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streams.sessionWindowCounts(in.toDF())
      .writeStream.format("memory").queryName("session_out")
      .outputMode(OutputMode.Append()).start()
    // burst 1: two events 1 minute apart → one session (gap < 5 min)
    in.addData(Ev(1, 7, "view", ts(0), 1.0), Ev(2, 7, "view", ts(1), 2.0))
    q.processAllAvailable()
    // burst 2: 19 minutes later → new session for user 7, and the
    // advancing watermark (10:18) closes+emits burst 1's session
    in.addData(Ev(3, 7, "view", ts(20), 4.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("session_out")
      .select($"s_start".cast("string"), $"s_end".cast("string"),
        $"user_id", $"n_events", $"total")
      .as[(String, String, Long, Long, Double)].collect().toSeq
    // only the CLOSED session is emitted (burst 2 is still open when the
    // stream stops) — session end = last event + 5-minute gap
    assert(rows == Seq(("2026-01-01 10:00:00", "2026-01-01 10:06:00", 7L, 2L, 3.0)),
      s"got $rows")
  }

  test("stream_upsert: latest-per-key wins across batches; replay is idempotent") {
    implicit val sc = spark.sqlContext
    val lake = java.nio.file.Files.createTempDirectory("graft-supsert").toString
    val in = MemoryStream[Ev]
    val q = Streams.upsertToLake(in.toDF(), lake, "user_state", "user_id", "ts")
    // batch 1: users 1 and 2 (user 2 twice — latest within batch wins)
    in.addData(
      Ev(1, 1, "view", ts(0), 1.0),
      Ev(2, 2, "view", ts(0), 2.0),
      Ev(3, 2, "buy", ts(1), 3.0))
    q.processAllAvailable()
    // batch 2: newer state for user 2, new user 3
    in.addData(Ev(4, 2, "view", ts(5), 9.0), Ev(5, 3, "view", ts(5), 4.0))
    q.processAllAvailable()
    q.stop()
    def table() = spark.read.parquet(s"$lake/user_state.parquet")
      .select($"user_id", $"event_id", $"value")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val afterStream = table()
    assert(afterStream == Seq((1L, 1L, 1.0), (2L, 4L, 9.0), (3L, 5L, 4.0)),
      s"latest per key must win: $afterStream")
    // at-least-once safety: re-delivering batch 2 must not change the table
    val replay = Seq(
      Ev(4, 2, "view", ts(5), 9.0), Ev(5, 3, "view", ts(5), 4.0)).toDF()
    graft.sources.Ingest.upsertBronze(replay, lake, "user_state", "user_id")
    assert(table() == afterStream, "replaying a batch must be a no-op")
  }

  test("stream_sim_dedup: rejects index/cross-batch/intra-batch dups; replay is idempotent") {
    implicit val sc = spark.sqlContext
    val corpusDir = sf("sf0.001")
    // the gate grows a PRIVATE index namespace seeded from the corpus —
    // the shared corpus index the oracled batch entries probe is never
    // touched (asserted at the end)
    SparkEntry.queries("sim_index_build")(spark, corpusDir).collect()
    val sharedSets = spark.read.parquet(
      graft.queries.IndexOps.indexDir(corpusDir) + "/sets.parquet").count()
    val lake = java.nio.file.Files.createTempDirectory("graft-sdedup").toString
    val doc0Text = spark.read.parquet(s"$corpusDir/documents.parquet")
      .filter($"doc_id" === 0).select($"text").as[String].head()
    val textA = "zzqx wvut ponm lkji hgfe dcba"
    val textB = "qqzz aabb ccdd eeff gghh iijj"
    val in = MemoryStream[(Long, String)]
    val q = Streams.dedupIngest(
      in.toDF().toDF("doc_id", "text"), corpusDir, lake, "admitted")
    // batch 1: a copy of indexed doc 0 (rejected) + novel text A (admitted)
    in.addData((10000L, doc0Text), (10001L, textA))
    q.processAllAvailable()
    // batch 2: text A AGAIN (cross-batch dup of the just-admitted 10001
    // — only caught because admission grew the index) + novel text B
    // twice in ONE batch (intra-batch: smaller id wins)
    in.addData((10002L, textA), (10003L, textB), (10004L, textB))
    q.processAllAvailable()
    q.stop()
    val admitted = spark.read.parquet(s"$lake/admitted.parquet")
      .select($"doc_id").as[Long].collect().toSet
    assert(admitted == Set(10001L, 10003L),
      s"expected {10001, 10003} admitted, got $admitted")
    // replay semantics: re-running batch 2's admission AFTER its docs
    // were appended to the gate's index must admit the same rows
    // (self-matches ignored), not reject everything — the at-least-once
    // contract. The probe goes to the GATE's namespace, where admission
    // history lives.
    val ns = Streams.gateNamespace(lake, "admitted")
    val replay = Seq((10002L, textA), (10003L, textB), (10004L, textB))
      .toDF("doc_id", "text")
    val readmitted = graft.queries.IndexOps.novelDocs(spark, corpusDir, replay, ns)
      .select($"doc_id").as[Long].collect().toSet
    assert(readmitted == Set(10003L), s"replay must re-admit identically: $readmitted")
    // namespace isolation: the shared corpus index is unchanged by the
    // gate's growth (the documents-only SQL oracles depend on this)
    val sharedAfter = spark.read.parquet(
      graft.queries.IndexOps.indexDir(corpusDir) + "/sets.parquet").count()
    assert(sharedAfter == sharedSets,
      s"gate growth leaked into the shared corpus index: $sharedSets -> $sharedAfter")
  }

  for ((form, lakeOf) <- lakeDirForms) {
    test(s"stream_sim_dedup: index rebuild restores admission history from the lake$form") {
      implicit val sc = spark.sqlContext
      val corpusDir = sf("sf0.001")
      val lake = lakeOf(java.nio.file.Files.createTempDirectory("graft-srebuild").toString)
      val name = "admitted"
      val ns = Streams.gateNamespace(lake, name)
      val textA = "zzqx wvut ponm lkji hgfe dcba"
      val textB = "qqzz aabb ccdd eeff gghh iijj"
      val in = MemoryStream[(Long, String)]
      val q = Streams.dedupIngest(in.toDF().toDF("doc_id", "text"), corpusDir, lake, name)
      in.addData((30000L, textA))
      q.processAllAvailable()
      // simulate an index left by OLDER signature logic: the gate must
      // rebuild from the corpus AND re-sign its admitted lake docs before
      // gating the next batch — otherwise 30001 (a copy of admitted
      // 30000) would be re-admitted and the gate invariant broken
      val stamp = new java.io.File(
        graft.queries.IndexOps.indexDir(corpusDir, ns) + "/sim.version")
      java.nio.file.Files.write(stamp.toPath, "sim-v0:obsolete".getBytes("UTF-8"))
      in.addData((30001L, textA), (30002L, textB))
      q.processAllAvailable()
      q.stop()
      val admitted = spark.read.parquet(s"$lake/$name.parquet")
        .select($"doc_id").as[Long].collect().toSet
      assert(admitted == Set(30000L, 30002L),
        s"rebuild must not reset admission history: $admitted")
    }
  }

  test("incremental cluster maintenance: gate labels equal a from-scratch rebuild over the grown corpus") {
    implicit val sc = spark.sqlContext
    val corpusDir = sf("sf0.001")
    val lake = java.nio.file.Files.createTempDirectory("graft-slabels").toString
    val name = "admitted"
    val ns = Streams.gateNamespace(lake, name)
    val doc0Text = spark.read.parquet(s"$corpusDir/documents.parquet")
      .filter($"doc_id" === 0).select($"text").as[String].head()
    val textA = "zzqx wvut ponm lkji hgfe dcba"
    val textB = "qqzz aabb ccdd eeff gghh iijj"
    val in = MemoryStream[(Long, String)]
    val q = Streams.dedupIngest(in.toDF().toDF("doc_id", "text"), corpusDir, lake, name)
    // batch 1: novel A admitted, copy of corpus doc 0 rejected
    in.addData((50001L, textA), (50002L, doc0Text))
    q.processAllAvailable()
    // batch 2: A again (cross-batch reject), novel B twice (intra-batch:
    // 50003 admitted, 50004 rejected)
    in.addData((50005L, textA), (50003L, textB), (50004L, textB))
    q.processAllAvailable()
    q.stop()
    val gate = graft.queries.TextOps.gateLabels(spark, corpusDir, ns)
      .as[(Long, Long)].collect().toSet
    // from-scratch rebuild: CC over (corpus ∪ admitted) via the declared
    // entry on a synthetic lake dir — the ground truth the incremental
    // maintenance must reproduce exactly
    val grown = java.nio.file.Files.createTempDirectory("graft-grown").toString
    spark.read.parquet(s"$corpusDir/documents.parquet").select($"doc_id", $"text")
      .unionByName(spark.read.parquet(s"$lake/$name.parquet").select($"doc_id", $"text"))
      .write.parquet(s"$grown/documents.parquet")
    val fresh = SparkEntry.queries("text_dedup_cluster")(spark, grown)
      .select($"doc_id", $"cluster").as[(Long, Long)].collect().toSet
    assert(gate == fresh,
      s"incremental labels diverge from rebuild: only-gate=${(gate -- fresh).take(5)} only-fresh=${(fresh -- gate).take(5)}")
  }

  test("gate index compaction: file count bounded, probe answers identical") {
    implicit val sc = spark.sqlContext
    val corpusDir = sf("sf0.001")
    val lake = java.nio.file.Files.createTempDirectory("graft-scompact").toString
    val name = "admitted"
    val ns = Streams.gateNamespace(lake, name)
    val in = MemoryStream[(Long, String)]
    val q = Streams.dedupIngest(in.toDF().toDF("doc_id", "text"), corpusDir, lake, name)
    // 9 batches of one novel doc each: batch ids 0..8 cross the
    // every-8th-batch compaction trigger (batchId 7)
    for (i <- 0 until 9) {
      in.addData((40000L + i, s"novel doc number $i with unique tokens tok${i}a tok${i}b tok${i}c"))
      q.processAllAvailable()
    }
    q.stop()
    val idx = graft.queries.IndexOps.indexDir(corpusDir, ns)
    def parquetFiles(t: String): Int =
      Option(new java.io.File(s"$idx/$t.parquet").listFiles())
        .getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
    // without compaction: base build + 9 appends ≈ 10 file sets of up to
    // 4 partitions each; compaction rewrote to 4 files at batch 7, so
    // only batch 8's append sits on top
    assert(parquetFiles("sets") <= 8,
      s"sets.parquet has ${parquetFiles("sets")} files — compaction did not run")
    // probe answers are unchanged by compaction: every admitted doc is
    // still found in the gate index (replay self-match at jaccard 1)
    val replay = (0 until 9).map(i =>
      (40000L + i, s"novel doc number $i with unique tokens tok${i}a tok${i}b tok${i}c"))
      .toDF("doc_id", "text")
    val readmitted = graft.queries.IndexOps.novelDocs(spark, corpusDir, replay, ns)
      .select($"doc_id").as[Long].collect().toSet
    assert(readmitted == (0 until 9).map(40000L + _).toSet,
      "compaction changed probe answers (replayed docs must self-match and re-admit)")
  }

  test("stream_vec_dedup: cosine-dup vectors rejected vs index, cross-batch, and intra-batch") {
    implicit val sc = spark.sqlContext
    val corpusDir = sf("sf0.001")
    SparkEntry.queries("vec_index_build")(spark, corpusDir).collect()
    val lake = java.nio.file.Files.createTempDirectory("graft-vdedup").toString
    val v0 = spark.read.parquet(s"$corpusDir/embeddings.parquet")
      .filter($"vec_id" === 0).select($"embedding").as[Seq[Float]].head()
    val negV0 = v0.map(-_)       // cos -1 vs vec 0, |cos| < ~0.52 vs rest
    val revV0 = v0.reverse       // novel direction, far from 0.99
    val in = MemoryStream[(Long, Seq[Float])]
    val q = Streams.dedupVecIngest(
      in.toDF().toDF("vec_id", "embedding"), corpusDir, lake, "vadmitted", 0.99)
    // batch 1: exact copy of indexed vec 0 (rejected) + novel negV0 (admitted)
    in.addData((20000L, v0), (20001L, negV0))
    q.processAllAvailable()
    // batch 2: negV0 again (cross-batch dup of admitted 20001 — caught
    // only because admission grew the index) + revV0 twice in one batch
    in.addData((20002L, negV0), (20003L, revV0), (20004L, revV0))
    q.processAllAvailable()
    q.stop()
    val admitted = spark.read.parquet(s"$lake/vadmitted.parquet")
      .select($"vec_id").as[Long].collect().toSet
    assert(admitted == Set(20001L, 20003L),
      s"expected {20001, 20003} admitted, got $admitted")
    // restore the pristine vector index for any later consumer
    SparkEntry.queries("vec_index_build")(spark, corpusDir).collect()
  }

  /** Part files under `dir`. */
  private def partFiles(dir: String): Int =
    filesUnder(new java.io.File(dir)).count(_.getName.startsWith("part-"))

  test("bounded gate batch: a warm docs micro-batch runs at most 8 jobs and adds one part file per table") {
    implicit val sc = spark.sqlContext
    val corpusDir = sf("sf0.001")
    val lake = java.nio.file.Files.createTempDirectory("graft-sbound").toString
    val name = "admitted"
    val idx = graft.queries.IndexOps.indexDir(corpusDir, Streams.gateNamespace(lake, name))
    val doc0Text = spark.read.parquet(s"$corpusDir/documents.parquet")
      .filter($"doc_id" === 0).select($"text").as[String].head()
    val textA = "zzqx wvut ponm lkji hgfe dcba"
    val textB = "qqzz aabb ccdd eeff gghh iijj"
    val in = MemoryStream[(Long, String)]
    val q = Streams.dedupIngest(in.toDF().toDF("doc_id", "text"), corpusDir, lake, name)
    try {
      // batch 0 seeds the gate's namespace (cold); batch 1 is warm
      in.addData((60000L, "warm up text with its own tokens wu1 wu2 wu3"))
      q.processAllAvailable()
      val tables = Seq("sets", "bands", "labels").map(t => s"$idx/$t.parquet")
      val before = tables.map(partFiles)
      // an exact copy of an indexed doc, a novel doc, and an intra-batch pair
      val jobs = jobsDuring {
        in.addData((60001L, doc0Text), (60002L, textA), (60003L, textB), (60004L, textB))
        q.processAllAvailable()
      }
      assert(jobs <= 8, s"a warm docs gate batch ran $jobs jobs")
      assert(tables.map(partFiles).zip(before).map { case (a, b) => a - b } == Seq(1, 1, 1),
        s"one part file per index table per batch: ${tables.map(partFiles)} after $before")
      assert(partFiles(s"$lake/$name.parquet/batch=1") == 1)
    } finally q.stop()
    val admitted = spark.read.parquet(s"$lake/$name.parquet")
      .select($"doc_id").as[Long].collect().toSet
    assert(admitted == Set(60000L, 60002L, 60003L), s"admitted $admitted")
  }

  test("bounded gate batch: a warm vecs micro-batch runs at most 8 jobs and adds one part file per table") {
    implicit val sc = spark.sqlContext
    val corpusDir = sf("sf0.001")
    val lake = java.nio.file.Files.createTempDirectory("graft-vbound").toString
    val name = "vadmitted"
    val idx = graft.queries.IndexOps.indexDir(corpusDir, Streams.gateNamespace(lake, name))
    val v0 = spark.read.parquet(s"$corpusDir/embeddings.parquet")
      .filter($"vec_id" === 0).select($"embedding").as[Seq[Float]].head()
    val rnd = new scala.util.Random(3)
    val warm = v0.map(_ => rnd.nextFloat() - 0.5f)
    val in = MemoryStream[(Long, Seq[Float])]
    val q = Streams.dedupVecIngest(
      in.toDF().toDF("vec_id", "embedding"), corpusDir, lake, name, 0.99)
    try {
      in.addData((61000L, warm))
      q.processAllAvailable()
      val tables = Seq("vecs", "vec_bands").map(t => s"$idx/$t.parquet")
      val before = tables.map(partFiles)
      // an exact copy of an indexed vector, a novel one, and an intra-batch pair
      val jobs = jobsDuring {
        in.addData((61001L, v0), (61002L, v0.map(-_)), (61003L, v0.reverse), (61004L, v0.reverse))
        q.processAllAvailable()
      }
      assert(jobs <= 8, s"a warm vecs gate batch ran $jobs jobs")
      assert(tables.map(partFiles).zip(before).map { case (a, b) => a - b } == Seq(1, 1),
        s"one part file per index table per batch: ${tables.map(partFiles)} after $before")
      assert(partFiles(s"$lake/$name.parquet/batch=1") == 1)
    } finally q.stop()
    val admitted = spark.read.parquet(s"$lake/$name.parquet")
      .select($"vec_id").as[Long].collect().toSet
    assert(admitted == Set(61000L, 61002L, 61003L), s"admitted $admitted")
  }

  test("bounded gate batch: a micro-batch past spark.graft.broadcast.maxRows stops the query, naming the dials") {
    implicit val sc = spark.sqlContext
    val corpusDir = sf("sf0.001")
    val lake = java.nio.file.Files.createTempDirectory("graft-sdial").toString
    val name = "admitted"
    // seed the gate's namespace under the default dials
    val seed = MemoryStream[(Long, String)]
    val q0 = Streams.dedupIngest(seed.toDF().toDF("doc_id", "text"), corpusDir, lake, name)
    try { seed.addData((62000L, "seed doc sd1 sd2 sd3")); q0.processAllAvailable() }
    finally q0.stop()
    // a query's session takes its conf when the query starts
    spark.conf.set("spark.graft.broadcast.maxRows", "2")
    val in = MemoryStream[(Long, String)]
    val q = try Streams.dedupIngest(in.toDF().toDF("doc_id", "text"), corpusDir, lake, name)
      finally spark.conf.unset("spark.graft.broadcast.maxRows")
    try {
      in.addData((62001L, "one o1 o2"), (62002L, "two t1 t2"), (62003L, "three h1 h2"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.processAllAvailable())
      val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString("\n")
      for (key <- Seq("spark.graft.broadcast.maxRows=2", "spark.graft.guard.maxBroadcastBytes",
             "per-trigger limit", "3 rows"))
        assert(msg.contains(key), s"the refusal must name $key: $msg")
    } finally q.stop()
    assert(spark.read.parquet(s"$lake/$name.parquet").count() == 1,
      "a refused batch admits nothing")
  }

  test("stream_late_data: row older than watermark never reopens a closed window") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streams.lateDataCounts(in.toDF())
      .writeStream.format("memory").queryName("late_out")
      .outputMode(OutputMode.Append()).start()
    in.addData(Ev(1, 1, "view", ts(0, 10), 1.0))
    q.processAllAvailable()
    // advance event time far past the watermark: closes 10:00 window
    in.addData(Ev(2, 1, "view", ts(10), 1.0))
    q.processAllAvailable()
    // late arrival into the already-closed 10:00 window
    in.addData(Ev(3, 1, "view", ts(0, 50), 1.0))
    q.processAllAvailable()
    in.addData(Ev(4, 1, "view", ts(20), 1.0)) // flush
    q.processAllAvailable()
    q.stop()
    val closed = spark.table("late_out")
      .select($"w_start".cast("string"), $"n").as[(String, Long)].collect().toMap
    assert(closed.get("2026-01-01 10:00:00").contains(1L),
      s"late row must NOT be counted into the closed window: $closed")
  }

  override def afterAll(): Unit = {
    // Every gate in this suite keys its private index namespace off a
    // throwaway createTempDirectory lake path, and the index lake is
    // durable — without this sweep each run orphans several
    // corpus-seeded index copies under lake/simindex forever (37 MB of
    // them had accumulated before the sweep existed). Only this suite
    // creates gate namespaces, so deleting every *_gate* dir is safe.
    Option(new java.io.File("lake/simindex").listFiles())
      .getOrElse(Array.empty[java.io.File])
      // _gate*: gate namespaces; _tmp_graft*: the grown-corpus label
      // rebuild keys a whole namespace off its createTempDirectory path
      .filter(f => f.getName.contains("_gate") || f.getName.startsWith("_tmp_graft"))
      .foreach(rm)
    super.afterAll()
  }

  test("stream_mix_state: streaming partials maintain the MV exactly-once through replay and compaction") {
    import org.apache.spark.sql.functions._
    implicit val sc = spark.sqlContext
    val corpusDir = sf("sf0.001")
    val lake = java.nio.file.Files.createTempDirectory("graft-mixmv").toString
    val name = "mvdocs"
    val ns = Streams.gateNamespace(lake, name)
    val nsDir = new java.io.File(graft.queries.PipelineOps.mixStateDir(corpusDir, ns))
    rm(nsDir)
    def state(): Map[String, (Long, Long)] =
      graft.queries.PipelineOps.readMixState(spark, corpusDir, ns)
        .as[(String, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    try {
      val in = MemoryStream[(Long, String, String)]
      val q = Streams.mixStateIngest(
        in.toDF().toDF("doc_id", "text", "source"), corpusDir, lake, name)
      // batch 0: 3+2 tokens across two sources; batch 1: 4 more web tokens
      in.addData((900001L, "aa bb cc", "web"), (900002L, "dd ee", "books"))
      q.processAllAvailable()
      in.addData((900003L, "ff gg hh ii", "web"))
      q.processAllAvailable()
      q.stop()
      // expected = the seeded base (corpus minus the standard batch
      // slice) plus exactly the streamed deltas
      val base = Core.load(spark, corpusDir, "documents")
        .filter(pmod($"doc_id", lit(10)) =!= 7)
        .select($"source", Core.tokens(lower($"text")).as("toks"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum(size($"toks")).as("n_tokens"))
        .as[(String, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
      def plus(m: Map[String, (Long, Long)], src: String, d: Long, t: Long) =
        m.updated(src, m.get(src).map(v => (v._1 + d, v._2 + t)).getOrElse((d, t)))
      val want = plus(plus(base, "web", 2, 7), "books", 1, 2)
      val after = state()
      assert(after == want, s"streamed state drifted:\n$after\nvs\n$want")
      // replay of a LIVE batch rewrites its partial dir — no double count
      val batch0 = Seq((900001L, "aa bb cc", "web"), (900002L, "dd ee", "books"))
        .toDF("doc_id", "text", "source")
      graft.queries.PipelineOps.writeMixPartial(spark, corpusDir, batch0, ns, 0L)
      assert(state() == after, "live-batch replay double-counted")
      // compaction absorbs the partials (state unchanged, dirs gone)
      graft.queries.PipelineOps.compactMixState(spark, corpusDir, ns)
      assert(state() == after, "compaction changed the state")
      val pdir = new java.io.File(s"$nsDir/mix_partials.parquet")
      assert(Option(pdir.listFiles()).getOrElse(Array.empty[java.io.File])
        .forall(!_.getName.startsWith("batch=")), "compaction left live partial dirs")
      // replay of an ABSORBED batch: the re-created dir is ignored by
      // reads (id ≤ merged_upto) and GC'd by the next compaction —
      // which must NOT regress the high-water mark
      graft.queries.PipelineOps.writeMixPartial(spark, corpusDir, batch0, ns, 0L)
      assert(state() == after, "absorbed-batch replay was re-counted")
      graft.queries.PipelineOps.compactMixState(spark, corpusDir, ns)
      assert(state() == after, "stale-only compaction changed the state")
      graft.queries.PipelineOps.writeMixPartial(spark, corpusDir, batch0, ns, 1L)
      assert(state() == after,
        "high-water mark regressed: an absorbed batch id was re-admitted")
    } finally {
      rm(nsDir)
      rm(new java.io.File(lake))
    }
  }
  test("stream_cusum: monitor equals batch replay; state carries across batches") {
    cusumBatchParityCase() // shared body - StreamRestartCases (RocksDB matrix)
  }

  test("stream_cusum: drift starting at the FIRST event is not clipped (P0=0 in the running min)") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    // deltas +2, +2, -4 (micro: values 0.0002/0.0002/-0.0004, μ=0):
    // Page's recursion gives S = [2, 4, 0] — peak 4 at the SECOND
    // event. An implementation whose running min omits the virtual
    // P₀ = 0 reports [0, 2, 0] (peak 2): the first event always scores
    // 0 and early level shifts are systematically underreported.
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ev(id: Long, v: Double) =
      Streams.Ev(id, 1L, "x", new java.sql.Timestamp(t0.getTime + id * 1000), v)
    val in = MemoryStream[Streams.Ev]
    val baseline = Seq((1L, 0L)).toDF("user_id", "mu")
    val q = Streams.cusumMonitor(in.toDF(), baseline).toDF()
      .writeStream.format("memory").queryName("cusum_p0")
      .outputMode(OutputMode.Update()).start()
    in.addData(Seq(ev(1, 0.0002), ev(2, 0.0002), ev(3, -0.0004)))
    q.processAllAvailable(); q.stop()
    val last = spark.table("cusum_p0").as[Streams.CusumUpdate].collect().maxBy(_.n_seen)
    assert(last.max_cusum_micro == 4L, s"peak must be 4, got ${last.max_cusum_micro}")
    assert(last.at_event == 2L, s"peak at event 2, got ${last.at_event}")
  }

  test("stream_heavy_hitters: killed query restarts from the checkpoint; final sketches equal the uninterrupted run") {
    heavyHittersRestartCase() // shared body - StreamRestartCases (RocksDB matrix)
  }

  test("stream_upsert: killed query restarts from the checkpoint; lake table equals the uninterrupted run") {
    upsertRestartCase() // shared body - StreamRestartCases (RocksDB matrix)
  }

  test("stream_mix_state: killed query restarts from the checkpoint; MV equals the uninterrupted run") {
    mixStateRestartCase() // shared body - StreamRestartCases (RocksDB matrix)
  }

  test("stream_heavy_hitters: sharded MG sketches, bounded state, cross-batch carry") {
    heavyHittersBoundCase() // shared body - StreamRestartCases (RocksDB matrix)
  }
}
