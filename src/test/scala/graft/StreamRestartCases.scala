package graft

import graft.streaming.Streams
import graft.streaming.Streams.Ev
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** Restart-recovery and state-bound cases shared by StreamingSpec (the
  * default HDFS-backed in-memory state store) and RocksDbStreamingSpec
  * (the RocksDB spill-to-disk provider — the state store the 100 TB
  * streaming story actually runs, where per-executor state outgrows
  * heap): identical scripted timelines and byte-equal assertions, the
  * SUITE picks the provider (r15 verdict ask #5 — a config matrix, not
  * new semantics). Memory-sink query names and gate namespaces carry
  * [[providerSuffix]] so the two suites never collide in the shared
  * session.
  */
trait StreamRestartCases { self: SparkSpecBase =>

  protected def providerSuffix: String = "hdfs"

  protected def tsAt(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:$sec%02d")

  /** mapGroupsWithState accumulation across batches (state-bound family). */
  protected def statefulAccumulateCase(): Unit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val name = s"stateful_out_$providerSuffix"
    val q = Streams.statefulUserTotals(in.toDS()).toDF()
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update()).start()
    in.addData(Ev(1, 7, "view", tsAt(0), 1.5), Ev(2, 7, "view", tsAt(1), 2.5))
    q.processAllAvailable()
    in.addData(Ev(3, 7, "buy", tsAt(2), 6.0)) // second batch: state must carry
    q.processAllAvailable()
    q.stop()
    val last = spark.table(name)
      .as[Streams.SessionAgg].collect().maxBy(_.n_events)
    assert(last == Streams.SessionAgg(7, 3, 10.0))
  }

  /** Sharded Misra-Gries sketches: bounded state, cross-batch carry. */
  protected def heavyHittersBoundCase(): Unit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val shards = 4; val k = 64
    // planted-skew stream split over three batches: 3 heavies over a
    // 600-item tail, cardinality >> shards*k
    val heavies = Seq.fill(300)("h1") ++ Seq.fill(200)("h2") ++ Seq.fill(120)("h3")
    val tail = (0 until 600).flatMap(i => Seq.fill(3)(s"t$i"))
    val all = (heavies ++ tail).zipWithIndex.sortBy(_._2 % 7).map(_._1) // interleave
    val batches = all.grouped((all.size + 2) / 3).toSeq
    val in = MemoryStream[String]
    val name = s"hh_out_$providerSuffix"
    val q = Streams.heavyHitterShards(in.toDS(), shards, k).toDF()
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update()).start()
    batches.foreach { b => in.addData(b); q.processAllAvailable() }
    q.stop()
    // latest sketch per shard = max n_seen (monotone by construction)
    val latest = spark.table(name).as[Streams.ShardSketch].collect()
      .groupBy(_.shard).map { case (_, xs) => xs.maxBy(_.n_seen) }
    val trueCounts = all.groupBy(identity).map { case (s, xs) => s -> xs.size.toLong }
    assert(latest.map(_.n_seen).sum == all.size, "every item folded exactly once")
    latest.foreach(sk => assert(sk.keys.length <= k, "state bounded by k per shard"))
    for (h <- Seq("h1", "h2", "h3")) {
      val shard = math.floorMod(h.hashCode, shards)
      val sk = latest.find(_.shard == shard).get
      val est = sk.keys.zip(sk.counts).toMap
      assert(est.contains(h), s"heavy $h must survive in shard $shard")
      val bound = sk.n_seen.toDouble / (k + 1)
      assert(est(h) <= trueCounts(h), s"$h over-counted")
      assert(trueCounts(h) - est(h) <= bound, s"$h under-counted past n_shard/(k+1)")
    }
  }

  /** Kill a checkpointed heavy-hitters query mid-stream, restart from
    * the checkpoint dir, require final state byte-equal to an
    * uninterrupted run. Returns the checkpoint dir of the interrupted
    * run so the caller can inspect the state store files it wrote.
    */
  protected def heavyHittersRestartCase(): String = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val shards = 4; val k = 16
    val b1 = Seq.fill(60)("h1") ++ (0 until 80).map(i => s"t$i")
    val b2 = Seq.fill(40)("h1") ++ Seq.fill(50)("h2") ++ (80 until 140).map(i => s"t$i")
    val tmp = java.nio.file.Files.createTempDirectory(s"graft-hh-restart-$providerSuffix").toString
    def run(ckpt: String, out: String, interrupt: Boolean): Unit = {
      val in = MemoryStream[String]
      def start() = Streams.heavyHitterShards(in.toDS(), shards, k).toDF()
        .writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.write.mode("append").parquet(out); ()
        }
        .start()
      val q1 = start()
      in.addData(b1); q1.processAllAvailable()
      if (interrupt) {
        q1.stop() // the "crash": kill after batch 1
        in.addData(b2)
        val q2 = start() // NEW query object, same checkpoint dir
        q2.processAllAvailable(); q2.stop()
      } else {
        in.addData(b2); q1.processAllAvailable(); q1.stop()
      }
    }
    run(s"$tmp/ckptA", s"$tmp/outA", interrupt = true)
    run(s"$tmp/ckptB", s"$tmp/outB", interrupt = false)
    def finalSketches(out: String): Map[Int, (Long, Seq[(String, Long)])] =
      spark.read.parquet(out).as[Streams.ShardSketch].collect()
        .groupBy(_.shard).map { case (sh, xs) =>
          val last = xs.maxBy(_.n_seen)
          sh -> (last.n_seen, last.keys.zip(last.counts).toSeq.sortBy(_._1))
        }
    val a = finalSketches(s"$tmp/outA")
    val b = finalSketches(s"$tmp/outB")
    assert(a.values.map(_._1).sum == (b1.size + b2.size).toLong,
      s"restarted run must fold BOTH batches (restored state + batch 2): $a")
    assert(a == b, s"restart-recovered state differs from uninterrupted:\n$a\nvs\n$b")
    s"$tmp/ckptA"
  }

  /** Kill a checkpointed upsert query mid-stream; the recovered lake
    * table must equal the uninterrupted run's.
    */
  protected def upsertRestartCase(): Unit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory(s"graft-upsert-restart-$providerSuffix").toString
    val b1 = Seq(Ev(1, 1, "view", tsAt(0), 1.0), Ev(2, 2, "view", tsAt(1), 2.0))
    val b2 = Seq(Ev(3, 2, "buy", tsAt(5), 9.0), Ev(4, 3, "view", tsAt(5), 4.0))
    def run(sub: String, interrupt: Boolean): Seq[(Long, Long, Double)] = {
      val lake = s"$tmp/$sub/lake"
      val ckpt = s"$tmp/$sub/ckpt"
      val in = MemoryStream[Ev]
      def start() = Streams.upsertToLake(in.toDF(), lake, "user_state",
        "user_id", "ts", Some(ckpt))
      val q1 = start()
      in.addData(b1); q1.processAllAvailable()
      if (interrupt) {
        q1.stop()
        in.addData(b2)
        val q2 = start(); q2.processAllAvailable(); q2.stop()
      } else { in.addData(b2); q1.processAllAvailable(); q1.stop() }
      spark.read.parquet(s"$lake/user_state.parquet")
        .select($"user_id", $"event_id", $"value")
        .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    }
    val interrupted = run("a", interrupt = true)
    val continuous = run("b", interrupt = false)
    assert(interrupted == Seq((1L, 1L, 1.0), (2L, 3L, 9.0), (3L, 4L, 4.0)),
      s"restarted run lost or replayed state: $interrupted")
    assert(interrupted == continuous,
      s"restart-recovered table differs:\n$interrupted\nvs\n$continuous")
  }

  /** Kill a checkpointed mix-state (MV) query mid-stream; the recovered
    * materialized state must equal the uninterrupted run's, with the
    * streamed deltas folded exactly once.
    */
  protected def mixStateRestartCase(): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val corpusDir = sf("sf0.001")
    val tmp = java.nio.file.Files.createTempDirectory(s"graft-mix-restart-$providerSuffix").toString
    val b1 = Seq((910001L, "aa bb cc", "web"), (910002L, "dd ee", "books"))
    val b2 = Seq((910003L, "ff gg hh ii", "web"))
    def run(name: String, interrupt: Boolean): Map[String, (Long, Long)] = {
      val lake = s"$tmp/$name/lake"
      val ns = Streams.gateNamespace(lake, name)
      val nsDir = new java.io.File(graft.queries.PipelineOps.mixStateDir(corpusDir, ns))
      rm(nsDir)
      val in = MemoryStream[(Long, String, String)]
      def start() = Streams.mixStateIngest(
        in.toDF().toDF("doc_id", "text", "source"), corpusDir, lake, name,
        Some(s"$tmp/$name/ckpt"))
      val q1 = start()
      in.addData(b1); q1.processAllAvailable()
      if (interrupt) {
        q1.stop()
        in.addData(b2)
        val q2 = start(); q2.processAllAvailable(); q2.stop()
      } else { in.addData(b2); q1.processAllAvailable(); q1.stop() }
      val st = graft.queries.PipelineOps.readMixState(spark, corpusDir, ns)
        .as[(String, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
      rm(nsDir)
      st
    }
    val interrupted = run(s"mvrestartA_$providerSuffix", interrupt = true)
    val continuous = run(s"mvrestartB_$providerSuffix", interrupt = false)
    assert(interrupted == continuous,
      s"restart-recovered MV differs:\n$interrupted\nvs\n$continuous")
    // and the deltas are present exactly once (web +2 docs +7 tokens)
    val base = Core.load(spark, corpusDir, "documents")
      .filter(pmod($"doc_id", lit(10)) =!= 7)
      .filter($"source" === "web")
      .select(Core.tokens(lower($"text")).as("toks"))
      // the fixture has no organic "web" source — the coalesce keeps
      // the zero-row base well-typed and the assertion then checks the
      // streamed deltas alone
      .agg(count(lit(1)).as("n"), coalesce(sum(size($"toks")), lit(0L)).as("t"))
      .as[(Long, Long)].head()
    assert(interrupted("web") == (base._1 + 2, base._2 + 7),
      s"web deltas folded wrong: ${interrupted("web")} vs base $base")
  }

  /** stream_cusum ≡ batch replay with cross-batch carry — the per-user
    * long-state flatMapGroupsWithState recursion (r16 verdict ask #5
    * names it for the provider matrix): the batch operator's
    * full-corpus μ is the monitor's baseline, so streaming the same
    * events over three time-ordered batches must land on the identical
    * Page-recursion statistic per user.
    */
  protected def cusumBatchParityCase(): Unit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dir = sf("sf0.001")
    val baseline = Streams.cusumBaseline(spark, dir)
    val evs = Core.loadEvents(spark, dir)
      .select($"event_id", $"user_id", $"event_type", $"ts", $"value")
      .as[Ev].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val batches = evs.grouped((evs.length + 2) / 3).toSeq
    val in = MemoryStream[Ev]
    val name = s"cusum_out_$providerSuffix"
    val q = Streams.cusumMonitor(in.toDF(), baseline).toDF()
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update()).start()
    batches.foreach { b => in.addData(b); q.processAllAvailable() }
    q.stop()
    // latest update per user = max n_seen (monotone)
    val got = spark.table(name).as[Streams.CusumUpdate].collect()
      .groupBy(_.user_id).map { case (u, xs) =>
        val last = xs.maxBy(_.n_seen)
        u -> ((last.max_cusum_micro, last.at_event))
      }
    val want = SparkEntry.queries("ts_changepoint_cusum")(spark, dir)
      .as[(Long, Long, Long)].collect()
      .map { case (u, m, at) => u -> ((m, at)) }.toMap
    assert(got.size == want.size, s"user coverage ${got.size} vs ${want.size}")
    val diffs = want.collect { case (u, w) if got(u) != w => s"$u: got ${got(u)} want $w" }
    assert(diffs.isEmpty, diffs.take(5).mkString("\n"))
  }

  /** stream_attribution cross-batch state — the other per-user
    * long-state recursion: a purchase arriving batches after its views
    * must credit them by the batch ts_attribution integer formula.
    */
  protected def attributionCrossBatchCase(): Unit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val name = s"attr_out_$providerSuffix"
    val q = Streams.streamAttribution(in.toDS()).toDF()
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    // batch 1: two views for user 7, then a purchase 1h after the last
    in.addData(
      Ev(1, 7, "view", tsAt(0), 1.0),
      Ev(2, 7, "view", tsAt(30), 1.0),
      Ev(3, 7, "purchase", Timestamp.valueOf("2026-01-01 11:30:00"), 2.5))
    q.processAllAvailable()
    // batch 2: cross-batch state — another purchase sees BOTH old views
    in.addData(Ev(4, 7, "purchase", Timestamp.valueOf("2026-01-01 12:30:00"), 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name).as[Streams.Credit].collect()
      .sortBy(c => (c.p_id, c.v_id))
    // exact integer recompute of the batch ts_attribution formula
    def expect(pId: Long, valMicro: Long, views: Seq[(Long, Long)]): Seq[Streams.Credit] = {
      val ws = views.map { case (vid, ageHours) =>
        (vid, 1000000L / (1L + ageHours)) }
      val tw = ws.map(_._2).sum
      ws.map { case (vid, w) => Streams.Credit(7, pId, vid, valMicro * w / tw) }
    }
    val exp = (expect(3, 2500000L, Seq((1L, 1L), (2L, 1L))) ++
      expect(4, 1000000L, Seq((1L, 2L), (2L, 2L)))).sortBy(c => (c.p_id, c.v_id))
    assert(rows.toSeq == exp,
      s"stream credits diverge from the batch formula: ${rows.toSeq}")
    // credit conservation per purchase (integer floors only lose mass)
    rows.groupBy(_.p_id).foreach { case (p, cs) =>
      val cap = if (p == 3) 2500000L else 1000000L
      assert(cs.map(_.credit_micro).sum <= cap)
    }
  }
}
