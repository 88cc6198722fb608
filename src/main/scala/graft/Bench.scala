package graft
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
object Bench {
  /** A failed warmup, entry or setup step keeps its +Inf/-1 marker AND
    * names its cause on stderr; fatal JVM errors propagate.
    */
  private def reportFailure(name: String, e: Throwable): Unit =
    System.err.println(s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // serving conf: the index probes push multi-probe rings as
      // In(bucket, keys) — below this threshold Spark expands the In
      // into an OR-chain of eq's for parquet (real row-group skipping);
      // above it, a [min,max] range check. 1024 is a CEILING, not a
      // stale default: parquet-mr evaluates the OR-chain recursively,
      // and a dialed w=26 ring (2,952 keys) overflows the executor
      // stack (measured at the 25× fixture) — so wide-ring probes
      // deliberately take the range fallback (see vec_index_probe).
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Noise-floor calibration (r11 verdict ask #4): a FIXED trivial plan
    // — 1M-row range summed across 32 tasks, no IO, no shuffle — timed
    // at run start and run end. On a quiet box this is ~0.05-0.15 s; a
    // contended box (other JVMs stealing the cores) inflates it 10-100×,
    // which is exactly what happened to the r11 driver artifact (540 s
    // total vs 119 s quiet, with a bare column projection "taking" 13 s).
    // Consumers reject or normalize a run whose floor is elevated instead
    // of reading contention as an engine regression (rule: floor > ~0.5 s
    // at either end ⇒ the run's absolute numbers are not engine evidence;
    // see docs/SCALE.md "Bench noise floor"). Min-of-3 after one untimed
    // warmup so the floor measures the scheduler, not first-plan codegen.
    def noiseFloor(): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.range(0L, 1L << 20, 1L, 32).selectExpr("sum(id)").collect()
        (System.nanoTime() - t0) / 1e9
      }
      once() // untimed warmup
      Seq.fill(3)(once()).min
    }
    val floorStart = noiseFloor()
    // Per-entry shuffle records/bytes (r14 verdict ask #2): wall clock on
    // this box swings 5-10× with neighbour load, but shuffle records are
    // a property of the PLAN — the round-over-round regression signal of
    // record. The listener accumulates stage-level shuffle-write metrics;
    // counters are reset before each entry's SECOND timed run (the warm,
    // steady-state one — records are plan-deterministic, so either run
    // reads the same) and snapshotted after a short event-bus drain.
    val shufRecs = new AtomicLong(0)
    val shufBytes = new AtomicLong(0)
    // Environment-stability counters (r16 verdict ask #2): the r16
    // artifacts showed shared-frame consumers reading 3-4× more records
    // in the driver's fleet run than in tree-identical quiet runs —
    // records were sold as a property of the PLAN, but RE-EXECUTION is
    // invisible in shuffle-write totals: a task that fails (GC stall,
    // fetch timeout under contention) is re-run and its shuffle rows
    // are WRITTEN AGAIN into the same counter, and a stage retry
    // re-writes the whole stage. So the listener now counts failed
    // tasks and retried stage attempts per entry; bench_diff treats a
    // run (or an entry) with re-execution as non-comparable instead of
    // reporting its inflated records as plan movers.
    val failedTasks = new AtomicLong(0)
    val stageRetries = new AtomicLong(0)
    // THE confirmed false-mover channel (r16 forensics, see SCALE.md):
    // a map-side hash aggregate that exhausts its execution-memory
    // grant SPILLS and emits partially-unaggregated rows — the SAME
    // plan writes MORE shuffle records under memory pressure. Spill
    // bytes are the direct witness.
    val spillBytes = new AtomicLong(0)
    // Environment-episode witnesses (r17 verdict ask #1): the r17
    // driver artifact carried an 11-entry window (exec positions
    // 226-236) where EVERY entry read 3-11x its quiet wall — the
    // "anti-scaling class" — while records stayed bit-identical and
    // the 50-entry floor probes (at 200; next would have been 250 >
    // n_entries) bracketed it invisibly. Two per-entry counters make
    // such a window self-describing in the artifact: task run time
    // (sum of executorRunTime — a contended/paused entry's WALL
    // inflates while its task work doesn't) and JVM GC time delta (a
    // GC storm shows directly). Consumers read wall >> taskRun at
    // records parity as environment, not plan.
    val taskRunMs = new AtomicLong(0)
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }
    val lastEvent = new AtomicLong(System.nanoTime())
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          shufRecs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          shufBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          spillBytes.addAndGet(m.memoryBytesSpilled)
          taskRunMs.addAndGet(m.executorRunTime)
        }
        if (sc.stageInfo.attemptNumber() > 0) stageRetries.incrementAndGet()
        lastEvent.set(System.nanoTime())
      }
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        // count only GENUINE failures (the re-execution channel that
        // re-writes shuffle rows) — a TaskKilled end (job cancelled
        // after an entry's -1 crash convention, speculative kill)
        // involves no re-execution and must not brand the run
        // non-comparable
        te.reason match {
          case org.apache.spark.Success =>
          case _: org.apache.spark.TaskKilled =>
          case _ if te.taskInfo != null && !te.taskInfo.successful =>
            failedTasks.incrementAndGet()
          case _ =>
        }
        lastEvent.set(System.nanoTime())
      }
    })
    // Shared-cache stability probe (the OTHER re-execution channel):
    // a persisted/localCheckpointed block evicted past its disk copy
    // forces consumers to recompute upstream stages, attributing the
    // rebuild's records to whichever entry ran next. Snapshot the
    // cached-partition census after the setups (everything warm) and
    // again at run end; a shrink means mid-run eviction.
    // per-RDD cached-partition census: stability is judged PER RDD (a
    // frame newly cached mid-run must not mask another's eviction)
    def cacheCensus(): Map[Int, Int] =
      spark.sparkContext.getRDDStorageInfo
        .map(i => i.id -> i.numCachedPartitions).toMap
    // listener events are async — wait for 150ms of bus silence (short:
    // ~250 entries pay this once each; events land within single-digit ms
    // on an idle bus, and a missed straggler only shifts a few records
    // between adjacent entries, never the seconds)
    def drain(): Unit =
      while ((System.nanoTime() - lastEvent.get()) < 150L * 1000 * 1000)
        Thread.sleep(25)
    // Untimed warmup: JIT + codegen + parquet footer caches, so the first
    // timed query doesn't absorb ~5s of JVM warmup. One cheap query per
    // module family — relational, text (tokenize/explode paths), vector
    // (native dotp) — because each family JITs distinct codegen classes
    // and whichever family ran first used to absorb its compile debt.
    for (w <- Seq("q1_pricing_summary", "text_token_count", "vec_knn_topk")) {
      // a stale name must fail loudly — a silently-skipped warmup hands
      // that family's JIT debt back to its first timed query
      require(SparkEntry.queries.contains(w), s"warmup query '$w' no longer exists")
      try SparkEntry.queries(w)(spark, sfDir).count()
      catch { case NonFatal(e) => reportFailure(w, e) }
    }
    // Each query is timed twice and the MIN reported: the first pass pays
    // JIT compilation, codegen-class loading, and GC debt accumulated by
    // earlier queries; the second measures the plan. Round-over-round
    // deltas on unchanged queries were ±2s of pure JVM noise otherwise.
    // A failed run times as +Inf so the min reports the SUCCESSFUL run
    // (a fast crash must not masquerade as a speedup); a query failing
    // both runs emits -1 as an explicit failure marker.
    def timed(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch { case NonFatal(e) => reportFailure(name, e); Double.PositiveInfinity }
    }
    // Named setup steps, timed once each (they are memoized/persisted —
    // a second run would measure the cache):
    //  - setup_dedup_clusters: the (doc_id, label) lake artifact — serves
    //    from labels.parquet when the version stamp is current, runs the
    //    propagation only on a cold/stale lake;
    //  - setup_shared_frames: the session-memoized shared materializations
    //    (postings, word 3-grams, token-set signatures, vector band
    //    signatures). With min-of-two timing the first consumer run would
    //    silently absorb each cache build and the build cost would be
    //    attributed NOWHERE; these lines own the one-time costs so every
    //    per-query number below is an explicit warm marginal cost.
    // per-entry (records, bytes, failed tasks, stage retries, spill
    // bytes) snapshots, keyed like the seconds map — the last three
    // mark an entry whose records embed re-execution or spill-inflated
    // partial aggregation (non-comparable as plan evidence)
    // slots 6/7 are the environment witnesses: GC-time delta (ms) and
    // summed executorRunTime (ms) across the recorded run's stages
    val recMap = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long, Long, Long, Long, Long, Long)]
    def recorded(name: String)(run: => Double): Double = {
      drain(); shufRecs.set(0); shufBytes.set(0)
      failedTasks.set(0); stageRetries.set(0); spillBytes.set(0)
      taskRunMs.set(0)
      val gc0 = gcMs()
      val sec = run
      // a recorded run that ABORTED driver-side (+Inf/-1 by the failure
      // conventions) leaves partially-accumulated records — its
      // in-flight tasks end as TaskKilled, which the listener rightly
      // no longer counts as re-execution, so without this poison the
      // truncated snapshot would diff as a clean plan mover (e.g. a
      // false "records dropped 40%"). Marking the failed slot makes
      // bench_diff annotate the entry [RE-EXEC - not a plan mover].
      val aborted = if (sec.isInfinity || sec < 0) 1L else 0L
      drain(); recMap(name) = (shufRecs.get, shufBytes.get,
        failedTasks.get + aborted, stageRetries.get, spillBytes.get,
        gcMs() - gc0, taskRunMs.get)
      sec
    }
    // rebuilt-vs-current flags (r16 verdict ask #6): which stamped lake
    // artifacts THIS run rebuilt (cold lake / stamp bump / fixture
    // regen). The journal is drained after every setup step and every
    // entry and each row tagged `#<step>` with the step that paid it:
    // the unconditional build entries (`*_index_build` overwrite by
    // contract, twice under min-of-two timing) then read as intentional
    // at a glance, while a cold stamp-bump rebuild names the CONSUMER
    // that paid it. bench_diff strips the suffix before its multiset
    // comparison. Rows from before the first setup step stay untagged.
    val rebuiltSetupRows = scala.collection.mutable.ArrayBuffer(
      queries.LakeArtifact.drainJournal(): _*)
    def drainTagged(name: String): Seq[String] =
      queries.LakeArtifact.drainJournal().map(r => s"$r#$name")
    def setupStep(name: String)(f: => Unit): (String, Double) =
      name -> recorded(name) {
        val t0 = System.nanoTime()
        val ok = try { f; true } catch { case NonFatal(e) => reportFailure(name, e); false }
        rebuiltSetupRows ++= drainTagged(name)
        // same failure convention as timed(): -1, never elapsed-until-crash
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }
    //  - setup_{sim,vec,ivf,pq,ivfpq}_index / setup_{mix,hll}_state: each
    //    persisted index/state family ensured current as ITS OWN named
    //    line — a COLD lake (fresh checkout, version bump) pays its
    //    builds here, named per artifact, instead of inside whichever
    //    probe entry runs first (probe timings stay warm serving
    //    marginals), and one broken family can't -1.0 the others'
    //    attribution (r9: the HLL crash zeroed the whole chain).
    // shared frames FIRST: warmSharedFrames builds the signature table
    // and the verified pair graph that a cold clusterLabels would
    // otherwise trigger, so this order leaves setup_dedup_clusters
    // paying ONLY the label propagation + persist (cold-profile at
    // sf0.1: tokenize 6.2s + sign 2.2s + verify 3.9s attributed to
    // shared_frames; propagation 8.1s to dedup_clusters)
    val setups = Seq(
      setupStep("setup_shared_frames") { queries.TextOps.warmSharedFrames(spark, sfDir) },
      setupStep("setup_dedup_clusters") { queries.TextOps.warmDedupClusters(spark, sfDir) },
      // the curation compositions' shared clean-corpus spine — after
      // clusters (it consumes the labels artifact) so each step pays
      // only its own marginal
      setupStep("setup_clean_corpus") { queries.PipelineOps.warmCleanCorpus(spark, sfDir) },
      // the BPE merge-table training loop (memoized per session/dir) —
      // without this line min-of-two timing would absorb the training
      // into text_bpe_train's first run and attribute it nowhere
      setupStep("setup_bpe_model") { queries.TokenizerOps.trainBpe(spark, sfDir); () }) ++
      queries.IndexOps.warmSteps.map { case (name, f) =>
        setupStep(name) { f(spark, sfDir) }
      }
    // the setup phase's rebuilds; a mid-run rebuild (an entry touching
    // a family no setup owns) lands in rebuilt_midrun instead
    val rebuiltSetup = rebuiltSetupRows.toSeq
    val rebuiltMidRows = scala.collection.mutable.ArrayBuffer.empty[String]
    val cacheStart = cacheCensus()
    // Mid-run floor series (r13 verdict ask #8): the start/end floors
    // bracket the run but cannot LOCALIZE a contended episode — the r13
    // driver artifact carried a mid-run window where agg_gini read 5×
    // its isolated cost between two quiet endpoints. A floor sample
    // every 50 entries (each tagged with the exec index and the entry
    // about to run) lets a consumer excise just the contended window's
    // entries (exec order = this list's order, which is deterministic
    // for a fixed entry set) instead of distrusting the whole artifact.
    val midFloors = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Double)]
    // every 25 entries (was 50): the r17 driver run's 11-entry
    // contended window sat ENTIRELY between probes 200 and the
    // never-reached 250 — halving the stride bounds an invisible
    // window to <25 entries for ~10 extra trivial jobs per run
    val results = SparkEntry.queries.toSeq.zipWithIndex.map { case ((name, fn), i) =>
      if (i > 0 && i % 25 == 0) midFloors += ((i, name, noiseFloor()))
      // records come from the SECOND run (steady-state; plan-identical to
      // the first, so the snapshot is run-order independent)
      val t1 = timed(name, fn)
      val t2 = recorded(name)(timed(name, fn))
      rebuiltMidRows ++= drainTagged(name)
      val m = math.min(t1, t2)
      name -> (if (m.isInfinity) -1.0 else m)
    } ++ setups
    // ascending by time: the driver's log capture keeps the TAIL of a
    // long line, so the expensive (most informative) queries must sit at
    // the end to survive head-truncation — and -1 failure markers sort
    // LAST of all (a failure is at least as informative as the slowest
    // query; at the head it would be the first thing truncated away)
    val sorted = results.toSeq
      .sortBy { case (_, v) => if (v < 0) Double.PositiveInfinity else v }
    val qs = sorted
      .map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // per-entry [shuffle records, shuffle bytes, failed tasks, stage
    // retries, spill bytes], same ascending-by-time order as the
    // seconds so the expensive entries' records survive a
    // head-truncated log capture too (bench_diff reads both this
    // 5-element form and the legacy 2-element one)
    val recs = sorted
      .flatMap { case (k, _) =>
        recMap.get(k).map(r =>
          s"\"$k\":[${r._1},${r._2},${r._3},${r._4},${r._5},${r._6},${r._7}]") }
      .mkString("{", ",", "}")
    val recTotals =
      s""""shuf_recs_total":${recMap.values.map(_._1).sum},""" +
        s""""shuf_mb_total":${recMap.values.map(_._2).sum / 1e6}"""
    // failures are excluded from the headline sum: a query regressing
    // into a crash must not LOWER the total and read as a speedup
    val total = results.map(_._2).filter(_ >= 0).sum
    // stability block BEFORE eviction: the end census must see the
    // same frames the entries served from
    val cacheEnd = cacheCensus()
    // judged on RDDs present in BOTH censuses: a SHRUNK id was evicted
    // mid-run and its consumers recomputed upstream. An id MISSING at
    // the end is ambiguous — deliberate unpersist is routine (a
    // Frames entry unpersists its superseded frame on a stamp or dial
    // change, e.g. a served index table re-read after a rebuild)
    // and indistinguishable here from a total memory eviction — so it
    // does NOT flip cacheStable; it is counted separately as
    // cache_dropped_n, which is deterministic for a fixed entry set
    // (every steady-state run drops the same superseded frames) and
    // lets bench_diff annotate an ASYMMETRIC drop between two runs
    // instead of this run branding itself unstable on routine churn
    val cacheStable = cacheStart.forall { case (id, n) =>
      cacheEnd.get(id).forall(_ >= n) }
    val cacheDropped = cacheStart.count { case (id, _) => !cacheEnd.contains(id) }
    val rebuiltMid = rebuiltMidRows.toSeq
    def jarr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    // cpus + heap: THE r16 false-mover mechanism (confirmed by
    // exact-record reproduction + a thread sweep, SCALE.md round 17)
    // — partial aggregation combines PER MAP TASK, so a hot key
    // present in N map partitions emits ~N partial rows: the SAME
    // plan at local[4] / local[8] / local[32] writes 19,874 / 37,434
    // / 82,142 records on text_gopher_rules, deterministically (zero
    // spill, zero failures, stable cache — invisible to every other
    // counter; heap 6g vs 24g changed NOTHING at fixed threads).
    // Records are a property of (plan, parallelism); heap stays
    // recorded as the secondary guard (a genuinely memory-starved run
    // saturates partial-agg maps the same way). Cross-config diffs
    // are refused by bench_diff on these fields.
    val stability =
      s""""heap_mb":${Runtime.getRuntime.maxMemory() / (1L << 20)},""" +
        s""""cpus":$cpus,""" +
        s""""task_failures_total":${recMap.values.map(_._3).sum},""" +
        s""""stage_retries_total":${recMap.values.map(_._4).sum},""" +
        s""""spill_mb_total":${recMap.values.map(_._5).sum / 1e6},""" +
        s""""cached_parts_start":${cacheStart.values.sum},""" +
        s""""cached_parts_end":${cacheEnd.values.sum},""" +
        s""""cache_stable":$cacheStable,""" +
        s""""cache_dropped_n":$cacheDropped,""" +
        s""""rebuilt_setup":${jarr(rebuiltSetup)},"rebuilt_midrun":${jarr(rebuiltMid)}"""
    // the session registry's census, one line, before the release drops it
    System.err.println("[graft] frames: census (hits/builds/supersedes) " +
      queries.Frames.census(spark).toSeq.sortBy(_._1)
        .map { case (f, c) => s"$f=${c.hits}/${c.builds}/${c.supersedes}" }.mkString(" "))
    queries.Frames.release(spark)
    // end-of-run floor: contention can start mid-run; both ends must be
    // quiet for the run's absolute numbers to be comparable
    val floorEnd = noiseFloor()
    val mids = midFloors
      .map { case (i, name, f) => s"""[$i,"$name",$f]""" }.mkString("[", ",", "]")
    val floors =
      s""""noise_floor_start":$floorStart,"noise_floor_end":$floorEnd,"noise_floor_mid":$mids"""
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec",$floors,$recTotals,$stability,"queries":$qs,"records":$recs,"sf":"$sfDir"}"""
    // Truncation-proof per-query seconds (r17 verdict ask #7): the r16
    // round-over-round comparison was LOST because the single giant
    // full line got tail-truncated in the driver's log capture, taking
    // the seconds map with it. The map is re-emitted here as SMALL
    // SELF-CONTAINED chunk lines, each valid JSON on its own (a capture
    // that truncates the giant full line leaves every chunk parseable),
    // ascending by time across chunks so the last chunk carries the
    // most expensive — most informative — entries. The chunks print
    // BEFORE the full line: the log ends with the full line, then
    // total_tail.
    locally {
      val parts = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Double)]]
      var cur = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
      var len = 0
      for ((k, v) <- sorted) {
        val entryLen = k.length + 24
        if (len + entryLen > 1100 && cur.nonEmpty) {
          parts += cur.toSeq; cur = scala.collection.mutable.ArrayBuffer.empty; len = 0
        }
        cur += ((k, v)); len += entryLen
      }
      if (cur.nonEmpty) parts += cur.toSeq
      val n = parts.size
      for ((p, i) <- parts.zipWithIndex) {
        val body = p.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
        println(s"""{"metric":"queries_tail","part":${i + 1},"of":$n,"queries":$body,"sf":"$sfDir"}""")
      }
    }
    println(fullLine)
    // Persist the full line to a repo artifact (r15 verdict ask #6):
    // the driver's log capture keeps only a 2000-char TAIL, which eats
    // the per-entry records map — the claim of record for plan-level
    // comparisons. bench_diff.py reads these files directly (it accepts
    // any file holding '{"metric":"total"...}' lines): latest per SF at
    // docs/bench_records/<sf>.json, full run history (timestamped, one
    // line per run) at <sf>_history.jsonl. The directory is anchored to
    // the REPO ROOT, located by walking up from cwd to the first dir
    // holding BOTH build.sbt AND docs/bench_records (r16 ADVICE: a
    // bare build.sbt match would silently land the claim-of-record in
    // any nested sbt project or scratch dir up-tree — the marker must
    // be unique to this repo); `SPARK_GRAFT_RECORDS_ROOT` overrides
    // the walk outright, and the resolved root is LOGGED on every
    // write so a misdirected artifact is visible in the run log.
    // Best-effort — a read-only checkout must not fail the bench
    // contract — but failures and a missing root are REPORTED, never
    // swallowed silently.
    try {
      val root = sys.env.get("SPARK_GRAFT_RECORDS_ROOT")
        .map(p => new java.io.File(p).getCanonicalFile)
        .orElse(Iterator.iterate(new java.io.File(".").getCanonicalFile)(_.getParentFile)
          .takeWhile(_ != null).take(8)
          .find(d => new java.io.File(d, "build.sbt").isFile &&
            new java.io.File(d, "docs/bench_records").isDirectory))
      root match {
        case None =>
          System.err.println("[bench] no repo root (build.sbt + docs/bench_records) " +
            "up-tree from cwd; records artifact NOT written " +
            "(set SPARK_GRAFT_RECORDS_ROOT to force a destination)")
        case Some(r) =>
          System.err.println(s"[bench] records artifact root: $r")
          val sfBase = new java.io.File(sfDir).getName
          val outDir = r.toPath.resolve("docs").resolve("bench_records")
          java.nio.file.Files.createDirectories(outDir)
          java.nio.file.Files.write(outDir.resolve(s"$sfBase.json"),
            (fullLine + "\n").getBytes("UTF-8"))
          val stamped = fullLine.patch(1,
            s""""ts":"${java.time.Instant.now()}",""", 0)
          java.nio.file.Files.write(outDir.resolve(s"${sfBase}_history.jsonl"),
            (stamped + "\n").getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.APPEND)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] records artifact write failed: $e")
    }
    // Short trailing duplicate of the headline number: the full line above
    // can exceed the driver's log-tail capture, truncating from the HEAD —
    // this one-liner always survives a tail cut. Distinct metric name so
    // consumers that sum "total" lines can't double-count. Carries the
    // floor too: the tail line is often the only one a log capture keeps.
    // tail variant carries rebuild COUNTS, not lists: a cold lake can
    // rebuild a dozen artifacts and the driver keeps only a 2000-char
    // log TAIL — a long tail line loses its HEAD (the metric name)
    // first; the full lists live in the full line + the disk artifact
    val stabilityTail =
      s""""heap_mb":${Runtime.getRuntime.maxMemory() / (1L << 20)},""" +
        s""""cpus":$cpus,""" +
        s""""task_failures_total":${recMap.values.map(_._3).sum},""" +
        s""""stage_retries_total":${recMap.values.map(_._4).sum},""" +
        s""""spill_mb_total":${recMap.values.map(_._5).sum / 1e6},""" +
        s""""cache_stable":$cacheStable,""" +
        s""""cache_dropped_n":$cacheDropped,""" +
        s""""rebuilt_setup_n":${rebuiltSetup.size},"rebuilt_midrun_n":${rebuiltMid.size}"""
    println(s"""{"metric":"total_tail","value":$total,"unit":"sec",$floors,$recTotals,$stabilityTail,"sf":"$sfDir"}""")
    spark.stop()
  }
}
