package graft
import org.apache.spark.sql.SparkSession
import graft.obs.Profiler
object Bench {
  /** A failed warmup, entry or setup step keeps its +Inf/-1 marker AND
    * names its cause on stderr; fatal JVM errors propagate.
    */
  private def reportFailure(name: String, cause: String): Unit =
    System.err.println(s"[bench] $name failed: $cause")

  /** The named setup steps, in run order. Each is memoized or persisted,
    * so it is timed once: with min-of-two timing the first consumer run
    * would otherwise absorb each build and attribute it nowhere.
    *  - setup_shared_frames: the session-memoized shared materializations
    *    (postings, word 3-grams, token-set signatures, vector band
    *    signatures). FIRST: it builds the signature table and the
    *    verified pair graph that a cold clusterLabels would otherwise
    *    trigger, so setup_dedup_clusters pays ONLY the label propagation
    *    + persist (cold-profile at sf0.1: tokenize 6.2s + sign 2.2s +
    *    verify 3.9s attributed to shared_frames; propagation 8.1s to
    *    dedup_clusters);
    *  - setup_dedup_clusters: the (doc_id, label) lake artifact — serves
    *    from labels.parquet when the version stamp is current, runs the
    *    propagation only on a cold/stale lake;
    *  - setup_clean_corpus: the curation compositions' shared
    *    clean-corpus spine — after clusters (it consumes the labels
    *    artifact) so each step pays only its own marginal;
    *  - setup_bpe_model: the BPE merge-table training loop (memoized per
    *    session/dir), else absorbed into text_bpe_train's first run;
    *  - `IndexOps.warmSteps`: each persisted index/state family ensured
    *    current as ITS OWN named line — a COLD lake (fresh checkout,
    *    version bump) pays its builds here, named per artifact, instead
    *    of inside whichever probe entry runs first, and one broken
    *    family can't -1.0 the others' attribution (r9: the HLL crash
    *    zeroed the whole chain).
    */
  val setupSteps: Seq[(String, (SparkSession, String) => Unit)] =
    Seq[(String, (SparkSession, String) => Unit)](
      "setup_shared_frames" -> (queries.TextOps.warmSharedFrames _),
      "setup_dedup_clusters" -> (queries.TextOps.warmDedupClusters _),
      "setup_clean_corpus" -> (queries.PipelineOps.warmCleanCorpus _),
      "setup_bpe_model" -> ((s, d) => { queries.TokenizerOps.trainBpe(s, d); () })) ++
      queries.IndexOps.warmSteps

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Core.localSession(cpus, "graft-bench")
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
    // Untimed warmup: JIT + codegen + parquet footer caches, so the first
    // timed query doesn't absorb ~5s of JVM warmup. One cheap query per
    // module family — relational, text (tokenize/explode paths), vector
    // (native dotp) — because each family JITs distinct codegen classes
    // and whichever family ran first used to absorb its compile debt.
    for (w <- Seq("q1_pricing_summary", "text_token_count", "vec_knn_topk")) {
      // a stale name must fail loudly — a silently-skipped warmup hands
      // that family's JIT debt back to its first timed query
      require(SparkEntry.queries.contains(w), s"warmup query '$w' no longer exists")
      Profiler.measure(spark)(SparkEntry.queries(w)(spark, sfDir).count())
        .failure.foreach(reportFailure(w, _))
    }
    // Per-entry records, each a Profiler record's 7 slots: [shuffle
    // records, shuffle bytes, failed tasks, stage retries, spill bytes,
    // GC ms, task run ms].
    //  - Shuffle records (r14 verdict ask #2): wall clock on this box
    //    swings 5-10× with neighbour load, but shuffle records are a
    //    property of the PLAN — the round-over-round regression signal
    //    of record. They come from an entry's SECOND timed run (the
    //    warm, steady-state one; plan-identical to the first).
    //  - Failed tasks and stage retries (r16 verdict ask #2):
    //    RE-EXECUTION is invisible in shuffle-write totals — a task that
    //    fails (GC stall, fetch timeout under contention) is re-run and
    //    its shuffle rows are WRITTEN AGAIN, and a stage retry re-writes
    //    the whole stage; bench_diff treats a run (or an entry) with
    //    re-execution as non-comparable instead of reporting its
    //    inflated records as plan movers. A recorded run that ABORTED
    //    driver-side (+Inf/-1 by the failure conventions) leaves
    //    partially-accumulated records whose in-flight tasks end as
    //    TaskKilled (not re-execution), so its failed slot is poisoned
    //    with +1: without it the truncated snapshot would diff as a clean
    //    plan mover (e.g. a false "records dropped 40%").
    //  - Spill bytes: THE confirmed false-mover channel (r16 forensics,
    //    see SCALE.md) — a map-side hash aggregate that exhausts its
    //    execution-memory grant SPILLS and emits partially-unaggregated
    //    rows, so the SAME plan writes MORE shuffle records.
    //  - GC ms and task run ms (r17 verdict ask #1): the environment
    //    witnesses — a contended/paused entry's WALL inflates while its
    //    task work doesn't, and a GC storm shows directly. Consumers read
    //    wall >> taskRun at records parity as environment, not plan.
    val recMap = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Long]]
    def slotSum(i: Int): Long = recMap.values.map(_(i)).sum
    // the recorded run's failure cause per entry or setup step
    val failures = scala.collection.mutable.Map.empty[String, String]
    def record(name: String, r: Profiler.Record): Unit = {
      val c = r.counters
      recMap(name) = Vector(c.shuffleRecords, c.shuffleBytes,
        c.failedTasks + (if (r.failed) 1 else 0), c.stageRetries, c.spillBytes,
        r.gcMs, c.taskRunMs)
      r.failure.foreach(failures(name) = _)
    }
    // Each query is timed twice and the MIN reported: the first pass pays
    // JIT compilation, codegen-class loading, and GC debt accumulated by
    // earlier queries; the second measures the plan. Round-over-round
    // deltas on unchanged queries were ±2s of pure JVM noise otherwise.
    // A failed run times as +Inf so the min reports the SUCCESSFUL run
    // (a fast crash must not masquerade as a speedup); a query failing
    // both runs emits -1 as an explicit failure marker.
    def timed(name: String, r: Profiler.Record): Double = r.failure match {
      case Some(cause) => reportFailure(name, cause); Double.PositiveInfinity
      case None => r.wallS
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
    val setups = setupSteps.map { case (name, f) =>
      val r = Profiler.measure(spark)(f(spark, sfDir))
      rebuiltSetupRows ++= drainTagged(name)
      record(name, r)
      r.failure.foreach(reportFailure(name, _))
      // same failure convention as the entries: -1, never elapsed-until-crash
      name -> (if (r.failed) -1.0 else r.wallS)
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
      def run() = Profiler.measure(spark)(fn(spark, sfDir).count())
      val t1 = timed(name, run())
      val r = run()
      record(name, r)
      val t2 = timed(name, r)
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
    // per-entry records (the 7 slots above), same ascending-by-time
    // order as the seconds so the expensive entries' records survive a
    // head-truncated log capture too (bench_diff also reads the legacy
    // 5- and 2-element forms)
    val recs = sorted
      .flatMap { case (k, _) => recMap.get(k).map(r => s"\"$k\":" + r.mkString("[", ",", "]")) }
      .mkString("{", ",", "}")
    // each failed recorded run's cause, same order, so a -1 names why
    val fails = sorted
      .flatMap { case (k, _) =>
        failures.get(k).map(c => s"\"$k\":" + Core.jsonString(c.take(200))) }
      .mkString("{", ",", "}")
    val recTotals =
      s""""shuf_recs_total":${slotSum(0)},""" +
        s""""shuf_mb_total":${slotSum(1) / 1e6}"""
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
        s""""task_failures_total":${slotSum(2)},""" +
        s""""stage_retries_total":${slotSum(3)},""" +
        s""""spill_mb_total":${slotSum(4) / 1e6},""" +
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
      s"""{"metric":"total","value":$total,"unit":"sec",$floors,$recTotals,$stability,"queries":$qs,"records":$recs,"failures":$fails,"sf":"$sfDir"}"""
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
        s""""task_failures_total":${slotSum(2)},""" +
        s""""stage_retries_total":${slotSum(3)},""" +
        s""""spill_mb_total":${slotSum(4) / 1e6},""" +
        s""""cache_stable":$cacheStable,""" +
        s""""cache_dropped_n":$cacheDropped,""" +
        s""""rebuilt_setup_n":${rebuiltSetup.size},"rebuilt_midrun_n":${rebuiltMid.size}"""
    println(s"""{"metric":"total_tail","value":$total,"unit":"sec",$floors,$recTotals,$stabilityTail,"sf":"$sfDir"}""")
    spark.stop()
  }
}
