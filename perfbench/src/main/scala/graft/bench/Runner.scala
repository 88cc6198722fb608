package graft.bench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Core.Entry
import graft.queries._
import graft.streaming.Streams

/** One benchmark run in a fresh JVM: build the workload's artifacts, serve
  * its seeded op mix as a one-client closed loop, check the outputs and
  * write the raw record. `perfbench/run.py` writes the plan, starts this
  * main with its working directory in the run's scratch area, and turns the
  * record into metrics.
  *
  * Usage: `graft.bench.Runner <plan.json>`; writes `<out>/record.json`,
  * `<out>/oracle_sql.json` and one parquet dump per op under `<out>/dumps/`.
  */
object Runner {
  type Build = (SparkSession, String) => Unit

  private val GateDocs = "docs"
  private val GateVecs = "vecs"
  /** Cosine at or above which the vector gate rejects a vector. */
  private val GateMinCos = 0.99

  /** The queries modules whose `entries` the op mix draws from, by layer. */
  private lazy val modules: Seq[(String, Seq[Entry])] = Seq(
    "Relational" -> Relational.entries, "Funcs" -> Funcs.entries,
    "TimeSeriesQ" -> TimeSeriesQ.entries, "GraphOps" -> GraphOps.entries,
    "ExtensibilityOps" -> ExtensibilityOps.entries, "TextOps" -> TextOps.entries,
    "TokenizerOps" -> TokenizerOps.entries, "QualityOps" -> QualityOps.entries,
    "PipelineOps" -> PipelineOps.entries, "EmbedOps" -> EmbedOps.entries,
    "VecOps" -> VecOps.entries, "IndexOps" -> IndexOps.entries,
    "IvfIndex" -> IvfIndex.entries, "PqIndex" -> PqIndex.entries)

  private lazy val entries: Map[String, (String, Entry)] =
    modules.flatMap { case (layer, es) => es.map(e => e.name -> (layer, e)) }.toMap

  /** Setup steps by name: (layer, build). `gateLake` is where the
    * admission gates land what they admit; their private index copies are
    * built here so the first micro-batch does not pay for them. */
  private def setupSteps(gateLake: String): Map[String, (String, Build)] = {
    val warm = IndexOps.warmSteps.toMap
    def w(n: String): Build = warm("setup_" + n)
    Map(
      "fact_layout" -> ("FactLayout", w("fact_layout")),
      "shared_frames" -> ("TextOps", TextOps.warmSharedFrames _),
      "dedup_clusters" -> ("TextOps", TextOps.warmDedupClusters _),
      "clean_corpus" -> ("PipelineOps", PipelineOps.warmCleanCorpus _),
      "bpe_model" -> ("TokenizerOps", (s, d) => { TokenizerOps.trainBpe(s, d); () }),
      "mix_state" -> ("PipelineOps", w("mix_state")),
      "hll_state" -> ("PipelineOps", w("hll_state")),
      "lm_state" -> ("PipelineOps", w("lm_state")),
      "embed_model" -> ("EmbedOps", w("embed_model")),
      "embed_dedup" -> ("EmbedOps", w("embed_dedup")),
      "sim_index" -> ("IndexOps", w("sim_index")),
      "vec_index" -> ("IndexOps", w("vec_index")),
      "ivf_index" -> ("IvfIndex", w("ivf_index")),
      "pq_index" -> ("PqIndex", w("pq_index")),
      "ivfpq_index" -> ("PqIndex", w("ivfpq_index")),
      "doc_gate_index" -> ("IndexOps", (s, d) => {
        IndexOps.ensureIndexStatus(s, d, Streams.gateNamespace(gateLake, GateDocs)); () }),
      "vec_gate_index" -> ("IndexOps", (s, d) => {
        IndexOps.ensureVecIndexStatus(s, d, Streams.gateNamespace(gateLake, GateVecs)); () }))
  }

  private val mapper = new ObjectMapper()
  private val epochBaseMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  /** Wall clock in epoch milliseconds at nanoTime resolution, on the same
    * axis as the scheduler's job timestamps. */
  private def nowMs(): Double = epochBaseMs + System.nanoTime() / 1e6

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val lake = plan.get("lake").asText
    val out = plan.get("out").asText
    val work = new File(".").getCanonicalPath
    // The persisted-artifact oracle strings bind their paths when the
    // queries objects initialise, so this must precede the first touch.
    graft.OracleEnv.sfDir = lake
    val cores = plan.get("cores").asInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (nowMs() - jvmStartMs) / 1e3
    val tracer =
      if (plan.get("trace").asBoolean) {
        val t = new Tracer(spark.sparkContext)
        spark.sparkContext.addSparkListener(t)
        Some(t)
      } else None

    val record = new JMap[String, AnyRef]
    val calls = new JList[JMap[String, AnyRef]]
    var nextSpan = 0L
    /** Times one call into `layer`; returns its result, or the failure. */
    def call[T](kind: String, layer: String, name: String, pass: Int)
               (body: => T): Either[Throwable, T] = {
      val span = nextSpan; nextSpan += 1
      val t0 = nowMs()
      val res =
        try Right(tracer.fold(body)(_.within(span)(body)))
        catch { case NonFatal(e) => Left(e) }
      val t1 = nowMs()
      val c = new JMap[String, AnyRef]
      c.put("span", Long.box(span)); c.put("kind", kind); c.put("layer", layer)
      c.put("name", name); c.put("pass", Int.box(pass))
      c.put("t0", Double.box(t0)); c.put("t1", Double.box(t1))
      res.left.foreach(e => c.put("cause", s"${e.getClass.getName}: ${e.getMessage}".take(500)))
      calls.add(c)
      res
    }
    var heapPeak = 0L
    def heapAfterGc(): Unit = {
      // the second collection frees what the first one's reference
      // processing (Spark's ContextCleaner) released in between
      System.gc(); Thread.sleep(100); System.gc()
      heapPeak = math.max(heapPeak,
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    }
    // Fixed trivial plan (as Bench.noiseFloor): min of 3 after a warm-up.
    def noiseFloor(): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.range(0L, 1L << 20, 1L, 32).selectExpr("sum(id)").collect()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      Seq.fill(3)(once()).min
    }
    val floorStart = noiseFloor()

    // ---- setup: one cold build, from an empty lake, of every artifact
    // the workload serves from
    val gateLake = s"$work/admitted"
    val steps = setupSteps(gateLake)
    val setupNames = plan.get("setup").asScala.map(_.asText).toSeq
    val unknown = setupNames.filterNot(steps.contains)
    require(unknown.isEmpty, s"unknown setup steps: ${unknown.mkString(",")}")
    val setupStart = nowMs()
    for (n <- setupNames) {
      val (layer, build) = steps(n)
      call("setup", layer, n, 0)(build(spark, lake)).left.foreach(throw _)
    }
    val setupBuildS = (nowMs() - setupStart) / 1e3
    heapAfterGc()

    // ---- admission gates: two streaming queries fed by memory streams,
    // one micro-batch per ingest item. They start here, outside any span:
    // a query's thread inherits the local properties of the thread that
    // starts it, and must not carry one call's span into later batches.
    val passes = plan.get("passes").asScala.toSeq
    val hasGates = passes.exists(_.asScala.exists(!_.asText.startsWith("op:")))
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    lazy val docIn = MemoryStream[(Long, String)]
    lazy val vecIn = MemoryStream[(Long, Seq[Float])]
    lazy val docQ: StreamingQuery = Streams.dedupIngest(
      docIn.toDF().toDF("doc_id", "text"), lake, gateLake, GateDocs)
    lazy val vecQ: StreamingQuery = Streams.dedupVecIngest(
      vecIn.toDF().toDF("vec_id", "embedding"), lake, gateLake, GateVecs, GateMinCos)
    if (hasGates) { docQ; vecQ }

    // ---- serving: the plan's passes over the seeded mix, back to back
    val digests = scala.collection.mutable.Map.empty[String, String]
    val firstResults = scala.collection.mutable.LinkedHashMap.empty[String, Array[Row]]
    val oracles = new JMap[String, String]
    var gcServe = 0L
    for ((items, pass) <- passes.zip(LazyList.from(1))) {
      for (item <- items.asScala.map(_.asText)) {
        val gcBefore = gcMs()
        item.split(":", 2) match {
          case Array("op", name) =>
            val (layer, e) = entries.getOrElse(name,
              throw new IllegalArgumentException(s"unknown op $name"))
            val res = call("read", layer, name, pass)(e.fn(spark, lake).collect())
            gcServe += gcMs() - gcBefore
            res.foreach { rows =>
              val c = calls.get(calls.size - 1)
              c.put("rows", Int.box(rows.length))
              val d = Check.digest(rows)
              digests.get(name) match {
                case None =>
                  digests(name) = d
                  e.oracle.foreach(oracles.put(name, _))
                  if (rows.nonEmpty) firstResults(name) = rows
                case Some(first) if first != d =>
                  c.put("cause", "digest differs from the op's first result")
                case _ =>
              }
            }
          case Array(gate @ ("docs" | "vecs"), path) =>
            // the batch is read before the clock starts
            if (gate == "docs") {
              val rows = spark.read.parquet(path).as[(Long, String)].collect().toSeq
              call("ingest", "Streams", "dedupIngest", pass) {
                docIn.addData(rows); docQ.processAllAvailable() }
            } else {
              val rows = spark.read.parquet(path).as[(Long, Seq[Float])].collect().toSeq
              call("ingest", "Streams", "dedupVecIngest", pass) {
                vecIn.addData(rows); vecQ.processAllAvailable() }
            }
            gcServe += gcMs() - gcBefore
          case _ => throw new IllegalArgumentException(s"bad plan item $item")
        }
      }
    }
    heapAfterGc()
    val cachedBytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    if (hasGates) {
      docQ.stop(); vecQ.stop()
      // where each gate landed its admissions and grew its index, for the
      // invariant check outside the JVM
      record.put("gates", Seq(GateDocs -> "sets", GateVecs -> "vecs").map { case (g, t) =>
        val index = IndexOps.indexDir(lake, Streams.gateNamespace(gateLake, g))
        Map("gate" -> g, "table" -> s"$gateLake/$g.parquet",
          "index" -> new File(index, s"$t.parquet").getAbsolutePath).asJava
      }.asJava)
    }
    val floorEnd = noiseFloor()
    // each op's first result goes to parquet for the oracle compare; the
    // writes are independent small jobs, so they run side by side
    val dumpStart = nowMs()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    firstResults.toSeq.map { case (name, rows) =>
      pool.submit(new Runnable {
        def run(): Unit = Check.dump(spark, rows, new File(s"$out/dumps/$name"))
      })
    }.foreach(_.get())
    pool.shutdown()
    val dumpS = (nowMs() - dumpStart) / 1e3

    tracer.foreach { t =>
      t.drain()
      val jobs = new JList[AnyRef]
      t.jobs.asScala.foreach { case (s, a, b) =>
        jobs.add(java.util.List.of(Long.box(s), Long.box(a), Long.box(b))) }
      record.put("jobs", jobs)
      val cs = new JMap[String, AnyRef]
      t.counters.asScala.foreach { case (s, c) =>
        val m = new JMap[String, AnyRef]
        m.put("task_ms", Long.box(c.taskMs.get)); m.put("scan_rows", Long.box(c.scanRows.get))
        m.put("shuffle_records", Long.box(c.shuffleRecords.get))
        m.put("shuffle_bytes", Long.box(c.shuffleBytes.get))
        m.put("spill_bytes", Long.box(c.spillBytes.get))
        m.put("failed_tasks", Long.box(c.failedTasks.get))
        m.put("stage_retries", Long.box(c.stageRetries.get))
        cs.put(s.toString, m)
      }
      record.put("counters", cs)
    }
    val env = new JMap[String, AnyRef]
    env.put("cores", Int.box(cores))
    env.put("heap_mb", Long.box(Runtime.getRuntime.maxMemory() >> 20))
    env.put("floor_start_s", Double.box(floorStart))
    env.put("floor_end_s", Double.box(floorEnd))
    env.put("gc_total_s", Double.box(gcMs() / 1e3))
    env.put("gc_serve_s", Double.box(gcServe / 1e3))
    record.put("env", env)
    record.put("session_s", Double.box(sessionS))
    record.put("setup_build_s", Double.box(setupBuildS))
    record.put("passes", Int.box(passes.size))
    record.put("heap_peak_mb", Double.box(heapPeak / 1048576.0))
    record.put("cached_mb", Double.box(cachedBytes / 1048576.0))
    record.put("calls", calls)
    record.put("dump_s", Double.box(dumpS))
    record.put("jvm_s", Double.box((nowMs() - jvmStartMs) / 1e3))
    new File(out).mkdirs()
    mapper.writeValue(new File(out, "oracle_sql.json"), oracles)
    mapper.writeValue(new File(out, "record.json"), record)
    spark.stop()
  }
}
