package graft.streaming

import graft.obs.Profiler
import graft.queries.{IndexOps, LakeFs}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming operators (SURVEY.md §2.9 U-rows). Each transform
  * takes an already-streaming DataFrame (`readStream`/MemoryStream) and
  * returns the transformed streaming frame — source-agnostic so the same
  * code path serves MemoryStream specs here and Kafka/file streams on a
  * real cluster.
  *
  * Scale notes: every stateful op below keys its state by a
  * high-cardinality column (user_id / event_id) so state shards across
  * executors; watermarks bound state size (no unbounded retention).
  */
object Streams {

  /** Event record for typed stateful ops. */
  final case class Ev(event_id: Long, user_id: Long, event_type: String,
                      ts: Timestamp, value: Double)

  final case class SessionAgg(user_id: Long, n_events: Long, total: Double)

  /** Tumbling 1-minute window counts with a 2-minute watermark — the
    * streaming analogue of ts_tumbling (reference's batch day-bucket,
    * engine.py SQL surface). Late rows beyond the watermark are dropped.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 minutes")
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      .agg(count("*").as("n"), sum("value").as("total"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("total"))

  /** Streaming exact dedup on event_id within the watermark horizon.
    * `dropDuplicatesWithinWatermark` keys state on event_id ALONE, so a
    * redelivered event_id with a re-stamped timestamp (at-least-once
    * sources with ingestion-time assignment) is still dropped; plain
    * `dropDuplicates("event_id", "ts")` would pass it through.
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Custom per-user running state via mapGroupsWithState: running count
    * and value sum per user, emitted on every trigger (Update mode).
    */
  def statefulUserTotals(events: Dataset[Ev]): Dataset[SessionAgg] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionAgg, SessionAgg](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[SessionAgg]) =>
          val prev = state.getOption.getOrElse(SessionAgg(uid, 0L, 0.0))
          val (n, tot) = rows.foldLeft((prev.n_events, prev.total)) {
            case ((c, t), e) => (c + 1, t + e.value)
          }
          val next = SessionAgg(uid, n, tot)
          state.update(next)
          next
      }
  }

  /** Streaming session windows: per-user sessions that close after a
    * 5-minute event-time gap (the streaming analogue of ts_session).
    * `session_window` + watermark keeps ONLY open sessions in state —
    * a session is emitted and evicted once the watermark passes its
    * close, so state is bounded by concurrently-active users, not
    * history. Keyed by user_id (high cardinality → shards evenly).
    */
  def sessionWindowCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 minutes")
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count("*").as("n_events"), sum("value").as("total"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("user_id"), col("n_events"), col("total"))

  /** Append-mode tumbling agg whose emitted results EXCLUDE
    * beyond-watermark late data — the observable late-data contract:
    * a row older than (max event time - 2 min) never changes a window
    * that the watermark has already closed.
    */
  def lateDataCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 minutes")
      .groupBy(window(col("ts"), "1 minute"))
      .agg(count("*").as("n"))
      .select(col("window.start").as("w_start"), col("n"))

  /** Stream-static enrichment join: each streaming event picks up its
    * user's dimension row. The static side is broadcast (dims stay
    * broadcastable at 100 TB — they grow with entities, not events), so
    * enrichment is map-side per micro-batch with no streaming state.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Multi-emit custom state via flatMapGroupsWithState: per user, emit
    * one row each time the running value total crosses another multiple
    * of `step` (0, 1 or many rows per input batch — the shape
    * mapGroupsWithState cannot express). Update mode, no timeout; state
    * is one (count, total) pair per user, bounded by user cardinality.
    */
  final case class Crossing(user_id: Long, milestone: Double, at_total: Double)

  def milestoneCrossings(events: Dataset[Ev], step: Double): Dataset[Crossing] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAgg, Crossing](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[SessionAgg]) =>
          val prev = state.getOption.getOrElse(SessionAgg(uid, 0L, 0.0))
          // deterministic fold order: MemoryStream batches preserve input
          // order within a group; production sources should pre-sort by
          // event time upstream of this operator
          val evs = rows.toSeq
          var total = prev.total
          val out = Seq.newBuilder[Crossing]
          evs.foreach { e =>
            val before = math.floor(total / step)
            total += e.value
            val after = math.floor(total / step)
            var m = before + 1
            while (m <= after) { out += Crossing(uid, m * step, total); m += 1 }
          }
          state.update(SessionAgg(uid, prev.n_events + evs.size, total))
          out.result().iterator
      }
  }

  final case class Credit(user_id: Long, p_id: Long, v_id: Long,
                          credit_micro: Long)
  final case class ViewBuf(views: Seq[(Long, Long)]) // (v_id, ts_us)

  /** Streaming multi-touch attribution — the ingest-time form of the
    * batch `ts_attribution` entry, SAME integer fixed-point arithmetic
    * (micro-unit values, inverse-age-hours weights, integer-DIV credit
    * splits), so a replay of the event stream produces credits the
    * batch operator's formula reproduces exactly (spec-pinned).
    * Per-user state is the view buffer BOUNDED two ways: views older
    * than the 7-day window are evicted as event time advances (the
    * attribution window IS the retention bound), and the buffer is
    * capped at the newest [[AttributionMaxViews]] views (a bot user
    * can't grow state without bound — the cap is the stream-side twin
    * of the batch op's documented skew dial). State shards by user_id.
    *
    * Same in-group ordering contract as [[milestoneCrossings]]:
    * MemoryStream preserves input order within a group; production
    * sources pre-sort by event time upstream.
    */
  val AttributionMaxViews = 64

  def streamAttribution(events: Dataset[Ev]): Dataset[Credit] = {
    import events.sparkSession.implicits._
    val windowUs = 7L * 86400000000L
    events
      .filter(e => e.event_type == "view" || e.event_type == "purchase")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ViewBuf, Credit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[ViewBuf]) =>
          var buf = state.getOption.map(_.views).getOrElse(Seq.empty)
          val out = Seq.newBuilder[Credit]
          rows.foreach { e =>
            // full-precision epoch micros (Timestamp.getTime truncates
            // to millis; the batch op compares unix_micros)
            val i = e.ts.toInstant
            val t = i.getEpochSecond * 1000000L + i.getNano / 1000L
            if (e.event_type == "view") {
              buf = (buf :+ (e.event_id, t)).takeRight(AttributionMaxViews)
            } else {
              // evict views outside the window BEFORE weighting: the
              // batch predicate (pt - vt <= 7 days) and the state bound
              // are the same expression
              buf = buf.filter { case (_, vt) => t - vt <= windowUs && vt <= t }
              if (buf.nonEmpty) {
                val valMicro = math.round(e.value * 1000000L)
                val ws = buf.map { case (vid, vt) =>
                  (vid, 1000000L / (1L + (t - vt) / 3600000000L))
                }
                val tw = ws.map(_._2).sum
                ws.foreach { case (vid, w) =>
                  out += Credit(uid, e.event_id, vid, valMicro * w / tw)
                }
              }
            }
          }
          state.update(ViewBuf(buf))
          out.result().iterator
      }
  }

  /** Stream-stream interval join: purchases matched to the same user's
    * views within the preceding 5 minutes. BOTH sides carry watermarks
    * and the join condition bounds event-time distance, so each side's
    * buffered state is evicted once the other side's watermark passes
    * the interval — bounded state, keyed by user (shards evenly).
    */
  def viewPurchaseJoin(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.select(col("event_id").as("v_id"), col("user_id").as("v_uid"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "2 minutes")
    val p = purchases.select(col("event_id").as("p_id"), col("user_id").as("p_uid"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 minutes")
    p.join(v,
      col("p_uid") === col("v_uid") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 5 MINUTES"))
      .select(col("p_id"), col("v_id"), col("p_uid").as("user_id"))
  }

  /** Watermarked stream-stream LEFT OUTER join: same interval condition
    * as [[viewPurchaseJoin]], but purchases with NO in-window view are
    * still emitted (v_id null) — the attribution stream must count the
    * view-less purchase, not drop it. The semantics are the subtle
    * part, and what the spec pins: a null row is NOT emitted when the
    * purchase arrives (a matching view could still come), only when the
    * BOTH-side watermark passes the purchase's join window, i.e. when
    * no future view can possibly match. Until then the purchase sits in
    * join state; the watermark + time-range bound is also what lets
    * Spark evict that state, so memory stays O(in-window events) — an
    * un-watermarked outer stream join would hold every row forever (and
    * Spark rejects it outright).
    */
  def viewPurchaseJoinOuter(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.select(col("event_id").as("v_id"), col("user_id").as("v_uid"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "2 minutes")
    val p = purchases.select(col("event_id").as("p_id"), col("user_id").as("p_uid"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 minutes")
    p.join(v,
      col("p_uid") === col("v_uid") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 5 MINUTES"),
      "leftOuter")
      .select(col("p_id"), col("v_id"), col("p_uid").as("user_id"))
  }

  /** Streaming keyed upsert into a bronze table: per micro-batch, keep
    * the latest row per key (by `versionCol`, descending) and merge it
    * via Ingest.upsertBronze — the streaming SCD-1 ingest shape.
    * foreachBatch is at-least-once, and this sink is IDEMPOTENT under
    * batch replay: re-upserting the same latest-per-key rows yields the
    * same table, which is exactly the property that makes at-least-once
    * safe here (asserted in StreamingSpec). Ties on versionCol are the
    * caller's contract to avoid (provide a monotonic version).
    */
  def upsertToLake(events: DataFrame, lakeDir: String, name: String,
                   key: String, versionCol: String,
                   checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    // checkpoint: a FILE-BACKED location makes the query restartable —
    // a new query object over the same location resumes at the next
    // unprocessed batch instead of replaying the source from scratch
    // (the upsert itself is idempotent, so even an at-least-once replay
    // converges; the checkpoint buys exactly-once progress and is the
    // production crash-recovery contract — StreamingSpec kills and
    // resumes it mid-stream). None keeps the ad-hoc temp-checkpoint
    // behavior for one-shot demo runs.
    val wr = events.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(key)).orderBy(col(versionCol).desc)
        val latest = batch.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        graft.sources.Ingest.upsertBronze(latest, lakeDir, name, key)
        ()
      }
    checkpoint.foreach(c => wr.option("checkpointLocation", c))
    wr.start()
  }

  /** Index namespace of an admission gate: each gate grows a PRIVATE
    * copy-on-first-use index (seeded from the corpus) keyed by its lake
    * destination, so gate growth can never change what the batch
    * entries' documents-only SQL oracles see in the shared corpus index,
    * and two gates over the same corpus never interleave appends.
    * Keyed by a 128-bit digest of the full destination path — a 32-bit
    * String.hashCode namespace would birthday-collide two gates into
    * one index dir (mutual cross-rejection, clobbering compactions) at
    * realistic gate counts.
    */
  def gateNamespace(lakeDir: String, name: String): String =
    "gate" + java.security.MessageDigest.getInstance("MD5")
      .digest((lakeDir + "/" + name).getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  /** Decommission a gate: delete its private index namespace. The
    * namespace is keyed by the gate's lake destination and the index
    * lake is durable (`sbt clean` no longer wipes it — see
    * IndexOps.indexDir), so a gate whose destination is a THROWAWAY
    * path (tests, ad-hoc runs) orphans a corpus-seeded index copy
    * unless its owner drops it. Idempotent; never touches the shared
    * corpus index or other gates (128-bit namespace keying).
    */
  def dropGate(s: SparkSession, corpusDir: String, lakeDir: String, name: String): Unit = {
    val p = IndexOps.indexDir(corpusDir, gateNamespace(lakeDir, name))
    LakeFs(s, p).delete(new Path(p), true); ()
  }

  /** Compaction cadence: every Nth micro-batch the gate rewrites its
    * index namespace (appends add one small file set per batch —
    * unbounded, the small-file pathology sink_compact exists for).
    */
  private val compactEvery = 8L

  /** Streaming ingest dedup against the persisted similarity index: per
    * micro-batch, drop documents with a ≥0.9-Jaccard near-duplicate in
    * the indexed corpus OR earlier in the same batch, append only the
    * NOVEL ones to the lake, then grow the index with what was admitted
    * so the NEXT batch is gated against this one too — the admission
    * gate a training-data pipeline runs on every arriving shard (batch
    * analogue: sim_index_incremental). The gate's cluster labels are a
    * view over the corpus labels and this table (TextOps.gateLabels).
    *
    * Per-batch work is bounded by the batch (IndexOps.screenDocs): the
    * batch is signed once, the index is probed through the one sim probe
    * path (IndexOps.simMatches) by the batch's own bucket keys, with
    * `sets` streamed past the candidates, and the signed admitted rows
    * are appended as they are — 7 jobs per batch outside the compaction
    * cadence (the batch read; the candidate read by one pushed
    * predicate; the matches: the broadcast of the candidates and the
    * `sets` scan; one write each of the `batch=N` dir, `sets` and
    * `bands`, one part file each) and one index ensure. A batch whose
    * keys pass the 1024-key pushdown ceiling (over 1024 docs) finds its
    * candidates by streaming `bands` past a broadcast of its keys
    * instead: one more job. The driver holds the signed batch and its
    * candidates; a batch past the broadcast dials
    * (`spark.graft.broadcast.maxRows`,
    * `spark.graft.guard.maxBroadcastBytes`) stops the query — bound it
    * with the source's per-trigger limit.
    *
    * The lifecycle below is shared with [[dedupVecIngest]] through
    * [[gate]].
    *
    * At-least-once safety: the admitted rows land in a per-batchId
    * directory with Overwrite (replay rewrites the same dir, never
    * double-appends), and the screen ignores a doc's own indexed copy,
    * so a replayed batch admits identically even though its docs were
    * already appended to the index. Readers see `batch` as a partition
    * column of the admitted table.
    *
    * Rebuild recovery: if the gate's index namespace had to rebuild
    * (signature-version bump, crashed append), the rebuild re-signs the
    * BASE corpus only — so every previously-admitted doc is re-appended
    * from the lake table via the ensure call's `recover` hook, which
    * runs BEFORE the rebuilt index is stamped servable. Without the
    * hook a rebuild would silently reset admission history; without the
    * stamp ordering a crash BETWEEN stamping and re-appending would do
    * the same (stamp already current → recovery never retried). The
    * re-append is idempotent, which is what lets a crashed recovery
    * simply run again. The `batch=N` dir commits before the index
    * append, so an index append never holds a doc the lake table lacks.
    */
  def dedupIngest(docs: DataFrame, corpusDir: String, lakeDir: String,
                  name: String): org.apache.spark.sql.streaming.StreamingQuery =
    gate(docs, corpusDir, lakeDir, name, "graft.streaming.Streams.dedupIngest",
      IndexOps.ensureIndexStatus, IndexOps.appendToIndexAt,
      IndexOps.screenDocs, IndexOps.appendSignedDocs)

  /** Embedding twin of [[dedupIngest]]: per micro-batch, drop vectors
    * with a ≥`minCos` neighbor in the persisted ANN index or earlier in
    * the batch, append the novel ones to the lake, and grow the index
    * with what was admitted. Bounded by the batch
    * (IndexOps.screenVectors, through IndexOps.vecMatches): 7 jobs per
    * batch outside the compaction cadence while the batch's Hamming-≤2
    * rings fit the 1024-key pushdown ceiling — the batch read; the
    * candidate read by one pushed predicate; the matches: the broadcast
    * of the candidates and the `vecs` scan; one write each of the
    * `batch=N` dir, `vecs` and `vec_bands` — and 8 past it (from 6
    * vectors at w=18), where the candidates are found by streaming
    * `vec_bands` past a broadcast of the batch's ring rows.
    */
  def dedupVecIngest(vecs: DataFrame, corpusDir: String, lakeDir: String,
                     name: String, minCos: Double): org.apache.spark.sql.streaming.StreamingQuery =
    gate(vecs, corpusDir, lakeDir, name, "graft.streaming.Streams.dedupVecIngest",
      IndexOps.ensureVecIndexStatus, IndexOps.appendToVecIndexAt,
      IndexOps.screenVectors(_, _, _, minCos), IndexOps.appendSignedVectors)

  /** The admission gates' one micro-batch body, over an index family's
    * `ensure` (with the rebuild `recover` hook), known-path `recoverAt`
    * append, `screen` and signed `append`: ensure the gate's namespace,
    * screen the batch, write `batch=N`, append the signed admitted rows
    * to the index, then the compaction cadence — every step named under
    * `scope` (see [[dedupIngest]] for the lifecycle).
    */
  private def gate(rows: DataFrame, corpusDir: String, lakeDir: String, name: String,
                   scope: String,
                   ensure: (SparkSession, String, String, String => Unit) => (String, Boolean),
                   recoverAt: (SparkSession, String, DataFrame) => Unit,
                   screen: (SparkSession, String, DataFrame) => IndexOps.Screened,
                   append: (SparkSession, String, String, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val ns = gateNamespace(lakeDir, name)
    val tablePath = s"$lakeDir/$name.parquet"
    rows.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        Profiler.scope(s, scope) {
          val (path, _) = Profiler.step(s, "ensure")(ensure(s, corpusDir, ns, p =>
            if (LakeFs(s, tablePath).exists(new Path(tablePath)))
              recoverAt(s, p, graft.Core.load(s, lakeDir, name))))
          val screened = screen(s, path, batch)
          Profiler.step(s, "write batch")(
            screened.admitted.write.mode("overwrite").parquet(s"$tablePath/batch=$batchId"))
          append(s, corpusDir, ns, screened.signed)
          if (batchId % compactEvery == compactEvery - 1)
            Profiler.step(s, "compact")(IndexOps.compactIndex(s, corpusDir, ns))
        }
      }
      .start()
  }

  /** Streaming maintenance of the mixing family's aggregate state
    * (PipelineOps.mix_weights_incremental's MV): each micro-batch of
    * documents lands its per-source partial aggregates in an
    * overwrite-idempotent per-batchId dir, and every Nth batch the
    * partials are compacted into the base state table. Exactly-once
    * effect over an at-least-once channel, with no transaction log:
    * replay of a LIVE batch rewrites the same partial dir; replay of an
    * ALREADY-ABSORBED batch re-creates a dir that every read ignores
    * (its id is ≤ the state's merged_upto high-water mark, which rides
    * inside the compacted table so the stage-and-swap is the commit
    * point) and the next compaction garbage-collects. Serving reads
    * (PipelineOps.readMixState) are O(|sources|·|pending batches|) —
    * the corpus is never rescanned. Same private-namespace discipline
    * as the admission gates: the oracled batch entry reads the
    * pristine "" namespace, which streaming growth never touches.
    */
  def mixStateIngest(docs: DataFrame, corpusDir: String, lakeDir: String,
                     name: String,
                     checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val ns = gateNamespace(lakeDir, name)
    // checkpoint (see upsertToLake): with a file-backed location a
    // restarted query resumes at the next batchId the checkpoint
    // records — which is ALSO what keeps the per-batchId partial dirs
    // aligned across a crash (a from-scratch restart would re-emit
    // batch 0; the high-water mark would ignore it post-compaction,
    // but pre-compaction the overwrite discipline is what protects it).
    val wr = docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        graft.queries.PipelineOps.writeMixPartial(s, corpusDir, batch, ns, batchId)
        if (batchId % compactEvery == compactEvery - 1)
          graft.queries.PipelineOps.compactMixState(s, corpusDir, ns)
        ()
      }
    checkpoint.foreach(c => wr.option("checkpointLocation", c))
    wr.start()
  }

  /** Frozen-encoder streaming embed serve — the online sibling of
    * text_embed_learned_incremental: per micro-batch, embed the batch's
    * (doc_id, text) rows against the persisted word-vector model
    * (EmbedOps.ensureEmbedModel — trained once on the base corpus,
    * NEVER retrained by the stream; retraining is a scheduled stamped
    * rebuild, exactly the frozen-encoder production contract) and
    * append the sparse (doc_id, dim, val) rows to the lake under a
    * per-batchId dir, so a replayed batch overwrites itself
    * (idempotent, same discipline as the dedup gates). Per-batch cost
    * is O(|batch| tokens) + a model join — the corpus is never
    * re-scanned, and a streaming aggregation (watermark state) is
    * unnecessary because each document arrives whole.
    */
  def embedIngest(docs: DataFrame, corpusDir: String, lakeDir: String,
                  name: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        val path = graft.queries.EmbedOps.ensureEmbedModel(s, corpusDir)
        val model = graft.queries.EmbedOps.embedModel.read(s, path, "embed_model")
        val tf = batch
          .select(col("doc_id"), explode(graft.Core.tokens(lower(col("text")))).as("term"))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        graft.queries.EmbedOps.docEmbed(tf, model)
          .write.mode("overwrite").parquet(s"$lakeDir/$name.parquet/batch=$batchId")
        ()
      }
      .start()

  final case class ShardSketch(shard: Int, n_seen: Long,
                               keys: Array[String], counts: Array[Long])

  /** State row for [[heavyHitterShards]] — public: the state encoder's
    * generated code needs constructor/accessor visibility.
    */
  final case class HhState(keys: Array[String], counts: Array[Long], n_seen: Long)

  /** Streaming heavy hitters with BOUNDED state: the streaming sibling of
    * `agg_heavy_hitters`. Terms route deterministically to one of
    * `shards` groups by hash, and each group folds its substream into a
    * Misra-Gries sketch held in `mapGroupsWithState` — total state is
    * shards × k counters FOREVER, regardless of stream length or term
    * cardinality (an exact streaming count would grow with vocabulary).
    * Because routing is by term, each term lives in exactly ONE shard,
    * so the union of shard sketches inherits the per-shard guarantee:
    * every term with frequency > n_shard/(k+1) survives, and estimates
    * never over-count. Shards (not one global group) keep the fold
    * parallel across executors — the same reason the batch form merges
    * partition-local sketches.
    */
  def heavyHitterShards(terms: Dataset[String], shards: Int, k: Int): Dataset[ShardSketch] = {
    import terms.sparkSession.implicits._
    val mg = graft.functions.MisraGries.agg(k)
    terms
      .groupByKey(t => math.floorMod(t.hashCode, shards))
      .mapGroupsWithState[HhState, ShardSketch](GroupStateTimeout.NoTimeout) {
        (shard, rows, state) =>
          val prev = state.getOption.getOrElse(HhState(Array.empty, Array.empty, 0L))
          var sk = graft.functions.MisraGries.Sketch(prev.keys, prev.counts)
          var n = prev.n_seen
          rows.foreach { t => sk = mg.reduce(sk, t); n += 1 }
          state.update(HhState(sk.keys, sk.counts, n))
          // n_seen grows monotonically per shard — the serve side picks
          // each shard's latest sketch by max(n_seen)
          ShardSketch(shard, n, sk.keys, sk.counts)
      }
  }

  /** Per-user CUSUM state: prefix sum, running min of the prefix, the
    * best statistic so far and the event where it peaked. O(1) longs
    * per user FOREVER — the whole point vs replaying history.
    */
  final case class CusumState(pref: Long, minPref: Long, best: Long,
                              bestEvent: Long, n: Long)

  final case class CusumUpdate(user_id: Long, max_cusum_micro: Long,
                               at_event: Long, n_seen: Long)

  /** Streaming one-sided CUSUM drift monitor — the online sibling of
    * batch `ts_changepoint_cusum`, against a FIXED per-user baseline
    * mean (the production contract: μ comes from a trained profile
    * table, e.g. the batch operator over history; a monitor that
    * re-estimates μ from the stream it is judging would chase its own
    * drift). The recursion S_i = max(0, S_{i−1} + x_i − μ) is carried
    * as (prefix sum, running min) in `mapGroupsWithState` — two longs,
    * so per-user state is O(1) regardless of stream length, sharded by
    * user across executors. Argmax keeps the EARLIEST peak (strict >,
    * rows folded in (ts, event_id) order), matching the batch
    * tie-break.
    *
    * Ordering contract: rows are sorted within each micro-batch fold;
    * cross-batch order is the source's (the gate feeds time-ordered
    * batches; a production deployment fronts this with the standard
    * watermark + sorted foreachBatch arrangement when sources can
    * interleave past batch boundaries).
    */
  def cusumMonitor(events: DataFrame, baseline: DataFrame): Dataset[CusumUpdate] = {
    import events.sparkSession.implicits._
    events
      .join(broadcast(baseline), "user_id") // stream-static, map-side
      .select($"user_id".as("user_id"),
        unix_micros($"ts").as("tsu"), $"event_id",
        (floor($"value" * 10000 + 0.5).cast("long") - $"mu").as("d"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[CusumState, CusumUpdate](GroupStateTimeout.NoTimeout) {
        (user, rows, state) =>
          // minPref starts at 0, not +∞: the running min must include
          // the virtual P₀ = 0 for S_i = P_i − min_{0≤j≤i} P_j to be
          // Page's CUSUM (else drift starting at the first event is
          // clipped while all prefix sums are still positive)
          val prev = state.getOption.getOrElse(
            CusumState(0L, 0L, Long.MinValue, -1L, 0L))
          var (pref, minPref, best, bestEvent, n) =
            (prev.pref, prev.minPref, prev.best, prev.bestEvent, prev.n)
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, _, eid, d) =>
            pref += d
            if (pref < minPref) minPref = pref
            val cusum = pref - minPref
            if (cusum > best) { best = cusum; bestEvent = eid }
            n += 1
          }
          state.update(CusumState(pref, minPref, best, bestEvent, n))
          CusumUpdate(user, best, bestEvent, n)
      }
  }

  /** The baseline frame for [[cusumMonitor]]: per-user integer-micro
    * mean over a history corpus — the same μ the batch operator uses,
    * so monitor == batch replay on identical data (CusumStreamSpec).
    */
  def cusumBaseline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Core.loadEvents(s, dir)
      .select($"user_id", floor($"value" * 10000 + 0.5).cast("long").as("vm"))
      .groupBy($"user_id")
      .agg(expr("sum(vm) DIV count(*)").as("mu"))
  }

  /** Convenience: run a streaming frame to a named in-memory sink table,
    * processing all currently-available input synchronously.
    */
  /** Streaming quality filter — the curation layer applied at INGEST:
    * the Gopher rule battery (same integer thresholds as the batch
    * `text_gopher_rules` entry) plus the trained logistic scorer
    * (`QualityOps.trainedWeights`, fit offline on the seed set) run as
    * ONE STATELESS projection over a (doc_id, text) document stream —
    * train once, filter every arriving micro-batch. No state store, no
    * watermark, no shuffle: every per-doc statistic (token count, mean
    * word length, stopword count, top-token share, w·x score) is
    * computed row-wise with higher-order array functions, so the
    * operator runs at source parallelism and scales with ingest rate
    * alone. The 65-weight model ships inside the plan as an array
    * literal — the streaming analogue of the batch apply's broadcast.
    * Weights are the trainer's integer micro-units and the dim hash is
    * the same md5 device as the batch feature frame, so the integer
    * score (and hence `keep`) agrees with the batch apply doc-by-doc
    * EXACTLY — no float-order caveat.
    */
  def qualityFilterStream(docs: DataFrame, weights: Array[Long]): DataFrame = {
    val warr = typedlit(weights.toSeq)
    val toks = filter(split(lower(col("text")), " "), t => t =!= lit(""))
    val withToks = docs.withColumn("toks", toks)
      .withColumn("nt", size(col("toks"))).filter(col("nt") > 0)
    val tl = aggregate(col("toks"), lit(0L), (s, x) => s + length(x))
    val stopn = size(filter(col("toks"), x => x === "the" || x === "a"))
    // top-token count via per-distinct-token scan: O(nd·nt) row-local
    // work, bounded by doc length — the price of statelessness (the
    // batch entry amortizes this through the shared termFreq frame)
    val topn = array_max(transform(array_distinct(col("toks")),
      t => size(filter(col("toks"), x => x === t))))
    val score = aggregate(col("toks"),
      lit(weights(64)), // bias
      (s, t) => s + element_at(warr,
        (pmod(conv(substring(md5(t), 1, 4), 16, 10).cast("long"), lit(64L)) + 1).cast("int")))
    withToks
      .withColumn("tl", tl).withColumn("stopn", stopn).withColumn("topn", topn)
      .withColumn("score", score)
      .withColumn("pass_rules",
        (col("nt") >= 30 && col("nt") <= 90 &&
          col("tl") >= col("nt") * 4 && col("tl") <= col("nt") * 5 &&
          col("stopn") >= 2 && col("topn") * 100 <= col("nt") * 15).cast("int"))
      .withColumn("prob", round(lit(1.0) / (lit(1.0) + exp(-col("score"))), 6))
      .withColumn("keep",
        (col("pass_rules") === 1 && col("prob") >= 0.5).cast("int"))
      .select(col("doc_id"), col("nt").as("n_tokens"), col("pass_rules"),
        col("prob"), col("keep"))
  }

  def runToMemory(df: DataFrame, name: String, mode: OutputMode): Unit = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
  }
}
