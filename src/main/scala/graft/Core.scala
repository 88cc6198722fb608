package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Core helpers shared by all query modules.
  *
  * Data model per SURVEY.md §1.3: untyped `DataFrame` over a
  * directory-of-parquet lake (reference layout engine.py:46-56 —
  * one `{name}.parquet` per table). All operators are pure
  * `(SparkSession, sfDir) => DataFrame` functions so the same code path
  * serves the correctness gate (sf0.01), the bench (sf0.1), and a real
  * cluster at 100 TB — nothing ever collects to the driver except
  * explicitly-declared serve points.
  */
/** Fixture directory the persisted-artifact ORACLE SQL strings bind
  * their absolute read_parquet paths to. Oracle strings are built once
  * at query-object class-init (the Entry contract is a static String),
  * so a main that verifies a different fixture MUST set this BEFORE its
  * first touch of SparkEntry / any graft.queries object — Verify does,
  * from its sfDir argument. Default = the driver's correctness-gate
  * fixture. Without this, a Verify run against sf0.001 would compare
  * that fixture's Spark output to sf0.01's persisted artifacts — a
  * guaranteed, confusing mismatch.
  */
object OracleEnv {
  @volatile var sfDir: String = "/root/testdata/sf0.01"
}

object Core {
  type QFn = (SparkSession, String) => DataFrame

  /** One declared operator: name, Spark impl, optional DuckDB oracle SQL.
    * `oracle = None` → the driver records a weaker rows-only check
    * (non-SQL-expressible ops: sketches, LSH, streaming).
    */
  final case class Entry(name: String, fn: QFn, oracle: Option[String])

  def entry(name: String, oracle: String)(fn: QFn): Entry =
    Entry(name, fn, Some(oracle))
  def entryNoOracle(name: String)(fn: QFn): Entry = Entry(name, fn, None)

  /** The local session Bench, Verify, Profile and the suite run on: `cpus`
    * threads and as many shuffle partitions (records are a property of
    * the plan AND this parallelism), UTC, nanosecond timestamps read as
    * longs, no UI, plus `conf` (static confs included) on top.
    *
    * The In-pushdown threshold is a serving conf: the index probes push
    * multi-probe rings as In(bucket, keys) — below the threshold Spark
    * expands the In into an OR-chain of eq's for parquet (real row-group
    * skipping); above it, a [min,max] range check. 1024 is a CEILING,
    * not a stale default: parquet-mr evaluates the OR-chain recursively,
    * and a dialed w=26 ring (2,952 keys) overflows the executor stack
    * (measured at the 25× fixture) — so wide-ring probes deliberately
    * take the range fallback (see vec_index_probe).
    */
  def localSession(cpus: Int, app: String, conf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `s` as a JSON string literal. Escapes backslash, quote and ALL
    * control chars (<0x20): a tab or CR left raw makes a consumer's
    * json.load fail on the whole line.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Lake loader — a declarative parquet scan, so Catalyst pushes
    * filters/projections into the parquet reader (PushedFilters /
    * ReadSchema; SURVEY.md §4.2).
    *
    * The schema is pinned: a bare `spark.read.parquet` runs a Spark job
    * to read a footer and infer it on every read, even of a table that
    * has not changed. Here it is inferred once per session through
    * `Frames.memo(spark, dir, "schema/<name>", Seq(name), dials)` and
    * every read, the first included, passes it as the user schema, so
    * every plan over a table carries the same relation. The entry is
    * keyed by the table's data stamp (file names, lengths, mtimes: a
    * table rewritten in place re-infers on its next load) and dialed by
    * the confs that change what inference returns ([[schemaConfs]];
    * `loadEvents` flips `nanosAsLong` at runtime).
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    load(spark, dir, name, Seq(name), "")

  /** [[load]] with the schema entry keyed by `inputs`' data stamp and
    * `dial` — lake artifacts pass no inputs and their stored stamp
    * (`LakeArtifact.read`).
    */
  private[graft] def load(spark: SparkSession, dir: String, name: String,
                          inputs: Seq[String], dial: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = graft.queries.Frames.memo(spark, dir, s"schema/$name", inputs,
        dial + ";" + schemaConfs(spark)) {
      spark.read.parquet(path).schema
    }
    spark.read.schema(schema).parquet(path)
  }

  /** The session confs parquet schema inference reads. */
  private def schemaConfs(spark: SparkSession): String =
    Seq("spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
      "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled",
      "spark.sql.parquet.mergeSchema", "spark.sql.caseSensitive")
      .map(k => spark.conf.getOption(k).getOrElse("")).mkString(",")

  /** `events.parquet`'s `ts` encoding has varied across testdata
    * generations — INT64 TIMESTAMP(NANOS) originally, plain
    * `timestamp[us]` (no tz annotation → Spark TIMESTAMP_NTZ) since
    * 2026-08-13 — so the loader branches on the dtype it actually finds:
    *  - LongType (nanos read as long via
    *    `spark.sql.legacy.parquet.nanosAsLong`): rebuild a microsecond
    *    TimestampType via integral division — `ts div 1000` stays in Long
    *    (double division would lose precision above 2^53 ns);
    *  - TimestampNTZType: cast to TimestampType. Under the pinned-UTC
    *    session (Verify/specs/Bench all set spark.sql.session.timeZone=UTC)
    *    the cast preserves the instant, and even off-UTC the
    *    cast-then-date_format round trip reproduces the naive wall clock
    *    DuckDB sees;
    *  - TimestampType: use as-is.
    * DuckDB reads the same column natively and truncates to µs on
    * strftime, so both engines agree on the instant in every case.
    */
  def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    // Our own mains/specs set this at session construction; this set
    // covers DRIVER-owned sessions (Verify/Bench contract: fn(spark, dir)
    // with an externally built session). It is session-global by nature —
    // the conf is consulted lazily at scan execution, so a save-and-
    // restore here would break the read it enables. Scoped alternative
    // documented: none exists short of a per-relation option upstream.
    // Harmless when ts is already a timestamp (conf only affects NANOS).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Loud scale guard for the exact all-pairs oracle anchors
    * (`vec_cosine_pairs`, `vec_knn_join`, `text_ngram_jaccard`): each is
    * deliberately quadratic — the small-SF exactness anchor its
    * banded/bucketed sibling is verified against — and must never run
    * accidentally on a lake-scale input. Refuses (at plan-construction
    * time, before any quadratic work is queued) when the input table
    * exceeds `spark.graft.exact.maxRows` (default 1,000,000 — generous
    * for every gate/smoke SF, far below lake scale), naming the
    * scale-safe sibling. The row count is a parquet metadata-only
    * aggregate (count lowers to footer row counts; no data scan), so the
    * guard stays O(files) at any scale.
    */
  def exactAnchorGuard(spark: SparkSession, dir: String, table: String,
                       entryName: String, sibling: String): Unit = {
    val max = spark.conf.get("spark.graft.exact.maxRows", "1000000").toLong
    val n = load(spark, dir, table).count()
    require(n <= max,
      s"$entryName is an exact all-pairs oracle anchor (O(n^2) in $table " +
        s"rows) and refuses to run on $n rows (> spark.graft.exact.maxRows" +
        s"=$max). At scale use its banded/bucketed sibling: $sibling.")
  }

  /** Size-guarded `broadcast()` hint for corpus-derived join sides
    * (set dictionaries, LSH candidate sets). An explicit hint OVERRIDES
    * `spark.sql.autoBroadcastJoinThreshold`: Spark collects the side to
    * the driver regardless of its actual size and fails at the 8 GB
    * broadcast ceiling (or OOMs the driver) instead of degrading to a
    * shuffle join. So every hint whose side grows with the corpus must
    * pass BOTH bounds first — rows (`spark.graft.broadcast.maxRows`,
    * default 4,000,000) AND estimated bytes (`spark.graft.guard
    * .maxBroadcastBytes`, the PlanGuard dial, default 1 GiB): a row
    * bound alone is blind to payload width (a 3.9M-row dictionary of
    * ~2.4 KB tids arrays passes 4M rows yet collects ~9 GB — exactly
    * the ceiling failure this guard exists to prevent). Within both
    * bounds the hint applies and the join is an exchange-free broadcast
    * hash join; past either the hint is DROPPED so Catalyst/AQE plan
    * from their own size estimates — a shuffle join at lake scale.
    * Upstream candidate generation is identical either way; only the
    * verify-side join strategy reverts.
    * `stats` is by-name `(rows, estimatedBytes)`: compute it CHEAPLY —
    * a parquet-footer count, an aggregate over an already-persisted/
    * localCheckpointed frame, or row count × a stated per-row shape
    * bound. Never a computation that re-runs an unmaterialized join.
    */
  def guardedBroadcast(spark: SparkSession, df: DataFrame)
                      (stats: => (Long, Long)): DataFrame =
    if (fitsBroadcast(spark)(stats)) broadcast(df) else df

  /** The guard's decision itself, for call sites whose FALLBACK must be
    * a DIFFERENT plan shape rather than the same join without the hint
    * (e.g. text_dedup_embed_ann: under the dials the verify attaches
    * vectors to an ids-only candidate stream by broadcast; past them a
    * pair-keyed vector join would shuffle the n^1.5 candidate mass, so
    * the fallback reverts to the arrays-ride-the-cell-join shape whose
    * shuffle is linear in n). Same two dials as [[guardedBroadcast]] —
    * one definition, so the families can't drift.
    */
  def fitsBroadcast(spark: SparkSession)(stats: => (Long, Long)): Boolean = {
    val (maxRows, maxBytes) = broadcastDials(spark)
    val (rows, bytes) = stats
    rows <= maxRows && bytes <= maxBytes
  }

  /** The two dials of [[fitsBroadcast]]: (max rows, max estimated bytes). */
  def broadcastDials(spark: SparkSession): (Long, Long) =
    (spark.conf.get("spark.graft.broadcast.maxRows", "4000000").toLong,
      spark.conf.get("spark.graft.guard.maxBroadcastBytes", (1L << 30).toString).toLong)

  /** (rows, estimatedBytes) of a long-array set dictionary for
    * [[guardedBroadcast]] — one aggregate over `df` (~16 B/row of fixed
    * fields + 8 B per stored element of `arrayCol`). One definition so
    * the guarded dictionary families can't drift on the byte model.
    * RUNS A SPARK ACTION: call it on an already-persisted/checkpointed
    * frame and never while holding a cache lock.
    */
  def setDictStats(df: DataFrame, arrayCol: String): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(size(col(arrayCol)))).head()
    val n = r.getLong(0)
    (n, 16L * n + 8L * (if (r.isNullAt(1)) 0L else r.getLong(1)))
  }

  /** (rows, estimatedBytes) for any guarded-broadcast side, derived
    * from the frame's ACTUAL schema instead of a per-call-site literal
    * (r16 ADVICE: a hard-coded "600 B" assumes exactly 64-double
    * embeddings — if the row shape ever changes, a literal silently
    * under-estimates and the hint survives past the real byte dial,
    * the exact failure class the two-dial guard exists to prevent).
    * Fixed-width fields cost their Catalyst defaultSize (strings the
    * 20 B estimate); every ArrayType column is MEASURED — one
    * aggregate sums its element counts, 8 B per element. One Spark
    * action total. Like [[setDictStats]]: call it on an
    * already-persisted/localCheckpointed frame, never while holding a
    * cache lock.
    */
  def broadcastStats(df: DataFrame): (Long, Long) = {
    import org.apache.spark.sql.types.ArrayType
    val arrayCols = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] => f.name
    }.toSeq
    val fixedPerRow = 16L + df.schema.fields.map(_.dataType match {
      case _: ArrayType => 16L // object header; elements measured below
      case dt           => math.max(8, dt.defaultSize).toLong
    }).sum
    val aggs = count(lit(1)) +: arrayCols.map(c => sum(size(col(c))))
    val r = df.agg(aggs.head, aggs.drop(1): _*).head()
    val n = r.getLong(0)
    val elems = arrayCols.indices.map(i =>
      if (r.isNullAt(i + 1)) 0L else r.getLong(i + 1)).sum
    (n, fixedPerRow * n + 8L * elems)
  }

  /** Timestamp columns are stringified in declared outputs: parquet
    * timestamp annotations (isAdjustedToUTC, unit) vary between writers
    * and would hash-mismatch against the DuckDB oracle even when the
    * instant is identical. Microsecond form matches DuckDB
    * `strftime(ts, '%Y-%m-%d %H:%M:%S.%f')`.
    */
  def tsStr(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Second-granularity variant — DuckDB `strftime(ts, '%Y-%m-%d %H:%M:%S')`. */
  def tsStrSec(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** Day-granularity variant — DuckDB `strftime(ts, '%Y-%m-%d')`. */
  def dayStr(c: Column): Column = date_format(c, "yyyy-MM-dd")

  /** Non-empty tokens of a space-separated text column (documents.text has
    * trailing spaces → `split` yields empty strings; both engines filter
    * them identically).
    */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= lit(""))
}
