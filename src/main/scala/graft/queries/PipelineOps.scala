package graft.queries

import org.apache.spark.sql.functions._
import graft.Core._

/** Training-data curation operators over the `documents` table — the
  * steps a large-scale pretraining pipeline runs between raw ingest and
  * the tokenizer, beyond dedup (TextOps) and similarity (VecOps):
  * deterministic dataset splitting, PII/entity scrubbing, repetition-
  * based quality filtering, and benchmark-contamination checks
  * (north-star requirements alongside SURVEY.md §2.10; the reference's
  * corpus-prep surface is engine.py:65-98).
  *
  * All four are oracled (exact SQL semantics, no engine-specific
  * hashes): determinism discipline per SURVEY §2.1 — total ORDER BY
  * with unique keys, round(·,4) on ratios, integer hash arithmetic
  * that both engines evaluate identically.
  *
  * Scale notes (100 TB):
  * - `sample_split`: a pure map over the corpus (multiplicative hash of
  *   the key, no RNG state, no shuffle before the summary agg) —
  *   reproducible split membership at any parallelism, the property
  *   that matters when train/val must stay disjoint across reruns.
  * - `text_pii_scrub`: map-only regex pass, embarrassingly parallel.
  * - `text_repetition_filter`: derives from the SAME memoized postings
  *   materialization as tfidf/bm25 (one tokenize for the whole quality
  *   layer).
  * - `text_contamination`: the benchmark n-gram set is tiny by
  *   construction (eval suites are ~10⁴ docs, the corpus 10⁹) — it
  *   broadcasts, and the corpus side stays a map + partial-agg with no
  *   corpus-wide shuffle of n-grams (PlanAuditSpec asserts the
  *   broadcast).
  */
object PipelineOps {

  /** The decontaminated, dedup-kept corpus membership frame
    * (doc_id, source, n_tokens) — the shared spine of the curation
    * compositions. `curate_corpus_e2e` references it twice (mixture
    * weights + survivor filter) and `pipeline_report` twice more, and
    * Spark re-executes a repeated logical subtree once PER REFERENCE
    * (branches of one plan share no CTE materialization, and exchange
    * reuse doesn't cover the broadcast-join pipelines this subtree is
    * made of — measured 4× the decontaminate cost inside the composed
    * plan at sf0.1, the r10 bench regression). Memoizing it restores
    * compute-once semantics, and it is the right 100 TB shape too:
    * three scalar columns (~16 bytes/doc, no text), the frame a real
    * pipeline persists as a lake table on its curation cadence and
    * every downstream stage joins against. MEMOIZED + persisted per
    * session ([[Frames]]); warmed as the bench's `setup_clean_corpus`
    * step so both composition entries time warm marginals.
    */
  private[queries] def cleanCorpus(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    // the served labels read ensures its artifact, so it runs BEFORE
    // the memo lookup (the Frames lock-order rule)
    val labels = TextOps.clusterLabels(s, dir)
    Frames.memo(s, dir, "cleanCorpus", Seq("documents")) {
      import s.implicits._
      val docs = TextOps.docTokens(s, dir)
      val keepers = labels.filter($"doc_id" === $"label").select($"doc_id")
      val grams = TextOps.wordGrams(s, dir)
      val bench = grams.filter($"doc_id" % 97 === 3).select($"gram").distinct()
      val bad = grams.filter($"doc_id" % 97 =!= 3)
        .join(broadcast(bench), "gram").select($"doc_id").distinct()
      docs.filter($"doc_id" % 97 =!= 3)
        .join(keepers, Seq("doc_id"), "left_semi")
        .join(bad, Seq("doc_id"), "left_anti")
        .select($"doc_id", $"source", size($"toks").cast("long").as("n_tokens"))
        .persist()
    }
  }

  private[graft] def warmCleanCorpus(s: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    cleanCorpus(s, dir).count(); ()
  }

  val entries: Seq[Entry] = Seq(

    entry(
      "zorder_cluster",
      """WITH e AS (SELECT min(l_orderkey) AS amin, max(l_orderkey) AS amax,
        |    min(l_partkey) AS bmin, max(l_partkey) AS bmax FROM lineitem),
        |s1 AS (SELECT l_orderkey AS a, l_partkey AS b,
        |    (l_orderkey - amin) // ((amax - amin) // 65536 + 1) AS xa,
        |    (l_partkey - bmin) // ((bmax - bmin) // 65536 + 1) AS xb
        |  FROM lineitem, e),
        |s2 AS (SELECT a, b, (xa | (xa << 16)) & 281470681808895 AS xa, (xb | (xb << 16)) & 281470681808895 AS xb FROM s1),
        |s3 AS (SELECT a, b, (xa | (xa << 8)) & 71777214294589695 AS xa, (xb | (xb << 8)) & 71777214294589695 AS xb FROM s2),
        |s4 AS (SELECT a, b, (xa | (xa << 4)) & 1085102592571150095 AS xa, (xb | (xb << 4)) & 1085102592571150095 AS xb FROM s3),
        |s5 AS (SELECT a, b, (xa | (xa << 2)) & 3689348814741910323 AS xa, (xb | (xb << 2)) & 3689348814741910323 AS xb FROM s4),
        |s6 AS (SELECT a, b, (xa | (xa << 1)) & 6148914691236517205 AS xa, (xb | (xb << 1)) & 6148914691236517205 AS xb FROM s5)
        |SELECT ((xa << 1) | xb) >> 20 AS z_bucket, count(*) AS n,
        |  min(a) AS min_ok, max(a) AS max_ok, min(b) AS min_pk, max(b) AS max_pk
        |FROM s6 GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      // Z-order (Morton) clustering key for multi-column lake layout:
      // sort/range-partition a fact table by interleave_bits(k1, k2)
      // and parquet row-group [min,max] stats become tight for BOTH
      // keys — pushed range predicates on EITHER column then skip row
      // groups, where a plain sort serves only its leading column
      // (BucketingSpec proves the both-column skipping on a written
      // table; the native expression is A/B'd bit-for-bit against an
      // independent reference in PropertySpec). Keys are first folded
      // into a bounded 2^16 domain by min/max range-bucketing — the
      // expression interleaves low 32 bits, and feeding it raw keys
      // would silently alias high bits once l_orderkey exceeds 2^32
      // (sf>=1000); integer-division bucketing ((x-min) DIV (range DIV
      // 65536 + 1) ∈ [0, 65535]) is exact arithmetic both engines
      // reproduce, and the extents broadcast from a 1-row aggregate.
      // This entry pins the code's VALUE semantics cross-engine:
      // per-Z-bucket extents of both keys — the bounded-rectangle
      // property that makes the layout prunable — hash-matched against
      // DuckDB computing the same bucketing + 5-step mask cascade in
      // SQL. Map + one partial agg; the clustering write itself is
      // sink-side (the sink_compact / stageAndSwap machinery), not a
      // query.
      graft.functions.VectorExprs.register(s)
      val z = call_function("interleave_bits",
        expr("(a - amin) DIV ((amax - amin) DIV 65536 + 1)"),
        expr("(b - bmin) DIV ((bmax - bmin) DIV 65536 + 1)"))
      val lt = load(s, dir, "lineitem")
        .select($"l_orderkey".as("a"), $"l_partkey".as("b"))
      lt.crossJoin(broadcast(lt.agg(
          min($"a").as("amin"), max($"a").as("amax"),
          min($"b").as("bmin"), max($"b").as("bmax"))))
        .select($"a", $"b", shiftright(z, 20).as("z_bucket"))
        .groupBy($"z_bucket")
        .agg(count(lit(1)).as("n"),
          min($"a").as("min_ok"), max($"a").as("max_ok"),
          min($"b").as("min_pk"), max($"b").as("max_pk"))
        .orderBy($"z_bucket")
    },

    entry(
      "sample_split",
      """WITH s AS (SELECT lang, n_chars,
        |    CASE WHEN (doc_id % 1000000007) * 2654435761 % 1000000007 % 100 < 80 THEN 'train'
        |         WHEN (doc_id % 1000000007) * 2654435761 % 1000000007 % 100 < 90 THEN 'valid'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars
        |FROM s GROUP BY split, lang ORDER BY split, lang""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      // Deterministic 80/10/10 train/valid/test split: bucket by a
      // Knuth multiplicative hash of the stable key — engine-independent
      // integer arithmetic, so the SAME rows land in the same split on
      // any engine, any partitioning, any rerun (unlike randomSplit,
      // whose assignment depends on partition layout). doc_id reduces
      // mod p BEFORE the multiply: the product then stays < p·2654435761
      // ≈ 2.7e18 < 2⁶³, so no signed overflow at 10⁹+ ids (ANSI Spark
      // and DuckDB would error on the bare product; non-ANSI Spark
      // would silently wrap negative — every variant breaks the split).
      // Declared output = per-(split, lang) summary, auditing both
      // proportions and stratification.
      val bucket =
        ($"doc_id" % lit(1000000007L)) * lit(2654435761L) % lit(1000000007L) % lit(100)
      load(s, dir, "documents")
        .select($"lang", $"n_chars",
          when(bucket < 80, "train").when(bucket < 90, "valid")
            .otherwise("test").as("split"))
        .groupBy($"split", $"lang")
        .agg(count(lit(1)).as("n_docs"), round(avg($"n_chars"), 4).as("avg_chars"))
        .orderBy($"split", $"lang")
    },

    entry(
      "split_leakage_audit",
      """WITH RECURSIVE t AS (SELECT doc_id,
        |    list_distinct(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS toks
        |  FROM documents),
        |tt AS (SELECT doc_id, unnest(toks) AS term FROM t),
        |n AS (SELECT doc_id, count(*) AS nt FROM tt GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        |  FROM tt a JOIN tt b ON a.term = b.term AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT d1, d2 FROM p
        |  JOIN n na ON na.doc_id = d1 JOIN n nb ON nb.doc_id = d2
        |  WHERE inter*1.0/(na.nt+nb.nt-inter) >= 0.9),
        |e AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |reach(src, dst) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
        |lab AS (SELECT src AS doc_id, min(dst) AS label FROM reach GROUP BY src),
        |sp AS (SELECT doc_id,
        |    CASE WHEN (doc_id % 1000000007) * 2654435761 % 1000000007 % 100 < 80 THEN 'train'
        |         WHEN (doc_id % 1000000007) * 2654435761 % 1000000007 % 100 < 90 THEN 'valid'
        |         ELSE 'test' END AS split FROM documents),
        |cs AS (SELECT label, split, count(*) AS c
        |  FROM lab JOIN sp USING (doc_id) GROUP BY 1, 2),
        |x AS (SELECT a.label, a.split AS split_a, b.split AS split_b, a.c * b.c AS pairs
        |  FROM cs a JOIN cs b ON a.label = b.label AND a.split < b.split)
        |SELECT split_a, split_b, CAST(sum(pairs) AS BIGINT) AS n_leaked_pairs,
        |  count(DISTINCT label) AS n_clusters
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      // SPLIT-LEAKAGE audit — the eval-hygiene check a pipeline runs
      // AFTER splitting: a near-duplicate of a test document sitting in
      // train leaks the benchmark into training no matter how clean the
      // random split was (Lee et al. 2021 measure exactly this
      // train/valid duplication in C4/RealNews; text_contamination
      // covers EXTERNAL benchmarks, this covers the pipeline's OWN
      // held-out splits). Composes two already-oracled pieces: the
      // near-dup cluster labels (the text_dedup_cluster closure, served
      // from the stamped labels artifact) and sample_split's
      // deterministic Knuth-hash assignment. Output = exact leaked-pair
      // counts per split pair (Σ over clusters of c_a·c_b — counted on
      // the CLUSTER-SPLIT frame, never by expanding doc pairs) plus how
      // many clusters straddle the pair. Zero rows = a leak-free split.
      //
      // Scale shape: one labels-artifact scan joined to a map-side
      // split assignment, a (cluster, split) hash-agg, and a self-join
      // on the ≤|clusters|·|splits| frame with ≤3-way fanout — nothing
      // touches doc pairs, so a clique of 10⁴ duplicates costs rows,
      // not rows².
      val bucket =
        ($"doc_id" % lit(1000000007L)) * lit(2654435761L) % lit(1000000007L) % lit(100)
      val sp = load(s, dir, "documents")
        .select($"doc_id",
          when(bucket < 80, "train").when(bucket < 90, "valid")
            .otherwise("test").as("split"))
      val cs = TextOps.clusterLabels(s, dir)
        .join(sp, "doc_id")
        .groupBy($"label", $"split").agg(count(lit(1)).as("c"))
      cs.as("a").join(cs.as("b"),
          col("a.label") === col("b.label") && col("a.split") < col("b.split"))
        .select(col("a.split").as("split_a"), col("b.split").as("split_b"),
          col("a.label").as("label"), (col("a.c") * col("b.c")).as("pairs"))
        .groupBy($"split_a", $"split_b")
        .agg(sum($"pairs").as("n_leaked_pairs"),
          countDistinct($"label").as("n_clusters"))
        .orderBy($"split_a", $"split_b")
    },

    entry(
      "sample_stratified",
      """WITH h AS (SELECT doc_id, lang, source,
        |    (doc_id % 1000000007) * 2654435761 % 1000000007
        |      * 2654435761 % 1000000007 AS h2
        |  FROM documents),
        |r AS (SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY source ORDER BY h2, doc_id) AS sample_rank
        |  FROM h)
        |SELECT doc_id, lang, source, sample_rank
        |FROM r WHERE sample_rank <= 40 ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // Stratified sampling with a fixed PER-STRATUM quota (40 docs per
      // source): rank each stratum's docs by a deterministic
      // multiplicative hash and keep the first 40 — an equalized
      // cross-source sample for eval sets / audits, where sample_split's
      // proportional buckets would mirror the corpus skew instead of
      // flattening it. Second-round Knuth hash (h1·A mod p) decorrelates
      // the order from sample_split's first-round buckets, same
      // overflow discipline (reduce mod p before each multiply). Rank
      // windows are stratum-partitioned — no global sort; a stratum
      // smaller than the quota keeps all its docs. At 100 TB the window
      // sorts each source's partition once — same shuffle a
      // per-source groupBy pays — and WindowGroupLimit pushes the
      // rank<=40 cut map-side so no stratum materializes beyond the
      // quota per task.
      val h2 = ($"doc_id" % lit(1000000007L)) * lit(2654435761L) % lit(1000000007L) *
        lit(2654435761L) % lit(1000000007L)
      val w = Window.partitionBy($"source").orderBy($"h2", $"doc_id")
      load(s, dir, "documents")
        .select($"doc_id", $"lang", $"source", h2.as("h2"))
        .withColumn("sample_rank", row_number().over(w))
        .filter($"sample_rank" <= 40)
        .select($"doc_id", $"lang", $"source", $"sample_rank")
        .orderBy($"doc_id")
    },

    entry(
      "sample_balanced",
      """WITH h AS (SELECT doc_id, lang,
        |    (doc_id % 1000000007) * 2654435761 % 1000000007
        |      * 2654435761 % 1000000007 * 2654435761 % 1000000007 AS h3
        |  FROM documents),
        |m AS (SELECT min(cnt) AS m FROM (
        |    SELECT count(*) AS cnt FROM documents GROUP BY lang)),
        |r AS (SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY h3, doc_id) AS sample_rank
        |  FROM h)
        |SELECT doc_id, lang, sample_rank FROM r, m
        |WHERE sample_rank <= m ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // CLASS-BALANCED downsampling: every language keeps exactly the
      // minority class's count — the classifier-training prep step
      // (language-ID / quality-model training wants balanced classes,
      // where sample_stratified's fixed quota and sample_split's
      // proportional buckets both preserve skew). Deterministic
      // third-round Knuth hash (decorrelated from the split buckets
      // and the stratified ranks), per-class rank windows (class-
      // partitioned — no global sort, WindowGroupLimit cannot apply
      // since the quota is data-derived, but the rank cut still
      // bounds every class at the broadcast minority count), minority
      // count as a 1-row broadcast. At 100 TB: one window shuffle on
      // the class key + one broadcast scalar — the same shape as
      // win_percent_topk's threshold broadcast.
      val h3 = ($"doc_id" % lit(1000000007L)) * lit(2654435761L) % lit(1000000007L) *
        lit(2654435761L) % lit(1000000007L) * lit(2654435761L) % lit(1000000007L)
      val m = load(s, dir, "documents").groupBy($"lang").count()
        .agg(min($"count").as("m"))
      val w = Window.partitionBy($"lang").orderBy($"h3", $"doc_id")
      load(s, dir, "documents")
        .select($"doc_id", $"lang", h3.as("h3"))
        .withColumn("sample_rank", row_number().over(w))
        .crossJoin(broadcast(m))
        .filter($"sample_rank" <= $"m")
        .select($"doc_id", $"lang", $"sample_rank")
        .orderBy($"doc_id")
    },

    entry(
      "curate_token_budget",
      """WITH t AS (SELECT doc_id, source,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |  FROM documents),
        |q AS (SELECT doc_id, source, len(toks) AS nt,
        |    round(len(list_distinct(toks))*1.0/len(toks), 4) AS quality
        |  FROM t WHERE len(toks) > 0),
        |b AS (SELECT CAST(floor(sum(nt) / 2) AS BIGINT) AS budget FROM q),
        |c AS (SELECT *, CAST(sum(nt) OVER (ORDER BY quality DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens FROM q)
        |SELECT doc_id, source, quality, nt AS n_tokens, cum_tokens
        |FROM c, b WHERE cum_tokens <= budget ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // Token-budget corpus selection — the step between quality
      // scoring and packing: rank docs by quality (distinct-token
      // ratio, 4dp — ties broken by doc_id) and keep the maximal
      // prefix whose cumulative token count fits the budget (half the
      // corpus tokens here; a constant in a real run). The oracle is
      // the flat ORDER-BY-quality running sum; the engine computes the
      // IDENTICAL prefix without ever globally sorting the corpus —
      // the two-level shape (pack_sequences' prefix-sum, applied to
      // quality buckets):
      //  1. per-quality-BUCKET token totals (≤10⁴ buckets: quality is
      //     4dp in [0,1]) + an unpartitioned running sum over that
      //     bounded bucket frame only;
      //  2. budget = 1-row broadcast;
      //  3. doc-level running sums only WITHIN each bucket
      //     (bucket-partitioned window), offset by the bucket prefix —
      //     buckets wholly inside the budget keep everything, the one
      //     straddling bucket is cut by its in-bucket prefix.
      // At 100 TB step 3's window shuffles on quality like any
      // per-group agg; only the boundary bucket's ORDER actually
      // gates inclusion.
      val d0 = TextOps.docTokens(s, dir)
      val docs = d0.filter(size($"toks") > 0).select(
        $"doc_id", $"source", size($"toks").cast("long").as("nt"),
        round(size(array_distinct($"toks")) / size($"toks").cast("double"), 4).as("quality"))
      val buckets = docs.groupBy($"quality").agg(sum($"nt").as("btok"))
      val wB = Window.orderBy($"quality".desc).rowsBetween(Window.unboundedPreceding, -1)
      val bcum = buckets.withColumn("bprefix", coalesce(sum($"btok").over(wB), lit(0L)))
      val budget = docs.agg(floor(sum($"nt") / 2).cast("long").as("budget"))
      val bb = bcum.crossJoin(broadcast(budget))
        .filter($"bprefix" < $"budget") // wholly-past-budget buckets drop here
        .select($"quality", $"bprefix", $"budget")
      val wD = Window.partitionBy($"quality").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      docs.join(bb, "quality")
        .withColumn("cum_tokens",
          $"bprefix" + coalesce(sum($"nt").over(wD), lit(0L)) + $"nt")
        .filter($"cum_tokens" <= $"budget")
        .select($"doc_id", $"source", $"quality", $"nt".as("n_tokens"), $"cum_tokens")
        .orderBy($"doc_id")
    },

    entry(
      "text_pii_scrub",
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '\bcustomer\b')) AS n_redacted,
        |  length(text) AS len_before,
        |  length(regexp_replace(text, '\bcustomer\b', '<ENTITY>', 'g')) AS len_after
        |FROM documents ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      // Sensitive-entity scrub: redact every match of a pattern list and
      // report per-doc redaction counts — the PII-removal pass of a
      // training pipeline (emails/phones/ids in production; this
      // fixture's stand-in entity is the 'customer' token, the one
      // sensitive-looking term the synthetic corpus actually contains,
      // so the oracle row is non-vacuous). Map-only: no shuffle at all
      // before the ordered output.
      load(s, dir, "documents").select(
        $"doc_id",
        size(regexp_extract_all($"text", lit("\\bcustomer\\b"), lit(0))).as("n_redacted"),
        length($"text").as("len_before"),
        length(regexp_replace($"text", "\\bcustomer\\b", "<ENTITY>")).as("len_after")
      ).orderBy($"doc_id")
    },

    entry(
      "text_repetition_filter",
      """WITH tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  round(max(c) * 1.0 / sum(c), 4) AS top_ratio,
        |  CASE WHEN max(c) * 1.0 / sum(c) <= 0.1 THEN 'keep' ELSE 'drop' END AS verdict
        |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      // Repetition quality filter (the Gopher-style "top word frequency"
      // rule): a doc whose single most frequent token exceeds 10% of its
      // tokens is flagged as repetitive. Derives from the memoized
      // postings frame — the whole quality layer (tfidf/bm25/this)
      // tokenizes the corpus once. The keep/drop boundary compares the
      // UNROUNDED ratio: max/sum of integers divides to the identical
      // IEEE double on both engines, so the verdict can't straddle a
      // rounding difference.
      val tf = TextOps.termFreq(s, dir)
      val ratio = max($"tf") * lit(1.0) / sum($"tf")
      tf.groupBy($"doc_id")
        .agg(sum($"tf").as("n_tokens"),
          round(ratio, 4).as("top_ratio"),
          when(ratio <= 0.1, "keep").otherwise("drop").as("verdict"))
        .orderBy($"doc_id")
    },

    entry(
      "profile_table",
      """SELECT 'o_custkey' AS col, count(*) AS n, count(o_custkey) AS n_nonnull,
        |       count(DISTINCT o_custkey) AS n_distinct FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', count(*), count(o_orderstatus),
        |       count(DISTINCT o_orderstatus) FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', count(*), count(o_totalprice),
        |       count(DISTINCT o_totalprice) FROM orders
        |ORDER BY col""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      // Table profiler — the engine-side analogue of the reference's
      // preview/dtype panels (app.py:214 head preview, app.py:236
      // numeric-column introspection) and the first thing a pipeline
      // owner runs on a new table: per-column row/non-null/distinct
      // counts. ONE scan: all statistics come from a single aggregate
      // (multiple exact count-distincts plan through one Expand), then
      // stack() unpivots to a row per column — the oracle's UNION ALL
      // form scans three times, this scans once.
      val a = load(s, dir, "orders").agg(
        count(lit(1)).as("n"),
        count($"o_custkey").as("nn1"), countDistinct($"o_custkey").as("nd1"),
        count($"o_orderstatus").as("nn2"), countDistinct($"o_orderstatus").as("nd2"),
        count($"o_totalprice").as("nn3"), countDistinct($"o_totalprice").as("nd3"))
      a.select($"n", expr(
          """stack(3,
            |  'o_custkey',    nn1, nd1,
            |  'o_orderstatus', nn2, nd2,
            |  'o_totalprice', nn3, nd3) AS (col, n_nonnull, n_distinct)""".stripMargin))
        .select($"col", $"n", $"n_nonnull", $"n_distinct")
        .orderBy($"col")
    },

    entry(
      "dq_check",
      """WITH li AS (SELECT
        |    sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS v1,
        |    sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS v2,
        |    sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS v3,
        |    sum(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS v4,
        |    sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS v5
        |  FROM lineitem),
        |uq AS (SELECT count(*) - count(DISTINCT o_orderkey) AS v FROM orders),
        |fk1 AS (SELECT count(*) AS v FROM orders o
        |  LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_custkey IS NULL),
        |fk2 AS (SELECT count(*) AS v FROM lineitem l
        |  LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderkey IS NULL),
        |r AS (
        |  SELECT 'lineitem.complete.l_orderkey' AS check_name, v1 AS violations FROM li
        |  UNION ALL SELECT 'lineitem.range.l_quantity', v2 FROM li
        |  UNION ALL SELECT 'lineitem.range.l_discount', v3 FROM li
        |  UNION ALL SELECT 'lineitem.accepted.l_returnflag', v4 FROM li
        |  UNION ALL SELECT 'lineitem.positive.l_extendedprice', v5 FROM li
        |  UNION ALL SELECT 'orders.unique.o_orderkey', v FROM uq
        |  UNION ALL SELECT 'orders.fk.o_custkey', v FROM fk1
        |  UNION ALL SELECT 'lineitem.fk.l_orderkey', v FROM fk2)
        |SELECT check_name, CAST(violations AS BIGINT) AS violations,
        |  CASE WHEN violations = 0 THEN 'pass' ELSE 'fail' END AS status
        |FROM r ORDER BY check_name""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      // Data-quality expectation battery (the Deequ / dbt-test /
      // Great-Expectations shape): declarative constraints evaluated
      // as aggregates, one row per check with the exact violation
      // count — the gate a pipeline owner runs before promoting a
      // bronze drop to silver. Check classes covered: completeness
      // (NOT NULL), range, accepted-values, sign, key uniqueness, and
      // two referential-integrity checks (fact→dim and fact→fact).
      //
      // Scale shape: ALL five column checks fuse into ONE conditional
      // aggregate over a single lineitem scan (the oracle's UNION ALL
      // form re-states them; this plan never rescans), uniqueness is a
      // two-level exact distinct-count, and the FK checks are
      // anti-join counts — dim side broadcast, fact→fact left to the
      // planner (shuffle anti-join past the broadcast threshold, the
      // right call at 100 TB). Output is check-cardinality rows; all
      // counts exact integers, so the gate is hash-stable at any
      // parallelism. A failed check carries its violation mass, not
      // just a flag — triage starts from the count.
      val lineitem = load(s, dir, "lineitem")
      val orders   = load(s, dir, "orders")
      val li = lineitem.agg(
        sum(when($"l_orderkey".isNull, 1L).otherwise(0L)).as("v1"),
        sum(when($"l_quantity" < 1 || $"l_quantity" > 50, 1L).otherwise(0L)).as("v2"),
        sum(when($"l_discount" < 0 || $"l_discount" > 0.1, 1L).otherwise(0L)).as("v3"),
        sum(when(!$"l_returnflag".isin("A", "N", "R"), 1L).otherwise(0L)).as("v4"),
        sum(when($"l_extendedprice" <= 0, 1L).otherwise(0L)).as("v5"))
        .select(expr(
          """stack(5,
            |  'lineitem.complete.l_orderkey',      v1,
            |  'lineitem.range.l_quantity',         v2,
            |  'lineitem.range.l_discount',         v3,
            |  'lineitem.accepted.l_returnflag',    v4,
            |  'lineitem.positive.l_extendedprice', v5) AS (check_name, violations)""".stripMargin))
      val uq = orders
        .agg((count(lit(1)) - countDistinct($"o_orderkey")).as("violations"))
        .select(lit("orders.unique.o_orderkey").as("check_name"), $"violations")
      val fk1 = orders
        .join(broadcast(load(s, dir, "customer").select($"c_custkey")),
          $"o_custkey" === $"c_custkey", "left_anti")
        .agg(count(lit(1)).as("violations"))
        .select(lit("orders.fk.o_custkey").as("check_name"), $"violations")
      val fk2 = lineitem
        .join(orders.select($"o_orderkey"), $"l_orderkey" === $"o_orderkey", "left_anti")
        .agg(count(lit(1)).as("violations"))
        .select(lit("lineitem.fk.l_orderkey").as("check_name"), $"violations")
      li.unionByName(uq).unionByName(fk1).unionByName(fk2)
        .select($"check_name", $"violations",
          when($"violations" === 0, "pass").otherwise("fail").as("status"))
        .orderBy($"check_name")
    },

    entry(
      "dq_freshness",
      """WITH g AS (SELECT max(epoch_us(ts)) AS now_us FROM events),
        |t AS (SELECT event_type, max(epoch_us(ts)) AS last_us, count(*) AS n
        |  FROM events GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CAST((now_us - last_us) // 60000000 AS BIGINT) AS staleness_min,
        |  CASE WHEN now_us - last_us <= 86400000000 THEN 'fresh' ELSE 'stale' END AS status
        |FROM t, g ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      // Data-freshness audit (the dq_check sibling for the TIME axis):
      // per event type, how far its newest event lags the table's
      // newest event — the "this upstream stopped flowing" alarm.
      // "Now" is the table's own max event time, NOT the wall clock, so
      // the declared output is deterministic and replayable; a serving
      // deployment swaps in the clock via the same plan. Integer
      // epoch-micro arithmetic throughout. Scale shape: ONE two-phase
      // (type) max/count hash-agg + a 1-row global-max broadcast —
      // two scans collapse into the same pruned column.
      val ev = loadEvents(s, dir)
      val g = ev.agg(max(unix_micros($"ts")).as("now_us"))
      ev.groupBy($"event_type")
        .agg(max(unix_micros($"ts")).as("last_us"), count(lit(1)).as("n"))
        .crossJoin(broadcast(g))
        .select($"event_type", $"n",
          expr("(now_us - last_us) DIV 60000000L").as("staleness_min"),
          when($"now_us" - $"last_us" <= 86400000000L, "fresh")
            .otherwise("stale").as("status"))
        .orderBy($"event_type")
    },

    entry(
      "sample_reservoir",
      """WITH h AS (SELECT source, doc_id, n_chars,
        |    (doc_id % 1000000007) * 2654435761 % 1000000007 AS hk
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY hk, doc_id) AS rk FROM h)
        |SELECT source, CAST(rk AS BIGINT) AS rk, doc_id,
        |  CAST(n_chars AS BIGINT) AS n_chars
        |FROM r WHERE rk <= 3 ORDER BY source, rk""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // Deterministic per-group reservoir sample (k=3 docs per source)
      // — the "show me a few examples from each source" op every
      // curation review starts with. Classic reservoir sampling is
      // stream-order-dependent; the distributed deterministic form is
      // MIN-K BY HASH: rank on the same Knuth multiplicative hash
      // sample_split uses (engine-independent integer arithmetic) and
      // keep rank ≤ k — a uniform sample that is identical on any
      // engine, any partitioning, any rerun, and MERGEABLE (min-k of a
      // union = min-k of min-ks, so per-partition partial reservoirs
      // combine associatively — at 100 TB the rank filter lowers to
      // WindowGroupLimit and each task keeps only its local top-k).
      TextOps.requireDocMeta(s, dir, "source")
      val hk = ($"doc_id" % lit(1000000007L)) * lit(2654435761L) % lit(1000000007L)
      val w = Window.partitionBy($"source").orderBy($"hk", $"doc_id")
      load(s, dir, "documents")
        .select($"source", $"doc_id", $"n_chars", hk.as("hk"))
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 3)
        .select($"source", $"rk", $"doc_id", $"n_chars")
        .orderBy($"source", $"rk")
    },

    entry(
      "profile_drift",
      """WITH b AS (SELECT epoch_us(ts) AS tu, event_type FROM events),
        |m AS (SELECT (min(tu) + max(tu)) // 2 AS mid FROM b),
        |h AS (SELECT event_type, CASE WHEN tu < mid THEN 0 ELSE 1 END AS half
        |  FROM b, m),
        |c AS (SELECT event_type,
        |    sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n_first,
        |    sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n_second
        |  FROM h GROUP BY 1),
        |t AS (SELECT sum(n_first) AS t0, sum(n_second) AS t1 FROM c)
        |SELECT event_type, CAST(n_first AS BIGINT) AS n_first,
        |  CAST(n_second AS BIGINT) AS n_second,
        |  CAST(n_first * 1000000 // t0 AS BIGINT) AS rate_first_ppm,
        |  CAST(n_second * 1000000 // t1 AS BIGINT) AS rate_second_ppm,
        |  CAST(abs(n_first * 1000000 // t0 - n_second * 1000000 // t1) AS BIGINT) AS drift_ppm
        |FROM c, t ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      // Distribution-drift profile — the train/serve-skew check a
      // pipeline owner runs before trusting a new data window: the
      // event-type mix of the first half of the time span vs the
      // second, with the per-type rate delta in exact integer ppm.
      // A type whose drift_ppm spikes is the "schema didn't change but
      // the data did" regression class no schema check catches.
      //
      // Exactness: the midpoint is integer epoch-micros arithmetic,
      // rates are integer-division ppm (floor in both engines), so the
      // declared output is all-integer and hash-exact at any
      // partitioning. Scale shape: one 1-row min/max broadcast over
      // the span, then a single hash-agg keyed by event_type with
      // map-side combine (the conditional sums are one pass — never
      // two scans for two halves); type cardinality is tiny, so the
      // final frame is driver-trivial. At 100 TB the n·10⁶ products
      // stay far below 2^63 per type until ~10¹² rows per type — past
      // that, widen to decimal(38).
      val b = loadEvents(s, dir).select(unix_micros($"ts").as("tu"), $"event_type")
      // integer DIV, not `/`: double division holds integers only to
      // 2^53 and the epoch-micro sum is ~2^52 already — same floor
      // semantics as the oracle's `//` on positive micros
      val mid = b.agg(expr("(min(tu) + max(tu)) DIV 2").as("mid"))
      val c = b.crossJoin(broadcast(mid))
        .groupBy($"event_type")
        .agg(sum(when($"tu" < $"mid", 1L).otherwise(0L)).as("n_first"),
          sum(when($"tu" >= $"mid", 1L).otherwise(0L)).as("n_second"))
      val t = c.agg(sum($"n_first").as("t0"), sum($"n_second").as("t1"))
      c.crossJoin(broadcast(t))
        .select($"event_type", $"n_first", $"n_second",
          expr("n_first * 1000000L DIV t0").as("rate_first_ppm"),
          expr("n_second * 1000000L DIV t1").as("rate_second_ppm"),
          abs(expr("n_first * 1000000L DIV t0") - expr("n_second * 1000000L DIV t1"))
            .as("drift_ppm"))
        .orderBy($"event_type")
    },

    entry(
      "pack_sequences",
      """WITH t AS (SELECT doc_id,
        |    len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
        |  FROM t)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(tok_offset AS BIGINT) AS tok_offset,
        |  CAST(tok_offset // 2048 AS BIGINT) AS seq_first,
        |  CAST((tok_offset + greatest(n_tokens, 1) - 1) // 2048 AS BIGINT) AS seq_last
        |FROM c ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // Sequence packing — the step between a curated corpus and the
      // trainer: documents are concatenated in deterministic doc_id
      // order and chunked into fixed 2048-token training windows; each
      // doc's global token offset decides the sequence ids it lands in
      // (seq_first..seq_last — a doc straddling a boundary is split
      // across windows, the standard concat-and-chunk regime).
      //
      // The global offset is a PREFIX SUM, and a naive window cumsum
      // over doc_id order is a single-partition sort of the whole
      // corpus — the classic scale trap (the oracle does exactly that,
      // which is fine for DuckDB at gate SF). Here it is the two-level
      // distributed form: per-bucket token totals (tiny frame, one row
      // per 1000 docs) get a cumulative bucket offset via a window over
      // that TINY frame only, broadcast back, and each doc adds its
      // within-bucket running sum through a window PARTITIONED by
      // bucket — bounded rows per partition, no global sort. At 100 TB
      // add levels as needed (bucket the buckets); every stage stays
      // bounded. Integer `DIV` throughout: token offsets exceed 2^53 at
      // lake scale, where double-precision division would drift.
      // token counts come from the shared memoized tokenized frame
      // (the same cache layer postings/grams/signatures derive from):
      // size(toks) is a map-only projection of the persisted blocks —
      // no fresh tokenize, no shuffle, no join — and token-less docs
      // keep their zero-width packing position as size = 0. (A first
      // draft summed the postings frame's tf per doc: that re-shuffled
      // the exploded frame and joined it back, twice, for a number the
      // un-exploded frame already holds.)
      val docs = TextOps.docTokens(s, dir)
        .select($"doc_id", size($"toks").cast("long").as("n_tokens"))
      val t = docs.withColumn("bucket", expr("doc_id DIV 1000"))
      val boff = t.groupBy($"bucket").agg(sum($"n_tokens").as("btot"))
        .withColumn("boff", coalesce(sum($"btot").over(
          Window.orderBy($"bucket").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select($"bucket", $"boff")
      val w = Window.partitionBy($"bucket").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      t.join(broadcast(boff), "bucket")
        .withColumn("tok_offset", $"boff" + coalesce(sum($"n_tokens").over(w), lit(0L)))
        .select($"doc_id", $"n_tokens", $"tok_offset",
          expr("tok_offset DIV 2048").as("seq_first"),
          expr("(tok_offset + greatest(n_tokens, 1) - 1) DIV 2048").as("seq_last"))
        .orderBy($"doc_id")
    },

    entry(
      "mix_weights",
      """WITH t AS (SELECT source,
        |    sum(len(list_filter(string_split(lower(text), ' '), x -> x <> ''))) AS n_tokens
        |  FROM documents GROUP BY source),
        |g AS (SELECT sum(n_tokens) AS total, count(*) AS ns FROM t)
        |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  round(n_tokens * 1.0 / total, 4) AS share,
        |  round(total * 1.0 / (ns * n_tokens), 4) AS weight
        |FROM t, g ORDER BY source""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      // Data-mixing weights: per-source token counts and the sampling
      // multiplier that rebalances the mixture to a uniform target share
      // (weight = target/actual; swap the uniform target for a config
      // map in production). The number a pretraining run feeds its
      // sampler. Token counts are a map-only projection of the shared
      // tokenized frame (size(toks) over the persisted blocks — no
      // fresh corpus tokenize, the same ride pack_sequences takes);
      // everything after the tiny per-source aggregate is a broadcast
      // 1-row join. This entry GROUPS on source, so it demands the real
      // column (requireDocMeta) — a gate corpus's synthesized-null
      // source would silently fold the whole corpus into one group.
      TextOps.requireDocMeta(s, dir, "source")
      val t = TextOps.docTokens(s, dir)
        .select($"source", size($"toks").cast("long").as("nt"))
        .groupBy($"source").agg(sum($"nt").as("n_tokens"))
      val g = t.agg(sum($"n_tokens").as("total"), count(lit(1)).as("ns"))
      t.crossJoin(broadcast(g))
        .select($"source", $"n_tokens",
          round($"n_tokens" * lit(1.0) / $"total", 4).as("share"),
          round($"total" * lit(1.0) / ($"ns" * $"n_tokens"), 4).as("weight"))
        .orderBy($"source")
    },

    entry(
      "agg_gini",
      """WITH t AS (SELECT source, doc_id,
        |    len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS nt
        |  FROM documents),
        |r AS (SELECT source, nt,
        |    row_number() OVER (PARTITION BY source ORDER BY nt, doc_id) AS rk
        |  FROM t),
        |g AS (SELECT source, count(*) AS n, sum(nt) AS tot, sum(rk * nt) AS rs
        |  FROM r GROUP BY 1)
        |SELECT source, CAST(n AS BIGINT) AS n_docs, CAST(tot AS BIGINT) AS n_tokens,
        |  CAST((2 * rs - (n + 1) * tot) * 1000000 // (n * tot) AS BIGINT) AS gini_ppm
        |FROM g ORDER BY source""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // Token-mass concentration per source (Gini coefficient, exact
      // integer ppm) — the inequality audit behind mixture decisions:
      // a source whose token mass concentrates in a few giant docs
      // behaves very differently under doc-level sampling than its
      // token share suggests (dedup, packing and per-doc quality
      // filters all act doc-wise). Rank formula
      // G = (2·Σ rk·x − (n+1)·Σx) / (n·Σx) on the ascending sort;
      // equal-valued docs contribute the same Σ rk·x under any
      // tie order (i+j constant × equal x), and the doc_id tiebreak
      // pins the rest — all-integer, hash-exact.
      // Scale shape (r13 verdict ask #1 — the lake dial, WIRED): rides
      // the shared tokenized frame (map-only size(toks)); the final
      // frame is source-sized. The per-source rank uses the two-level
      // bucket prefix-sum (win_ntile_global's device) instead of one
      // window per source: a single fat source would otherwise be one
      // fat single-task sort at lake scale. Range-bucket by 15
      // approximate nt split points (assignment is a pure function of
      // nt, so every tie group lands whole in one bucket and
      // (source, bkt, nt, doc_id) ordering ≡ (source, nt, doc_id)
      // ordering — global rank = per-(source,bucket) row_number + the
      // source's prefix count of earlier buckets, computed on the tiny
      // source×16 bucket-counts frame). Approximation only affects
      // bucket balance, never rank correctness.
      TextOps.requireDocMeta(s, dir, "source")
      // t feeds three branches (the percentile bounds pass, the offs
      // groupBy, and the final rank join) — localCheckpoint the reduced
      // (source, doc_id, nt) grain so the docTokens projection runs
      // ONCE, not once per branch (agg_weighted_median's identical fix
      // measured 1.78M → 1.19M shuffle records; ReusedExchange does NOT
      // unify these branches on its own — measured control in SCALE.md)
      val t = TextOps.docTokens(s, dir)
        .select($"source", $"doc_id", size($"toks").cast("long").as("nt"))
        .localCheckpoint()
      val bounds = t.agg(percentile_approx($"nt",
        typedLit((1 to 15).map(_ / 16.0)), lit(10000)).as("bs"))
      val bucketed = t.crossJoin(broadcast(bounds))
        .select($"source", $"doc_id", $"nt",
          aggregate($"bs", lit(0),
            (acc, b) => acc + when($"nt" > b, 1).otherwise(0)).as("bkt"))
      val wOff = Window.partitionBy($"source").orderBy($"bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = bucketed.groupBy($"source", $"bkt").agg(count(lit(1)).as("bn"))
        .withColumn("off", coalesce(sum($"bn").over(wOff), lit(0L)))
        .select($"source", $"bkt", $"off")
      val wIn = Window.partitionBy($"source", $"bkt").orderBy($"nt", $"doc_id")
      bucketed.join(broadcast(offs), Seq("source", "bkt"))
        .withColumn("rk", row_number().over(wIn).cast("long") + $"off")
        .groupBy($"source")
        .agg(count(lit(1)).as("n"), sum($"nt").as("tot"),
          sum($"rk" * $"nt").as("rs"))
        .select($"source", $"n".as("n_docs"), $"tot".as("n_tokens"),
          expr("(2 * rs - (n + 1) * tot) * 1000000L DIV (n * tot)").as("gini_ppm"))
        .orderBy($"source")
    },

    entry(
      "mix_temperature",
      """WITH t AS (SELECT source,
        |    sum(len(list_filter(string_split(lower(text), ' '), x -> x <> ''))) AS n_tokens
        |  FROM documents GROUP BY source),
        |g AS (SELECT sum(n_tokens) AS total FROM t),
        |q AS (SELECT source, n_tokens,
        |    CAST(round(sqrt(n_tokens * 1.0 / total) * 1000000000, 0) AS BIGINT) AS qw
        |  FROM t, g),
        |s AS (SELECT sum(qw) AS sq FROM q)
        |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(qw * 1000000 // sq AS BIGINT) AS weight_ppm
        |FROM q, s ORDER BY source""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      // Temperature-scaled mixture sampling (α = 0.5): sampling weight
      // ∝ share^α, the standard low-resource up-weighting every
      // multilingual/multi-source pretraining run uses (XLM-R /
      // mT5-style temperature sampling — uniform at α=0, proportional
      // at α=1) — the dial between mix_weights' two extremes.
      // Determinism: sqrt is IEEE-correctly-rounded on an identically
      // computed ratio, then QUANTIZED to integer nano-units before
      // the normalizing sum — so the Σ over sources is an exact long
      // sum (a float Σ of 20 sqrt values would be partial-order
      // dependent), and the declared ppm weights are pure integer DIV.
      // Scale shape: same ride as mix_weights — map-only size(toks)
      // over the shared tokenized frame, a source-sized aggregate, two
      // 1-row broadcasts. Output is source-cardinality rows.
      TextOps.requireDocMeta(s, dir, "source")
      val t = TextOps.docTokens(s, dir)
        .select($"source", size($"toks").cast("long").as("nt"))
        .groupBy($"source").agg(sum($"nt").as("n_tokens"))
      val g = t.agg(sum($"n_tokens").as("total"))
      val q = t.crossJoin(broadcast(g))
        .select($"source", $"n_tokens",
          round(sqrt($"n_tokens" * lit(1.0) / $"total") * 1000000000L, 0)
            .cast("long").as("qw"))
      val sq = q.agg(sum($"qw").as("sq"))
      q.crossJoin(broadcast(sq))
        .select($"source", $"n_tokens",
          expr("qw * 1000000L DIV sq").as("weight_ppm"))
        .orderBy($"source")
    },

    entry(
      "mix_apply",
      """WITH t AS (SELECT source,
        |    sum(len(list_filter(string_split(lower(text), ' '), x -> x <> ''))) AS n_tokens
        |  FROM documents GROUP BY source),
        |g AS (SELECT sum(n_tokens) AS total, count(*) AS ns FROM t),
        |w AS (SELECT source, least(1.0, round(total * 1.0 / (ns * n_tokens), 4)) AS p
        |  FROM t, g),
        |h AS (SELECT doc_id, source,
        |    (doc_id % 1000000007) * 2654435761 % 1000000007 AS h1
        |  FROM documents)
        |SELECT h.doc_id, h.source FROM h JOIN w USING (source)
        |WHERE h1 * 2654435761 % 1000000007 % 1000000 < p * 1000000
        |ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      // Materialize the mixture mix_weights prescribes: downsample each
      // OVERrepresented source to the uniform target share by keeping a
      // doc iff its hash fraction clears the source's keep probability
      // p = min(weight, 1). Underrepresented sources keep everything —
      // sampling UP means repetition, an epoch-schedule concern, not a
      // row filter. Same engine-independent multiplicative-hash
      // discipline as sample_split, but through a SECOND hash round:
      // sample_split consumes the first round's low digits, and reusing
      // them here would correlate split membership with mixture
      // membership (the mod-100 bucket is the mod-10⁶ bucket's low
      // digits). p is the round(·,4) weight both engines already agree
      // on (mix_weights is oracle-green), so the keep threshold is the
      // identical double on both sides. Map-only at corpus scale: the
      // per-source weights frame broadcasts, nothing else shuffles
      // before the ordered output — and BOTH sides (the weights
      // subtree's token counts and the candidate rows) are projections
      // of the shared tokenized frame, so the whole entry touches the
      // corpus zero times beyond the session cache. Keyed on source →
      // demand the real column (see mix_weights).
      TextOps.requireDocMeta(s, dir, "source")
      val docs = TextOps.docTokens(s, dir)
      val t = docs.select($"source", size($"toks").cast("long").as("nt"))
        .groupBy($"source").agg(sum($"nt").as("n_tokens"))
      val g = t.agg(sum($"n_tokens").as("total"), count(lit(1)).as("ns"))
      val w = t.crossJoin(broadcast(g))
        .select($"source",
          least(lit(1.0), round($"total" * lit(1.0) / ($"ns" * $"n_tokens"), 4)).as("p"))
      val h1 = ($"doc_id" % lit(1000000007L)) * lit(2654435761L) % lit(1000000007L)
      docs.select($"doc_id", $"source")
        .join(broadcast(w), "source")
        .filter(h1 * lit(2654435761L) % lit(1000000007L) % lit(1000000L) < $"p" * lit(1000000L))
        .select($"doc_id", $"source")
        .orderBy($"doc_id")
    },

    entry(
      "mix_weights_incremental",
      // identical oracle to mix_weights: incremental maintenance must
      // reproduce the full recompute exactly, not approximately
      """WITH t AS (SELECT source,
        |    sum(len(list_filter(string_split(lower(text), ' '), x -> x <> ''))) AS n_tokens
        |  FROM documents GROUP BY source),
        |g AS (SELECT sum(n_tokens) AS total, count(*) AS ns FROM t)
        |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  round(n_tokens * 1.0 / total, 4) AS share,
        |  round(total * 1.0 / (ns * n_tokens), 4) AS weight
        |FROM t, g ORDER BY source""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      // Materialized-view maintenance for the mixing family: mix_weights
      // recomputes per-source token totals from the (cached) corpus every
      // run — at 100 TB even one corpus scan per weights refresh is the
      // cost that dominates a daily-ingest cadence. Here the totals are a
      // version-stamped LAKE ARTIFACT (per-source n_docs/n_tokens over the
      // corpus minus the standard batch slice, built once like the sim
      // index), and the entry answers by merging the state with partial
      // aggregates of ONLY the batch (doc_id % 10 == 7, the same slice the
      // index *_incremental entries treat as "today's ingest"). Exact
      // integer sums merge associatively, so the result is byte-equal to
      // the full recompute — the oracle is mix_weights' own SQL. Cost
      // profile: O(|batch|) tokenize-side work + O(|sources|) merge,
      // corpus touched zero times. `mergeIntoMixState` is the write path
      // that folds a batch INTO the artifact (MixStateSpec pins
      // merged-state == recompute); grouped on source → demand the real
      // column (see mix_weights).
      TextOps.requireDocMeta(s, dir, "source")
      val state = readMixState(s, dir)
      val batch = TextOps.docTokens(s, dir)
        .filter(pmod($"doc_id", lit(10)) === 7)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum(size($"toks")).as("n_tokens"))
      val t = state.unionByName(batch)
        .groupBy($"source").agg(sum($"n_tokens").as("n_tokens"))
      val g = t.agg(sum($"n_tokens").as("total"), count(lit(1)).as("ns"))
      t.crossJoin(broadcast(g))
        .select($"source", $"n_tokens",
          round($"n_tokens" * lit(1.0) / $"total", 4).as("share"),
          round($"total" * lit(1.0) / ($"ns" * $"n_tokens"), 4).as("weight"))
        .orderBy($"source")
    },

    entry(
      "curate_corpus_e2e",
      """WITH RECURSIVE t AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |  FROM documents),
        |td AS (SELECT doc_id, list_distinct(toks) AS dtoks FROM t),
        |tt AS (SELECT doc_id, unnest(dtoks) AS term FROM td),
        |n AS (SELECT doc_id, count(*) AS nt FROM tt GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        |  FROM tt a JOIN tt b ON a.term = b.term AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT d1, d2 FROM p
        |  JOIN n na ON na.doc_id = d1 JOIN n nb ON nb.doc_id = d2
        |  WHERE inter*1.0/(na.nt+nb.nt-inter) >= 0.9),
        |e AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |reach(src, dst) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
        |lab AS (SELECT src AS doc_id, min(dst) AS label FROM reach GROUP BY src),
        |keepers AS (SELECT doc_id FROM lab WHERE doc_id = label),
        |g AS (SELECT doc_id,
        |    unnest(list_transform(range(len(toks) - 2),
        |      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS gram
        |  FROM t),
        |bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 3),
        |bad AS (SELECT DISTINCT g.doc_id FROM g JOIN bg USING (gram) WHERE g.doc_id % 97 <> 3),
        |clean AS (SELECT d.doc_id, d.source, len(t.toks) AS n_tokens
        |  FROM documents d JOIN t ON d.doc_id = t.doc_id
        |  JOIN keepers k ON d.doc_id = k.doc_id
        |  WHERE d.doc_id % 97 <> 3 AND d.doc_id NOT IN (SELECT doc_id FROM bad)),
        |w0 AS (SELECT source, sum(n_tokens) AS n_tokens FROM clean GROUP BY source),
        |wg AS (SELECT sum(n_tokens) AS total, count(*) AS ns FROM w0),
        |w AS (SELECT source, least(1.0, round(total * 1.0 / (ns * n_tokens), 4)) AS p
        |  FROM w0, wg),
        |kept AS (SELECT c.doc_id, c.source, c.n_tokens FROM clean c JOIN w USING (source)
        |  WHERE (c.doc_id % 1000000007) * 2654435761 % 1000000007
        |        * 2654435761 % 1000000007 % 1000000 < p * 1000000),
        |o AS (SELECT doc_id, source, n_tokens,
        |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
        |  FROM kept)
        |SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(tok_offset AS BIGINT) AS tok_offset
        |FROM o ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // The whole ship-to-tokenizer pipeline as ONE declared plan — the
      // north-star composition (dedup → decontaminate → mix → pack)
      // that proves the curation operators compose without glue code or
      // intermediate materialization beyond the shared session frames:
      // keepers ride the memoized cluster-labels artifact, the
      // benchmark probe rides the memoized gram frame, token counts are
      // a map-only projection of docTokens, and the mixture weights are
      // computed over the CLEAN corpus (the mixture of what actually
      // ships, not of what was ingested). Survivor offsets use the same
      // two-level prefix sum as pack_sequences. One corpus-wide oracle
      // chains the four steps' SQL verbatim, so any drift in ANY stage
      // breaks the hash — the strongest composition check the harness
      // offers. Scale shape: every stage is the bounded form its
      // standalone entry pins (broadcast gram probe, broadcast weights,
      // bucket-partitioned windows); composing them adds no new
      // shuffle beyond the stages' own. The clean spine comes from the
      // memoized [[cleanCorpus]] frame — the plan references it twice
      // (weights + survivor filter) and a repeated subtree re-executes
      // per reference without it.
      TextOps.requireDocMeta(s, dir, "source")
      val clean = cleanCorpus(s, dir)
      val t = clean.groupBy($"source").agg(sum($"n_tokens").as("n_tokens"))
      val g = t.agg(sum($"n_tokens").as("total"), count(lit(1)).as("ns"))
      val w = t.crossJoin(broadcast(g))
        .select($"source",
          least(lit(1.0), round($"total" * lit(1.0) / ($"ns" * $"n_tokens"), 4)).as("p"))
      val h1 = ($"doc_id" % lit(1000000007L)) * lit(2654435761L) % lit(1000000007L)
      val kept = clean.join(broadcast(w), "source")
        .filter(h1 * lit(2654435761L) % lit(1000000007L) % lit(1000000L) < $"p" * lit(1000000L))
        .select($"doc_id", $"source", $"n_tokens")
      val tb = kept.withColumn("bucket", expr("doc_id DIV 1000"))
      val boff = tb.groupBy($"bucket").agg(sum($"n_tokens").as("btot"))
        .withColumn("boff", coalesce(sum($"btot").over(
          Window.orderBy($"bucket").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select($"bucket", $"boff")
      val win = Window.partitionBy($"bucket").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      tb.join(broadcast(boff), "bucket")
        .withColumn("tok_offset", $"boff" + coalesce(sum($"n_tokens").over(win), lit(0L)))
        .select($"doc_id", $"source", $"n_tokens", $"tok_offset")
        .orderBy($"doc_id")
    },

    entry(
      "pipeline_report",
      """WITH RECURSIVE t AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |  FROM documents),
        |td AS (SELECT doc_id, list_distinct(toks) AS dtoks FROM t),
        |tt AS (SELECT doc_id, unnest(dtoks) AS term FROM td),
        |n AS (SELECT doc_id, count(*) AS nt FROM tt GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        |  FROM tt a JOIN tt b ON a.term = b.term AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT d1, d2 FROM p
        |  JOIN n na ON na.doc_id = d1 JOIN n nb ON nb.doc_id = d2
        |  WHERE inter*1.0/(na.nt+nb.nt-inter) >= 0.9),
        |e AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |reach(src, dst) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
        |lab AS (SELECT src AS doc_id, min(dst) AS label FROM reach GROUP BY src),
        |keepers AS (SELECT doc_id FROM lab WHERE doc_id = label),
        |g AS (SELECT doc_id,
        |    unnest(list_transform(range(len(toks) - 2),
        |      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS gram
        |  FROM t),
        |bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 3),
        |bad AS (SELECT DISTINCT g.doc_id FROM g JOIN bg USING (gram) WHERE g.doc_id % 97 <> 3),
        |clean AS (SELECT d.doc_id, d.source, len(t.toks) AS n_tokens
        |  FROM documents d JOIN t ON d.doc_id = t.doc_id
        |  JOIN keepers k ON d.doc_id = k.doc_id
        |  WHERE d.doc_id % 97 <> 3 AND d.doc_id NOT IN (SELECT doc_id FROM bad)),
        |w0 AS (SELECT source, sum(n_tokens) AS n_tokens FROM clean GROUP BY source),
        |wg AS (SELECT sum(n_tokens) AS total, count(*) AS ns FROM w0),
        |w AS (SELECT source, least(1.0, round(total * 1.0 / (ns * n_tokens), 4)) AS p
        |  FROM w0, wg),
        |kept AS (SELECT c.doc_id FROM clean c JOIN w USING (source)
        |  WHERE (c.doc_id % 1000000007) * 2654435761 % 1000000007
        |        * 2654435761 % 1000000007 % 1000000 < p * 1000000)
        |SELECT 1 AS stage_id, 'ingested' AS stage,
        |  (SELECT count(*) FROM documents) AS n_docs
        |UNION ALL SELECT 2, 'deduped', (SELECT count(*) FROM keepers)
        |UNION ALL SELECT 3, 'decontaminated', (SELECT count(*) FROM clean)
        |UNION ALL SELECT 4, 'mixed', (SELECT count(*) FROM kept)
        |ORDER BY stage_id""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      // The funnel view of curate_corpus_e2e — docs surviving each
      // stage, the number a pipeline owner reads before shipping a
      // corpus (and the guard that catches a stage silently dropping
      // everything). The clean/kept stages ride the memoized
      // [[cleanCorpus]] spine (shared with the composed plan); each
      // stage costs one count-aggregate on top.
      TextOps.requireDocMeta(s, dir, "source")
      val docs = TextOps.docTokens(s, dir)
      val keepers = TextOps.clusterLabels(s, dir)
        .filter($"doc_id" === $"label").select($"doc_id")
      val clean = cleanCorpus(s, dir)
      val t = clean.groupBy($"source").agg(sum($"n_tokens").as("n_tokens"))
      val g = t.agg(sum($"n_tokens").as("total"), count(lit(1)).as("ns"))
      val w = t.crossJoin(broadcast(g))
        .select($"source",
          least(lit(1.0), round($"total" * lit(1.0) / ($"ns" * $"n_tokens"), 4)).as("p"))
      val h1 = ($"doc_id" % lit(1000000007L)) * lit(2654435761L) % lit(1000000007L)
      val kept = clean.join(broadcast(w), "source")
        .filter(h1 * lit(2654435761L) % lit(1000000007L) % lit(1000000L) < $"p" * lit(1000000L))
      def stage(id: Int, name: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n_docs"))
          .select(lit(id).as("stage_id"), lit(name).as("stage"), $"n_docs")
      stage(1, "ingested", docs)
        .unionByName(stage(2, "deduped", keepers))
        .unionByName(stage(3, "decontaminated", clean))
        .unionByName(stage(4, "mixed", kept))
        .orderBy($"stage_id")
    },

    entryNoOracle("agg_hll_incremental") { (s, dir) =>
      import s.implicits._
      // Distinct users per event type, served incrementally: persisted
      // per-type HLL sketches (events minus the batch slice, a lake
      // artifact like the mix state) union-merged with ONLY the batch's
      // sketch. Register-wise max is commutative/associative, so the
      // estimate equals a from-scratch sketch of the full table EXACTLY
      // (MixStateSpec pins it) — the sketch generalization of
      // mix_weights_incremental's exact-sum merge, and the form distinct
      // counting takes at 100 TB: the state is a few KB per group
      // regardless of user cardinality.
      val path = ensureHllState(s, dir)
      val state = hllState.read(s, path, "hll_state")
      val batch = loadEvents(s, dir)
        .filter(pmod($"event_id", lit(10)) === 7)
        .groupBy($"event_type")
        .agg(hll_sketch_agg($"user_id").as("sketch"))
      state.unionByName(batch)
        .groupBy($"event_type")
        .agg(hll_sketch_estimate(hll_union_agg($"sketch")).as("approx_users"))
        .orderBy($"event_type")
    },

    entry(
      "text_decontaminate",
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    unnest(list_transform(range(len(toks) - 2),
        |      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS gram
        |  FROM t),
        |bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 3),
        |bad AS (SELECT DISTINCT g.doc_id FROM g JOIN bg USING (gram) WHERE g.doc_id % 97 <> 3)
        |SELECT d.doc_id, d.lang, d.source FROM documents d
        |WHERE d.doc_id % 97 <> 3
        |  AND d.doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY d.doc_id""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      // The actionable half of the contamination check (detect → act,
      // like cluster → keep): the training corpus with benchmark docs
      // AND every doc leaking a benchmark 3-gram removed — what actually
      // ships to the tokenizer. Same broadcast n-gram probe as
      // text_contamination, inverted into an anti-join.
      //
      // The gram frame is the MEMOIZED shared materialization
      // (TextOps.wordGrams): this plan references it twice (benchmark
      // side + probe side) and text_contamination probes it again — one
      // tokenize+explode per session instead of ~4 per bench run
      // (PlanAuditSpec asserts both plans read the cache).
      val docs = load(s, dir, "documents")
      val grams = TextOps.wordGrams(s, dir)
      val bench = grams.filter($"doc_id" % 97 === 3).select($"gram").distinct()
      val bad = grams.filter($"doc_id" % 97 =!= 3)
        .join(broadcast(bench), "gram")
        .select($"doc_id").distinct()
      docs.filter($"doc_id" % 97 =!= 3)
        .join(bad, Seq("doc_id"), "left_anti")
        .select($"doc_id", $"lang", $"source")
        .orderBy($"doc_id")
    },

    entry(
      "text_contamination",
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    unnest(list_transform(range(len(toks) - 2),
        |      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS gram
        |  FROM t),
        |bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 3),
        |cg AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 3)
        |SELECT cg.doc_id, count(DISTINCT cg.gram) AS n_shared
        |FROM cg JOIN bg USING (gram)
        |GROUP BY cg.doc_id ORDER BY cg.doc_id""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      // Benchmark-contamination check: flag corpus docs sharing any word
      // 3-gram with a held-out benchmark set (deterministic stand-in:
      // doc_id % 97 == 3), reporting how many distinct 3-grams leak.
      // The benchmark side is DISTINCT + broadcast — at 100 TB the eval
      // suites are orders of magnitude smaller than the corpus, so the
      // check is a map + broadcast-join + partial agg over the corpus,
      // never an n-gram shuffle of the lake. Both sides read the shared
      // memoized gram frame (TextOps.wordGrams).
      val grams = TextOps.wordGrams(s, dir)
      val bench = grams.filter($"doc_id" % 97 === 3).select($"gram").distinct()
      grams.filter($"doc_id" % 97 =!= 3)
        .join(broadcast(bench), "gram")
        .groupBy($"doc_id")
        .agg(countDistinct($"gram").as("n_shared"))
        .orderBy($"doc_id")
    },

    entry(
      "text_lm_score",
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |  FROM documents),
        |bg AS (SELECT doc_id,
        |    unnest(list_transform(range(len(toks) - 1),
        |      i -> toks[i+1] || ' ' || toks[i+2])) AS bg
        |  FROM t),
        |c12 AS (SELECT bg, count(*) AS c12 FROM bg GROUP BY bg),
        |c1 AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1
        |  FROM bg GROUP BY 1),
        |s AS (SELECT b.doc_id,
        |    CAST(round(ln(c1.c1 * 1.0 / c12.c12), 6) AS DECIMAL(18,6)) AS term
        |  FROM bg b JOIN c12 ON b.bg = c12.bg
        |  JOIN c1 ON split_part(b.bg, ' ', 1) = c1.w1)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(CAST(sum(term) AS DOUBLE) / count(*), 4) AS lm_score
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      // Language-model quality scoring — the CCNet-style perplexity
      // filter a pretraining pipeline runs between ingest and mixing:
      // score each document by its average bigram surprisal
      // -ln P(w2|w1) under an MLE bigram model. The model here is
      // trained on the corpus itself (every scored bigram is in the
      // model by construction, so no backoff branch exists); a
      // production run swaps in an external model table keyed the same
      // way (bg -> count, w1 -> count) — the scoring join below is the
      // contract. Scale shape: the bigram stream derives from the
      // shared tokenized frame (no re-tokenize), the model tables are
      // shuffle partial-aggs, and scoring is a key-partitioned join of
      // the stream against the model — the model is corpus-vocabulary
      // sized, so it shuffles rather than broadcasts at 100 TB.
      // Determinism: per-bigram surprisal is rounded to 6 decimals and
      // summed as DECIMAL(18,6) — an exact, order-independent sum (a
      // raw double sum would hash-differently across partition orders).
      val bg = bigramStream(TextOps.docTokens(s, dir))
      val c12 = bg.groupBy($"bg").agg(count(lit(1)).as("c12"))
      val c1 = bg.select(split($"bg", " ")(0).as("w1"))
        .groupBy($"w1").agg(count(lit(1)).as("c1"))
      scoreBigrams(s, bg, c12, c1)
    },

    entry(
      "text_lm_incremental",
      // identical MODEL to text_lm_score (trained on the FULL corpus),
      // scored over only the standard batch slice: incremental model
      // maintenance must reproduce the full recompute exactly
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |  FROM documents),
        |bg AS (SELECT doc_id,
        |    unnest(list_transform(range(len(toks) - 1),
        |      i -> toks[i+1] || ' ' || toks[i+2])) AS bg
        |  FROM t),
        |c12 AS (SELECT bg, count(*) AS c12 FROM bg GROUP BY bg),
        |c1 AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS c1
        |  FROM c12 GROUP BY 1),
        |s AS (SELECT b.doc_id,
        |    CAST(round(ln(c1.c1 * 1.0 / c12.c12), 6) AS DECIMAL(18,6)) AS term
        |  FROM bg b JOIN c12 ON b.bg = c12.bg
        |  JOIN c1 ON split_part(b.bg, ' ', 1) = c1.w1
        |  WHERE b.doc_id % 10 = 7)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(CAST(sum(term) AS DOUBLE) / count(*), 4) AS lm_score
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      // Incremental LM maintenance — the daily-ingest shape for the
      // quality filter: the bigram-count model lives as a
      // version-stamped lake artifact (corpus minus the standard batch
      // slice, like the mix/HLL states), the batch's partial counts
      // merge in by exact integer sum, and ONLY the batch docs are
      // scored against the merged model. Counts are associative, so
      // the merged model is byte-equal to one trained on the full
      // corpus — the oracle scores the batch against the full-corpus
      // model, and LmStateSpec pins inc == text_lm_score restricted to
      // the batch. Cost profile: O(|batch|) tokenize + O(|model|)
      // merge; the corpus is never re-scanned. The history totals
      // c(w1) derive from the MERGED bigram table by a model-sized
      // aggregate (c1 = Σ c12 over bigrams sharing the history), so
      // the state is ONE table, not two that could drift.
      val path = ensureLmState(s, dir)
      val state = lmState.read(s, path, "lm_state")
      val batchBg = bigramStream(
        TextOps.docTokens(s, dir).filter(pmod($"doc_id", lit(10)) === 7))
      val c12 = state
        .unionByName(batchBg.groupBy($"bg").agg(count(lit(1)).as("c12")))
        .groupBy($"bg").agg(sum($"c12").as("c12"))
      val c1 = c12.groupBy(split($"bg", " ")(0).as("w1")).agg(sum($"c12").as("c1"))
      scoreBigrams(s, batchBg, c12, c1)
    },

    entry(
      "sample_weighted",
      """WITH t AS (SELECT doc_id, source,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |  FROM documents),
        |q AS (SELECT doc_id, source, len(toks) AS nt,
        |    len(list_distinct(toks)) AS nd FROM t WHERE len(toks) > 0),
        |h AS (SELECT *, (doc_id % 1000000007) * 2654435761 % 1000000007
        |    * 2654435761 % 1000000007 * 2654435761 % 1000000007 AS h3 FROM q),
        |k AS (SELECT * FROM h WHERE h3 * nt < nd * 1000000007)
        |SELECT source, count(*) AS n_kept, CAST(sum(nt) AS BIGINT) AS kept_tokens,
        |  round(avg(nd * 1.0 / nt), 4) AS avg_quality
        |FROM k GROUP BY source ORDER BY source""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      // Weighted (importance) downsampling: keep each doc with
      // probability equal to its quality weight — here the
      // distinct-token ratio nd/nt, the same signal curate_token_budget
      // ranks by — via a deterministic uniform draw. The Bernoulli test
      // h3 < w·p is evaluated in EXACT INTEGER form (h3·nt < nd·p, all
      // < 2⁶³: h3 < p ≈ 10⁹, nt ≤ corpus doc length) so no float
      // boundary can flip membership between engines or reruns. h3 is
      // the THIRD-round Knuth multiplicative hash — decorrelated from
      // sample_split's buckets (round 1) and sample_stratified's rank
      // key (round 2), so composed pipelines don't couple their draws.
      // A pure map + per-source aggregate: no shuffle before the
      // summary, reproducible at any parallelism — the property
      // quality-weighted corpus resampling (CCNet-style) needs when the
      // pipeline reruns on appended data.
      val p = lit(1000000007L)
      val a = lit(2654435761L)
      val h3 = ($"doc_id" % p) * a % p * a % p * a % p
      load(s, dir, "documents")
        .select($"doc_id", $"source", tokens(lower($"text")).as("toks"))
        .select($"doc_id", $"source", size($"toks").as("nt"),
          size(array_distinct($"toks")).as("nd"))
        .filter($"nt" > 0)
        .filter(h3 * $"nt" < $"nd" * p)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_kept"), sum($"nt").as("kept_tokens"),
          round(avg($"nd" * lit(1.0) / $"nt"), 4).as("avg_quality"))
        .orderBy($"source")
    },

    entry(
      "curate_quality_e2e",
      """WITH t AS (SELECT doc_id, source,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |  FROM documents),
        |u AS (SELECT doc_id, x, count(*) AS n FROM t, unnest(toks) q(x)
        |  GROUP BY doc_id, x),
        |st AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS nt,
        |    CAST(max(n) AS BIGINT) AS topn,
        |    CAST(sum(CASE WHEN x IN ('the', 'a') THEN n ELSE 0 END) AS BIGINT) AS stopn,
        |    CAST(sum(len(x) * n) AS BIGINT) AS tl,
        |    CAST(count(*) AS BIGINT) AS nd
        |  FROM u GROUP BY doc_id),
        |j AS (SELECT st.*, t.source,
        |    (nt BETWEEN 30 AND 90 AND tl >= 4 * nt AND tl <= 5 * nt
        |      AND stopn >= 2 AND topn * 100 <= 15 * nt) AS pass
        |  FROM st JOIN t USING (doc_id)),
        |h AS (SELECT *, (doc_id % 1000000007) * 2654435761 % 1000000007
        |    * 2654435761 % 1000000007 * 2654435761 % 1000000007 AS h3 FROM j),
        |k AS (SELECT *, (pass AND h3 * nt < nd * 1000000007) AS kept FROM h)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_rules,
        |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        |  CAST(sum(CASE WHEN kept THEN nt ELSE 0 END) AS BIGINT) AS sampled_tokens,
        |  round(avg(CASE WHEN kept THEN nd * 1.0 / nt END), 4) AS avg_sampled_quality
        |FROM k GROUP BY source ORDER BY source""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      // The QUALITY-layer funnel composed end-to-end: Gopher rule
      // battery → quality-weighted downsample of the passers → per-source
      // attrition audit (docs in → rule survivors → sampled set, with
      // the sampled token mass and mean quality). The per-stage counts
      // in ONE output row per source are the operational report a
      // curation run publishes — each stage's kill rate visible, so a
      // threshold change shows WHERE it bit. Composition discipline:
      // per-doc stats come from the SAME memoized termFreq frame as
      // text_gopher_rules/tfidf (no re-tokenize), the weighted draw is
      // the sample_weighted integer Bernoulli on the same third-round
      // hash (one pipeline, one draw), and the whole funnel is one
      // aggregate over that frame + a metadata join — no extra corpus
      // pass, no shuffle beyond the (doc, then source) aggregates.
      val p = lit(1000000007L)
      val a = lit(2654435761L)
      val h3 = ($"doc_id" % p) * a % p * a % p * a % p
      val stats = TextOps.termFreq(s, dir)
        .groupBy($"doc_id")
        .agg(sum($"tf").as("nt"), max($"tf").as("topn"),
          sum(when($"term".isin("the", "a"), $"tf").otherwise(0L)).as("stopn"),
          sum(length($"term") * $"tf").as("tl"),
          count(lit(1)).as("nd"))
      val pass = $"nt" >= 30 && $"nt" <= 90 &&
        $"tl" >= $"nt" * 4 && $"tl" <= $"nt" * 5 &&
        $"stopn" >= 2 && $"topn" * 100 <= $"nt" * 15
      stats
        .join(load(s, dir, "documents").select($"doc_id", $"source"), "doc_id")
        .withColumn("pass", pass)
        .withColumn("kept", $"pass" && h3 * $"nt" < $"nd" * p)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"pass".cast("long")).as("n_pass_rules"),
          sum($"kept".cast("long")).as("n_sampled"),
          sum(when($"kept", $"nt").otherwise(0L)).as("sampled_tokens"),
          round(avg(when($"kept", $"nd" * lit(1.0) / $"nt")), 4)
            .as("avg_sampled_quality"))
        .orderBy($"source")
    },

    entry(
      "text_gopher_rules",
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |  FROM documents),
        |u AS (SELECT doc_id, x, count(*) AS n FROM t, unnest(toks) q(x)
        |  GROUP BY doc_id, x),
        |s AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS nt,
        |    CAST(max(n) AS BIGINT) AS topn,
        |    CAST(sum(CASE WHEN x IN ('the', 'a') THEN n ELSE 0 END) AS BIGINT) AS stopn,
        |    CAST(sum(len(x) * n) AS BIGINT) AS tl
        |  FROM u GROUP BY doc_id)
        |SELECT doc_id, nt AS n_tokens, round(tl * 1.0 / nt, 4) AS mean_word_len,
        |  stopn AS n_stopwords, round(topn * 1.0 / nt, 4) AS top_share,
        |  CAST(nt BETWEEN 30 AND 90 AS INT) AS r_len,
        |  CAST(tl >= 4 * nt AND tl <= 5 * nt AS INT) AS r_wordlen,
        |  CAST(stopn >= 2 AS INT) AS r_stop,
        |  CAST(topn * 100 <= 15 * nt AS INT) AS r_rep,
        |  CAST(nt BETWEEN 30 AND 90 AND tl >= 4 * nt AND tl <= 5 * nt
        |    AND stopn >= 2 AND topn * 100 <= 15 * nt AS INT) AS pass
        |FROM s ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      // Gopher-style quality-rule battery (Rae et al. 2021, §A1.1): the
      // hard PER-RULE pass/fail filter a pretraining pipeline runs
      // before any learned scorer — length bounds, mean-word-length
      // band, minimum stopword evidence, top-token dominance cap — with
      // each rule surfaced as its own flag so the filter report shows
      // WHICH rule killed a doc (the operational requirement; a single
      // fused boolean can't drive threshold tuning). Every rule is
      // evaluated in exact integer arithmetic (tl ≥ 4·nt, topn·100 ≤
      // 15·nt — never on rounded floats) so no rounding boundary can
      // flip a flag between engines; the float forms appear only as
      // display columns. Derives from the SAME memoized termFreq frame
      // as tfidf/bm25/repetition — one tokenize pass serves the whole
      // quality layer; per-doc stats are one hash-aggregate over it.
      TextOps.termFreq(s, dir)
        .groupBy($"doc_id")
        .agg(sum($"tf").as("nt"), max($"tf").as("topn"),
          sum(when($"term".isin("the", "a"), $"tf").otherwise(0L)).as("stopn"),
          sum(length($"term") * $"tf").as("tl"))
        .select($"doc_id", $"nt".as("n_tokens"),
          round($"tl" * lit(1.0) / $"nt", 4).as("mean_word_len"),
          $"stopn".as("n_stopwords"),
          round($"topn" * lit(1.0) / $"nt", 4).as("top_share"),
          ($"nt" >= 30 && $"nt" <= 90).cast("int").as("r_len"),
          ($"tl" >= $"nt" * 4 && $"tl" <= $"nt" * 5).cast("int").as("r_wordlen"),
          ($"stopn" >= 2).cast("int").as("r_stop"),
          ($"topn" * 100 <= $"nt" * 15).cast("int").as("r_rep"))
        .withColumn("pass",
          ($"r_len" === 1 && $"r_wordlen" === 1 && $"r_stop" === 1 &&
            $"r_rep" === 1).cast("int"))
        .orderBy($"doc_id")
    },

    entry(
      "text_chunk_fixed",
      """SELECT doc_id, k AS chunk_idx,
        |  length(substr(text, CAST(k * 300 + 1 AS INT), 400)) AS chunk_len,
        |  md5(substr(text, CAST(k * 300 + 1 AS INT), 400)) AS chunk_md5
        |FROM documents, LATERAL (SELECT unnest(generate_series(0,
        |  CAST(greatest(0, ceil((length(text) - 400) / 300.0)) AS INT))) AS k) g
        |ORDER BY doc_id, chunk_idx""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      // Sliding-window document chunking — the context-window prep step
      // every RAG / long-context training pipeline runs (400-char
      // windows, 100-char overlap, so no boundary-straddling content is
      // lost). Declared output is the chunk MANIFEST: per-chunk length
      // + md5 digest (md5 hashes identical UTF-8 bytes in both engines,
      // so the manifest is a portable content fingerprint — the digest
      // is also what chunk-level exact dedup keys on). Map-side only:
      // the chunk grid is a per-row sequence explode, no shuffle before
      // the declared sort, and chunk count is chars/stride-bounded.
      // Consumers take the same frame with the chunk text column kept.
      val starts = sequence(lit(0),
        greatest(lit(0), ceil((length($"text") - 400) / 300.0)).cast("int"))
      load(s, dir, "documents")
        .select($"doc_id", $"text", explode(starts).as("k"))
        .select($"doc_id", $"k".as("chunk_idx"),
          expr("substr(text, k * 300 + 1, 400)").as("chunk"))
        .select($"doc_id", $"chunk_idx",
          length($"chunk").as("chunk_len"), md5($"chunk").as("chunk_md5"))
        .orderBy($"doc_id", $"chunk_idx")
    },

    entry(
      "curate_shuffle_shards",
      """WITH d AS (SELECT doc_id, n_chars,
        |    md5(CAST(doc_id AS VARCHAR) || ':' || source) AS h
        |  FROM documents),
        |s AS (SELECT doc_id, n_chars, h,
        |    CAST(instr('0123456789abcdef', substr(h, 1, 1)) - 1 AS BIGINT) AS shard
        |  FROM d),
        |r AS (SELECT shard, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS rn
        |  FROM s)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(CASE WHEN rn = 1 THEN doc_id END) AS first_doc
        |FROM r GROUP BY shard ORDER BY shard""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      // Deterministic pre-training shuffle-shard export: every doc gets
      // a content-addressed shard (first md5 nibble → 16 shards) and a
      // reproducible within-shard order (the md5 string itself — a
      // seeded permutation any engine can replay byte-for-byte, which
      // is what makes training-data order AUDITABLE). The global
      // shuffle never globally sorts: shard assignment is map-side,
      // and each shard's order is a shard-local sort — the
      // write-out shape is partitionBy(shard) with a local sort, the
      // same two-level device as pack_sequences. Declared output is the
      // shard manifest (doc/char totals + the lead doc as an order
      // witness); the export itself takes the same frame unaggregated.
      val d = load(s, dir, "documents")
        .select($"doc_id", $"n_chars",
          md5(concat($"doc_id".cast("string"), lit(":"), $"source")).as("h"))
        .withColumn("shard",
          (expr("instr('0123456789abcdef', substr(h, 1, 1))") - 1).cast("long"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"shard").orderBy($"h", $"doc_id")
      d.withColumn("rn", row_number().over(w))
        .groupBy($"shard")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"),
          min(when($"rn" === 1, $"doc_id")).as("first_doc"))
        .orderBy($"shard")
    }
  )

  /** (doc_id, bg) word-bigram stream of a tokenized frame — shared by
    * the LM scoring family; docs under 2 tokens contribute nothing.
    */
  private def bigramStream(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), explode(when(size(col("toks")) >= 2,
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => concat_ws(" ", slice(col("toks"), i, lit(2)))))
      .otherwise(array().cast("array<string>"))).as("bg"))

  /** Score a bigram stream against a (bg → c12, w1 → c1) model: per-doc
    * average surprisal, 6dp-rounded terms summed as DECIMAL so the sum
    * is exact and partition-order independent (see text_lm_score).
    */
  private def scoreBigrams(s: org.apache.spark.sql.SparkSession,
                           bg: org.apache.spark.sql.DataFrame,
                           c12: org.apache.spark.sql.DataFrame,
                           c1: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    bg.join(c12, "bg")
      .withColumn("w1", split($"bg", " ")(0))
      .join(c1, "w1")
      .select($"doc_id",
        round(log($"c1" * lit(1.0) / $"c12"), 6).cast("decimal(18,6)").as("term"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum($"term").cast("double") / count(lit(1)), 4).as("lm_score"))
      .orderBy($"doc_id")
  }

  /** Code version of the LM model artifact. */
  private[graft] val lmStateVersion = "lmstate-v1:bigram-counts;base-excl-mod10-7;lin1"

  /** The persisted bigram-count model over the corpus minus the
    * standard batch slice (same lake dir as the mix state, separate
    * table + stamp). Lineage is DECLARED: c12 is count(*) — an
    * aggregate with no column references, so the swap's auto map
    * records it empty and consumers would dead-end; the count of a
    * text-derived bigram group derives from the text.
    */
  private[graft] val lmState: LakeArtifact = LakeArtifact("lm_state", Seq("lm_state"),
      lmStateVersion, Seq("documents"), mixStateDir(_, _),
      lineage = Map(
        "bg"  -> Set("documents.text"),
        "c12" -> Set("documents.text"))) { (s, dir, path) =>
    import s.implicits._
    val base = bigramStream(
      TextOps.docTokens(s, dir).filter(pmod($"doc_id", lit(10)) =!= 7))
      .groupBy($"bg").agg(count(lit(1)).as("c12"))
    graft.sources.Ingest.stageAndSwap(base, path, "lm_state")
  }

  private[graft] def ensureLmState(s: org.apache.spark.sql.SparkSession, dir: String): String =
    lmState.ensure(s, dir)._1

  // ---- Incremental aggregate state (the mixing family's MV) ----------

  /** Stamp pins BOTH the tokenizer semantics and the base-state slice:
    * a state built under a different tokenizer (or a different notion
    * of "already ingested") must rebuild, never merge.
    */
  private[graft] val mixStateVersion = "mixstate-v2:ws-tokens;per-source-docs-tokens;base-excl-mod10-7;upto-col;lin1"

  /** Lake location of the aggregate state for a source dir — same
    * out-of-target/, namespace-suffixed discipline as
    * IndexOps.indexDir (ns separates independently-maintained states;
    * the oracled entry reads the pristine "" namespace).
    */
  private[graft] def mixStateDir(dir: String, ns: String = ""): String =
    "lake/aggstate/" +
      (dir + (if (ns.isEmpty) "" else "@" + ns)).replaceAll("[^A-Za-z0-9.]+", "_")

  /** The base state: per-source (n_docs, n_tokens) over the corpus
    * EXCLUDING the standard batch slice, so the oracled incremental
    * entry genuinely has something to merge. `merged_upto` is the
    * streaming high-water mark — the id of the last partial batch a
    * compaction absorbed (−1 = none); it lives as a constant column
    * INSIDE the state table so the stage-and-swap that absorbs
    * partials is also the commit point that retires them (two files
    * can't swap atomically; one can). Lineage is DECLARED: n_docs is
    * count(*) (no column references → the auto map is empty for it);
    * merged_upto is a literal high-water mark — deliberately absent.
    */
  private[graft] val mixState: LakeArtifact = LakeArtifact("mix_state", Seq("mix_state"),
      mixStateVersion, Seq("documents"), mixStateDir(_, _),
      lineage = Map(
        "source"   -> Set("documents.source"),
        "n_docs"   -> Set("documents.doc_id"),
        "n_tokens" -> Set("documents.text"))) { (s, dir, path) =>
    import s.implicits._
    val base = TextOps.docTokens(s, dir)
      .filter(pmod($"doc_id", lit(10)) =!= 7)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum(size($"toks")).as("n_tokens"))
      .withColumn("merged_upto", lit(-1L))
    graft.sources.Ingest.stageAndSwap(base, path, "mix_state")
  }

  private[graft] def ensureMixState(s: org.apache.spark.sql.SparkSession, dir: String): String =
    mixState.ensure(s, dir)._1

  /** A namespace's state, seeded from the base artifact on first use —
    * the copy-on-first-use discipline the gates use for their index
    * namespaces (independently-maintained states never interleave).
    */
  private[graft] val nsMixState: LakeArtifact =
    mixState.copy(lineage = Map.empty)((s, dir, path) =>
      graft.sources.Ingest.stageAndSwap(
        mixState.read(s, ensureMixState(s, dir), "mix_state"), path, "mix_state"))

  private def ensureNsMixState(s: org.apache.spark.sql.SparkSession, dir: String,
                               ns: String): String = {
    val basePath = ensureMixState(s, dir)
    if (ns.isEmpty) basePath else nsMixState.ensure(s, dir, ns)._1
  }

  /** Per-source partial aggregates of one document batch — the only
    * tokenize the maintenance paths ever run. Loud schema contract: a
    * silently-missing source column would misattribute the whole batch
    * to one null group.
    */
  private def batchPartials(batch: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    require(batch.columns.contains("text") && batch.columns.contains("source"),
      s"mix-state batch needs (text, source), has ${batch.columns.sorted.mkString(",")}")
    batch
      .select(col("source"), graft.Core.tokens(lower(col("text"))).as("toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(size(col("toks"))).as("n_tokens"))
  }

  /** The serving read: base state ⊎ LIVE partial batches (those newer
    * than the base's high-water mark — an absorbed batch dir that a
    * replay re-created after compaction is ignored here and lazily
    * GC'd by the next compaction). Both frames are O(|sources| +
    * |pending batches|·|sources|) rows — merging on read is cheaper
    * than any write-side coordination, and the corpus is never
    * touched.
    */
  private[graft] def readMixState(s: org.apache.spark.sql.SparkSession, dir: String,
                                  ns: String = ""): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val path = ensureNsMixState(s, dir, ns)
    val base = mixState.read(s, path, "mix_state")
    val pdir = new org.apache.hadoop.fs.Path(s"$path/mix_partials.parquet")
    val fs = LakeFs(s, path)
    val hasPartials =
      fs.exists(pdir) && fs.listStatus(pdir).exists(_.getPath.getName.startsWith("batch="))
    val rows =
      if (!hasPartials) base.drop("merged_upto")
      else {
        val upto = base.agg(max($"merged_upto").as("upto"))
        val live = s.read.parquet(pdir.toString)
          .crossJoin(broadcast(upto))
          .filter($"batch" > $"upto")
          .select($"source", $"n_docs", $"n_tokens")
        base.drop("merged_upto").unionByName(live)
      }
    rows.groupBy($"source")
      .agg(sum($"n_docs").as("n_docs"), sum($"n_tokens").as("n_tokens"))
  }

  /** Land one streaming micro-batch's partial aggregates in the
    * namespace's partials dir. Overwrite into a per-batchId dir makes
    * an at-least-once replay rewrite the same rows instead of
    * double-counting — the same idempotence mechanism as the admission
    * gates' per-batch admitted dirs. O(|batch|) work.
    */
  private[graft] def writeMixPartial(s: org.apache.spark.sql.SparkSession, dir: String,
                                     batch: org.apache.spark.sql.DataFrame,
                                     ns: String, batchId: Long): Unit = {
    val path = ensureNsMixState(s, dir, ns)
    batchPartials(batch)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/mix_partials.parquet/batch=$batchId")
  }

  /** The SKETCH instance of the incremental-state template: per
    * event_type HLL sketches of distinct users over the events table
    * minus the standard batch slice, persisted like the mix state.
    * HLL register merge is commutative/associative (register-wise max),
    * so state ⊎ batch estimates EXACTLY what a from-scratch sketch of
    * the full table estimates — the property that makes sketches the
    * 100 TB distinct-count state (a few KB per group, vs an exact
    * distinct state that grows with cardinality). Spec'd in
    * MixStateSpec; entry is Q-gated (sketch bytes are engine-specific,
    * no DuckDB oracle).
    */
  private[graft] val hllStateVersion = "hllstate-v1:hll-users-by-type;base-excl-mod10-7;lin1"

  private[graft] val hllState: LakeArtifact = LakeArtifact("hll_state", Seq("hll_state"),
      hllStateVersion, Seq("events"), mixStateDir(_, _)) { (s, dir, path) =>
    import s.implicits._
    val base = loadEvents(s, dir)
      .filter(pmod($"event_id", lit(10)) =!= 7)
      .groupBy($"event_type")
      .agg(hll_sketch_agg($"user_id").as("sketch"))
    graft.sources.Ingest.stageAndSwap(base, path, "hll_state")
  }

  private[graft] def ensureHllState(s: org.apache.spark.sql.SparkSession, dir: String): String =
    hllState.ensure(s, dir)._1

  /** Absorb all live partial batches into the base state. The
    * stage-and-swap of the merged table (which carries the new
    * `merged_upto`) is the single commit point: a crash BEFORE it
    * leaves the partials live (reads still correct), a crash AFTER it
    * leaves absorbed batch dirs behind that every read already
    * ignores (batch ≤ merged_upto) and the next compaction deletes.
    */
  private[graft] def compactMixState(s: org.apache.spark.sql.SparkSession, dir: String,
                                     ns: String): Unit = {
    val path = ensureNsMixState(s, dir, ns)
    val pdir = new org.apache.hadoop.fs.Path(s"$path/mix_partials.parquet")
    val fs = LakeFs(s, path)
    val batchDirs = (if (fs.exists(pdir)) fs.listStatus(pdir).toSeq else Nil)
      .filter(f => f.isDirectory && f.getPath.getName.startsWith("batch="))
    if (batchDirs.nonEmpty) {
      import s.implicits._
      // the new mark never REGRESSES: if every live dir is a stale
      // replay of an absorbed batch (ids ≤ the current mark), taking
      // their max verbatim would lower merged_upto and re-admit the
      // next replay of anything in between
      val dirMax = batchDirs.map(_.getPath.getName.stripPrefix("batch=").toLong).max
      val newUpto = mixState.read(s, path, "mix_state")
        .agg(greatest(max($"merged_upto"), lit(dirMax)).as("merged_upto"))
      val merged = readMixState(s, dir, ns).crossJoin(broadcast(newUpto))
      graft.sources.Ingest.stageAndSwap(merged, path, "mix_state")
      // every enumerated dir is ≤ the new mark by construction; a dir
      // racing in AFTER the listing stays live for the next pass
      batchDirs.foreach(d => fs.delete(d.getPath, true))
      ()
    }
  }

  /** Fold a new document batch INTO a namespace's persisted state —
    * the MV write path: tokenize ONLY the batch, merge its per-source
    * partials with the stored totals, stage-and-swap the tiny result.
    * O(|batch|) + O(|sources|); the corpus is never re-read. An absent
    * namespace seeds from the base state first. NOT idempotent by
    * design (exact sums): the caller owns exactly-once per batch, the
    * same contract as appendToIndex/appendToIvfIndex. Batch must carry
    * (text, source) — a silently-missing source column would
    * misattribute the whole batch to one null group.
    */
  private[graft] def mergeIntoMixState(s: org.apache.spark.sql.SparkSession, dir: String,
                                       batch: org.apache.spark.sql.DataFrame,
                                       ns: String): String = {
    import s.implicits._
    val path = ensureNsMixState(s, dir, ns)
    val cur = mixState.read(s, path, "mix_state")
    val upto = cur.agg(max($"merged_upto").as("merged_upto"))
    val merged = cur.drop("merged_upto")
      .unionByName(batchPartials(batch))
      .groupBy($"source")
      .agg(sum($"n_docs").as("n_docs"), sum($"n_tokens").as("n_tokens"))
      .crossJoin(broadcast(upto))
    graft.sources.Ingest.stageAndSwap(merged, path, "mix_state")
    path
  }
}
