package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StructField, StructType}
import scala.jdk.CollectionConverters._
import graft.Core._
import graft.functions.VectorExprs

/** Persisted similarity index (reference SearchIndexer lifecycle,
  * engine.py:72-98: build a reusable index ONCE, then serve many
  * queries against it). The in-plan dedup operators (TextOps) recompute
  * signatures per run — right for one-shot batch dedup, wrong for a
  * serving path. Here the MinHash/LSH structures are materialized to
  * the lake as two parquet tables:
  *
  *   sets(sid, ids, tids)   — one row per distinct token set
  *   bands(sid, band, bh)   — 16 LSH band hashes per set (16 bands × 4
  *                            minhash rows; TextOps.bandHashes)
  *
  * and every probe — the single-query and batch entries and the
  * streaming admission gate alike — answers through ONE function
  * ([[simMatches]]; [[vecMatches]] for the vector twin): (1) sign ONLY
  * the queries, on the driver, (2) find the persisted bands rows in the
  * queries' own (band, bh) buckets — a single query as one pushed
  * predicate, so the probe plan contains a pruned parquet scan of the
  * index and NO corpus-wide signature recompute — and (3) verify exact
  * Jaccard of the bucket-bounded candidates against the persisted tids.
  * Callers only pick their queries and shape the verified matches.
  *
  * Scale notes (100 TB): the build is the same one-pass signature
  * pipeline as dedup (bounded by distinct sets); the bands table is
  * written range-partitioned and sorted by (band, bh), so a probe's
  * literal (band, bh) predicates push into the parquet scan in full and
  * row-group stats skip everything outside the probed buckets —
  * O(row groups hit), independent of index size. `band` is deliberately
  * a DATA column, not a partition dir: every probe touches all 16
  * bands, so band-dir pruning can never eliminate anything, while
  * dir-partitioning makes Spark bolt a dynamic-partition-pruning
  * subquery onto the probe joins (a duplicated probe-side scan for a
  * filter that prunes nothing) and splits the mixed (band, bh)
  * predicate so neither half reaches the scan. On a cluster,
  * registering this same sorted layout with a table format adds
  * file-level min/max skipping on top — the layout already supports it.
  * A query set instead streams the bands past a broadcast of its key
  * rows ([[probeBands]]). Every probe's driver-held work is refused past
  * the broadcast dials, and no probe plan shuffles or broadcasts an
  * index scan (PlanGuard.batchBoundViolations). Index location is keyed
  * by the source dir, so sf0.01 and sf0.1 never share an index.
  */
object IndexOps {

  /** Lake location of the index for a given source dir. Deliberately
    * NOT under target/: `sbt clean` wiping the serving indexes is how
    * round 6's bench paid cold rebuilds inside probe timings. The lake
    * is build-once/serve-many state, so it lives beside the build
    * products, not among them (still inside the repo so local runs
    * never write outside it; gitignored).
    *
    * `ns` separates independently-grown index NAMESPACES over the same
    * corpus: the oracled batch entries probe the pristine corpus index
    * (ns = ""), while each streaming admission gate grows a private
    * namespace seeded from the corpus — a gate appending admitted docs
    * must never change what the documents-only SQL oracles see.
    */
  private[graft] def indexDir(dir: String, ns: String = ""): String =
    "lake/simindex/" +
      (dir + (if (ns.isEmpty) "" else "@" + ns)).replaceAll("[^A-Za-z0-9.]+", "_")

  /** Signature-logic fingerprints, persisted beside each index and
    * checked on probe. A persisted index encodes the BUILD-TIME
    * signature semantics — if the hash/band config ever changes (new
    * minhash width, different band split, new LSH planes/seed), an index
    * left in target/ by an older code version would silently answer
    * probes with the OLD semantics: wrong/empty candidates, no error.
    * Bump the stamp with any change to signatureTable/bandHashes (sim)
    * or emb/lshBandKeys (vec); ensureIndex then rebuilds instead of
    * serving stale structure.
    */
  private[graft] val simIndexVersion = "sim-v2:xxhash64-tokens;minhash64;bands16x4;lin1"
  private[graft] val vecIndexVersion = "vec-v3:dotp-norm;hyperplane4xW;w-dial-h3c3;probe-h3;lin1"

  /** The MinHash/LSH index family: `sets` and the probe-serving
    * `bands` layout, both derived from the session-memoized signature
    * frame.
    */
  private[graft] val simIndex: LakeArtifact = LakeArtifact("sim", Seq("sets", "bands"),
      simIndexVersion, Seq("documents"), indexDir(_, _)) { (s, dir, path) =>
    // the session-memoized signature frame: both written tables derive
    // from it, and it is SHARED with the in-plan dedup family — one
    // signature pipeline per session regardless of which consumer runs
    // first or how often the build is re-timed (a Frames entry)
    val sig = TextOps.signatureTableCached(s, dir)
    val sets = sig.select(col("sid"), col("ids"), col("tids"))
    sets.write.mode(SaveMode.Overwrite).parquet(s"$path/sets.parquet")
    // lineage sidecar (r12 verdict ask #9): the signature plan is
    // un-truncated, so the map is computed from the written frame —
    // probes over the persisted tables trace to documents.text
    graft.plans.Lineage.writeSidecar(sets, s"$path/sets.parquet")
    // the probe-serving layout: rows range-partitioned and sorted by
    // (band, bh), so a probe's literal point predicates skip every row
    // group whose [min,max] range misses the probed buckets (see the
    // object doc for why this is a sort, not a partitionBy). File count
    // scales with the range-partition count, never tasks × bands.
    val bands = sig.select(col("sid"), posexplode(col("bands")).as(Seq("band", "bh")))
    bands
      .repartitionByRange(col("band"), col("bh"))
      .sortWithinPartitions(col("band"), col("bh"))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$path/bands.parquet")
    graft.plans.Lineage.writeSidecar(bands, s"$path/bands.parquet")
  }

  /** Probe-side guard: build on first use so entry order never matters
    * (the driver iterates `queries` in map order); rebuild when the
    * persisted index predates the running signature logic.
    */
  private def ensureIndex(s: SparkSession, dir: String, ns: String = ""): String =
    ensureIndexStatus(s, dir, ns)._1

  /** [[ensureIndex]] + whether it had to rebuild (version bump, crashed
    * append, first use). A REBUILD re-signs the BASE CORPUS only — it
    * cannot know about docs a streaming gate appended — so callers that
    * grow an index (Streams.dedupIngest) pass a `recover` hook that
    * re-appends their admitted lake table (LakeArtifact runs it before
    * the stamp); without it the gate's "no two admitted docs are
    * ≥0.9-similar" invariant silently breaks for docs admitted before
    * the rebuild.
    */
  private[graft] def ensureIndexStatus(s: SparkSession, dir: String,
                                       ns: String = "",
                                       recover: String => Unit = _ => ()): (String, Boolean) =
    simIndex.ensure(s, dir, ns, recover)

  /** Compact an index namespace in place: streaming appends add one
    * small file set per micro-batch (and a replayed append adds
    * byte-identical duplicate rows), so a long-lived gate degrades into
    * the small-file pathology `sink_compact` exists to fix. Rewrites
    * each index table to `nFiles` files via stage-and-swap, dropping
    * exact-duplicate rows (safe: every index row is content-addressed
    * by its columns — a sid's set row and a (sid, band, bh) row are
    * identical across replays, so distinct() changes no probe answer).
    *
    * Only families whose version stamp is CURRENT are touched: a stale
    * family's rows carry old signature semantics and would only be
    * laundered by a rewrite (re-stamping them was the round-6 review's
    * finding — it defeated the staleness machinery entirely), and a
    * family mid-crashed-append has no committed _SUCCESS to trust as a
    * read source. Both rebuild through their ensure* path instead.
    * No re-stamping is needed for the compacted families: stamps live
    * outside the table dirs and stageAndSwap's fresh write carries its
    * own _SUCCESS.
    */
  private[graft] def compactIndex(s: SparkSession, dir: String, ns: String = "",
                                  nFiles: Int = 4): Unit = {
    val path = indexDir(dir, ns)
    // the band tables carry the probe-serving layout ((band, bucket)-
    // sorted row groups) — their rewrite must preserve it, like the
    // IVF cells rewrite below; the flat tables round-robin to nFiles
    val sortKey = Map("bands" -> "bh", "vec_bands" -> "bk")
    for {
      a <- Seq(simIndex, vecIndex, TextOps.labels)
      if a.current(s, dir, ns)
      t <- a.tables
    } graft.sources.Ingest.stageAndSwap(
        sortKey.get(t) match {
          case Some(k) =>
            a.read(s, path, t).distinct()
              .repartitionByRange(nFiles, col("band"), col(k))
              .sortWithinPartitions(col("band"), col(k))
          case None =>
            a.read(s, path, t).distinct().repartition(nFiles)
        }, path, t)
    // the IVF cells table is CELL-PARTITIONED (one dir per c_id) and
    // appendToIvfIndex adds one file per touched cell per batch — the
    // same small-file growth, but compaction must preserve the layout:
    // repartition ON the cell key and rewrite partitionBy(c_id), back
    // to one file per cell. Centroids are overwrite-only (never grown).
    if (IvfIndex.ivfIndex.current(s, dir, ns))
      graft.sources.Ingest.stageAndSwap(
        IvfIndex.ivfIndex.read(s, path, "ivf_cells").distinct()
          .repartition(col("c_id")),
        path, "ivf_cells", partitionBy = Seq("c_id"))
    // the PQ code tables grow by append like the cells: flat codes
    // round-robin to nFiles; the composed table preserves its cell
    // partitioning. Codebook/centroids are overwrite-only (never grown).
    if (PqIndex.pqIndex.current(s, dir, ns))
      graft.sources.Ingest.stageAndSwap(
        PqIndex.pqIndex.read(s, path, "pq_codes").distinct().repartition(nFiles),
        path, "pq_codes")
    if (PqIndex.ivfPqIndex.current(s, dir, ns))
      graft.sources.Ingest.stageAndSwap(
        PqIndex.ivfPqIndex.read(s, path, "ivfpq_codes").distinct()
          .repartition(col("c_id")),
        path, "ivfpq_codes", partitionBy = Seq("c_id"))
  }

  /** Each persisted index/state family as its own named warm step — the
    * bench's setup lines. A cold lake (fresh checkout, first run after a
    * version bump) pays its builds HERE, attributed to one named line
    * per artifact, instead of inside whichever probe entry happens to
    * run first — probe timings are then always the warm serving
    * marginal they claim to be — and one broken family cannot hide
    * that the others succeeded (in round 9 one broken ensure, HLL via
    * the events encoding change, zeroed the whole chain's attribution
    * as a single -1.0 line).
    */
  private[graft] val warmSteps: Seq[(String, (SparkSession, String) => Unit)] =
    Seq[(String, (SparkSession, String) => Unit)](
      "setup_sim_index"   -> ((s, d) => { ensureIndex(s, d); () }),
      "setup_vec_index"   -> ((s, d) => { ensureVecIndex(s, d); () }),
      "setup_ivf_index"   -> ((s, d) => { IvfIndex.ensureIvfIndex(s, d); () }),
      "setup_pq_index"    -> ((s, d) => { PqIndex.ensurePqIndex(s, d); () }),
      "setup_ivfpq_index" -> ((s, d) => { PqIndex.ensureIvfPqIndex(s, d); () }),
      // the incremental-aggregate state artifacts serve the same
      // build-once-serve-many contract as the indexes
      "setup_mix_state"   -> ((s, d) => { PipelineOps.ensureMixState(s, d); () }),
      "setup_hll_state"   -> ((s, d) => { PipelineOps.ensureHllState(s, d); () }),
      "setup_lm_state"    -> ((s, d) => { PipelineOps.ensureLmState(s, d); () }),
      // the frozen-encoder word-vector model (EmbedOps) is a lake
      // artifact on the same build-once-serve-many contract
      "setup_embed_model" -> ((s, d) => { EmbedOps.ensureEmbedModel(s, d); () }),
      // cosine-dedup cluster labels (EmbedOps) — quadratic pair build
      // owned here as a named cold cost, entries serve the artifact
      "setup_embed_dedup" -> ((s, d) => { EmbedOps.ensureEmbDedup(s, d); () }),
      // bucketed fact projections (FactLayout) — the lake-layout write
      // that removes the q21/q2/weighted-median fact exchanges; named
      // here so a cold lake pays the bucketed shuffle+write as its own
      // line, never inside a consumer's timing
      "setup_fact_layout" -> ((s, d) => { FactLayout.ensure(s, d); () }))

  /** Absolute lake-artifact base for the fixture being verified — the
    * persisted-artifact oracle device (mm_image_dedup, round 12):
    * index-family oracles resolve their read_parquet paths against THIS
    * directory at class-init time, independent of the DuckDB process's
    * CWD. The base follows [[graft.OracleEnv]] (Verify binds it to its
    * sfDir argument before first touch; default = the driver's sf0.01
    * gate fixture), so verifying any fixture compares against that
    * fixture's own artifacts. Verify runs the entry first, which
    * builds/refreshes the artifact the oracle then reads back.
    */
  private[graft] val oracleArtifactBase: String =
    new java.io.File(indexDir(graft.OracleEnv.sfDir)).getAbsolutePath

  val entries: Seq[Entry] = Seq(

    // PROMOTED r13 (persisted-artifact replay, verdict r12 ask #7): the
    // declared output is summary stats over tables DuckDB reads back
    // via absolute-path read_parquet; sum(len(ids)) casts to BIGINT so
    // DuckDB's HUGEINT sum lands as the same integer Spark's sum(long)
    // does.
    entry(
      "sim_index_build",
      s"""WITH bands AS (SELECT band, bh
         |    FROM read_parquet('$oracleArtifactBase/bands.parquet/*.parquet')),
         |sets AS (SELECT count(*) AS n_sets, CAST(sum(len(ids)) AS BIGINT) AS n_docs
         |  FROM read_parquet('$oracleArtifactBase/sets.parquet/*.parquet'))
         |SELECT band, count(*) AS n_sigs, count(DISTINCT bh) AS n_buckets, n_sets, n_docs
         |FROM bands, sets GROUP BY band, n_sets, n_docs ORDER BY band""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      val path = simIndex.rebuild(s, dir)
      // Declared output = deterministic stats OF THE PERSISTED TABLES
      // (read back, not recomputed): proves the index landed on disk.
      val bands = simIndex.read(s, path, "bands")
      val sets  = simIndex.read(s, path, "sets")
      bands.groupBy($"band")
        .agg(count(lit(1)).as("n_sigs"), countDistinct($"bh").as("n_buckets"))
        .crossJoin(broadcast(sets.agg(
          count(lit(1)).as("n_sets"),
          sum(size($"ids")).as("n_docs"))))
        .orderBy($"band")
    },

    // Oracled (r4 #7): the oracle is the EXACT all-pairs Jaccard of doc 0
    // against the corpus — promotion is sound because banding recall was
    // verified total on both gate fixtures (sf0.001 finds a genuine
    // 0.9412 partner through the bands; sf0.01 the self-match). With the
    // shipped 16 bands × 4 rows (TextOps.bandHashes), per-pair recall at
    // j=0.9 is 1−(1−0.9⁴)¹⁶ ≈ 1−4·10⁻⁸ — effectively total, which is
    // WHY the oracle promotion is sound. Still: REGENERATED data could
    // in principle plant a pair the bands miss — if the fixtures ever
    // change, re-verify before trusting a hash mismatch as a code bug.
    entry(
      "sim_index_probe",
      """WITH t AS (SELECT doc_id,
        |    list_distinct(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS toks
        |  FROM documents),
        |q AS (SELECT toks AS qt FROM t WHERE doc_id = 0),
        |j AS (SELECT doc_id,
        |    len(list_intersect(toks, qt)) * 1.0 /
        |    (len(toks) + len(qt) - len(list_intersect(toks, qt))) AS jac
        |  FROM t, q WHERE len(toks) > 0)
        |SELECT doc_id, round(jac, 4) AS jaccard FROM j
        |WHERE jac >= 0.9 ORDER BY jaccard DESC, doc_id""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      // Doc 0 is the query, signed CLIENT-SIDE like any request (the
      // serving shape: the reference computes the query embedding before
      // asking the index, engine.py:95-98); a token-less doc has no
      // signature and a declared-empty answer. Its 16 (band, bh) pairs
      // become literal point predicates on the index scan (simMatches).
      val q = collectBounded(s, "queries",
        signDocs(s, load(s, dir, "documents").filter($"doc_id" === 0)))
      simMatches(s, ensureIndex(s, dir), q)
        .select(explode($"ids").as("doc_id"), $"jaccard")
        .distinct()
        .orderBy($"jaccard".desc, $"doc_id")
    },

    // ORACLED (round 5): exact batch-vs-corpus Jaccard pairs — sound for
    // the same reason as text_dedup_near (16×4 banding recall is
    // effectively total; verified pairwise on both gate fixtures).
    entry(
      "sim_index_incremental",
      """WITH t AS (SELECT doc_id,
        |    list_distinct(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS toks
        |  FROM documents),
        |tt AS (SELECT doc_id, unnest(toks) AS term FROM t),
        |n AS (SELECT doc_id, count(*) AS nt FROM tt GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        |  FROM tt a JOIN tt b ON a.term = b.term AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT d1, d2, round(inter*1.0/(na.nt+nb.nt-inter), 4) AS jac
        |  FROM p JOIN n na ON na.doc_id = d1 JOIN n nb ON nb.doc_id = d2
        |  WHERE inter*1.0/(na.nt+nb.nt-inter) >= 0.9)
        |SELECT b_doc, match_doc, jac AS jaccard FROM (
        |  SELECT d1 AS b_doc, d2 AS match_doc, jac FROM pairs WHERE d1 % 10 = 7
        |  UNION ALL
        |  SELECT d2, d1, jac FROM pairs WHERE d2 % 10 = 7)
        |ORDER BY b_doc, match_doc""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      // Incremental dedup — the production daily-ingest shape: sign ONLY
      // the new batch (here: doc_id % 10 == 7; in production the batch
      // is its own table, for which the split stands in), probe the
      // persisted index by the batch's own bucket keys, emit (batch doc
      // → indexed near-dup) pairs. Corpus signatures are never
      // recomputed; cost scales with the batch, not the lake. The same
      // probe and ≥0.9 test (simMatches) as the streaming admission
      // gate, so the two can never disagree about what counts as a
      // duplicate.
      val q = collectBounded(s, "queries",
        signDocs(s, load(s, dir, "documents").filter(pmod($"doc_id", lit(10)) === 7)))
      simMatches(s, ensureIndex(s, dir), q)
        .select($"b_doc", explode($"ids").as("match_doc"), $"jaccard")
        .filter($"match_doc" =!= $"b_doc")
        .distinct()
        .orderBy($"b_doc", $"match_doc")
    },

    // ---- Persisted VECTOR index (the reference's Chroma collection is
    // ---- a vector store — engine.py:74-93 — so this is the closest
    // ---- structural analogue: embed-and-index once, probe many).

    entry(
      "vec_index_build",
      s"""WITH ${VecOps.vecIndexBandsCteSql},
         |n AS (SELECT count(*) AS n_vecs FROM embeddings)
         |SELECT band, count(*) AS n_sigs, count(DISTINCT bk) AS n_buckets, n_vecs
         |FROM bands, n GROUP BY band, n_vecs ORDER BY band""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      // HARD-ORACLED (round 12, literal-planes device — see
      // VecOps.vecIndexBandsCteSql): the declared per-band summary of the
      // PERSISTED tables is replayed by DuckDB recomputing every
      // signature from the literal ±1 plane matrix, so a signing or
      // layout drift in the stored index hash-mismatches.
      val path = vecIndex.rebuild(s, dir)
      val bands = vecIndex.read(s, path, "vec_bands")
      val vecs  = vecIndex.read(s, path, "vecs")
      bands.groupBy($"band")
        .agg(count(lit(1)).as("n_sigs"), countDistinct($"bk").as("n_buckets"))
        .crossJoin(broadcast(vecs.agg(count(lit(1)).as("n_vecs"))))
        .orderBy($"band")
    },

    entry(
      "vec_index_probe",
      s"""WITH ${VecOps.vecIndexBandsCteSql},
         |q AS (SELECT band, bk FROM bands WHERE vec_id = 0),
         |qv AS (SELECT embedding::DOUBLE[] AS qemb,
         |    sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS qnorm
         |  FROM embeddings WHERE vec_id = 0),
         |cand AS (SELECT DISTINCT y.vec_id FROM q JOIN bands y
         |  ON y.band = q.band AND bit_count(xor(y.bk, q.bk)) <= 3 AND y.vec_id <> 0)
         |SELECT c.vec_id,
         |  round(list_cosine_similarity(e.embedding::DOUBLE[], qv.qemb), 6) AS score
         |FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id CROSS JOIN qv
         |WHERE qv.qnorm > 0
         |ORDER BY score DESC, c.vec_id LIMIT 5""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      // Vector 0 is the query, signed CLIENT-SIDE (the sim_index_probe
      // pattern) at the artifact's FROZEN width — probes must sign
      // exactly like the build did (r14 verdict ask #1). A zero-norm
      // query has no cosine and a declared-empty answer. Its Hamming-≤3
      // rings become per-band literal In(bk, …) predicates on the index
      // scan (vecMatches).
      val path = ensureVecIndex(s, dir)
      val q = collectBounded(s, "queries", signVectors(s,
        load(s, dir, "embeddings").filter($"vec_id" === 0), readVecW(s, path)))
      vecMatches(s, path, q, 3)
        .filter($"vec_id" =!= $"b_id")
        .select($"vec_id", round($"cos", 6).as("score"))
        .distinct()
        .orderBy($"score".desc, $"vec_id")
        .limit(5)
    },

    entry(
      "vec_index_incremental",
      s"""WITH ${VecOps.vecIndexBandsCteSql},
         |batch AS (SELECT vec_id AS b_id, embedding::DOUBLE[] AS b_emb FROM embeddings
         |  WHERE vec_id % 10 = 7
         |    AND sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) > 0),
         |qb AS (SELECT b.b_id, s.band, s.bk FROM batch b JOIN bands s ON s.vec_id = b.b_id),
         |cand AS (SELECT DISTINCT qb.b_id, y.vec_id FROM qb JOIN bands y
         |  ON y.band = qb.band AND bit_count(xor(y.bk, qb.bk)) <= 3
         |    AND y.vec_id <> qb.b_id),
         |sc AS (SELECT c.b_id, c.vec_id,
         |    round(list_cosine_similarity(e.embedding::DOUBLE[], b.b_emb), 6) AS score
         |  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id
         |  JOIN batch b ON b.b_id = c.b_id),
         |rk AS (SELECT b_id, vec_id, score,
         |    row_number() OVER (PARTITION BY b_id ORDER BY score DESC, vec_id) AS rnk
         |  FROM sc)
         |SELECT b_id, rnk, vec_id, score FROM rk WHERE rnk <= 3
         |ORDER BY b_id, rnk""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      // HARD-ORACLED (round 12, literal-planes device): DuckDB replays
      // batch signing, the Hamming-≤3 ring (as bit_count(xor) ≤ 3 —
      // equivalent to the probeMasks(w, 3) expansion), and the 6dp
      // cosine row_number ranking.
      // Incremental ANN lookup for a NEW embedding batch (vec_id % 10
      // == 7 stands in for today's ingest): sign only the batch at the
      // artifact's frozen width, probe the persisted index by the
      // batch's own rings, exact-cosine top-3 per batch vector. Corpus
      // signatures come from the lake; cost scales with the batch. The
      // near-duplicate filter a training pipeline runs before adding
      // embeddings to the store. Zero-norm batch vectors have no cosine
      // and drop out (NaN scores would rank FIRST under desc), matching
      // the novelVectors/append zero-norm contract.
      val path = ensureVecIndex(s, dir)
      val q = collectBounded(s, "queries", signVectors(s,
        load(s, dir, "embeddings").filter(pmod($"vec_id", lit(10)) === 7), readVecW(s, path)))
      import org.apache.spark.sql.expressions.Window
      val wRank = Window.partitionBy($"b_id").orderBy($"score".desc, $"vec_id")
      vecMatches(s, path, q, 3)
        .filter($"vec_id" =!= $"b_id")
        .select($"b_id", $"vec_id", round($"cos", 6).as("score"))
        .distinct()
        .withColumn("rnk", row_number().over(wRank))
        .filter($"rnk" <= 3)
        .select($"b_id", $"rnk", $"vec_id", $"score")
        .orderBy($"b_id", $"rnk")
    }
  )

  /** Adds the shared token-set signature to a (text, …) frame: `btids`,
    * the sorted xxhash64 ids of its distinct tokens (the form `sets.tids`
    * stores), and `bands`, their 16 LSH band hashes — null for a
    * token-less doc, which has no signature.
    */
  private def withDocSig(s: SparkSession, docs: DataFrame): DataFrame = {
    VectorExprs.register(s)
    docs.withColumn("btids",
        array_sort(transform(array_distinct(graft.Core.tokens(lower(col("text")))), t => xxhash64(t))))
      .withColumn("bands", when(size(col("btids")) > 0,
        TextOps.bandHashes(call_function("minhash64", col("btids")))))
  }

  /** Sign a (doc_id, text, …) frame: (b_doc, btids, bands). Token-less
    * docs drop out (no signature — and downstream they pass any novelty
    * gate as trivially novel).
    */
  private[graft] def signDocs(s: SparkSession, docs: DataFrame): DataFrame =
    withDocSig(s, docs.select(col("doc_id").as("b_doc"), col("text")))
      .filter(col("bands").isNotNull)
      .select(col("b_doc"), col("btids"), col("bands"))

  /** Jaccard(a, b) ≥ 0.9 for two sorted token-id sets, written to
    * evaluate the intersect expression ONCE and only when it can matter
    * (it runs per candidate and walks two ~100-long arrays):
    *  - size guard first: jac ≥ 0.9 needs 19·min(|A|,|B|) ≥ 9·(|A|+|B|)
    *    (best case inter = min); O(1), short-circuits the array walk
    *    for size-incompatible pairs;
    *  - integer form of the threshold: inter/(|A|+|B|−inter) ≥ 0.9 ⟺
    *    19·inter ≥ 9·(|A|+|B|) — a single intersect reference, where
    *    the double-division form cost 2 evaluations per test.
    * The one definition of "near-duplicate" for the batch entry and
    * both halves of the admission gate.
    */
  private def nearDupSets(a: Column, b: Column): Column = {
    val na = size(a); val nb = size(b)
    lit(19) * least(na, nb) >= lit(9) * (na + nb) &&
      lit(19) * call_function("sorted_long_intersect_size", a, b) >= lit(9) * (na + nb)
  }

  /** The one probe path of the MinHash/LSH index: the verified matches
    * (b_doc, sid, ids, jaccard) of the driver-held signed docs `q`
    * (b_doc, btids, bands — [[signDocs]] rows) against the index at
    * `path`: every indexed set at Jaccard ≥ 0.9 ([[nearDupSets]]) that
    * shares a band bucket with a query doc. A frame over the `sets`
    * scan ([[probeBands]]); a pair sharing k buckets, and a set row
    * replayed into the index, repeat their match, so callers dedup what
    * they keep.
    */
  private[graft] def simMatches(s: SparkSession, path: String, q: Seq[Row]): DataFrame = {
    VectorExprs.register(s)
    val keys = for ((r, i) <- q.zipWithIndex; (h, b) <- r.getSeq[Long](2).zipWithIndex) yield (b, h, i)
    val of = (xs: Column) => element_at(xs, col("q") + 1)
    // the reported jaccard is computed for SURVIVORS of the test only
    val a = size(col("tids")); val b = size(col("btids"))
    val inter = call_function("sorted_long_intersect_size", col("tids"), col("btids"))
    probeBands(s, simIndex.read(s, path, "sets"), "sid", simIndex.read(s, path, "bands"), "bh",
        Seq(0L), keys)
      .select(of(lit(q.map(_.getLong(0)).toArray)).as("b_doc"), col("sid"), col("ids"), col("tids"),
        of(lit(q.map(_.getSeq[Long](1).toArray).toArray)).as("btids"))
      .filter(nearDupSets(col("tids"), col("btids")))
      .select(col("b_doc"), col("sid"), col("ids"),
        round(inter.cast("double") / (a + b - inter), 4).as("jaccard"))
  }

  /** The one probe path of the LSH vector index: the cosine `cos` of
    * every indexed vector (vec_id) whose key in some band is within
    * Hamming distance `radius` of a driver-held signed vector of `q`
    * (b_id, emb, norm, bands — [[signVectors]] rows) against the index
    * at `path`, by the Spark `dotp/(norm·norm)` expression, so a
    * caller's threshold or ranking never moves. A frame like
    * [[simMatches]], probing the Hamming rings of the artifact's frozen
    * width ([[VecOps.probeMasks]]); callers dedup what they keep.
    */
  private[graft] def vecMatches(s: SparkSession, path: String, q: Seq[Row],
                                radius: Int): DataFrame = {
    VectorExprs.register(s)
    val keys = for ((r, i) <- q.zipWithIndex; (k, b) <- r.getSeq[Long](3).zipWithIndex) yield (b, k, i)
    val of = (xs: Column) => element_at(xs, col("q") + 1)
    probeBands(s, vecIndex.read(s, path, "vecs"), "vec_id", vecIndex.read(s, path, "vec_bands"), "bk",
        VecOps.probeMasks(readVecW(s, path), radius), keys)
      .select(of(lit(q.map(_.getLong(0)).toArray)).as("b_id"), col("vec_id"),
        (call_function("dotp", col("emb"), of(lit(q.map(_.getSeq[Double](1).toArray).toArray))) /
          (col("norm") * of(lit(q.map(_.getDouble(2)).toArray)))).as("cos"))
  }

  /** `items` (`id`, …) of an index family, each with `q`, the index of a
    * driver-held query whose probe keys reach it; the caller reads the
    * query's fields out of literal arrays by `q`. A query's keys are
    * (band, key, q), one per band; it probes every `bands` (`id`, band,
    * `key`) row whose key is within one of the `masks` of its own (the
    * Hamming ring; `Seq(0L)` for exact buckets). A "bucket" below is one
    * distinct (band, query key), with the queries holding it.
    *
    * The `bands` rows in the rings are collected first, by one of two
    * reads. ONE pushed literal predicate OR_b (band = b AND key IN
    * ring_b) reads only the row groups of the probed buckets (the (band,
    * key)-sorted layout, see the object doc) in one job, and the driver
    * maps each row to the buckets whose ring holds it. It is taken for a
    * single query while each band's ring fits the parquet In-pushdown
    * ceiling (`spark.sql.parquet.pushdown.inFilterThreshold`, 1024 in
    * Core.localSession; past it Spark pushes only a [min, max] range),
    * and for a query set while the whole predicate fits one ceiling: a
    * larger literal predicate costs more to plan and evaluate than the
    * broadcast it saves (measured crossover in docs/SCALE.md, "One probe
    * path per index family"). Otherwise `bands` streams whole past a
    * broadcast of the ring rows (band, key ^ mask, bucket), expanded by
    * Spark from the buckets, in one equi-join on (band, key). Then
    * `items` streams past a broadcast of the (item id, bucket) rows
    * found, and each row fans out to the bucket's queries by
    * literal-array lookups — so a hot bucket costs the driver one row
    * per indexed row in it, not one per query. A SINGLE
    * query's frame keeps its `bands` read instead (its rows are collected
    * only to bound them), so the serving entries' plans show the pruned
    * scan. The ring and the rows found are refused past the broadcast
    * dials before anything is broadcast, and no index scan is ever
    * shuffled or broadcast.
    */
  private def probeBands(s: SparkSession, items: DataFrame, id: String, bands: DataFrame,
                         key: String, masks: Seq[Long], keys: Seq[(Int, Long, Int)]): DataFrame = {
    val buckets = keys.groupMap { case (b, k, _) => (b, k) }(_._3).toSeq
    val bucket = buckets.map(_._1).zipWithIndex.toMap
    val byBand = bucket.keys.toSeq.groupMap(_._1)(_._2)
    val single = keys.map(_._3).distinct.size == 1
    val ceiling = s.sessionState.conf.parquetFilterPushDownInFilterThreshold
    val literals = byBand.values.map(_.size.toLong * masks.size)
    val pushed = literals.forall(_ <= ceiling) && (single || literals.sum <= ceiling)
    val found =
      if (pushed) bands.filter(byBand.map { case (b, ks) =>
          col("band") === b && col(key).isInCollection(ks.flatMap(k => masks.map(k ^ _)).distinct)
        }.reduceOption(_ || _).getOrElse(lit(false)))
      else {
        val n = bucket.size.toLong * masks.size
        requireFits(s, "probe ring", n, 40L * n)
        val ring = local(s, bucket.toSeq.map { case ((b, k), g) => Row(b, k, g) }, StructType(Seq(
          StructField("band", IntegerType), StructField("q_key", LongType), StructField("g", IntegerType))))
        bands.join(broadcast(ring.select(col("band"),
            explode(transform(lit(masks.toArray), col("q_key").bitwiseXOR(_))).as(key), col("g"))),
          Seq("band", key))
      }
    if (single) {
      collectBounded(s, "band candidates", found.select(col(id)))
      items.join(broadcast(found.select(col(id))), id).withColumn("q", lit(0))
    } else {
      val hits =
        if (keys.isEmpty) Seq.empty
        else if (pushed)
          collectBounded(s, "band candidates", found.select(col("band"), col(key), col(id))).toSeq
            .flatMap(h => masks.flatMap(m => bucket.get((h.getInt(0), h.getLong(1) ^ m)))
              .map(g => Row(h.getLong(2), g)))
        else collectBounded(s, "band candidates", found.select(col(id), col("g"))).toSeq
      val rows = hits.distinct
      requireFits(s, "candidate buckets", rows.size.toLong, rows.iterator.map(approxBytes).sum)
      items.join(broadcast(local(s, rows, StructType(Seq(StructField(id, LongType),
          StructField("g", IntegerType))))), id)
        .withColumn("q", explode(element_at(lit(buckets.map(_._2.toArray).toArray), col("g") + 1)))
    }
  }

  /** One screened admission micro-batch: the `admitted` rows in the
    * batch's own schema, the same rows `signed` in the form the index
    * appends write ([[appendSignedDocs]], [[appendSignedVectors]]), and
    * their `ids`. Both frames are driver-local relations on one
    * partition, so each write of them is one task and one part file.
    */
  private[graft] final case class Screened(admitted: DataFrame, signed: DataFrame, ids: Seq[Long])

  /** The index tables a per-request probe plan may read only through a
    * filtered scan or as the streamed side of a join against request
    * rows — never shuffled or broadcast whole
    * (PlanGuard.requireBatchBounded).
    */
  private val probeIndexTables = Set("sets", "bands", "vecs", "vec_bands")

  /** Collect one per-request frame to the driver — a probe's signed
    * queries, an admission micro-batch, its candidates or matches: its
    * plan must pass the batch-bounded plan guard, and what it returns
    * must fit the two broadcast dials — the same bounds as any
    * driver-built broadcast side.
    */
  private def collectBounded(s: SparkSession, what: String, df: DataFrame): Array[Row] = {
    graft.plans.PlanGuard.requireBatchBounded(df, probeIndexTables)
    val rows = df.collect()
    requireFits(s, what, rows.length.toLong, rows.iterator.map(approxBytes).sum)
    rows
  }

  /** Refuse a probe whose driver-side work is past the broadcast dials,
    * naming them and the source-side bound that keeps an admission
    * micro-batch under them.
    */
  private def requireFits(s: SparkSession, what: String, rows: Long, bytes: Long): Unit = {
    val (maxRows, maxBytes) = graft.Core.broadcastDials(s)
    require(graft.Core.fitsBroadcast(s)((rows, bytes)),
      s"probe bound: the request's $what is $rows rows / $bytes bytes, past " +
        s"spark.graft.broadcast.maxRows=$maxRows or spark.graft.guard." +
        s"maxBroadcastBytes=$maxBytes — a probe holds its queries and candidates on " +
        "the driver, so its work must stay bounded by the request. For an admission " +
        "gate, cap the source's per-trigger limit (maxFilesPerTrigger, " +
        "maxBytesPerTrigger or maxOffsetsPerTrigger); otherwise probe a smaller " +
        "query set, or raise the dials if the request is intended.")
  }

  /** [[graft.Core.broadcastStats]]' byte model on a collected value: 16 B
    * per row or array, 8 B per scalar or element, a string's length.
    */
  private def approxBytes(v: Any): Long = v match {
    case r: Row                     => 16L + r.toSeq.iterator.map(approxBytes).sum
    case a: scala.collection.Seq[_] => 16L + a.iterator.map(approxBytes).sum
    case t: String                  => math.max(8L, t.length.toLong)
    case b: Array[Byte]             => math.max(8L, b.length.toLong)
    case _                          => 8L
  }

  private def local(s: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    s.createDataFrame(rows.asJava, schema)

  private val longs = ArrayType(LongType, containsNull = false)

  /** The schema a parquet read-back gives `fields` of `df`: every field
    * nullable, as the index tables were always appended.
    */
  private def appendSchema(df: DataFrame, fields: String*): StructType =
    StructType(fields.map(f => df.schema(f).copy(nullable = true)))

  /** Screen one micro-batch (doc_id, text, …) against the sim index at
    * `path` and within itself — the documents the gate ADMITS:
    *
    *  - vs the INDEX: docs with a ≥0.9 match among indexed sets
    *    ([[simMatches]]) are dropped — except self-matches (`ids`
    *    containing the doc's own id), so a REPLAYED batch whose docs were
    *    already appended to the index re-admits identically instead of
    *    rejecting itself (the idempotence foreachBatch's at-least-once
    *    delivery needs);
    *  - WITHIN the batch: a doc with a ≥0.9 partner of smaller doc_id
    *    in the same batch is dropped (covers exact copies, jaccard 1).
    *    Greedy, not transitive: over chains A~B~C it can drop C even
    *    though its kept partner was itself dropped — over-rejection is
    *    the safe direction for an admission gate, and no two ADMITTED
    *    docs are ever ≥0.9-similar.
    *
    * Token-less docs have no signature: admitted, never indexed.
    *
    * Bounded by the batch, in four jobs while the batch's bucket keys fit
    * the pushdown ceiling: the batch is read and signed ONCE and
    * collected; [[simMatches]] collects the `bands` rows in the batch's
    * buckets through one pushed predicate, then the matches in two (the
    * broadcast of the candidate rows and the `sets` scan streamed past
    * it); one more past the ceiling, where the candidates are found by
    * streaming `bands` past the broadcast ring rows. The in-batch verify
    * is one filter over a driver-local relation of bucket-sharing pairs,
    * which Spark evaluates without a job. Every collect is refused past
    * the broadcast dials (`requireFits`), and no plan broadcasts or
    * shuffles a scan of an index table.
    */
  private[graft] def screenDocs(s: SparkSession, path: String, batch: DataFrame): Screened = {
    val sig = withDocSig(s, batch.select(struct(col("*")).as("row"),
        col("doc_id").cast("long").as("b_doc"), col("text")))
      .select(col("row"), col("b_doc"), col("btids"), col("bands"))
    val rows = collectBounded(s, "micro-batch", sig)
    val id = rows.map(_.getLong(1))
    val tids = rows.map(_.getSeq[Long](2))
    val signedIx = rows.indices.filterNot(rows(_).isNullAt(3))
    val vsIndex = collectBounded(s, "index matches",
      simMatches(s, path, signedIx.map(i => Row(id(i), tids(i), rows(i).get(3))))
        .filter(!array_contains(col("ids"), col("b_doc"))).select(col("b_doc")))
    // one verify row per (batch doc, smaller-id batch partner) sharing a
    // (band, bh) bucket
    val inBatch = signedIx
      .flatMap(i => rows(i).getSeq[Long](3).zipWithIndex.map { case (h, b) => (b, h) -> i })
      .groupMap(_._1)(_._2).values.toSeq
      .flatMap(g => for (i <- g; j <- g if id(i) > id(j)) yield (i, j)).distinct
      .map { case (i, j) => Row(id(i), tids(i), tids(j)) }
    val verify = StructType(Seq(StructField("b_doc", LongType), StructField("btids", longs),
      StructField("otids", longs)))
    val dup = (vsIndex ++ local(s, inBatch, verify)
      .filter(nearDupSets(col("otids"), col("btids")))
      .select(col("b_doc")).collect()).map(_.getLong(0)).toSet
    val kept = rows.indices.filterNot(i => dup(id(i)))
    Screened(
      local(s, kept.map(rows(_).getStruct(0)), batch.schema).coalesce(1),
      local(s, kept.filterNot(rows(_).isNullAt(3)).map(i => Row(id(i), tids(i), rows(i).get(3))),
        appendSchema(sig, "b_doc", "btids", "bands")).coalesce(1),
      kept.map(id))
  }

  /** Batch-mode novelty filter against the persisted index AND within
    * the batch itself: the subset of `batch` (doc_id, text, …) that a
    * streaming ingest should ADMIT, by [[screenDocs]]. Runs the screen
    * when called and returns a driver-local frame.
    */
  private[graft] def novelDocs(s: SparkSession, dir: String,
                               batch: DataFrame, ns: String = ""): DataFrame =
    screenDocs(s, ensureIndex(s, dir, ns), batch).admitted

  /** Grow the persisted index with newly admitted docs (each its own
    * 1-doc set), signing them here — the form for direct batch callers.
    * Parquet append; replayed appends add byte-identical duplicate rows,
    * which the probes dedup at read time and [[compactIndex]] removes at
    * rest.
    */
  private[graft] def appendToIndex(s: SparkSession, dir: String,
                                   admitted: DataFrame, ns: String = ""): Unit = {
    ensureIndex(s, dir, ns)
    appendSignedDocs(s, dir, ns, signDocs(s, admitted))
  }

  /** Append already-signed docs (b_doc, btids, bands) to the namespace's
    * index, which the caller has ensured — the admission gate appends
    * [[Screened.signed]], so a batch is signed once — then run the
    * append path's small-file backstop.
    */
  private[graft] def appendSignedDocs(s: SparkSession, dir: String, ns: String,
                                      signed: DataFrame): Unit = {
    writeSignedDocs(indexDir(dir, ns), signed)
    maybeCompact(s, dir, ns, "bands")
  }

  private def writeSignedDocs(path: String, signed: DataFrame): Unit = {
    signed.select(col("b_doc").as("sid"), array(col("b_doc")).as("ids"),
        col("btids").as("tids"))
      .write.mode(SaveMode.Append).parquet(s"$path/sets.parquet")
    // appends add small unsorted files; a probe's pushed predicates
    // still evaluate against their row-group stats (just with weaker
    // skipping on the fresh tail) until compaction re-sorts them
    signed.select(col("b_doc").as("sid"),
        posexplode(col("bands")).as(Seq("band", "bh")))
      .write.mode(SaveMode.Append).parquet(s"$path/bands.parquet")
  }

  /** Small-file backstop OWNED BY THE APPEND PATH: the streaming gates
    * compact on an every-8-batches cadence, but direct batch callers of
    * the append APIs have no cadence owner — without one, N appends
    * leave N× small files and probe scans degrade linearly with append
    * count. Each dir-based append therefore checks its fattest table's
    * part-file count after committing and compacts the namespace when
    * the count exceeds `baseline` (the table's COMPACTED file count —
    * 64 cell files for ivf_cells, nFiles for the flat tables; comparing
    * against zero would re-trigger on every append forever once the
    * compacted size itself reaches the threshold) by more than the
    * threshold (conf `spark.graft.index.compactFiles`, default 64 —
    * amortized: one rewrite per ~threshold appends). The *At variants
    * stay raw by design: they are the recovery-hook form, and
    * compaction during recovery would see a cleared stamp and no-op
    * anyway. The count walks the table through [[LakeFs]], like the
    * stamps.
    */
  private[queries] def maybeCompact(s: SparkSession, dir: String, ns: String,
                                    table: String, baseline: Int = 4): Unit = {
    val threshold = s.conf.get("spark.graft.index.compactFiles", "64").trim.toIntOption
      .filter(_ > 0).getOrElse(64)
    if (tableFileCount(s, indexDir(dir, ns), table) > baseline + threshold)
      compactIndex(s, dir, ns)
  }

  private[graft] def tableFileCount(s: SparkSession, path: String, table: String): Int =
    LakeFs.files(LakeFs(s, path), new org.apache.hadoop.fs.Path(s"$path/$table.parquet"))
      .count(_.getPath.getName.startsWith("part-"))

  /** Append to an index at a KNOWN path, no ensure — the form a rebuild
    * recovery hook must use ([[ensureIndexStatus]] invokes the hook
    * before the stamp lands, so an ensure here would recurse into
    * another rebuild).
    */
  private[graft] def appendToIndexAt(s: SparkSession, path: String,
                                     admitted: DataFrame): Unit =
    writeSignedDocs(path, signDocs(s, admitted))

  /** The LSH vector index family: `vecs` plus the probe-serving
    * `vec_bands` layout, signed at the artifact's frozen band width.
    */
  private[graft] val vecIndex: LakeArtifact = LakeArtifact("vec", Seq("vecs", "vec_bands"),
      vecIndexVersion, Seq("embeddings"), indexDir(_, _)) { (s, dir, path) =>
    val vecs = VecOps.emb(s, dir).select(col("vec_id"), col("emb"), col("norm"))
    vecs.write.mode(SaveMode.Overwrite).parquet(s"$path/vecs.parquet")
    // lineage sidecar (r13 verdict ask #3): both frames are
    // straight-plan (the memoized signature frame persists without
    // truncating its plan), so the map is computed from the written
    // frame — probe consumers trace to embeddings.embedding
    graft.plans.Lineage.writeSidecar(vecs, s"$path/vecs.parquet")
    // CORPUS-SIZED band width (r14 verdict ask #1): w is derived from
    // the source corpus size at build time (footer-metadata count, no
    // scan) and FROZEN into the artifact via the vec_w file — every
    // later signer (probe, incremental, novelty gate, append) reads the
    // stored w, never re-derives it, so appends to a grown corpus still
    // sign exactly like the build. A source-data change restamps
    // (dataStamp fingerprints the table bytes) and the rebuild
    // re-derives w — size-class staleness is subsumed by the data stamp.
    val w = VecOps.vecIndexBandBits(VecOps.vecCorpusN(s, dir))
    LakeFs.writeText(LakeFs(s, path), vecWFile(path), w.toString)
    // band rows come from the session-memoized signature frame — shared
    // with the index-width warm frame, so signatures are computed once
    // per session no matter which consumer runs first (and can never
    // drift). Same probe-serving layout as the sim bands: (band,
    // bk)-sorted row groups, so the literal multi-probe predicates
    // stat-skip.
    val bands = VecOps.bandedSigsW(s, dir, w)
      .repartitionByRange(col("band"), col("bk"))
      .sortWithinPartitions(col("band"), col("bk"))
    bands.write.mode(SaveMode.Overwrite)
      .parquet(s"$path/vec_bands.parquet")
    graft.plans.Lineage.writeSidecar(bands, s"$path/vec_bands.parquet")
  }

  /** The artifact's frozen band width — written at build time beside
    * the tables, read by every probe/append signer. A small file
    * through [[LakeFs]], like the version stamps.
    */
  private def vecWFile(path: String) = s"$path/vec_w"

  private[graft] def readVecW(s: SparkSession, path: String): Int = {
    val w = LakeFs.readText(LakeFs(s, path), vecWFile(path))
    // loud, never a silent 16: signing a probe at a width other than
    // the build's returns WRONG (empty-ish) candidates with no error —
    // exactly the drift class the version stamps exist to prevent. A
    // missing file means the artifact predates the w-dial; the v3
    // version bump restamps those through the normal rebuild path.
    require(w.isDefined,
      s"[graft] vec index at $path has no vec_w width file — stale " +
        "pre-dial artifact; ensureVecIndex should have rebuilt it")
    w.get.trim.toInt
  }

  /** Adds the vector signature at band width `w` to an (embedding, …)
    * frame: `emb` as doubles, its `norm`, and `bands`, its 4 band keys —
    * null for a zero-norm vector, which has no cosine and no signature.
    */
  private def withVecSig(s: SparkSession, vecs: DataFrame, w: Int): DataFrame = {
    VectorExprs.register(s)
    vecs.withColumn("emb", col("embedding").cast("array<double>"))
      .withColumn("norm", sqrt(call_function("dotp", col("emb"), col("emb"))))
      .withColumn("bands", when(col("norm") > 0, VecOps.lshBandKeysW(col("emb"), w)))
  }

  /** Sign a (vec_id, embedding, …) frame at band width `w`: (vec_id,
    * emb, norm, bands). Zero-norm vectors drop out (unsignable).
    */
  private[graft] def signVectors(s: SparkSession, vecs: DataFrame, w: Int): DataFrame =
    withVecSig(s, vecs.select(col("vec_id"), col("embedding")), w)
      .filter(col("bands").isNotNull)
      .select(col("vec_id"), col("emb"), col("norm"), col("bands"))

  /** Screen one micro-batch (vec_id, embedding, …) against the vector
    * index at `path` and within itself — the vectors the gate ADMITS:
    * the embedding twin of [[screenDocs]]. A vector is dropped when an
    * indexed vector (other than itself, so replays re-admit
    * identically) or a smaller-id vector of the same batch has cosine ≥
    * `minCos` with it (greedy, over-rejecting on chains — the safe
    * direction for admission). Candidates share a band key within
    * Hamming distance 2, signed at the artifact's frozen width.
    *
    * ZERO-NORM vectors (cosine undefined — the vector twin of a
    * token-less doc) cannot be signed and are admitted unconditionally,
    * in every batch: they are never gated against the index or each
    * other. A feed that can produce all-zero embeddings should filter
    * or exact-dedup them upstream of the gate.
    *
    * Bounded by the batch: the batch is read and signed ONCE and
    * collected; [[vecMatches]] collects the candidates in one job while
    * the batch's rings fit the pushdown ceiling (the `vec_bands` rows
    * read by one pushed predicate) and in two past it (the broadcast of
    * the ring rows, expanded by Spark, and `vec_bands` streamed past it),
    * then the matches in two (the broadcast of the candidate rows and
    * the `vecs` scan streamed past it). The in-batch cosines — the same
    * Spark `dotp/(norm·norm)` expression, never a driver
    * re-implementation, so the `minCos` boundary cannot move — are one
    * filter over a driver-local relation of ring-sharing pairs, evaluated
    * without a job. Every collect and the ring are refused past the
    * broadcast dials (`requireFits`), and no plan broadcasts or shuffles
    * a scan of an index table.
    */
  private[graft] def screenVectors(s: SparkSession, path: String, batch: DataFrame,
                                   minCos: Double): Screened = {
    val w = readVecW(s, path) // sign at the artifact's frozen width
    val sig = withVecSig(s, batch.select(struct(col("*")).as("row"),
        col("vec_id").cast("long").as("vec_id"), col("embedding")), w)
      .select(col("row"), col("vec_id"), col("emb"), col("norm"), col("bands"))
    val rows = collectBounded(s, "micro-batch", sig)
    val id = rows.map(_.getLong(1))
    val signedIx = rows.indices.filterNot(rows(_).isNullAt(4))
    val keys = rows.map(_.getSeq[Long](4))
    val emb = (i: Int) => rows(i).get(2)
    val norm = (i: Int) => rows(i).getDouble(3)
    val vsIndex = collectBounded(s, "index matches",
      vecMatches(s, path, signedIx.map(i => Row(id(i), emb(i), norm(i), keys(i))), 2)
        .filter(col("vec_id") =!= col("b_id") && col("cos") >= minCos).select(col("b_id")))
    // one cosine row per (batch vector, smaller-id batch partner) in its
    // ring: (b_id, b_emb, b_n, emb, norm)
    val masks = VecOps.probeMasks(w, 2)
    val stored = signedIx.flatMap(j => keys(j).zipWithIndex.map { case (k, b) => (b, k) -> j })
      .groupMap(_._1)(_._2)
    val inBatch = (for {
      i <- signedIx; (k, b) <- keys(i).zipWithIndex; m <- masks
      j <- stored.getOrElse((b, k ^ m), Nil) if id(i) > id(j)
    } yield (i, j)).distinct
      .map { case (i, j) => Row(id(i), emb(i), norm(i), emb(j), norm(j)) }
    val doubles = ArrayType(DoubleType, containsNull = true)
    val verify = StructType(Seq(StructField("b_id", LongType), StructField("b_emb", doubles),
      StructField("b_n", DoubleType), StructField("emb", doubles), StructField("norm", DoubleType)))
    val cos = call_function("dotp", col("emb"), col("b_emb")) / (col("norm") * col("b_n"))
    val dup = (vsIndex ++ local(s, inBatch, verify)
      .filter(cos >= minCos)
      .select(col("b_id")).collect()).map(_.getLong(0)).toSet
    val kept = rows.indices.filterNot(i => dup(id(i)))
    Screened(
      local(s, kept.map(rows(_).getStruct(0)), batch.schema).coalesce(1),
      local(s, kept.filterNot(rows(_).isNullAt(4))
          .map(i => Row(id(i), emb(i), norm(i), rows(i).get(4))),
        appendSchema(sig, "vec_id", "emb", "norm", "bands")).coalesce(1),
      kept.map(id))
  }

  /** Vector-side novelty filter against the persisted ANN index: the
    * subset of `batch` (vec_id, embedding, …) with NO indexed vector of
    * cosine ≥ `minCos` and no smaller-id batch partner that close, by
    * [[screenVectors]] — the embedding twin of [[novelDocs]]. Runs the
    * screen when called and returns a driver-local frame.
    */
  private[graft] def novelVectors(s: SparkSession, dir: String,
                                  batch: DataFrame, minCos: Double,
                                  ns: String = ""): DataFrame =
    screenVectors(s, ensureVecIndex(s, dir, ns), batch, minCos).admitted

  /** Grow the persisted vector index with admitted vectors — the
    * embedding twin of [[appendToIndex]]; replayed appends add
    * byte-identical duplicate rows ([[compactIndex]] removes them at
    * rest; probes distinct candidate ids, so answers are unaffected).
    * Zero-norm vectors are unsignable and excluded — consistent with
    * [[screenVectors]] never gating them.
    */
  private[graft] def appendToVecIndex(s: SparkSession, dir: String,
                                      admitted: DataFrame, ns: String = ""): Unit = {
    val path = ensureVecIndex(s, dir, ns)
    appendSignedVectors(s, dir, ns, signVectors(s, admitted, readVecW(s, path)))
  }

  /** Append already-signed vectors (vec_id, emb, norm, bands) — the
    * gate's [[Screened.signed]] — to the namespace's index, which the
    * caller has ensured; then the append path's small-file backstop.
    */
  private[graft] def appendSignedVectors(s: SparkSession, dir: String, ns: String,
                                         signed: DataFrame): Unit = {
    writeSignedVectors(indexDir(dir, ns), signed)
    maybeCompact(s, dir, ns, "vec_bands")  // see maybeCompact: the append path owns its cadence
  }

  private def writeSignedVectors(path: String, signed: DataFrame): Unit = {
    signed.select(col("vec_id"), col("emb"), col("norm"))
      .write.mode(SaveMode.Append).parquet(s"$path/vecs.parquet")
    signed.select(col("vec_id"), posexplode(col("bands")).as(Seq("band", "bk")))
      .write.mode(SaveMode.Append).parquet(s"$path/vec_bands.parquet")
  }

  /** Known-path append, no ensure — see [[appendToIndexAt]]. Appends
    * sign at the artifact's FROZEN width (vec_w): mixing widths in one
    * bands table would make stored keys incomparable. The dial only
    * moves on a REBUILD (source-data restamp), never on growth.
    */
  private[graft] def appendToVecIndexAt(s: SparkSession, path: String,
                                        admitted: DataFrame): Unit =
    writeSignedVectors(path, signVectors(s, admitted, readVecW(s, path)))

  private def ensureVecIndex(s: SparkSession, dir: String, ns: String = ""): String =
    ensureVecIndexStatus(s, dir, ns)._1

  /** Vec twin of [[ensureIndexStatus]] — same rebuild-with-recovery
    * contract.
    */
  private[graft] def ensureVecIndexStatus(s: SparkSession, dir: String,
                                          ns: String = "",
                                          recover: String => Unit = _ => ()): (String, Boolean) =
    vecIndex.ensure(s, dir, ns, recover)
}
