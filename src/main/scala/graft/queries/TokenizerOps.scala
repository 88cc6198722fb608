package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Core._

/** Byte-pair-encoding tokenizer training and application (Sennrich et
  * al., ACL 2016 — the subword tokenizer every modern LLM corpus is
  * tokenized with; public algorithm re-expressed Spark-native).
  *
  * The reference counts whitespace tokens only (engine.py:72-93
  * tokenizes by `split`); a training-data pipeline additionally OWNS
  * the tokenizer — it trains the merge table on the corpus and applies
  * it to count real subword tokens (the unit budgets/mixtures are
  * denominated in). Both halves map to Spark cleanly because classic
  * BPE trains on the WORD-FREQUENCY DICTIONARY, not the token stream:
  *
  *  - ONE distributed corpus pass builds (term, freq) — vocab-sized;
  *  - each merge round is a pair-count aggregate + a greedy fold over
  *    that vocab-sized frame (driver holds only the 1-row argmax per
  *    round — bounded, never corpus data);
  *  - applying the tokenizer is a BROADCAST join of the corpus token
  *    stream against the vocab-sized (term → segmentation) table —
  *    map-only over the lake, the standard "tokenize by dictionary"
  *    serving shape.
  *
  * At 100 TB nothing changes shape: the corpus pass is the only
  * lake-scale work, the training loop touches vocab-sized frames
  * (~10⁷ rows for a web corpus — still one executor's worth), and
  * apply stays a broadcast map (a 10⁷-word segmentation dict is
  * ~100 MB, broadcastable; past that, a shuffle join on `term`).
  *
  * HARD-ORACLED in round 13 (was Q-gated "iterative argmax isn't one
  * SQL statement"): [[nMerges]] is a compile-time constant, so the
  * "loop" UNROLLS into a generated chain of 3·nMerges materialized
  * CTEs — round i's argmax depends only on merges 0..i−1, which the
  * chain's earlier CTEs already computed, so no recursion is needed.
  * The greedy overlap-free merge that RE2 can't express becomes plain
  * `replace()` over a DELIMITER-ENCODED segmentation string
  * (chr(1)·sym·chr(2) per symbol: exact whole-symbol matches with no
  * token-boundary ambiguity, and leftmost non-overlapping replacement
  * = the mergeFold semantics, including "a a a" → "aa a" and merged
  * symbols joining LATER rounds only). `AS MATERIALIZED` is
  * load-bearing: DuckDB inlines plain CTEs, and seg_{i+1} referencing
  * seg_i twice would make the unrolled tree re-read the corpus 2^12
  * times. TokenizerSpec's independent in-memory A/B stays as the
  * second witness. Assumption the device documents: corpus text never
  * contains chr(1)/chr(2) (a corpus that did would fail the gate
  * loudly, not silently).
  */
object TokenizerOps {

  /** Merge rounds trained. Tiny vocabularies saturate (no pair occurs
    * twice) before deep merge tables get interesting; 12 keeps the
    * fixture's table non-degenerate and the bench cost bounded.
    */
  private[graft] val nMerges = 12

  private def esc(t: String): String =
    t.replace("\\", "\\\\").replace("'", "\\'")

  /** Character-level initial segmentation with the standard
    * end-of-word marker (so merges can learn suffixes without
    * crossing word boundaries).
    */
  private def initSeg: Column =
    // the empty-term guard mirrors pairsOf's: Core.tokens filters empty
    // strings so the branch is unreachable from the shared frames, but
    // sequence(1, 0) DESCENDS in Spark and an ad-hoc caller with an
    // empty term would get a [1,0]-indexed garbage segmentation
    expr("""CASE WHEN length(term) < 1 THEN array('</w>')
            ELSE concat(transform(sequence(1, length(term)), i -> substr(term, i, 1)), array('</w>')) END""")

  /** Adjacent symbol pairs of a segmentation — empty for fully-merged
    * single-symbol words (`sequence(1,0)` would DESCEND in Spark, so
    * the size guard is load-bearing, not cosmetic).
    */
  private def pairsOf: Column =
    expr("""CASE WHEN size(seg) < 2 THEN cast(array() as array<struct<a:string,b:string>>)
            ELSE transform(sequence(1, size(seg) - 1), i -> struct(seg[i-1] as a, seg[i] as b)) END""")

  /** Greedy left-to-right application of ONE merge (a,b) → ab as a
    * codegen'd fold: the accumulator's last symbol merges with the
    * incoming one iff they equal the pair — which reproduces BPE's
    * leftmost-first, non-overlapping semantics ("a a a" under (a,a)
    * becomes "aa a", and the merged symbol participates in LATER
    * rounds, not the current pass).
    */
  private def mergeFold(a: String, b: String): Column =
    expr(s"""aggregate(seg, cast(array() as array<string>),
      (acc, x) -> if(size(acc) > 0 and element_at(acc, -1) = '${esc(a)}' and x = '${esc(b)}',
                     concat(slice(acc, 1, size(acc) - 1), array('${esc(a + b)}')),
                     concat(acc, array(x))))""")

  /** One merge rule: rank, the pair, the merged symbol, and the
    * word-frequency-weighted pair count that won the round.
    */
  private[graft] final case class Merge(rank: Int, left: String, right: String,
                                        merged: String, pair_freq: Long)

  /** Train the merge table and return it with the final vocab-sized
    * (term, freq, seg) segmentation frame. Memoized per session like
    * the other shared frames ([[Frames]]) — train and apply are two
    * consumers of one model. Each round's argmax tie-breaks on
    * (count desc, left, right) so the table is deterministic across
    * partitionings (counts are exact integer sums).
    */
  private[graft] def trainBpe(s: SparkSession, dir: String): (Seq[Merge], DataFrame) =
    Frames.memo(s, dir, "bpe", Seq("documents")) {
      import s.implicits._
      val wf = TextOps.termFreq(s, dir)
        .groupBy($"term").agg(sum($"tf").as("freq"))
      // localCheckpoint (eager), NOT persist/unpersist chaining:
      // unpersisting round r's frame while round r+1's cache plan
      // still references it makes CacheManager re-compile (and
      // drop) the dependent cache — every round then recomputes
      // the whole fold chain from the corpus scan, turning the
      // loop quadratic (measured 127 s at sf0.1; 9 s after this),
      // and the FINAL frame comes back cacheless, so every apply
      // re-trains. Checkpointing truncates lineage each round, so
      // the frames are independent and the final segmentation is a
      // materialized vocab-sized table. Executor-loss caveat of
      // localCheckpoint is acceptable: the frame is vocab-sized
      // model state, rebuilt by rerunning training.
      var seg = wf.select($"term", $"freq", initSeg.as("seg")).localCheckpoint()
      val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
      var done = false
      var r = 1
      while (r <= nMerges && !done) {
        // 1-row argmax — the only driver-side data per round
        val best = seg.select($"freq", explode(pairsOf).as("p"))
          .groupBy($"p.a".as("a"), $"p.b".as("b"))
          .agg(sum($"freq").as("cnt"))
          .orderBy($"cnt".desc, $"a", $"b")
          .limit(1).collect()
        if (best.isEmpty) done = true
        else {
          val (a, b, cnt) =
            (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          merges += Merge(r, a, b, a + b, cnt)
          val next = seg.withColumn("seg", mergeFold(a, b)).localCheckpoint()
          // no explicit unpersist: Dataset.unpersist is a no-op for
          // localCheckpoint blocks (they are RDD-persisted, not
          // CacheManager entries) — dropping the reference frees
          // them via the ContextCleaner, the same lifecycle as the
          // label-propagation loop's rounds
          seg = next
          r += 1
        }
      }
      (merges.toSeq, seg)
    }

  /** The unrolled-training CTE chain shared by both oracles (see the
    * object doc): tok → wf → seg0, then per round i: pair counts over
    * seg_i, the round's argmax m_{i+1} (count desc, a, b — the exact
    * trainBpe tie-break), and the merged segmentation seg_{i+1} via
    * delimiter-encoded replace.
    */
  private def bpeCtes: Seq[String] = {
    val head = Seq(
      "tok AS MATERIALIZED (SELECT doc_id, source, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks FROM documents)",
      "wf AS MATERIALIZED (SELECT term, CAST(count(*) AS BIGINT) AS freq FROM (SELECT unnest(toks) AS term FROM tok) GROUP BY term)",
      """seg0 AS MATERIALIZED (SELECT term, freq,
        |  chr(1) || array_to_string(list_transform(range(length(term)), i -> term[i+1:i+1]), chr(2)||chr(1)) || chr(2) || chr(1)||'</w>'||chr(2) AS enc
        |  FROM wf)""".stripMargin)
    head ++ (0 until nMerges).flatMap { i =>
      Seq(
        s"""p$i AS MATERIALIZED (SELECT s.a AS a, s.b AS b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
           |    SELECT freq, unnest(list_transform(range(len(syms)-1), j -> {'a': syms[j+1], 'b': syms[j+2]})) AS s
           |    FROM (SELECT freq, string_split(enc[2:length(enc)-1], chr(2)||chr(1)) AS syms FROM seg$i)
           |  ) GROUP BY 1, 2)""".stripMargin,
        s"m${i + 1} AS MATERIALIZED (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1)",
        // coalesce to a chr(3) sentinel (never present in enc — content
        // is lowercase words, delimiters chr(1)/chr(2)): if training
        // SATURATES before nMerges rounds, p$i is empty, the scalar
        // subqueries return NULL, and replace(enc, NULL, NULL) would
        // NULL-poison every later seg CTE — the apply oracle's dict
        // would then silently diverge from trainBpe's early stop. With
        // the sentinel an empty round is a no-op replace, mirroring the
        // Spark side's `done` exit exactly.
        s"""seg${i + 1} AS MATERIALIZED (SELECT term, freq, replace(enc,
           |    coalesce((SELECT chr(1)||a||chr(2)||chr(1)||b||chr(2) FROM m${i + 1}), chr(3)),
           |    coalesce((SELECT chr(1)||a||b||chr(2) FROM m${i + 1}), chr(3))) AS enc FROM seg$i)""".stripMargin)
    }
  }

  private def bpeTrainOracle: String = {
    val union = (1 to nMerges).map(r =>
      s"""SELECT $r AS "rank", a AS "left", b AS "right", a||b AS merged, cnt AS pair_freq FROM m$r""")
      .mkString("\nUNION ALL ")
    "WITH " + bpeCtes.mkString(",\n") +
      s"""\nSELECT * FROM ($union) ORDER BY "rank""""
  }

  private def bpeApplyOracle: String =
    "WITH " + (bpeCtes ++ Seq(
      s"""dict AS (SELECT term,
         |    CAST(len(string_split(enc[2:length(enc)-1], chr(2)||chr(1))) AS BIGINT) AS n_sub FROM seg$nMerges)""".stripMargin,
      "dt AS (SELECT doc_id, source, unnest(toks) AS term FROM tok)")).mkString(",\n") +
      """
        |SELECT source, count(DISTINCT doc_id) AS docs, count(*) AS words,
        |  CAST(sum(n_sub) AS BIGINT) AS subwords,
        |  CAST(sum(n_sub) * 1000 // count(*) AS BIGINT) AS subwords_per_kword
        |FROM dt JOIN dict USING (term) GROUP BY source ORDER BY source""".stripMargin

  val entries: Seq[Entry] = Seq(

    entry("text_bpe_train", bpeTrainOracle) { (s, dir) =>
      import s.implicits._
      // The trained merge table itself — the tokenizer MODEL a corpus
      // owner ships (rank order IS application order). Inherently tiny
      // (nMerges rows): the distributed work is the corpus pass and
      // the per-round vocab aggregates inside trainBpe.
      val (merges, _) = trainBpe(s, dir)
      s.createDataFrame(merges).toDF()
        .select($"rank", $"left", $"right", $"merged", $"pair_freq")
        .orderBy($"rank")
    },

    entry("text_bpe_apply", bpeApplyOracle) { (s, dir) =>
      import s.implicits._
      // Tokenize the corpus with the trained model and report the
      // per-source subword budget — the number a mixture or token
      // budget is actually denominated in (whitespace token counts
      // undercount morphologically rich sources and overcount clean
      // ones). Serving shape: the corpus token stream joins the
      // BROADCAST vocab-sized segmentation dict; subword counts are
      // exact integer sums so the output is partition-invariant.
      TextOps.requireDocMeta(s, dir, "source")
      val (_, seg) = trainBpe(s, dir)
      val dict = seg.select($"term", size($"seg").cast("long").as("n_sub"))
      val toks = TextOps.docTokens(s, dir)
        .select($"doc_id", $"source", explode($"toks").as("term"))
      toks.join(broadcast(dict), "term")
        .groupBy($"source")
        .agg(countDistinct($"doc_id").as("docs"),
          count(lit(1)).as("words"),
          sum($"n_sub").as("subwords"))
        .select($"source", $"docs", $"words", $"subwords",
          expr("subwords * 1000L DIV words").as("subwords_per_kword"))
        .orderBy($"source")
    }
  )
}
