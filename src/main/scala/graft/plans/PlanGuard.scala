package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical

/** Preflight plan audit — the cluster-scale failure modes that are
  * invisible at test scale, surfaced BEFORE a query runs. At sf0.01 a
  * cartesian product or a whole-table single-task window finishes in
  * milliseconds; at 100 TB the same plan is a cluster outage. The
  * engine's own test suite has pinned these properties per query since
  * round 6 (PlanAuditSpec's global guard); this promotes the check to a
  * user-facing component so a pipeline can gate ad-hoc or generated SQL
  * (the reference's NL→SQL agent shape, agent.py:22-47, is exactly the
  * producer of plans nobody hand-reviewed) with the same discipline:
  *
  *   PlanGuard.audit(df) match {
  *     case Nil        => df.write...
  *     case violations => fail(violations)
  *   }
  *
  * Checks (each cites why it kills a 1000-executor run):
  *   - `cartesian`: a CartesianProduct physical node — O(n·m) row
  *     generation with every partition pair shipped; no cluster width
  *     survives it on two fact tables.
  *   - `bnlj`: BroadcastNestedLoopJoin — the non-equi fallback; fine
  *     for a deliberate 1-row stats broadcast (callers allowlist those
  *     by construction), an outage when it appears by accident (a typo
  *     turning an equi join condition into an expression Spark can't
  *     hash on).
  *   - `unpartitioned-window`: a logical Window with an empty
  *     partitionSpec — the whole input sorts through ONE task
  *     regardless of parallelism. Legitimate only over frames already
  *     reduced to bounded cardinality (day grids, bucket totals);
  *     callers allowlist those knowingly.
  *   - `unpruned-partitioned-scan`: a file scan over a PARTITIONED
  *     source with no partition filters (static or dynamic) — at test
  *     scale indistinguishable from a pruned read; at 100 TB it is the
  *     difference between touching one date partition and listing +
  *     reading every partition of the lake table. Legitimate only for
  *     deliberate full-table passes (compaction, index build
  *     summaries); callers allowlist those knowingly.
  *   - `oversized-broadcast` (round 13): a broadcast HINT whose hinted
  *     side's estimated size exceeds `spark.graft.guard.maxBroadcastBytes`
  *     (default 1 GiB). Planner-CHOSEN broadcasts are already
  *     stats-bounded by autoBroadcastJoinThreshold; a hint overrides
  *     that judgment, and a hint that was right at test scale can be
  *     hiding an O(corpus) build (this round's text_dedup_containment
  *     rebuild removed exactly such a dictionary broadcast — the hint
  *     was measured-right on a 31-word-vocabulary fixture and would
  *     have OOM'd the driver on a real lake). Estimates are Catalyst's
  *     sizeInBytes propagation — trusted only on scan/filter/project
  *     chains (join estimates multiply child sizes; a grouped
  *     aggregate's estimate is ~its CHILD's size because the size-only
  *     visitor never estimates group count, which would false-positive
  *     every textbook stats-broadcast pipeline). Hints on
  *     aggregate-bearing sides are therefore NOT checked here — that
  *     false-negative class needs column stats (ANALYZE TABLE) or
  *     review.
  *
  * The audit inspects the OPTIMIZED logical plan for windows (the
  * physical text never prints empty partition specs — Spark's
  * TreeNode.argString omits empty sequences, a trap this repo hit in
  * round 6) and the executed physical plan for join strategies, so it
  * sees what will actually run, after AQE-independent planning.
  */
object PlanGuard {

  /** One audit finding: `kind` is a stable machine key (`cartesian`,
    * `bnlj`, `unpartitioned-window`), `detail` names the offending
    * node for the human reading the gate failure.
    */
  final case class Violation(kind: String, detail: String) {
    override def toString: String = s"$kind: $detail"
  }

  /** Audit a frame's plan. `allow` suppresses named kinds for callers
    * that have REVIEWED a hit (the 1-row broadcast crossJoin, the
    * bounded-frame window) — allowlisting is per-call and explicit, the
    * same contract as the test suite's per-query exemption lists.
    */
  def audit(df: DataFrame, allow: Set[String] = Set.empty): Seq[Violation] = {
    val qe = df.queryExecution
    val out = Seq.newBuilder[Violation]
    if (!allow("cartesian") || !allow("bnlj")) {
      val phys = qe.executedPlan.toString
      if (!allow("cartesian") && phys.contains("CartesianProduct"))
        out += Violation("cartesian",
          "CartesianProduct node — O(n*m) all-pairs join; rewrite with an equi key or broadcast a provably tiny side")
      if (!allow("bnlj") && phys.contains("BroadcastNestedLoopJoin"))
        out += Violation("bnlj",
          "BroadcastNestedLoopJoin — non-equi fallback; intended only for deliberate 1-row/stats broadcasts")
    }
    if (!allow("unpartitioned-window")) {
      qe.optimizedPlan.foreach {
        case w: logical.Window if w.partitionSpec.isEmpty =>
          out += Violation("unpartitioned-window",
            s"Window [${w.windowExpressions.map(_.name).mkString(", ")}] has no PARTITION BY — " +
              "the whole input sorts through one task; partition it or reduce the frame to bounded cardinality first")
        case _ =>
      }
    }
    if (!allow("unpruned-partitioned-scan")) {
      // the pre-AQE physical plan carries both static partition filters
      // and inserted dynamic-pruning subqueries, so a scan that is
      // pruned EITHER way reads as filtered here; subquery plans are
      // walked too (a DPP probe can hide a second scan)
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
        p.foreach {
          case f: org.apache.spark.sql.execution.FileSourceScanExec
              if f.relation.partitionSchema.nonEmpty && f.partitionFilters.isEmpty =>
            out += Violation("unpruned-partitioned-scan",
              s"scan of ${f.relation.location.rootPaths.headOption.getOrElse("?")} reads ALL partitions " +
                s"(partitioned by [${f.relation.partitionSchema.fieldNames.mkString(", ")}], no PartitionFilters) — " +
                "filter on a partition column, or allowlist a deliberate full-table pass")
          case _ =>
        }
        p.subqueries.foreach(walk)
      }
      walk(qe.sparkPlan)
    }
    if (!allow("unbounded-buffer-agg")) {
      // check #6 (round 14): exact percentile / collect_list /
      // collect_set buffer EVERY value of their group in one
      // aggregation buffer — invisible to the five plan-shape checks
      // (the plan hashes and shuffles perfectly; the BUFFER is the
      // outage). At test scale a group is thousands of rows; at 100 TB
      // an unbounded-cardinality group OOMs the executor. Spark's
      // median() lowers to Percentile before optimization, so it is
      // covered. Legitimate uses are (a) groups of documented bounded
      // cardinality (a vocab-sized model pivot, a 16-row subspace) —
      // callers allowlist those knowingly — and (b) window frames with
      // BOUNDED ROWS bounds (a moving median over 15 rows), which the
      // walk skips by construction. The quantile entries' dial
      // (spark.graft.quantile.approx) is the in-engine escape hatch:
      // approx_percentile holds a fixed-size sketch instead.
      import org.apache.spark.sql.catalyst.expressions.{Expression, RowFrame, SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding, WindowExpression}
      import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, CollectList, CollectSet, Percentile}
      def boundedRowFrame(we: WindowExpression): Boolean =
        we.windowSpec.frameSpecification match {
          case f: SpecifiedWindowFrame =>
            f.frameType == RowFrame &&
              f.lower != UnboundedPreceding && f.upper != UnboundedFollowing
          case _ => false
        }
      def scan(e: Expression): Unit = e match {
        case we: WindowExpression if boundedRowFrame(we) => // bounded buffer
        case ae: AggregateExpression => ae.aggregateFunction match {
          case a @ (_: Percentile | _: CollectList | _: CollectSet) =>
            out += Violation("unbounded-buffer-agg",
              s"${a.prettyName} buffers every group value in one aggregation buffer — " +
                "bounded only if the group's cardinality is; use approx_percentile " +
                "(spark.graft.quantile.approx for the engine's quantile entries), bound " +
                "the frame, or allowlist a documented bounded-cardinality group")
          case _ => ae.children.foreach(scan)
        }
        case other => other.children.foreach(scan)
      }
      qe.optimizedPlan.foreach(p => p.expressions.foreach(scan))
    }
    if (!allow("oversized-broadcast")) {
      val maxBytes = df.sparkSession.conf
        .get("spark.graft.guard.maxBroadcastBytes", (1L << 30).toString).toLong
      // the size estimate is trusted only where Catalyst's propagation
      // is honest — scan/filter/project chains. A join-bearing side is
      // skipped (join estimates MULTIPLY child sizes: a 3-dim chain at
      // test scale reads as gigabytes of pure estimator noise), and so
      // is ANY Aggregate: the size-only stats visitor never estimates
      // group count, so a grouped aggregate reports ~its child's size —
      // a legitimate 5-row broadcast(groupBy(stats)) over a fact scan
      // would read as fact-sized and be falsely flagged at exactly the
      // lake scale the guard targets. The cost of distrusting
      // aggregates is a false-NEGATIVE class: a hint on a
      // high-cardinality grouped aggregate of a corpus (the containment
      // dictionary shape) is out of this check's reach without column
      // stats — that shape stays a review/PlanAuditSpec concern, and
      // running ANALYZE TABLE (CBO column stats) restores a real
      // estimate upstream of the hint.
      // LogicalRDD leaves (localCheckpoint / cached-materialization
      // frames) carry NO catalog stats: their sizeInBytes is the
      // spark.sql.defaultSizeInBytes placeholder (Long.MaxValue-ish),
      // so a perfectly bounded checkpointed frame would read as
      // petabytes of pure placeholder. Same policy as aggregates:
      // distrust, stay silent (the materialized frame's bound is a
      // review/PlanAuditSpec concern).
      def estimateTrusted(p: logical.LogicalPlan): Boolean =
        !p.exists {
          case _: logical.Join => true
          case _: logical.Aggregate => true
          case l: logical.LeafNode =>
            l.getClass.getSimpleName.startsWith("LogicalRDD")
          case _ => false
        }
      qe.optimizedPlan.foreach {
        case j: logical.Join =>
          def hinted(h: Option[logical.HintInfo]): Boolean =
            h.exists(_.strategy.contains(logical.BROADCAST))
          val sides = Seq(
            (hinted(j.hint.leftHint), j.left, "left"),
            (hinted(j.hint.rightHint), j.right, "right"))
          sides.foreach { case (isHinted, side, name) =>
            if (isHinted && estimateTrusted(side)) {
              val est = side.stats.sizeInBytes
              if (est > maxBytes)
                out += Violation("oversized-broadcast",
                  s"broadcast hint on the $name join side with estimated size $est bytes " +
                    s"(> spark.graft.guard.maxBroadcastBytes=$maxBytes) — a hint overrides the " +
                    "planner's stats bound; bound the side (filter/aggregate) or drop the hint " +
                    "and let size-driven planning choose")
            }
          }
        case _ =>
      }
    }
    out.result()
  }

  /** Gate form: throw with every violation listed (the preflight call
    * a scheduled pipeline puts between plan construction and execute).
    */
  def require(df: DataFrame, allow: Set[String] = Set.empty): DataFrame =
    raise(df, audit(df, allow))

  /** The per-request bound (a streaming admission gate screening one
    * micro-batch against a lake-sized index): a `whole-scan-exchange`
    * violation for every exchange — shuffle or broadcast — in `df`'s
    * physical plan whose input holds an UNFILTERED scan (no partition
    * filter, no data filter beyond inferred null checks) of one of
    * `tables` (matched by table directory, `<table>.parquet`). Such a
    * plan moves the whole table per request, however small the request:
    * a broadcast collects it to the driver, a shuffle (a join or a
    * distinct) writes every row of it. A bounded plan reads a table
    * through a pushed filter on the request's own keys, or streams it
    * past a broadcast of the request's rows. The walk covers the
    * adaptive plan's current physical plan and its query stages.
    */
  def batchBoundViolations(df: DataFrame, tables: Set[String]): Seq[Violation] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.Exchange
    // the null checks the optimizer infers from join keys bound nothing
    def wholeScans(p: SparkPlan): Iterator[String] = nodes(p).flatMap {
      case f: FileSourceScanExec if f.partitionFilters.isEmpty &&
          f.dataFilters.forall(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.IsNotNull]) =>
        f.relation.location.rootPaths.map(_.getName.stripSuffix(".parquet")).filter(tables)
      case _ => Nil
    }
    nodes(df.queryExecution.executedPlan).flatMap {
      case e: Exchange => wholeScans(e.child).map(t => Violation("whole-scan-exchange",
        s"${e.nodeName} over an unfiltered scan of $t — the plan moves the whole table " +
          "for one request; filter the scan by the request's keys, or broadcast the " +
          "request's rows and stream the table past them"))
      case _ => Nil
    }.toSeq.distinct
  }

  /** Every node of a physical plan and of its subqueries, walking into
    * the adaptive plan's current physical plan, its query stages and
    * reused exchanges.
    */
  private[graft] def nodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Iterator[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    Iterator.single(p) ++ (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec        => nodes(q.plan)
      case r: ReusedExchangeExec    => nodes(r.child)
      case other                    => (other.children ++ other.subqueries).iterator.flatMap(nodes)
    })
  }

  /** Gate form of [[batchBoundViolations]]. */
  def requireBatchBounded(df: DataFrame, tables: Set[String]): DataFrame =
    raise(df, batchBoundViolations(df, tables))

  private def raise(df: DataFrame, v: Seq[Violation]): DataFrame = {
    if (v.nonEmpty)
      throw new IllegalStateException(
        s"PlanGuard: ${v.size} scale-unsafe plan shape(s):\n  " + v.mkString("\n  "))
    df
  }
}
