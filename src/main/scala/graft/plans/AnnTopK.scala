package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorExprs

/** ANN-aware top-k planning (SURVEY.md §4.3(b)): a library-declared
  * EXACT cosine top-k whose plan an opt-in optimizer rule
  * ([[AnnTopKRule]]) can swap for the persisted IVF index probe.
  *
  * The exact form scans every corpus vector — correct at any SF, O(n)
  * per query. When a current persisted IVF index exists for the corpus
  * (IvfIndex), the SAME question is answerable by probing nprobe of K
  * cell partitions — the serving-path plan. The rewrite changes
  * RESULTS (approximate recall), so unlike every built-in optimizer
  * rule it is gated behind an explicit session opt-in:
  *
  *   spark.conf.set("spark.graft.ann.rewrite", "true")
  *
  * and it never fires unless the index version stamp is current (a
  * missing/stale index silently keeps the exact plan — the safe
  * default; it never builds an index from inside the optimizer, which
  * must stay side-effect free).
  */
object AnnTopK {

  /** Exact cosine top-`k` of the `embeddings` corpus against a literal
    * query vector, the declared (rewritable) form: one scan, broadcast
    * nothing, `TakeOrderedAndProject` keeps k rows. Zero-norm corpus
    * vectors are excluded (cosine undefined). Scores round to 6dp
    * BEFORE ranking — the repo-wide determinism convention, and what
    * makes the exact and rewritten plans comparable.
    */
  def cosineTopK(s: SparkSession, dir: String, q: Seq[Double], k: Int): DataFrame =
    cosineTopKWhere(s, dir, q, k, Nil)

  /** [[cosineTopK]] restricted to corpus vectors matching every
    * (column = value) equality in `where` — the FILTERED ANN form
    * (e.g. top-k among `label = 3`). Exact semantics: filter first,
    * then rank. The optimizer rewrite recognizes this shape too: the
    * persisted cells carry the corpus's metadata columns, so the
    * equalities become residual predicates INSIDE the pruned index
    * scan (with a widened probe ring to offset the filtered per-cell
    * yield), never a join back to the corpus.
    */
  def cosineTopKWhere(s: SparkSession, dir: String, q: Seq[Double], k: Int,
                      where: Seq[(String, Any)]): DataFrame = {
    VectorExprs.register(s)
    import s.implicits._
    val qn = math.sqrt(q.map(x => x * x).sum)
    // a zero-norm query has no defined cosine: declared EMPTY (the
    // vec_index_probe contract), never NaN scores — which would rank
    // every row equal-first in the exact plan while the rewritten probe
    // visits 8 arbitrary cells: the one input where the two plans the
    // rule treats as interchangeable would diverge structurally
    if (qn == 0)
      graft.queries.VecOps.emb(s, dir)
        .filter(lit(false))
        .select($"vec_id", lit(0.0).as("score"))
        .limit(k)
    else {
      val score: Column =
        round(call_function("dotp", $"emb", typedlit(q)) / ($"norm" * lit(qn)), 6)
      where.foldLeft(graft.queries.VecOps.emb(s, dir)) {
          case (d, (c, v)) => d.filter(col(c) === lit(v))
        }
        .filter($"norm" > 0)
        .orderBy(score.desc, $"vec_id")
        .select($"vec_id", score.as("score"))
        .limit(k)
    }
  }
}

/** The §4.3(b) optimizer rule: rewrites [[AnnTopK.cosineTopK]]'s
  * optimized plan shape
  *
  *   GlobalLimit k
  *   +- LocalLimit k
  *      +- Project [id, round(dotp(emb, LIT_Q) / (norm * LIT_QN), 6)]
  *         +- Sort [round(...) DESC, id ASC] global
  *            +- … leaf scan of <dir>/embeddings.parquet
  *
  * into the persisted IVF probe (nprobe=8 nearest cells of the K=64
  * quantizer, exact re-rank — the ivf_index_probe plan with the query
  * literal lifted straight out of the Sort expression). The FILTERED
  * form — (scan column = literal) equalities between Sort and scan,
  * [[AnnTopK.cosineTopKWhere]] — rewrites too: the cells store the
  * corpus metadata columns, so each equality becomes a residual
  * predicate inside the pruned index scan, with the probe ring widened
  * by the estimated residual selectivity from the index's build-time
  * metadata stats (rare values saturate to full-K — exact within the
  * pruned layout; unseen values keep the exact plan). Fires only when
  * BOTH hold, else leaves the exact plan untouched:
  *
  *  - `spark.graft.ann.rewrite` = true (explicit session opt-in: the
  *    rewrite trades recall for a ~nprobe/K scan, a semantic change no
  *    rule may make silently);
  *  - the corpus's IVF index stamp is CURRENT (checked on files only —
  *    the optimizer must stay side-effect free, so a missing index is
  *    never built here).
  *
  * Deployment: `GraftExtensions` injects it cluster-wide via
  * `spark.sql.extensions`; local sessions call [[AnnTopKRule.install]]
  * (experimental.extraOptimizations — a post-hoc batch, so the spliced
  * probe subtree skips the main optimizer; its scans are
  * column-complete index tables and its cell filter arrives via the
  * broadcast join, so nothing load-bearing is lost).
  */
case class AnnTopKRule(spark: SparkSession)
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {

  import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, AttributeReference, Cast, Descending, EqualTo, Expression, GreaterThan, IntegerLiteral, Literal, SortOrder}
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
  import org.apache.spark.sql.types.{DoubleType, IntegerType}
  import graft.functions.DotProduct
  import graft.queries.{IndexOps, IvfIndex, VecOps}

  private def enabled: Boolean =
    // never .toBoolean: a malformed value would throw from inside the
    // optimizer and fail EVERY query in the session
    spark.conf.get("spark.graft.ann.rewrite", "false").trim.equalsIgnoreCase("true")

  /** The rewrite's semantic contract is "this plan IS cosineTopK's
    * declared form" — so the matcher must validate the WHOLE subtree,
    * not just recognize a sort-limit silhouette. An earlier draft
    * checked only the leaf scan; a user plan with an extra predicate
    * between Sort and scan, a transformed embedding inside dotp, a
    * different round scale, or a reordered projection would then have
    * been silently replaced by the unfiltered raw-emb probe. Every
    * component is now checked (score expression, tie-break, projection
    * list, and every operator between Sort and scan); anything
    * unrecognized keeps the exact plan — the only safe failure mode
    * for an approximating rewrite.
    */
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformDown {
      case gl @ GlobalLimit(IntegerLiteral(k),
          LocalLimit(IntegerLiteral(k2), Project(projList, Sort(orders, true, child, _))))
          if k == k2 && k > 0 =>
        (for {
          (embA, normA, idA, score, q, qn) <- matchScore(orders)
          if validProjection(projList, idA, score)
          residuals <- validChild(child, embA, normA)
          dir <- embeddingsDir(child)
          if IvfIndex.ivfIndex.current(spark, dir)
          // the query norm the matcher lifted must be a usable divisor:
          // a zero/NaN/Inf qn literal means the exact plan is scoring
          // NaN — there is no "equivalent" probe for that, keep it
          if java.lang.Double.isFinite(qn) && qn > 0
        } yield rewriteSafe(gl, dir, q, qn, k, residuals)).getOrElse(gl)
    }

  /** The rule's contract is "anything unrecognized keeps the exact
    * plan" — that must include failures of the rewrite itself.
    * The IVF currency check only reads files, and a concurrent compaction
    * stage-and-swap can remove an index table between that check and
    * the spark.read at plan time; an exception here would otherwise
    * fail the whole query when a correct (exact) plan is in hand.
    */
  private def rewriteSafe(gl: GlobalLimit, dir: String, q: Seq[Double], qn: Double,
                          k: Int, residuals: Seq[(String, Option[Literal])]): LogicalPlan =
    try rewrite(gl, dir, q, qn, k, residuals)
    catch {
      case scala.util.control.NonFatal(e) =>
        logWarning(s"ANN rewrite failed for $dir; keeping the exact plan", e)
        gl
    }

  /** (emb attr, norm attr, id attr, score expr, query vector, query
    * norm) iff the sort is EXACTLY the declared score shape:
    * round(dotp(embAttr, LIT)/(normAttr * LIT), 6) DESC with an
    * Ascending attribute tie-break. prettyName-based structure checks
    * sidestep constructor arity churn across Spark versions
    * (Divide/Multiply carry eval-mode parameters).
    */
  private def matchScore(orders: Seq[SortOrder])
      : Option[(AttributeReference, AttributeReference, AttributeReference,
                Expression, Seq[Double], Double)] =
    orders match {
      case Seq(SortOrder(r, Descending, _, _),
               SortOrder(id: AttributeReference, Ascending, _, _))
          if r.prettyName == "round" && r.children.size >= 2 =>
        (r.children.head, r.children(1)) match {
          case (d, Literal(6, IntegerType)) if d.prettyName == "divide" && d.children.size == 2 =>
            (d.children.head, d.children(1)) match {
              case (DotProduct(e: AttributeReference, Literal(qv: ArrayData, _)), m)
                  if m.prettyName == "multiply" && m.children.size == 2 =>
                (m.children.head, m.children(1)) match {
                  case (n: AttributeReference, Literal(qn, DoubleType)) =>
                    Some((e, n, id, r, qv.toDoubleArray.toSeq, qn.asInstanceOf[Double]))
                  case _ => None
                }
              case _ => None
            }
          case _ => None
        }
      case _ => None
    }

  /** The projection must be exactly (id attr, Alias(score)) — the
    * declared output. Anything else (reordered columns, extra columns)
    * would be silently transposed or truncated by the positional
    * output remap in [[rewrite]].
    */
  private def validProjection(projList: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression],
                              idA: AttributeReference, score: Expression): Boolean =
    projList match {
      case Seq(p0: AttributeReference, p1: Alias) =>
        p0.exprId == idA.exprId && p1.child.semanticEquals(score)
      case _ => false
    }

  /** Between Sort and scan, ONLY the declared operators may appear:
    * Projects whose aliases define embAttr as a cast of a scan column
    * and normAttr as SQRT(dotp(embAttr, embAttr)), and Filters whose
    * every conjunct is either the zero-norm guard or a (scan column =
    * literal) equality — the declared filtered form. Returns the
    * residual equalities as (column name, literal) iff the subtree IS
    * the declared shape (possibly empty: the unfiltered form); None —
    * an unrecognized predicate, a transformed embedding, a missing
    * guard — keeps the exact plan.
    */
  private def validChild(child: LogicalPlan, embA: AttributeReference,
                         normA: AttributeReference): Option[Seq[(String, Option[Literal])]] = {
    val aliases = child.collect { case p: Project => p.projectList }.flatten
      .collect { case a: Alias => a }
    def defOf(attr: AttributeReference): Option[Expression] =
      aliases.find(_.exprId == attr.exprId).map(_.child)
    // the scan column embA is a cast of — the guard must norm THIS
    // embedding, not any array column that happens to be self-dotted
    // (a guard on a different column would let the rewrite silently
    // drop the zero-norm rows the exact plan ranks first)
    val embSrc: Option[org.apache.spark.sql.catalyst.expressions.ExprId] =
      defOf(embA) match {
        case Some(c: Cast) => c.child match {
          case ar: AttributeReference => Some(ar.exprId)
          case _ => None
        }
        case _ => None
      }
    def guardArgOk(a: Expression): Boolean = a match {
      case ar: AttributeReference => ar.exprId == embA.exprId
      case c: Cast => c.child match {
        case ar: AttributeReference => embSrc.contains(ar.exprId)
        case _ => false
      }
      case _ => false
    }
    def isSqrtSelfDot(e: Expression, requireEmb: Boolean): Boolean =
      e.prettyName.equalsIgnoreCase("sqrt") && e.children.size == 1 &&
        (e.children.head match {
          case DotProduct(a, b) =>
            a.semanticEquals(b) &&
              (if (requireEmb) (a match {
                case ar: AttributeReference => ar.exprId == embA.exprId
                case _ => false
              }) else guardArgOk(a))
          case _ => false
        })
    def isGuard(cond: Expression): Boolean = cond match {
      // the declared zero-norm guard — over the embA attribute, or the
      // pre-alias cast of ITS scan column once the optimizer pushes
      // the filter below the projects
      case GreaterThan(sq, Literal(z, DoubleType)) =>
        z == 0.0 && isSqrtSelfDot(sq, requireEmb = false)
      case _ => false
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    // residuals must be equalities on RAW SCAN columns — an attribute
    // defined by an alias (a computed column) is not re-evaluable
    // against the index's stored metadata
    val scanOut = child.collect { case lr: LogicalRelation => lr.output }
      .flatten.map(_.exprId).toSet
    val allConj = child.collect { case f: Filter => conjuncts(f.condition) }.flatten
    val (guards, rest) = allConj.partition(isGuard)
    val residuals = rest.map {
      case EqualTo(a: AttributeReference, l: Literal) if scanOut(a.exprId) =>
        Some((a.name, Some(l)))
      case EqualTo(l: Literal, a: AttributeReference) if scanOut(a.exprId) =>
        Some((a.name, Some(l)))
      // the optimizer infers IsNotNull from every null-intolerant
      // equality — and a bare user .isNotNull is itself re-evaluable
      // against the stored metadata, so both forms carry over
      case org.apache.spark.sql.catalyst.expressions.IsNotNull(a: AttributeReference)
          if scanOut(a.exprId) =>
        Some((a.name, None))
      case _ => None
    }
    val nodesOk = child.collect {
      case _: Project => true
      case _: Filter => true // every conjunct is validated above
      case _: LogicalRelation => true
      case _ => false
    }.forall(identity) &&
      // the guard must be PRESENT, not merely allowed: the probe plan
      // filters norm > 0, so rewriting a guard-less exact plan would
      // silently drop NaN-scored zero-norm rows that the exact form
      // ranks first
      guards.nonEmpty
    val embOk = embSrc.isDefined
    val normOk = defOf(normA).exists(isSqrtSelfDot(_, requireEmb = true))
    if (nodesOk && embOk && normOk && residuals.forall(_.isDefined))
      Some(residuals.flatten)
    else None
  }

  /** The corpus dir iff the subtree's only relation leaf is a parquet
    * scan of <dir>/embeddings.parquet — the guard that keeps the rule
    * off every other top-k (including its own spliced probe, whose
    * leaves are index tables). Local paths normalize to the bare path
    * (matching the dir strings the library's index builders use);
    * non-local URIs keep their scheme so an object-store corpus can
    * never alias a same-pathed local one.
    */
  private def embeddingsDir(child: LogicalPlan): Option[String] =
    child.collectLeaves() match {
      case Seq(lr: LogicalRelation) => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths match {
          case Seq(p) if p.getName == "embeddings.parquet" =>
            val parent = p.getParent
            val scheme = Option(parent.toUri.getScheme)
            Some(if (scheme.forall(_ == "file")) parent.toUri.getPath
                 else parent.toString)
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }

  /** Build the probe plan with the DataFrame API, analyze it (never
    * execute — rules are side-effect free), and splice it in with the
    * original output attribute ids so parent references stay bound.
    * The cells are read with the artifact's pinned schema: a bare
    * parquet read would launch a footer-inference job inside the
    * optimizer on every query the rule fires on; pinned, only the first
    * rewrite after a rebuild infers it.
    */
  private def rewrite(gl: GlobalLimit, dir: String, q: Seq[Double], qn: Double,
                      k: Int, residuals: Seq[(String, Option[Literal])]): LogicalPlan = {
    VectorExprs.register(spark)
    val path = IndexOps.indexDir(dir)
    val cellsRaw = IvfIndex.ivfIndex.read(spark, path, "ivf_cells")
    // every residual column must be stored in the index (an index built
    // before the corpus gained the column cannot evaluate it) — else
    // the exact plan stands
    if (!residuals.forall { case (n, _) => cellsRaw.columns.contains(n) }) return gl
    // cell selection = the shared VecOps.ivfProbe (the same definition
    // vec_ann_ivf and ivf_index_probe run — the serving paths must
    // answer identically). A FILTERED probe widens the ring by the
    // ESTIMATED RESIDUAL SELECTIVITY from the index's build-time
    // metadata stats (IvfIndex.readMetaStats): the filtered subset's
    // true top-k spread over ~1/sel more cells as per-cell yield
    // shrinks, so nprobe scales to ceil(nprobe/sel), saturating at
    // full-K — a rare value then probes every (pruned) cell and the
    // filtered answer is EXACT, where a fixed 2x widening degraded
    // recall unboundedly as sel shrank. A value the stats never saw
    // (post-build append, truncated column) has no estimate: keep the
    // exact plan rather than guess. File IO only — no Spark job may
    // run inside the optimizer.
    val nprobe =
      if (residuals.isEmpty) VecOps.nprobeConf(spark)
      else IvfIndex.readMetaStats(spark, path) match {
        case None => math.min(64, VecOps.nprobeConf(spark) * 2) // stats unreadable: legacy dial
        case Some(st) =>
          if (st.total <= 0) return gl
          // per-column match fraction; product across residuals (the
          // standard attribute-independence estimate)
          val sels = residuals.map {
            case (n, Some(l)) =>
              st.counts.get((n, IvfIndex.encodeMetaValue(
                org.apache.spark.sql.catalyst.CatalystTypeConverters
                  .convertToScala(l.value, l.dataType)))).map(_.toDouble / st.total)
            case (n, None) => // isNotNull: 1 − null fraction
              Some(1.0 - st.counts.getOrElse((n, "~null~"), 0L).toDouble / st.total)
          }
          if (sels.exists(_.isEmpty)) return gl // unknown selectivity → exact plan
          val sel = sels.flatten.product
          val base = VecOps.nprobeConf(spark)
          math.min(64, math.ceil(
            base / math.max(sel, base / 64.0)).toInt)
      }
    val cents = IvfIndex.centroids(spark, path)
    val probed = VecOps.ivfProbe(cents, typedlit(q), lit(qn), nprobe)
    // norm > 0 mirrors the exact form's zero-norm exclusion; the query
    // is a literal (no corpus id), so nothing is self-excluded.
    // Residual equalities re-evaluate against the STORED metadata
    // columns, inside the pruned scan.
    val cells = residuals.foldLeft(cellsRaw.filter(col("norm") > 0)) {
      case (d, (n, Some(l))) =>
        d.filter(col(n) === lit(org.apache.spark.sql.catalyst.CatalystTypeConverters
          .convertToScala(l.value, l.dataType)))
      case (d, (n, None)) => d.filter(col(n).isNotNull)
    }
    val analyzed = VecOps.ivfRerank(cells, probed, k, excludeId = lit(-1L))
      .queryExecution.analyzed
    // the splice happens AFTER the main optimizer batches, so the probe
    // subtree must be optimized explicitly — its ResolvedHint (the
    // broadcast) would otherwise reach the planner un-eliminated, and
    // this also restores pruning/pushdown on the index scans. No
    // recursion: re-running this rule inside sees index-table leaves,
    // which embeddingsDir rejects.
    val optimized = spark.sessionState.optimizer.execute(analyzed)
    if (gl.output.size != optimized.output.size) gl  // defensive: never truncate a schema
    else Project(gl.output.zip(optimized.output).map { case (o, n) =>
      Alias(n, o.name)(exprId = o.exprId) }, optimized)
  }
}

object AnnTopKRule {
  /** Idempotent local registration (tests / notebook sessions); cluster
    * deployments get the rule from GraftExtensions instead.
    */
  def install(s: SparkSession): Unit =
    if (!s.experimental.extraOptimizations.exists(_.isInstanceOf[AnnTopKRule]))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ AnnTopKRule(s)
}
