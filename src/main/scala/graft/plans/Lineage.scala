package graft.plans

import graft.queries.LakeFs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeMap, Generator}
import org.apache.spark.sql.catalyst.plans.logical.{Expand, Generate, LeafNode, LogicalPlan, Union}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Column-level lineage — which source table columns feed each output
  * column. The governance question every pipeline gets asked ("where
  * does `revenue` come from?", "which outputs would a change to
  * `l_discount` touch?") answered from the ANALYZED logical plan, so it
  * works on any frame the engine can run — composed operators,
  * generated SQL, the reference's NL→SQL output — with no source-code
  * annotation.
  *
  * Mechanics: walk the plan bottom-up carrying, per live attribute id,
  * the set of `table.column` leaves it transitively derives from. At a
  * leaf scan every attribute maps to itself (table = the scanned
  * path's basename, catalog name when present); every intermediate node
  * maps its produced attributes (Alias targets, aggregate/window
  * expressions, generator outputs) to the union of their referenced
  * attributes' lineage. Join/filter/sort nodes add nothing — their
  * outputs pass through by attribute id. This is DATA lineage (what
  * flows into the value), deliberately not CONTROL lineage (a filter
  * column influences which rows survive but not any output value);
  * control inputs are a separate question with a much bigger closure.
  */
object Lineage {

  /** Lineage SIDECAR for persisted lake artifacts (r12 verdict ask #9).
    * A stamped artifact (labels.parquet, ivf_centroids, band tables) is
    * a plan LEAF to every consumer, so lineage used to dead-end at the
    * artifact instead of the corpus that built it. The builder now
    * records, per artifact column, the source `table.column` set it
    * derives from — `_graft_lineage.tsv` beside the data files (the
    * leading underscore keeps it out of every reader's file listing) —
    * and [[walk]] SPLICES it at the scan: a consumer of labels.parquet
    * sees documents.text, transitively through any number of artifact
    * layers (a builder that itself read a sidecar'd artifact resolved
    * that sidecar when ITS lineage was computed). Builders whose plans
    * are truncated by iteration checkpoints (label propagation) declare
    * the map explicitly; straight-plan builders call the DataFrame
    * overload and the map is computed from the very frame being
    * written. Values are URL-encoded per entry; one line per column:
    * `col \t src1,src2`.
    */
  private val sidecarName = "_graft_lineage.tsv"

  // one entry PER PATH (inserting replaces the prior generation — a
  // long-lived session rebuilding artifacts must not accumulate stale
  // generations unboundedly), staleness-keyed on (mtime, length): mtime
  // alone has 1s granularity on some filesystems, so a same-tick
  // rebuild could serve the old map; length breaks most such ties.
  private val sidecarCache =
    scala.collection.concurrent.TrieMap.empty[String, ((Long, Long), Option[Map[String, Set[String]]])]

  private def enc(v: String): String = java.net.URLEncoder.encode(v, "UTF-8")
  private def dec(v: String): String = java.net.URLDecoder.decode(v, "UTF-8")

  /** Record the builder frame's own (spliced) lineage beside the
    * artifact it is about to describe — call AFTER the parquet commit
    * (Overwrite deletes the dir) and BEFORE the stamp.
    */
  def writeSidecar(df: DataFrame, path: String): Unit =
    writeSidecar(df.sparkSession, path, columnLineage(df))

  /** Explicit-map overload for builders whose plan lineage is truncated
    * by iteration checkpoints (localCheckpoint leaves a LogicalRDD).
    *
    * Written through [[LakeFs]] like every lake file. Like the reader,
    * failure DEGRADES: the sidecar is metadata, so a write error must
    * not abort a committed artifact build — lineage then truthfully
    * dead-ends at the artifact.
    */
  def writeSidecar(s: SparkSession, path: String, lin: Map[String, Set[String]]): Unit = {
    val sb = new StringBuilder
    lin.toSeq.sortBy(_._1).foreach { case (c, srcs) =>
      sb.append(enc(c)).append('\t')
        .append(srcs.toSeq.sorted.map(enc).mkString(",")).append('\n')
    }
    try LakeFs.writeText(LakeFs(s, path), s"$path/$sidecarName", sb.toString)
    catch {
      case e: Exception =>
        System.err.println(
          s"[lineage] sidecar write failed for $path (lineage will dead-end at the artifact): ${e.getMessage}")
    }
  }

  /** Parse (and mtime-cache) an artifact scan's sidecar, read through
    * [[LakeFs]]; any failure (a missing sidecar included) degrades to
    * None (lineage then truthfully names the artifact — never throws
    * from inside an analysis walk).
    */
  private def sidecar(h: HadoopFsRelation): Option[Map[String, Set[String]]] =
    try {
      val rp = h.location.rootPaths.headOption.getOrElse(return None)
      val fs = LakeFs(h.sparkSession, rp.toString)
      val p = new org.apache.hadoop.fs.Path(rp, sidecarName)
      val st = fs.getFileStatus(p)
      val stamp = (st.getModificationTime, st.getLen)
      sidecarCache.get(p.toString) match {
        case Some((s, v)) if s == stamp => v
        case _ =>
          val parsed = LakeFs.readText(fs, p.toString).map(_.split("\n").toSeq
            .map(_.split("\t")).collect {
              case Array(c, srcs) =>
                dec(c) -> srcs.split(",").filter(_.nonEmpty).map(dec).toSet
            }.toMap)
          // put replaces the prior generation — exactly one entry/path
          sidecarCache.put(p.toString, (stamp, parsed))
          parsed
      }
    } catch { case _: Exception => None }

  /** Output column name → source columns as "table.column" strings.
    * Duplicate output names (rare, legal) are merged by union.
    */
  def columnLineage(df: DataFrame): Map[String, Set[String]] = {
    val plan = df.queryExecution.analyzed
    val m = walk(plan)
    plan.output.groupBy(_.name).map { case (name, attrs) =>
      name -> attrs.flatMap(a => m.get(a).getOrElse(Set.empty)).toSet
    }
  }

  /** Every output column that `table.column` feeds — the impact side. */
  def impactOf(df: DataFrame, source: String): Seq[String] =
    columnLineage(df).collect {
      case (out, srcs) if srcs(source) => out
    }.toSeq.sorted

  private def leafName(p: LeafNode): String = p match {
    case lr: LogicalRelation =>
      lr.catalogTable.map(_.identifier.table).orElse {
        lr.relation match {
          case h: HadoopFsRelation =>
            h.location.rootPaths.headOption.map { rp =>
              rp.getName.replaceAll("\\.parquet$|\\.orc$|\\.csv$|\\.json$|\\.avro$", "")
            }
          case _ => None
        }
      }.getOrElse(p.nodeName)
    case other =>
      // in-memory relations, streaming sources, ranges: the node name
      // is still a stable anchor for "this input", if not a table
      other.nodeName
  }

  private def walk(plan: LogicalPlan): AttributeMap[Set[String]] = plan match {
    case leaf: LeafNode =>
      val t = leafName(leaf)
      // artifact splice: a scan carrying a builder-written sidecar
      // resolves each column to the CORPUS columns the builder derived
      // it from; columns the sidecar does not know (partition dirs,
      // later appends) keep the artifact-local name, truthfully
      val side = leaf match {
        case lr: LogicalRelation => lr.relation match {
          case h: HadoopFsRelation => sidecar(h)
          case _ => None
        }
        case _ => None
      }
      AttributeMap(leaf.output.map(a =>
        a -> side.flatMap(_.get(a.name)).getOrElse(Set(s"$t.${a.name}"))))
    case u: Union =>
      // a Union's output reuses the FIRST child's attribute ids — the
      // generic pass-through would silently drop lineage from every
      // other branch. Merge BY POSITION: output column i derives from
      // every child's column i.
      val childMaps = u.children.map(walk)
      val byPos = u.children.lazyZip(childMaps).map { (c, m) =>
        c.output.map(a => m.get(a).getOrElse(Set.empty[String]))
      }
      val merged = u.output.zipWithIndex.map { case (a, i) =>
        a -> byPos.flatMap(cols => if (i < cols.size) cols(i) else Set.empty[String]).toSet
      }
      AttributeMap(childMaps.flatMap(_.iterator) ++ merged)
    case ex: Expand =>
      // Expand (rollup/cube grouping sets, stack-based unpivot) emits
      // FRESH output ids bound to its projection rows, not Aliases —
      // output column i derives from position i of every projection
      // (grouping-id literals contribute nothing, correctly).
      val childMap = walk(ex.child)
      val produced = ex.output.zipWithIndex.map { case (a, i) =>
        a -> ex.projections.flatMap(p =>
          p(i).references.iterator.flatMap(r => childMap.get(r).getOrElse(Set.empty))).toSet
      }
      AttributeMap(childMap.iterator.toSeq ++ produced)
    case node =>
      val childMap = {
        val all = node.children.map(walk)
        if (all.size == 1) all.head
        else AttributeMap(all.flatMap(_.iterator))
      }
      def lineageOf(e: org.apache.spark.sql.catalyst.expressions.Expression): Set[String] =
        e.references.iterator.flatMap(a => childMap.get(a).getOrElse(Set.empty)).toSet
      val produced: Seq[(Attribute, Set[String])] = node match {
        case g: Generate =>
          // generator outputs (explode/posexplode/inline) all derive
          // from the generator's input expression
          val gl = lineageOf(g.generator.asInstanceOf[Generator])
          g.generatorOutput.map(a => a -> gl)
        case _ =>
          node.expressions.flatMap { top =>
            top.collect { case al: Alias => al.toAttribute -> lineageOf(al.child) }
          }
      }
      // pass-through attributes keep their child lineage; produced ones
      // override (an Alias shadows a same-id pass-through never, ids are
      // fresh)
      AttributeMap(childMap.iterator.toSeq ++ produced)
  }
}
