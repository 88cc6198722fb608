package graft.queries

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Core._

/** Bucketed fact-table layout (optimization round 18; guide §2.4
  * "bucketed tables persist a partitioning across jobs so repeated
  * joins/aggregations on the bucket key skip the shuffle entirely" +
  * §6 partitioning/layout on write).
  *
  * The three biggest record lines of the bench were each ONE
  * irreducible-looking corpus groupBy over the raw lineitem scan
  * (sf0.1, local[32]): q21_lone_blame 1,038,695 shuffle records
  * (fact groupBy(l_orderkey, l_suppkey) 599 k + per-order rollup
  * 436 k), q2_min_cost_supplier 697,983 (groupBy(l_partkey,
  * l_suppkey) 591 k + argmin rollup/join-back), agg_weighted_median
  * 632,015 (groupBy(l_returnflag, l_extendedprice) 600 k) — together
  * ~33 % of the whole bench's shuffle records. Per-query rewrites were
  * measured NOT to beat them in r17 (the q21 repartition experiment
  * read 1,209,923 recs — worse); the remaining lever is the lake
  * layout itself: persist a hash-bucketed projection of the fact per
  * consumer key, so the scan's outputPartitioning
  * (HashPartitioning(bucketKey, n)) satisfies the aggregation's
  * ClusteredDistribution — a HashPartitioning on a SUBSET of the
  * grouping keys satisfies the distribution, so bucketing by
  * l_orderkey alone serves groupBy(l_orderkey, l_suppkey) — and the
  * exchange disappears from every consumer.
  *
  * Anti-gaming constraints (the r17 verdict's explicit terms):
  *  - the copies carry RAW fact rows (projected columns, same row
  *    count) — never pre-aggregated or query-shaped results; every
  *    bench/oracle run still computes its aggregation from row-level
  *    data, it just reads rows already partitioned on the grouping key;
  *  - the write is a NAMED, TIMED bench line (`setup_fact_layout` in
  *    IndexOps.warmSteps) on the build-once/serve-many contract of the
  *    index families: stamped with the code version + source-data
  *    fingerprint + bucket count, journaled by the LakeArtifact combinator
  *    (rebuilds show up in the bench's rebuilt_setup/rebuilt_midrun
  *    lists), rebuilt whenever the source bytes change;
  *  - declared outputs are unchanged: the DuckDB oracles keep reading
  *    raw lineitem, and FactLayoutSpec pins bit-equality of every
  *    consumer against the raw-scan path
  *    (spark.graft.lake.factLayout.enabled=false).
  *
  * Scale story (100 TB): one bucketed write is one extra full shuffle
  * + write of the projected columns, amortized over every consumer
  * run of that key family forever — the classic lake-layout trade.
  * Bucket count is a stamped dial (`spark.graft.lake.fact.buckets`);
  * the default derives from SOURCE BYTES (~one bucket per 256 MB of
  * source, floor 16) rather than from the local core count, so the
  * same code sizes buckets to file-sized units on a fleet (§2.2/§6)
  * instead of to local[32].
  */
object FactLayout {

  /** Bump with any change to the projections/bucketing semantics. */
  private[graft] val factLayoutVersion =
    "factlayout-v2:ok(ok,sk,rf,qty);pk(pk,sk,price,qty,sd);price(rf,price,qty);sorted"

  private final case class Spec(table: String, bucketKey: String, cols: Seq[String])
  private val specs = Seq(
    Spec("fact_ok", "l_orderkey",
      Seq("l_orderkey", "l_suppkey", "l_returnflag", "l_quantity")),
    Spec("fact_pk", "l_partkey",
      Seq("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity", "l_shipdate")),
    Spec("fact_price", "l_extendedprice",
      Seq("l_returnflag", "l_extendedprice", "l_quantity")))

  private[graft] def layoutDir(dir: String): String =
    "lake/factlayout/" + dir.replaceAll("[^A-Za-z0-9.]+", "_")

  /** Session-catalog table name — the in-memory catalog is per-session,
    * so current artifacts are RE-REGISTERED (a catalog-only op) on
    * first touch in each new session; the files themselves persist.
    */
  private def tableName(dir: String, table: String): String =
    s"graft_${table}_$dir".replaceAll("[^A-Za-z0-9]+", "_").toLowerCase

  /** Bucket count: explicit dial wins; else ~one bucket per 256 MB of
    * source bytes (floor 16, cap 4096) — post-projection buckets land
    * well under the guide's 100 MB–1 GB unit. The count is folded into
    * the stamp, so changing the dial rebuilds instead of serving a
    * layout whose partitioning no longer matches the declared spec.
    */
  private[graft] def buckets(s: SparkSession, dir: String): Int =
    s.conf.getOption("spark.graft.lake.fact.buckets").map(_.toInt).getOrElse {
      val p = new org.apache.hadoop.fs.Path(s"$dir/lineitem.parquet")
      val fs = LakeFs(s, dir)
      val bytes = if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
      math.max(16, math.min(4096, (bytes / (256L << 20)).toInt + 1))
    }

  private[graft] def enabled(s: SparkSession): Boolean =
    s.conf.get("spark.graft.lake.factLayout.enabled", "true").toBoolean

  private def location(s: SparkSession, dir: String): String =
    LakeFs(s, layoutDir(dir)).makeQualified(new org.apache.hadoop.fs.Path(layoutDir(dir))).toString

  /** The three bucketed projections as one artifact; the bucket count
    * is the stamp's dial (`;buckets=N`), so changing it rebuilds.
    */
  private[graft] val artifact: LakeArtifact = LakeArtifact("factlayout", specs.map(_.table),
      factLayoutVersion, Seq("lineitem"), (dir, _) => layoutDir(dir),
      dial = (s, dir) => s";buckets=${buckets(s, dir)}") { (s, dir, _) =>
    val nb = buckets(s, dir)
    val src = load(s, dir, "lineitem")
    for (sp <- specs) {
      val tn = tableName(dir, sp.table)
      s.sql(s"DROP TABLE IF EXISTS $tn")
      src.select(sp.cols.map(col): _*)
        // one shuffle so each write task holds exactly one bucket —
        // one file per bucket (repartition and bucketBy share the
        // Murmur3 hash family, and even on a mismatch each task
        // would just write per-bucket files; correctness unaffected)
        .repartition(nb, col(sp.bucketKey))
        .write.format("parquet")
        .bucketBy(nb, sp.bucketKey)
        .sortBy(sp.bucketKey)
        .option("path", s"${location(s, dir)}/${sp.table}.parquet")
        .mode(SaveMode.Overwrite)
        .saveAsTable(tn)
    }
  }

  private[graft] def ensure(s: SparkSession, dir: String): Unit =
    if (!artifact.ensure(s, dir)._2) {
      // current on disk — make sure THIS session's catalog knows the
      // bucket spec (metadata-only; no data touched, nothing journaled)
      lazy val nb = buckets(s, dir)
      for (sp <- specs) {
        val tn = tableName(dir, sp.table)
        if (!s.catalog.tableExists(tn)) {
          val ddl = load(s, dir, "lineitem")
            .select(sp.cols.map(col): _*).schema.toDDL
          s.sql(
            s"""CREATE TABLE IF NOT EXISTS $tn ($ddl) USING parquet
               |CLUSTERED BY (${sp.bucketKey}) SORTED BY (${sp.bucketKey})
               |INTO $nb BUCKETS
               |LOCATION '${location(s, dir)}/${sp.table}.parquet'""".stripMargin)
        }
      }
    }

  private def served(s: SparkSession, dir: String, table: String,
                     fallbackCols: Seq[String]): DataFrame =
    if (enabled(s)) {
      ensure(s, dir)
      s.table(tableName(dir, table))
    } else load(s, dir, "lineitem").select(fallbackCols.map(col): _*)

  /** lineitem projected to (l_orderkey, l_suppkey, l_returnflag,
    * l_quantity), hash-bucketed by l_orderkey — serves every consumer
    * grouping/joining on the order key.
    */
  private[graft] def byOrderkey(s: SparkSession, dir: String): DataFrame =
    served(s, dir, "fact_ok", specs(0).cols)

  /** lineitem projected to (l_partkey, l_suppkey, l_extendedprice,
    * l_quantity), hash-bucketed by l_partkey.
    */
  private[graft] def byPartkey(s: SparkSession, dir: String): DataFrame =
    served(s, dir, "fact_pk", specs(1).cols)

  /** lineitem projected to (l_returnflag, l_extendedprice, l_quantity),
    * hash-bucketed by l_extendedprice — the weighted-median grain.
    */
  private[graft] def byPrice(s: SparkSession, dir: String): DataFrame =
    served(s, dir, "fact_price", specs(2).cols)
}
