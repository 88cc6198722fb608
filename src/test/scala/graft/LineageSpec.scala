package graft

import org.apache.spark.sql.functions._
import graft.plans.Lineage

/** Lineage (plans/Lineage.scala): column-level data lineage from the
  * analyzed plan — correct through projections, aggregates, joins,
  * windows, and generators, on both hand-built frames and the declared
  * query surface.
  */
class LineageSpec extends SparkSpecBase {
  import spark.implicits._

  test("projection + arithmetic: derived column names both source columns") {
    val li = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
    val df = li.select(($"l_extendedprice" * (lit(1) - $"l_discount")).as("net"),
      $"l_orderkey")
    val lin = Lineage.columnLineage(df)
    assert(lin("net") == Set("lineitem.l_extendedprice", "lineitem.l_discount"), lin)
    assert(lin("l_orderkey") == Set("lineitem.l_orderkey"), lin)
  }

  test("aggregate + join: lineage crosses the join and the agg") {
    val li = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
    val ord = spark.read.parquet(sf("sf0.001") + "/orders.parquet")
    val df = li.join(ord, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(sum($"l_quantity" * $"l_extendedprice").as("weighted"))
    val lin = Lineage.columnLineage(df)
    assert(lin("weighted") ==
      Set("lineitem.l_quantity", "lineitem.l_extendedprice"), lin)
    assert(lin("o_orderpriority") == Set("orders.o_orderpriority"), lin)
  }

  test("window + generator: rank tracks its order key; explode tracks its array") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"n_chars")
    val ranked = docs.withColumn("rk", row_number().over(w))
    val linW = Lineage.columnLineage(ranked)
    // row_number references its partition/order spec
    assert(linW("rk").contains("documents.n_chars"), linW)
    val exploded = docs
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
    val linG = Lineage.columnLineage(exploded)
    assert(linG("tok") == Set("documents.text"), linG)
    assert(linG("doc_id") == Set("documents.doc_id"), linG)
  }

  test("impactOf inverts the map") {
    val li = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
    val df = li.select(($"l_extendedprice" * (lit(1) - $"l_discount")).as("net"),
      ($"l_quantity" + lit(1)).as("q1"))
    assert(Lineage.impactOf(df, "lineitem.l_discount") == Seq("net"))
    assert(Lineage.impactOf(df, "lineitem.l_quantity") == Seq("q1"))
  }

  test("union: every branch's sources survive the position-wise merge") {
    val li = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
    val ord = spark.read.parquet(sf("sf0.001") + "/orders.parquet")
    val df = li.select($"l_orderkey".as("k"), $"l_quantity".as("v"))
      .unionByName(ord.select($"o_orderkey".as("k"), $"o_totalprice".as("v")))
    val lin = Lineage.columnLineage(df)
    // pre-fix behavior: only the first branch's ids resolved, so the
    // orders contributions vanished silently
    assert(lin("k") == Set("lineitem.l_orderkey", "orders.o_orderkey"), lin)
    assert(lin("v") == Set("lineitem.l_quantity", "orders.o_totalprice"), lin)
  }

  test("expand: rollup and stack-unpivot outputs keep their source lineage") {
    val li = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
    val rolled = li.rollup($"l_returnflag", $"l_linestatus")
      .agg(sum($"l_quantity").as("q"))
    val linR = Lineage.columnLineage(rolled)
    assert(linR("q") == Set("lineitem.l_quantity"), linR)
    assert(linR("l_returnflag") == Set("lineitem.l_returnflag"), linR)
    val unpiv = li.select($"l_orderkey",
      expr("stack(2, 'qty', l_quantity, 'price', l_extendedprice) as (measure, value)"))
    val linU = Lineage.columnLineage(unpiv)
    assert(linU("value") ==
      Set("lineitem.l_quantity", "lineitem.l_extendedprice"), linU)
  }

  test("declared surface: q3's revenue derives from exactly the price and discount") {
    val df = SparkEntry.queries("q3_shipping_priority")(spark, sf("sf0.001"))
    val lin = Lineage.columnLineage(df)
    assert(lin("revenue") ==
      Set("lineitem.l_extendedprice", "lineitem.l_discount"), lin)
    assert(lin("orderdate") == Set("orders.o_orderdate"), lin)
  }

  test("artifact seam: text_dedup_cluster's keep traces to documents.text (r12 ask #9)") {
    val dir = sf("sf0.001")
    // force the labels artifact through the builder (writes the sidecar)
    SparkEntry.queries("text_dedup_cluster")(spark, dir).collect()
    val lin = Lineage.columnLineage(
      SparkEntry.queries("text_dedup_cluster")(spark, dir))
    // pre-sidecar this dead-ended at labels.doc_id/labels.label — the
    // artifact scan now splices the recorded builder lineage
    assert(lin("keep").contains("documents.text"),
      s"keep must trace through labels.parquet to the corpus text: $lin")
    assert(lin("keep").contains("documents.doc_id"), lin)
    assert(lin("cluster").contains("documents.text"), lin)
    assert(!lin.values.flatten.exists(_.startsWith("labels.")),
      s"no column may dead-end at the artifact: $lin")
  }

  test("artifact seam: ivf probe scores trace to embeddings.embedding (auto sidecar)") {
    val dir = sf("sf0.001")
    SparkEntry.queries("ivf_index_build")(spark, dir).collect()
    val lin = Lineage.columnLineage(
      SparkEntry.queries("ivf_index_probe")(spark, dir))
    // score = cos(emb, qemb)/(norm·qnorm): cells emb/norm through the
    // sidecar + the query row read directly from the corpus
    assert(lin("score").contains("embeddings.embedding"),
      s"score must trace through ivf_cells/ivf_centroids to the corpus: $lin")
    assert(lin("vec_id").contains("embeddings.vec_id"), lin)
  }

  test("artifact seam: nested splice — pq scores resolve through codebook AND codes") {
    val dir = sf("sf0.001")
    SparkEntry.queries("pq_index_build")(spark, dir).collect()
    val lin = Lineage.columnLineage(
      SparkEntry.queries("pq_index_probe")(spark, dir))
    // the codes builder itself read the codebook artifact back; its
    // sidecar was computed with the codebook's sidecar already spliced,
    // so the probe resolves through TWO artifact layers
    assert(lin("score").contains("embeddings.embedding"),
      s"ADC score must trace through pq_codes → pq_codebook → corpus: $lin")
  }

  // ---- round-14 coverage completion (r13 verdict ask #3): every ----
  // ---- remaining persisted-artifact family carries a sidecar     ----

  test("artifact seam: vec index probes trace to embeddings (vecs + vec_bands sidecars)") {
    val dir = sf("sf0.001")
    SparkEntry.queries("vec_index_build")(spark, dir).collect()
    // the single query and the batch entry answer through one probe path
    for (e <- Seq("vec_index_probe", "vec_index_incremental")) {
      val lin = Lineage.columnLineage(SparkEntry.queries(e)(spark, dir))
      assert(lin("score").contains("embeddings.embedding"),
        s"$e score must trace through vecs/vec_bands to the corpus: $lin")
      assert(lin("vec_id").contains("embeddings.vec_id"), s"$e: $lin")
    }
    // and so does the sim family: a probe's doc ids are the matched
    // families of the `sets` sidecar
    SparkEntry.queries("sim_index_build")(spark, dir).collect()
    val lin = Lineage.columnLineage(SparkEntry.queries("sim_index_probe")(spark, dir))
    assert(lin("doc_id").contains("documents.doc_id"),
      s"sim probe doc_id must trace through the sets sidecar to the corpus: $lin")
  }

  test("artifact seam: ivfpq probe resolves through ivfpq_codes → pq/ivf layers") {
    val dir = sf("sf0.001")
    SparkEntry.queries("pq_index_build")(spark, dir).collect()
    val lin = Lineage.columnLineage(
      SparkEntry.queries("ivfpq_index_probe")(spark, dir))
    assert(lin("score").contains("embeddings.embedding"),
      s"ivfpq score must trace through the partitioned codes to the corpus: $lin")
  }

  test("artifact seam: frozen-encoder batch embed traces to documents.text (embed_model sidecar)") {
    val dir = sf("sf0.001")
    val lin = Lineage.columnLineage(
      SparkEntry.queries("text_embed_learned_incremental")(spark, dir))
    // the embedded value = tf · model.v; v's sidecar entry derives from
    // the corpus text through the PPMI training frame
    assert(lin("val").contains("documents.text"),
      s"embedded value must trace through embed_model to the corpus: $lin")
  }

  test("artifact seam: embedding-dedup labels trace to documents (declared emblabels map)") {
    val dir = sf("sf0.001")
    val lin = Lineage.columnLineage(
      SparkEntry.queries("text_dedup_embed")(spark, dir))
    assert(lin("cluster").contains("documents.text"),
      s"cluster must trace through emblabels to the corpus: $lin")
    assert(!lin.values.flatten.exists(_.startsWith("emblabels.")),
      s"no column may dead-end at the artifact: $lin")
  }

  test("artifact seam: incremental LM score traces to documents.text (lm_state sidecar)") {
    val dir = sf("sf0.001")
    val lin = Lineage.columnLineage(
      SparkEntry.queries("text_lm_incremental")(spark, dir))
    assert(lin("lm_score").contains("documents.text"),
      s"lm_score must trace through lm_state (c12 is a declared count column): $lin")
  }

  test("artifact seam: incremental mix weights trace to documents (mix_state sidecar)") {
    val dir = sf("sf0.001")
    val lin = Lineage.columnLineage(
      SparkEntry.queries("mix_weights_incremental")(spark, dir))
    assert(lin("n_tokens").contains("documents.text"),
      s"merged token totals must trace through mix_state to the corpus: $lin")
  }

  test("artifact seam: multimodal dedup traces to asset bytes (declared mmfp map)") {
    val dir = sf("sf0.001")
    val lin = Lineage.columnLineage(
      SparkEntry.queries("mm_image_dedup")(spark, dir))
    assert(lin("hamming").contains("assets.bytes"),
      s"hamming must trace through the fingerprint artifact to the asset bytes: $lin")
  }
}
