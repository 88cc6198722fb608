package graft

/** Fresh-JVM driver for the CLUSTER deployment path of the ANN rewrite:
  * `spark.sql.extensions=graft.GraftExtensions` is a static conf that
  * cannot retrofit the test suite's live SparkContext, so AnnRuleSpec
  * spawns this main in a child JVM. Unlike AnnTopKRule.install (an
  * experimental.extraOptimizations POST-HOC batch), injectOptimizerRule
  * places the rule inside the main operator-optimization fixpoint —
  * the shapes it sees there are what a real cluster session serves, and
  * the rewrite's re-entrant optimizer call happens from WITHIN an
  * executing optimizer here, which is exactly the path this pins.
  *
  * Prints ANN_INJECTED_OK and exits 0 iff the injected rule fires (plan
  * swaps to the IVF probe, no corpus scan) and every returned score
  * equals the exact plan's cosine for that id.
  */
object AnnInjectedMain {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val s = Core.localSession(4, "ann-injected-check", Map(
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.graft.ann.rewrite" -> "true"))
    try {
      import s.implicits._
      // the index is built OUTSIDE the optimizer (the rule never
      // builds); idempotent if a parent run already ensured it
      graft.queries.IvfIndex.ensureIvfIndex(s, dir)
      val q = s.read.parquet(s"$dir/embeddings.parquet")
        .filter($"vec_id" === 0)
        .selectExpr("cast(embedding as array<double>) as e")
        .as[Seq[Double]].collect().head
      val df = graft.plans.AnnTopK.cosineTopK(s, dir, q, 5)
      val phys = df.queryExecution.executedPlan.toString
      require(phys.contains("ivf_cells"),
        s"injected rule did not fire through spark.sql.extensions:\n$phys")
      require(!phys.contains("embeddings.parquet"),
        s"rewritten plan still scans the corpus:\n$phys")
      val rows = df.as[(Long, Double)].collect().toSeq
      require(rows.nonEmpty && rows.head == ((0L, 1.0)),
        s"self-hit must lead the probe result, got ${rows.headOption}")
      // parity: same session, rule off -> exact plan; the rewrite may
      // bound WHICH ids surface but never the score of a surfaced id
      s.conf.set("spark.graft.ann.rewrite", "false")
      val exact = graft.plans.AnnTopK.cosineTopK(s, dir, q, Int.MaxValue)
        .as[(Long, Double)].collect().toMap
      rows.foreach { case (id, sc) =>
        require(math.abs(sc - exact(id)) < 1e-9, s"id $id: $sc vs ${exact(id)}")
      }
      println("ANN_INJECTED_OK")
    } finally s.stop()
  }
}
