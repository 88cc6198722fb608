package graft.queries

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{Callable, CyclicBarrier, Executors}
import org.apache.spark.sql.{DataFrame, Row}
import graft.SparkEntry

/** The session frame registry's contract, on private copies of sf0.001:
  *  - validity is the source-data stamp: after an in-session rewrite of
  *    `documents.parquet`, with no release, memo-backed entries answer
  *    exactly as on a fresh directory holding the rewritten data;
  *  - a dial move supersedes: it leaves one persisted verified frame;
  *  - racing callers share one build;
  *  - the census counts a warm lookup as a hit and a stamp change as a
  *    supersede;
  *  - the listStatus-walk data stamp is byte-identical to the
  *    listFiles-based fingerprint it replaced.
  */
class FramesSpec extends graft.SparkSpecBase {
  import spark.implicits._

  private lazy val live: String = copyOf(sf("sf0.001"), "graft-frames-live")
  private lazy val fresh: String = copyOf(sf("sf0.001"), "graft-frames-fresh")
  private lazy val stampDir: String = Files.createTempDirectory("graft-frames-stamp").toString

  override def afterAll(): Unit = {
    Frames.release(spark)
    for (d <- Seq(live, fresh)) {
      rm(new File(IndexOps.indexDir(d)))
      rm(new File(PipelineOps.mixStateDir(d)))
      rm(new File(d))
    }
    rm(new File(stampDir))
    super.afterAll()
  }

  private def answer(entry: String, dir: String): Seq[Row] =
    SparkEntry.queries(entry)(spark, dir).collect().toSeq.sortBy(_.toString)

  /** The corpus minus every doc_id ≡ 0 mod 3 (which drops a third of
    * the classifier's doc_id ≡ 0 mod 4 seed set), with every third
    * surviving doc moved to a new source.
    */
  private def rewrittenDocs(dir: String): (Seq[Row], org.apache.spark.sql.types.StructType) = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val rows = docs.filter($"doc_id" % 3 =!= 0).collect().toSeq
      .sortBy(_.getAs[Number]("doc_id").longValue)
    val si = docs.schema.fieldIndex("source")
    val moved = rows.zipWithIndex.map { case (r, i) =>
      if (i % 3 == 0) Row(r.toSeq.updated(si, "rewritten"): _*) else r
    }
    (moved, docs.schema)
  }

  private def writeDocs(dir: String, rows: Seq[Row],
                        schema: org.apache.spark.sql.types.StructType): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private val memoEntries =
    Seq("text_bpe_apply", "text_dedup_cross_source", "quality_classifier_apply")

  test("an in-session rewrite of documents.parquet rebuilds every memo built from it") {
    val before = memoEntries.map(e => e -> answer(e, live)).toMap
    val (rows, schema) = rewrittenDocs(live)
    writeDocs(live, rows, schema)
    writeDocs(fresh, rows, schema)
    for (e <- memoEntries) {
      val expected = answer(e, fresh)
      assert(expected != before(e), s"$e: the rewrite must change the answer (non-vacuous)")
      assert(answer(e, live) == expected,
        s"$e after an in-session rewrite must equal the fresh-directory answer")
    }
  }

  test("moving spark.graft.broadcast.maxRows supersedes: one persisted verified frame") {
    val verifiedCount = TextOps.coldPhases(spark, live).toMap.apply("verifiedPairs")
    val key = "spark.graft.broadcast.maxRows"
    val prev = spark.conf.getOption(key)
    // RDD ids, not a count: the ContextCleaner drops an unreferenced
    // persisted RDD an earlier test left whenever a GC happens to run,
    // so the session's persisted count can fall mid-test
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    try {
      verifiedCount()
      // a dial value no other call uses: this call builds the frame the
      // first move must supersede
      spark.conf.set(key, "999999")
      val pre = persisted
      verifiedCount()
      val orig = persisted -- pre
      assert(orig.size == 1, s"a dial move pins one rebuilt verified frame: $orig")
      spark.conf.set(key, "0")
      val before = persisted
      verifiedCount()
      val rebuilt = persisted -- before
      assert(rebuilt.size == 1, s"a dial move pins one rebuilt verified frame: $rebuilt")
      assert(!persisted.contains(orig.head),
        "a dial move must unpersist the superseded verified frame, not pin a second")
      spark.conf.set(key, "1000000")
      verifiedCount()
      val after = persisted
      assert(!after.contains(rebuilt.head),
        "a dial move must unpersist the superseded verified frame, not pin a second")
      assert((after -- before -- rebuilt).size == 1)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("two threads racing one entry share one build") {
    Frames.release(spark)
    TextOps.docTokens(spark, live).count()
    val n = spark.sparkContext.getPersistentRDDs.size
    val barrier = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    val race: Callable[DataFrame] = () => { barrier.await(); TextOps.wordGrams(spark, live) }
    val got = try Seq(pool.submit(race), pool.submit(race)).map(_.get())
      finally pool.shutdown()
    assert(got(0) eq got(1), "racing callers must get the same instance")
    got(0).count()
    assert(spark.sparkContext.getPersistentRDDs.size == n + 1,
      "one build, one persisted frame")
  }

  test("census: a warm load counts one schema hit, an in-session rewrite one supersede") {
    val dir = copyOf(sf("sf0.001"), "graft-frames-census")
    def schema = Frames.census(spark).getOrElse("schema", Frames.Census(0, 0, 0))
    try {
      graft.Core.load(spark, dir, "customer")
      val warm = schema
      graft.Core.load(spark, dir, "customer")
      assert(schema == warm.copy(hits = warm.hits + 1))
      spark.read.parquet(s"${sf("sf0.001")}/customer.parquet").limit(10)
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
      graft.Core.load(spark, dir, "customer")
      assert(schema == warm.copy(hits = warm.hits + 1, supersedes = warm.supersedes + 1))
    } finally rm(new File(dir))
  }

  test("dataStamp's listStatus walk matches the listFiles fingerprint byte for byte") {
    Seq(1L, 2L, 3L, 4L, 5L).toDF("id").withColumn("p", $"id" % 2)
      .write.mode("overwrite").partitionBy("p").parquet(s"$stampDir/nested.parquet")
    assert(new File(s"$stampDir/nested.parquet/p=0").isDirectory)
    spark.range(3).write.mode("overwrite").parquet(s"$stampDir/flat.parquet")
    def reference(dir: String, tables: Seq[String]): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val conf = spark.sessionState.newHadoopConf()
      for (t <- tables.sorted) {
        val p = new org.apache.hadoop.fs.Path(s"$dir/$t.parquet")
        val fs = p.getFileSystem(conf)
        if (!fs.exists(p)) md.update(s"$t:missing\n".getBytes("UTF-8"))
        else {
          val it = fs.listFiles(p, true)
          val entries = scala.collection.mutable.ArrayBuffer.empty[String]
          while (it.hasNext) {
            val f = it.next()
            entries += s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}"
          }
          entries.sorted.foreach(e => md.update((e + "\n").getBytes("UTF-8")))
        }
      }
      new java.math.BigInteger(1, md.digest()).toString(36).take(12)
    }
    for (tables <- Seq(Seq("nested"), Seq("flat", "nested"), Seq("nested", "absent")))
      assert(LakeArtifact.dataStamp(spark, stampDir, tables) == reference(stampDir, tables),
        s"stamp of $tables drifted from the listFiles reference")
    val docs = Seq("documents", "embeddings")
    assert(LakeArtifact.dataStamp(spark, sf("sf0.001"), docs) == reference(sf("sf0.001"), docs))
  }
}
