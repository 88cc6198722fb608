package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import graft.queries.{Frames, IndexOps}
import graft.streaming.Streams

/** Lake reads pin their schema, on a private copy of sf0.001: a table's
  * parquet schema is inferred once per data stamp (`Core.load`) or per
  * stored artifact stamp (`LakeArtifact.read`), never by a footer job on
  * every read.
  *  - a warm `load`, analyzed and planned, launches no job;
  *  - an in-session rewrite with a new column type re-infers, and the
  *    entries answer as on a fresh directory holding the rewrite;
  *  - a parquet schema conf move re-infers;
  *  - a gate's appended index rows are read with the pinned schema.
  */
class LakeReadSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val pristine: String = copyOf(sf("sf0.001"), "graft-lakeread-pristine")
  private lazy val live: String = copyOf(sf("sf0.001"), "graft-lakeread-live")
  private lazy val fresh: String = copyOf(sf("sf0.001"), "graft-lakeread-fresh")
  private lazy val gateLake: String = Files.createTempDirectory("graft-lakeread-gate").toString
  private val gate = "admitted"

  override def afterAll(): Unit = {
    Frames.release(spark)
    Streams.dropGate(spark, pristine, gateLake, gate)
    for (d <- Seq(pristine, live, fresh)) { rm(new File(IndexOps.indexDir(d))); rm(new File(d)) }
    rm(new File(gateLake))
    super.afterAll()
  }

  /** Jobs to analyze and plan `df` — a parquet scan plans without any. */
  private def planJobs(df: => DataFrame): Int = jobsDuring(df.queryExecution.executedPlan)

  test("a warm Core.load launches no job") {
    planJobs(Core.load(spark, pristine, "customer"))
    assert(planJobs(Core.load(spark, pristine, "customer")) == 0,
      "a second load of an unchanged table must not re-infer its schema")
  }

  test("an in-session rewrite with doc_id cast to int re-infers: entries equal a fresh run") {
    def answer(entry: String, dir: String) = {
      val df = SparkEntry.queries(entry)(spark, dir)
      (df.schema, df.collect().map(_.toString).toSeq)
    }
    val entries = Seq("dedup_exact", "text_token_count", "text_lang_id")
    entries.foreach(answer(_, live))
    assert(Core.load(spark, live, "documents").schema("doc_id").dataType == LongType)
    val drifted = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
      .withColumn("doc_id", col("doc_id").cast("int"))
    for (d <- Seq(live, fresh))
      drifted.coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    assert(Core.load(spark, live, "documents").schema("doc_id").dataType == IntegerType,
      "a table rewritten in place must be re-inferred on its next load")
    for (e <- entries)
      assert(answer(e, live) == answer(e, fresh),
        s"$e after an in-session rewrite must equal the fresh-directory answer")
  }

  test("flipping nanosAsLong re-infers events") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.get(key)
    planJobs(Core.load(spark, pristine, "events"))
    assert(planJobs(Core.load(spark, pristine, "events")) == 0)
    try {
      spark.conf.set(key, (!prev.toBoolean).toString)
      assert(planJobs(Core.load(spark, pristine, "events")) == 1,
        "a schema conf move must re-infer with one footer job")
      assert(planJobs(Core.load(spark, pristine, "events")) == 0)
    } finally spark.conf.set(key, prev)
    assert(planJobs(Core.load(spark, pristine, "events")) == 1)
  }

  test("after a gate micro-batch the pinned read of the gate's sets counts the admitted rows") {
    implicit val sc = spark.sqlContext
    val ns = Streams.gateNamespace(gateLake, gate)
    val path = IndexOps.ensureIndexStatus(spark, pristine, ns)._1
    val before = IndexOps.simIndex.read(spark, path, "sets").count()
    val in = MemoryStream[(Long, String)]
    val q = Streams.dedupIngest(in.toDF().toDF("doc_id", "text"), pristine, gateLake, gate)
    try {
      in.addData((70001L, "zzqx wvut ponm lkji hgfe dcba"), (70002L, "qqzz aabb ccdd eeff gghh iijj"))
      q.processAllAvailable()
    } finally q.stop()
    val admitted = Core.load(spark, gateLake, gate).select($"doc_id").as[Long].collect().toSet
    assert(admitted == Set(70001L, 70002L))
    var sets: DataFrame = null
    assert(planJobs { sets = IndexOps.simIndex.read(spark, path, "sets"); sets } == 0,
      "an append keeps the artifact's stamp, so its pinned schema serves without inference")
    assert(sets.count() == before + admitted.size)
  }
}
