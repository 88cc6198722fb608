package graft.obs

import scala.jdk.CollectionConverters._

import graft.SparkSpecBase

class ProfilerSpec extends SparkSpecBase {

  test("a measured shuffle reads exactly its records, and no barrier job, stage or task") {
    assert(Profiler.measure(spark)(()).counters == Profiler.Counters(),
      "an empty body must measure nothing: the barriers' own work is excluded")
    val r = Profiler.measure(spark)(spark.range(0, 10000, 1, 8).repartition(4).collect())
    assert(r.failure.isEmpty)
    assert(r.counters.shuffleRecords == 10000)
    assert(r.counters.jobs == r.jobs.size)
    assert(r.counters.stages == r.jobs.map(_.stages.size).sum)
    assert(r.counters.tasks == r.jobs.map(_.tasks).sum)
    assert(r.jobs.forall(_.endMs >= 0), "every job the body ran has ended at the barrier")
    assert(!r.jobs.flatMap(_.stages).exists(_.name.contains("Profiler.scala")),
      "a barrier stage leaked into the record")
  }

  test("back-to-back measures each see only their own records and jobs") {
    val a = Profiler.measure(spark)(spark.range(0, 1000, 1, 4).repartition(2).collect())
    val b = Profiler.measure(spark)(spark.range(0, 3000, 1, 4).repartition(2).collect())
    assert(a.counters.shuffleRecords == 1000)
    assert(b.counters.shuffleRecords == 3000)
    assert(a.jobs.nonEmpty && b.jobs.nonEmpty)
    assert(a.jobs.map(_.id).intersect(b.jobs.map(_.id)).isEmpty)
  }

  test("every job of an AQE write with a shuffle is named by the engine code that ran it") {
    val out = java.nio.file.Files.createTempDirectory("graft-prof").toString
    val r = Profiler.measure(spark)(
      spark.range(0, 10000, 1, 8).repartition(4).write.parquet(s"$out/t"))
    assert(r.failure.isEmpty)
    assert(r.jobs.size >= 2, s"a shuffle stage and a write: ${r.jobs.map(_.site)}")
    // AQE runs the shuffle stage as its own job with no description; its
    // row used to read `$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java`
    assert(r.jobs.forall(_.site.startsWith("graft.obs.ProfilerSpec")),
      s"job rows must name this call site: ${r.jobs.map(_.site).mkString(" | ")}")
    assert(r.jobs.forall(_.site.contains("ProfilerSpec.scala:")))
  }

  test("a repeated query compiles no class after 100+ others: the codegen cache holds a serving loop") {
    def query() = spark.range(0, 1000, 1, 4).selectExpr("id % 13 as k", "id * 7 as v")
      .groupBy("k").sum("v").collect().toSet
    val answer = query()
    // ~60 projections with distinct literals: each compiles its own
    // whole-stage class, cached once for the driver and once for the
    // task threads, which in local mode have another context classloader
    val others = Profiler.measure(spark)((1 to 60).foreach(i =>
      spark.range(0, 10, 1, 1).selectExpr(s"id * $i + ${i * 31} as x").collect()))
    assert(others.compiles > 100, s"the filler compiled only ${others.compiles} classes")
    val r = Profiler.measure(spark)(assert(query() == answer))
    assert(r.failure.isEmpty, r.failure.getOrElse(""))
    assert(r.compiles == 0,
      s"the re-run compiled ${r.compiles} classes in ${r.compileMs} ms: " +
        "spark.sql.codegen.cache.maxEntries no longer holds it")
  }

  test("a NonFatal failure is carried in the record as class: message") {
    val r = Profiler.measure(spark)(throw new IllegalStateException("x"))
    assert(r.failure.contains("java.lang.IllegalStateException: x"))
    assert(r.failed)
  }

  test("a fatal error propagates") {
    intercept[StackOverflowError](Profiler.measure(spark)(throw new StackOverflowError()))
  }

  test("install is idempotent: one profiler on the listener bus") {
    val sc = spark.sparkContext
    assert(Profiler.install(sc) eq Profiler.install(sc))
    // the bus's listener list is spark-private
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    val listeners = bus.getClass.getMethod("listeners").invoke(bus)
      .asInstanceOf[java.util.List[AnyRef]].asScala
    assert(listeners.count(_.isInstanceOf[Profiler]) == 1)
  }
}
