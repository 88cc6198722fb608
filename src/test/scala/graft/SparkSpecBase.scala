package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all specs: small parallelism, UTC, AQE on
  * (the prod default). One session per suite keeps sbt test wall-clock
  * bounded.
  */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // serving conf for the index probes' In-pushdown (see Bench)
    .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def sf(dir: String): String = s"/root/testdata/$dir"

  /** A private copy of `from` in a new temp dir named by `prefix`. */
  def copyOf(from: String, prefix: String): String = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix)
    val src = new java.io.File(from).toPath
    java.nio.file.Files.walk(src).forEach { p =>
      val to = tmp.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(to)
      else java.nio.file.Files.copy(p, to)
    }
    tmp.toString
  }

  /** Delete a file or a directory tree. */
  def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
    f.delete(); ()
  }

  /** Spark jobs launched while `f` runs. A listener records job starts
    * until a sentinel job, run after `f`, arrives: the listener bus
    * delivers in order, so every job `f` launched is counted and none
    * after it.
    */
  def jobsDuring(f: => Any): Int = {
    val sc = spark.sparkContext
    val sentinel = s"jobs-sentinel-${java.util.UUID.randomUUID}"
    val started = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        started.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
        ()
      }
    }
    sc.addSparkListener(listener)
    try {
      f
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      Iterator.continually(started.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .map(d => { assert(d != null, "the sentinel job never reached the listener"); d })
        .takeWhile(_ != sentinel).size
    } finally sc.removeSparkListener(listener)
  }

  override def afterAll(): Unit = {
    // deliberately do NOT stop the shared session: sbt forks one JVM for
    // the whole test run and suites share it.
    super.afterAll()
  }
}
