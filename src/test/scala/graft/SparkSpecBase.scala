package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all specs: the mains' session at small
  * parallelism, AQE on (the prod default). One session per suite keeps
  * sbt test wall-clock bounded.
  */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Core.localSession(4, getClass.getSimpleName)

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

  /** (test-name suffix, spelling) of the forms of a local lake dir that
    * every lake API accepts: the plain path and its `file:` URI.
    */
  val lakeDirForms: Seq[(String, String => String)] = Seq(
    "" -> ((p: String) => p),
    " (file: URI lake dir)" -> ((p: String) => s"file://$p"))

  /** Every file under `f`; `f` itself when it is not a directory. */
  def filesUnder(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq.flatMap(filesUnder)
    else Seq(f)

  /** Delete a file or a directory tree. */
  def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
    f.delete(); ()
  }

  /** (table, scan) for every file scan in `df`'s executed plan — the
    * adaptive plan's stages and subqueries included — named by its
    * relation's root path (`<table>.parquet` → table), as
    * PlanGuard.batchBoundViolations names them. The plan string cuts a
    * scan's Location at spark.sql.maxMetadataStringLength, so a file
    * name read from it depends on how long the checkout path is.
    */
  def scannedRoots(df: org.apache.spark.sql.DataFrame)
      : Seq[(String, org.apache.spark.sql.execution.FileSourceScanExec)] =
    graft.plans.PlanGuard.nodes(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.getName.stripSuffix(".parquet") -> f)
    }.flatten.toSeq

  /** Spark jobs launched while `f` runs, by the profiler's barriers. */
  def jobsDuring(f: => Any): Int = {
    val r = graft.obs.Profiler.measure(spark)(f)
    assert(r.failure.isEmpty, r.failure.getOrElse(""))
    r.counters.jobs.toInt
  }

  override def afterAll(): Unit = {
    // deliberately do NOT stop the shared session: sbt forks one JVM for
    // the whole test run and suites share it.
    super.afterAll()
  }
}
