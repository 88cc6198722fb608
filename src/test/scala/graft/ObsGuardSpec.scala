package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** One instrumentation layer: `graft.obs.Profiler` is the only Spark
  * listener in `src/`, and the test tree keeps only the mains named
  * here, one reason each; a diagnostic is a `graft.Profile` mode, not a
  * new main with its own session and listener.
  */
class ObsGuardSpec extends AnyFunSuite {
  import LakeReadGuardSpec.sources

  private val mains: Map[String, String] = Map(
    "AnnInjectedMain" -> "AnnRuleSpec forks it: spark.sql.extensions is static and needs a fresh JVM",
    "ScaleGen" -> "generates the scaled fixtures the SCALE.md measurements run on",
    "Profile" -> "the one diagnostic main, over graft.obs.Profiler")

  private val listener = """\b(new|extends)\s+([\w.]+\.)?SparkListener\b|\baddSparkListener\b""".r
  private val mainDef = """\bdef\s+main\s*\(""".r
  private val self = "ObsGuardSpec.scala"

  /** `path:line` of every line in `dir` that `re` matches, this file aside. */
  private def hits(dir: String, re: scala.util.matching.Regex): Seq[(File, String)] =
    sources(new File(dir)).filter(_.getName != self).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toVector finally src.close()
      lines.zipWithIndex.collect { case (l, i) if re.findFirstIn(l).isDefined =>
        f -> s"${f.getPath}:${i + 1}" }
    }

  test("graft/obs/Profiler.scala is the only SparkListener in src/") {
    val found = hits("src", listener)
    assert(found.exists(_._1.getPath.endsWith("graft/obs/Profiler.scala")),
      "the scan found no listener at all: wrong working directory?")
    val stray = found.filterNot(_._1.getPath.endsWith("graft/obs/Profiler.scala"))
    assert(stray.isEmpty, "measure through graft.obs.Profiler instead of a new listener:\n" +
      stray.map("  " + _._2).mkString("\n"))
  }

  test("test-tree mains are the allowlisted ones, and every allowlist entry still names one") {
    val found = hits("src/test/scala", mainDef).map { case (f, at) => f.getName.stripSuffix(".scala") -> at }
    val stray = found.filterNot { case (name, _) => mains.contains(name) }
    assert(stray.isEmpty, "a diagnostic is a graft.Profile mode, not a new main:\n" +
      stray.map { case (n, at) => s"  $n at $at" }.mkString("\n"))
    val stale = mains.keySet -- found.map(_._1)
    assert(stale.isEmpty, s"allowlist entries with no main left: ${stale.mkString(", ")}")
  }
}
