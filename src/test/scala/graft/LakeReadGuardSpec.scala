package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** Every parquet read in `src/main/scala` goes through the pinned-schema
  * reads (`Core.load`, `LakeArtifact.read`): a bare `read.parquet(`
  * infers the schema with a footer job on every call.
  * The allowlist names the few reads of paths that no data or artifact
  * stamp covers, keyed `<file>.<enclosing member>`, one reason each.
  * Likewise every lake file operation goes through `LakeFs`, the one
  * Hadoop `FileSystem` seam.
  */
class LakeReadGuardSpec extends AnyFunSuite {
  import LakeReadGuardSpec.{sites, sources}

  private val allowed: Map[String, String] = Map(
    "Core.load" -> "the pinned-schema read itself",
    "LakeArtifact.read" -> "a read inside a build, before the stamp lands: nothing to pin by",
    "Ingest.upsertBronze" -> "bronze upsert: a caller-supplied table that every upsert rewrites",
    "Ingest.compactBronze" -> "bronze compaction: a caller-supplied table the compaction rewrites",
    "PipelineOps.readMixState" -> "mix partials: per-batch partial dirs outside any artifact stamp")

  /** A parquet read: `read.parquet(`, `read.schema(..).parquet(`,
    * `read.format("parquet")` or `read.load(` (parquet is the default
    * source).
    */
  private val parquetRead =
    """\bread\s*(\.schema\([^)]*\))?\s*\.parquet\(|\bread\s*\.format\("parquet"\)|\bread\s*\.load\(""".r

  /** Every parquet read. */
  private lazy val reads: Seq[(String, String)] =
    sites(sources(new File("src/main/scala")))(parquetRead.findFirstIn(_).isDefined)

  test("every parquet read in src/main goes through the pinned-schema read or is allowlisted") {
    assert(reads.nonEmpty, "the scan found no parquet read at all: wrong working directory?")
    val stray = reads.filterNot { case (site, _) => allowed.contains(site) }
    assert(stray.isEmpty,
      "bare parquet reads infer the schema with a Spark job on every call; read through " +
        "Core.load or LakeArtifact.read instead:\n" +
        stray.map { case (site, at) => s"  $site at $at" }.mkString("\n"))
  }

  test("every allowlist entry still names a parquet read") {
    val stale = allowed.keySet -- reads.map(_._1)
    assert(stale.isEmpty, s"allowlist entries with no read left: ${stale.mkString(", ")}")
  }

  /** Local-file APIs allowed in the lake-touching packages outside the
    * lake filesystem seam (`LakeFs`), keyed like [[allowed]].
    */
  private val localFileAllowed: Map[String, String] = Map(
    "IndexOps.oracleArtifactBase" -> "DuckDB oracle: read_parquet needs a local absolute path",
    "ExtensibilityOps.mmDedupOracle" -> "DuckDB oracle: read_parquet needs a local absolute path",
    "ExtensibilityOps.mmDedupIncrementalOracle" ->
      "DuckDB oracle: read_parquet needs a local absolute path")

  private val localFileApi = """\bjava\.io\.File\b|\bjava\.nio\.file\b""".r

  /** Every `java.io.File`/`java.nio.file` use outside comments. */
  private lazy val localFileUses: Seq[(String, String)] =
    sites(Seq("queries", "streaming", "sources", "plans")
      .flatMap(pkg => sources(new File(s"src/main/scala/graft/$pkg")))
      .filterNot(_.getName == "LakeFs.scala")) { l =>
      val code = l.trim
      !code.startsWith("//") && !code.startsWith("*") && localFileApi.findFirstIn(l).isDefined
    }

  test("lake files are reached through LakeFs, not java.io.File or java.nio.file") {
    val stray = localFileUses.filterNot { case (site, _) => localFileAllowed.contains(site) }
    assert(stray.isEmpty,
      "a java.io/java.nio call finds nothing at a file: or s3a: lake URI; resolve the " +
        "Hadoop FileSystem through LakeFs instead:\n" +
        stray.map { case (site, at) => s"  $site at $at" }.mkString("\n"))
    val stale = localFileAllowed.keySet -- localFileUses.map(_._1)
    assert(stale.isEmpty, s"allowlist entries with no local-file use left: ${stale.mkString(", ")}")
  }
}

object LakeReadGuardSpec {
  /** A member of a top-level object or class: a `def` or `val` at two-space indent. */
  private val memberLine =
    """^  (?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|lazy\s+)*(?:def|val)\s+(\w+)""".r

  /** `<file>.<enclosing member>` -> `path:line` of every line of `files`
    * that `hit` accepts.
    */
  def sites(files: Seq[File])(hit: String => Boolean): Seq[(String, String)] =
    files.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toVector finally src.close()
      var enclosing = "<top>"
      lines.zipWithIndex.flatMap { case (l, i) =>
        memberLine.findFirstMatchIn(l).foreach(m => enclosing = m.group(1))
        if (hit(l)) Some(s"${f.getName.stripSuffix(".scala")}.$enclosing" -> s"${f.getPath}:${i + 1}")
        else None
      }
    }

  /** Every `.scala` file under `d`. */
  def sources(d: File): Seq[File] =
    Option(d.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap { f =>
      if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }
}
