package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** Every parquet read in `src/main/scala` goes through the pinned-schema
  * reads (`Core.load`, `LakeArtifact.read`): a bare `read.parquet(`
  * infers the schema with a footer job on every call.
  * The allowlist names the few reads of paths that no data or artifact
  * stamp covers, keyed `<file>.<enclosing def>`, one reason each.
  */
class LakeReadGuardSpec extends AnyFunSuite {
  import LakeReadGuardSpec.sources

  private val allowed: Map[String, String] = Map(
    "Core.load" -> "the pinned-schema read itself",
    "LakeArtifact.read" -> "a read inside a build, before the stamp lands: nothing to pin by",
    "Ingest.upsertBronze" -> "bronze upsert: a caller-supplied table that every upsert rewrites",
    "Ingest.compactBronze" -> "bronze compaction: a caller-supplied table the compaction rewrites",
    "PipelineOps.readMixState" -> "mix partials: per-batch partial dirs outside any artifact stamp",
    "Streams.dedupIngest" -> "gate batch=N read-back, with the schema of the frame just written",
    "Streams.dedupVecIngest" -> "gate batch=N read-back, with the schema of the frame just written")

  /** A parquet read: `read.parquet(`, `read.schema(..).parquet(`,
    * `read.format("parquet")` or `read.load(` (parquet is the default
    * source).
    */
  private val parquetRead =
    """\bread\s*(\.schema\([^)]*\))?\s*\.parquet\(|\bread\s*\.format\("parquet"\)|\bread\s*\.load\(""".r
  private val defLine = """^\s*(?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+)*def\s+(\w+)""".r

  /** `<file>.<enclosing def>` -> `path:line` of every parquet read. */
  private lazy val reads: Seq[(String, String)] =
    sources(new File("src/main/scala")).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toVector finally src.close()
      var enclosing = "<top>"
      lines.zipWithIndex.flatMap { case (l, i) =>
        defLine.findFirstMatchIn(l).foreach(m => enclosing = m.group(1))
        if (parquetRead.findFirstIn(l).isDefined)
          Some(s"${f.getName.stripSuffix(".scala")}.$enclosing" -> s"${f.getPath}:${i + 1}")
        else None
      }
    }

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
}

object LakeReadGuardSpec {
  /** Every `.scala` file under `d`. */
  def sources(d: File): Seq[File] =
    Option(d.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap { f =>
      if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }
}
