package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

import graft.obs.Profiler

/** Profiles declared entries on a warm lake, one [[Profiler]] record each.
  *
  * Usage: `Test/runMain graft.Profile <sfDir>[,<sfDir>...] <entry...|all>
  * [--jobs] [--plan <outDir> <suffix>] [--ab k=v]`
  *
  * Per sfDir it runs Bench's setup steps, one line each, then times each
  * entry min-of-two as Bench does and prints one line from the second
  * run's record: wall, jobs, stages, tasks, input, shuffle records and
  * bytes, spill, task run, CPU and GC time, the generated classes
  * compiled and their compile time, and the failure's
  * `<class>: <message>` if the entry failed. A last line counts the
  * entries that ran and failed.
  *  - `all`: every declared entry, by name.
  *  - `--jobs`: the recorded run's jobs: each one's gap since the
  *    previous job ended, duration, stages, tasks, task run and CPU time
  *    and call site, then each stage's name and shuffle records.
  *  - `--plan <outDir> <suffix>`: also writes each entry's formatted
  *    plan to `<outDir>/<entry>_<suffix>.txt` (one sfDir only).
  *  - `--ab k=v`: instead of min-of-two, an interleaved same-JVM A/B
  *    over the runtime conf `k`: A is the session's value, B is `v`; one
  *    warm run each, then three rounds of A then B. Wall on this box
  *    swings between JVMs, so an A/B is only read within one.
  *
  * `SPARK_GRAFT_CPUS` sets the cores (default 4, Bench's, so records
  * compare with Bench's at the same cores). `SPARK_GRAFT_EXTRA_CONF=
  * "k=v,k2=v2"` adds session confs: e.g. `spark.graft.exact.maxRows=N`
  * makes the exact all-pairs anchors refuse at scale, and
  * `spark.graft.lake.factLayout.enabled=false` plans the raw-scan shapes.
  */
object Profile {
  private val usage = "usage: Test/runMain graft.Profile <sfDir>[,<sfDir>...] " +
    "<entry...|all> [--jobs] [--plan <outDir> <suffix>] [--ab k=v]"

  private final case class Opts(dirs: Seq[String], entries: Seq[String], jobs: Boolean = false,
                        plan: Option[(String, String)] = None,
                        ab: Option[(String, String)] = None)

  /** `k=v` pairs, comma-separated; anything else is refused. */
  private def pairs(s: String): Either[String, Seq[(String, String)]] = {
    val kvs = s.split(',').map(_.trim).filter(_.nonEmpty).toSeq.map(_.split("=", 2))
    kvs.find(_.length != 2) match {
      case Some(bad) => Left(s"not a k=v pair: '${bad.mkString}'")
      case None => Right(kvs.map(kv => kv(0) -> kv(1)))
    }
  }

  private def parse(args: Seq[String]): Either[String, Opts] = {
    def go(rest: Seq[String], o: Opts): Either[String, Opts] = rest match {
      case Seq() => Right(o)
      case "--jobs" +: t => go(t, o.copy(jobs = true))
      case "--plan" +: out +: suffix +: t => go(t, o.copy(plan = Some(out -> suffix)))
      case "--ab" +: kv +: t =>
        pairs(kv).flatMap {
          case Seq(p) => go(t, o.copy(ab = Some(p)))
          case _ => Left(s"--ab takes one k=v pair, got '$kv'")
        }
      case f +: _ if f.startsWith("--") => Left(s"unknown or incomplete option $f")
      case "all" +: t => go(t, o.copy(entries = o.entries ++ SparkEntry.queries.keys.toSeq.sorted))
      case e +: t => go(t, o.copy(entries = o.entries :+ e))
    }
    args match {
      case dirs +: rest =>
        go(rest, Opts(dirs.split(',').toSeq.filter(_.nonEmpty), Nil)).flatMap { o =>
          val unknown = o.entries.filterNot(SparkEntry.queries.contains)
          if (o.dirs.isEmpty || o.entries.isEmpty) Left("no sfDir or no entry")
          else if (unknown.nonEmpty) Left(s"unknown entries: ${unknown.mkString(", ")}")
          else if (o.plan.isDefined && o.dirs.size > 1) Left("--plan takes one sfDir")
          else Right(o.copy(entries = o.entries.distinct))
        }
      case _ => Left("no arguments")
    }
  }

  def main(args: Array[String]): Unit = {
    val parsed = for {
      o <- parse(args.toSeq)
      conf <- pairs(sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONF", ""))
    } yield (o, conf)
    val (o, conf) = parsed match {
      case Right(ok) => ok
      case Left(err) => System.err.println(s"[profile] $err\n$usage"); sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Core.localSession(cpus, "graft-profile", conf.toMap)
    try o.dirs.foreach(profileDir(spark, _, o, cpus))
    finally spark.stop()
  }

  private def line(name: String, wallS: Double, r: Profiler.Record): String = {
    val c = r.counters
    f"[profile] $name%-30s wall=$wallS%8.3f s jobs=${c.jobs}%4d stages=${c.stages}%4d " +
      f"tasks=${c.tasks}%6d input=${c.inputBytes / 1e6}%9.1f MB " +
      f"shufRecs=${c.shuffleRecords}%10d shufMB=${c.shuffleBytes / 1e6}%9.2f " +
      f"spillMB=${c.spillBytes / 1e6}%.1f taskRun=${c.taskRunMs}%7d ms " +
      f"cpu=${c.cpuMs}%7d ms gc=${r.gcMs}%5d ms compiles=${r.compiles}%4d " +
      f"compile=${r.compileMs}%6d ms failedTasks=${c.failedTasks} " +
      f"retries=${c.stageRetries}" + r.failure.fold("")(f => s" FAILED $f")
  }

  private def printJobs(r: Profiler.Record): Unit = {
    var prevEnd = r.startMs
    var gapMs = 0L
    var jobMs = 0L
    for (j <- r.jobs) {
      val gap = math.max(0L, j.startMs - prevEnd)
      val dur = if (j.endMs < 0) 0L else j.endMs - j.startMs
      gapMs += gap; jobMs += dur
      prevEnd = math.max(prevEnd, j.endMs)
      println(f"[profile]   job=${j.id}%5d gap=${gap / 1e3}%6.3f dur=${dur / 1e3}%7.3f " +
        f"stages=${j.stages.size}%3d tasks=${j.tasks}%5d taskRun=${j.taskRunMs}%6d ms " +
        f"cpu=${j.cpuMs}%6d ms  ${j.site.take(70)}")
      for (s <- j.stages)
        println(f"[profile]     stage=${s.id}%5d tasks=${s.tasks}%5d " +
          f"shufRecs=${s.shuffleRecords}%10d  ${s.name.take(70)}")
    }
    val tailMs = math.max(0L, r.startMs + (r.wallS * 1e3).toLong - prevEnd)
    println(f"[profile]   jobWall=${jobMs / 1e3}%.3f gapWall=${(gapMs + tailMs) / 1e3}%.3f " +
      f"of ${r.wallS}%.3f s")
  }

  private def writePlan(spark: SparkSession, dir: String, name: String,
                        outDir: String, suffix: String): Unit = {
    val out = Paths.get(outDir, s"${name}_$suffix.txt")
    Files.createDirectories(out.getParent)
    // a plan that fails to build is written as such, never left absent
    val text =
      try SparkEntry.queries(name)(spark, dir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      catch { case NonFatal(e) => s"PLAN BUILD FAILED: $e" }
    Files.write(out, text.getBytes("UTF-8"))
    println(s"[profile] wrote $out")
  }

  private def abRuns(spark: SparkSession, dir: String, name: String, k: String, v: String): Unit = {
    val a = spark.conf.getOption(k)
    def run(side: Option[String]): Profiler.Record = {
      side.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      Profiler.measure(spark)(SparkEntry.queries(name)(spark, dir).count())
    }
    try {
      run(a); run(Some(v)) // warm: caches and JIT for both code paths
      val rounds = Seq.fill(3)((run(a), run(Some(v))))
      for ((label, side, rs) <- Seq(("A", a, rounds.map(_._1)), ("B", Some(v), rounds.map(_._2)))) {
        val walls = rs.filterNot(_.failed).map(_.wallS)
        println(line(s"$name $label $k=${side.getOrElse("<unset>")}",
          walls.minOption.getOrElse(-1.0), rs.last) +
          " runs=" + rs.map(r => f"${r.wallS}%.3f").mkString(","))
      }
    } finally a.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  private def profileDir(spark: SparkSession, dir: String, o: Opts, cpus: Int): Unit = {
    println(s"[profile] === $dir cpus=$cpus")
    for ((name, f) <- Bench.setupSteps) {
      val r = Profiler.measure(spark)(f(spark, dir))
      println(line(name, r.wallS, r))
    }
    var failed = 0
    for (name <- o.entries) {
      o.plan.foreach { case (out, suffix) => writePlan(spark, dir, name, out, suffix) }
      o.ab match {
        case Some((k, v)) => abRuns(spark, dir, name, k, v)
        case None =>
          def run() = Profiler.measure(spark)(SparkEntry.queries(name)(spark, dir).count())
          val first = run()
          val r = run()
          first.failure.foreach(f => println(s"[profile] $name first run FAILED $f"))
          if (r.failed) failed += 1
          val walls = Seq(first, r).filterNot(_.failed).map(_.wallS)
          println(line(name, walls.minOption.getOrElse(r.wallS), r))
          if (o.jobs) printJobs(r)
      }
    }
    println(s"[profile] TOTAL $dir entries=${o.entries.size} failed=$failed")
  }
}
