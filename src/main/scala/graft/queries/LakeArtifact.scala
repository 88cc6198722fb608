package graft.queries

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One persisted lake-artifact family on the build-once/serve-many
  * lifecycle (reference SearchIndexer, engine.py:72-98): the family
  * DECLARES its stamp name, the parquet tables it writes, the code
  * version that pins their semantics, the source tables whose bytes
  * they derive from, and where it lives; this combinator owns
  * everything else — the stamp, its currency check, the crash-safe
  * rebuild order, the ensure lock, the served-table memo and the
  * rebuild journal. No family touches a stamp file itself.
  *
  * Stamp content: `codeVersion` + `@` + the source-data fingerprint of
  * `inputs` (omitted when `inputs` is empty: a version-only stamp) +
  * the family's `dial` (a build parameter that changes the artifact's
  * layout, e.g. FactLayout's `;buckets=N`). Persisted as
  * `<path>/<name>.version`. An artifact is CURRENT iff every table's
  * parquet `_SUCCESS` marker exists (a crashed write leaves none) AND
  * the stored stamp equals the running code's stamp for the current
  * source bytes — so a version bump, a regenerated corpus or a crashed
  * build all read as non-current and rebuild through [[ensure]].
  *
  * Rebuild order (enforced here, nowhere else):
  *  1. capture the stamp BEFORE the build reads the source: if the
  *     source changes mid-build, the stamp still describes the data
  *     the artifact was built FROM and the next check rebuilds;
  *     re-computing it after the commit would fingerprint the NEW data
  *     over an artifact of the OLD data;
  *  2. clear the stamp: a rebuild can start while the old stamp is
  *     still current (e.g. a crashed compaction swap deleted a table's
  *     `_SUCCESS`), and a crash mid-rebuild must leave it non-current;
  *  3. build — the tables commit;
  *  4. write the declared `lineage` sidecar, if any (builders whose
  *     plan lineage is truncated by iteration checkpoints or typed
  *     kernels declare the truthful map instead);
  *  5. run the caller's `recover` hook (a streaming gate re-appending
  *     its admitted history — a rebuild re-derives the BASE only). It
  *     runs before the stamp, so a crash inside it leaves the artifact
  *     non-current and the next ensure rebuilds AND re-recovers; hooks
  *     must therefore be idempotent;
  *  6. write the stamp and journal the rebuild.
  */
private[graft] final case class LakeArtifact(
    name: String,
    tables: Seq[String],
    codeVersion: String,
    inputs: Seq[String],
    location: (String, String) => String,
    lineage: Map[String, Set[String]] = Map.empty,
    dial: (SparkSession, String) => String = (_, _) => "")(
    build: (SparkSession, String, String) => Unit) {
  import LakeArtifact._

  require(lineage.isEmpty || tables.size == 1,
    s"$name: a declared lineage map needs exactly one table")

  /** Lake directory of the artifact for source `dir` in namespace `ns`. */
  def path(dir: String, ns: String = ""): String = location(dir, ns)

  /** The stamp the running code expects for `dir`'s current source bytes. */
  def stamp(s: SparkSession, dir: String): String =
    codeVersion + (if (inputs.isEmpty) "" else "@" + dataStamp(s, dir, inputs)) + dial(s, dir)

  /** Stored stamp content, "" when absent — memo keys that must
    * invalidate on rebuild compare this, never cache it.
    */
  def storedStamp(s: SparkSession, dir: String, ns: String = ""): String = {
    val p = path(dir, ns)
    readStamp(LakeFs(s, p), p)
  }

  def current(s: SparkSession, dir: String, ns: String = ""): Boolean =
    isCurrent(s, path(dir, ns), stamp(s, dir))

  /** Build on first use, rebuild when non-current; returns the path and
    * whether it rebuilt. One stamp computation (a metadata listing of
    * the inputs) and one stamp read when current.
    */
  def ensure(s: SparkSession, dir: String, ns: String = "",
             recover: String => Unit = _ => ()): (String, Boolean) =
    lock.synchronized {
      val p = path(dir, ns)
      val st = stamp(s, dir)
      if (isCurrent(s, p, st)) (p, false)
      else { rebuildAt(s, dir, p, st, recover); (p, true) }
    }

  /** Unconditional rebuild (the `*_index_build` entries overwrite by
    * contract); returns the path.
    */
  def rebuild(s: SparkSession, dir: String, ns: String = "",
              recover: String => Unit = _ => ()): String =
    lock.synchronized {
      val p = path(dir, ns)
      rebuildAt(s, dir, p, stamp(s, dir), recover)
      p
    }

  private def rebuildAt(s: SparkSession, dir: String, p: String, st: String,
                        recover: String => Unit): Unit = {
    val fs = LakeFs(s, p)
    fs.delete(new Path(stampFile(p)), false)
    build(s, dir, p)
    if (lineage.nonEmpty) graft.plans.Lineage.writeSidecar(s, s"$p/${tables.head}.parquet", lineage)
    recover(p)
    LakeFs.writeText(fs, stampFile(p), st)
    // bounded: only the bench drains, so a long-lived non-bench JVM
    // (soak tests, REPL, streaming gates) would otherwise grow the
    // journal forever. 4096 >> any real run's rebuild count; overflow
    // drops oldest-first, which a draining bench never reaches
    while (journal.size >= 4096) journal.poll()
    journal.add(s"$name@$p")
  }

  /** One of this artifact's tables at `path`, its schema pinned as in
    * [[graft.Core.load]] but dialed by the STORED STAMP instead of a
    * data stamp: a gate append (same schema, new files) keeps the
    * inferred schema, a rebuild (stamp cleared, then rewritten)
    * re-infers. A read inside a build, before the stamp lands, has
    * nothing to pin by and infers. Appending a different schema into a
    * table is unsupported, as it was under single-footer inference.
    */
  def read(s: SparkSession, path: String, table: String): DataFrame = {
    val st = readStamp(LakeFs(s, path), path)
    if (st.isEmpty) s.read.parquet(s"$path/$table.parquet")
    else graft.Core.load(s, path, table, Nil, st)
  }

  /** Session-memoized SERVED small table (IVF centroids, PQ codebook):
    * every probe consumes the same few-hundred-row frame, and
    * re-opening the parquet per query (listing + fresh codegen) costs
    * more than the data — a real ANN server pins these next to the
    * index handle. A [[Frames]] entry dialed by the STORED STAMP, so a
    * rebuild can never serve stale geometry: a mismatched stamp drops
    * and re-reads.
    */
  def served(s: SparkSession, path: String, table: String): DataFrame =
    Frames.memo(s, path, s"served/$table", Nil, dials = readStamp(LakeFs(s, path), path)) {
      read(s, path, table).persist()
    }

  private def stampFile(path: String) = s"$path/$name.version"

  private def readStamp(fs: FileSystem, path: String): String =
    LakeFs.readText(fs, stampFile(path)).getOrElse("")

  private def isCurrent(s: SparkSession, path: String, st: String): Boolean = {
    val fs = LakeFs(s, path)
    tables.forall(t => fs.exists(new Path(s"$path/$t.parquet/_SUCCESS"))) &&
      readStamp(fs, path) == st
  }
}

private[graft] object LakeArtifact {

  /** Serializes every ensure/rebuild: families are ensured from the
    * bench's warm steps, from entry plan construction and from
    * streaming micro-batches, and one family's build may ensure its
    * parents (IVF-PQ ensures IVF and PQ) — the lock is re-entrant.
    * Builds look up [[Frames]] entries under it, so no entry lock may be
    * held while waiting for it (the lock-order rule in Frames).
    */
  private val lock = new Object

  /** Cheap SOURCE-DATA identity fingerprint: (file name, length, mtime)
    * of each file under the listed source tables, hashed. Metadata-only
    * — listing a table's files costs microseconds locally and is a
    * snapshot-id lookup under a real table format; no data scan.
    * Version-only stamps are blind to DATA drift — a regenerated corpus
    * under an unchanged code version would silently serve artifacts
    * built from the OLD corpus; with the fingerprint in the stamp,
    * changed source bytes (or even a touch) read as non-current.
    * Also the validity stamp of every [[Frames]] entry, so it is
    * computed once per memo lookup and must stay cheap.
    */
  private[queries] def dataStamp(s: SparkSession, dir: String, tables: Seq[String]): String = {
    // A missing table path is shouted (and folded in as "missing",
    // which still differs from any real listing) instead of passing
    // silently.
    val md = java.security.MessageDigest.getInstance("MD5")
    val fs = LakeFs(s, dir)
    for (t <- tables.sorted) {
      val p = new Path(s"$dir/$t.parquet")
      if (!fs.exists(p)) {
        System.err.println(
          s"[graft] dataStamp: source table path $p is missing — " +
            "the index fingerprint records it as absent; probes against " +
            "an index of previously-present data will rebuild")
        md.update(s"$t:missing\n".getBytes("UTF-8"))
      } else {
        LakeFs.files(fs, p)
          .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
          .sorted.foreach(e => md.update((e + "\n").getBytes("UTF-8")))
      }
    }
    new java.math.BigInteger(1, md.digest()).toString(36).take(12)
  }

  /** Rebuild journal: every rebuild ends in a stamp write, so this
    * queue records exactly which artifacts the current JVM rebuilt, as
    * `<name>@<path>` rows. The bench drains it after each setup step and
    * each entry and tags the rows with the step that paid the rebuild,
    * so a cold lake (stamp bump, fixture regen) is attributable at a
    * glance.
    */
  private val journal = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private[graft] def drainJournal(): Seq[String] =
    Iterator.continually(journal.poll()).takeWhile(_ != null).toList
}
