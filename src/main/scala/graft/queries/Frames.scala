package graft.queries

import org.apache.spark.sql.{Dataset, SparkSession}

/** The session frame registry: every session-scoped shared frame and
  * driver-side model (postings, signatures, quantizers, the BPE merge
  * table, classifier weights, served lake tables, the pinned parquet
  * schema of every lake read) is built once per session through [[memo]]
  * and reused — the reference's build-once / serve-many index
  * (engine.py:72-98) applied inside a session.
  *
  * Key: (session, dir, name); `name` carries any call arguments
  * (`bandedSigs/w=8`). Validity: an entry is served while its stamp
  * still matches — the [[LakeArtifact.dataStamp]] of the source tables
  * it derives from (the same fingerprint that stamps lake artifacts),
  * `spark.sql.shuffle.partitions`, and the caller's `dials`. A source
  * rewritten in-session therefore rebuilds every memo built from it:
  * Spark's recacheByPath refreshes cached PLANS after an overwrite, but
  * never driver-side values (a merge table, a source dictionary,
  * classifier weights) or localCheckpoint-backed frames.
  *
  * Supersede: a lookup whose stamp differs releases the old value and
  * rebuilds, logging one `[graft] frames:` line — a consumer still
  * mid-job on the old frame stays correct (Spark recomputes an
  * unpersisted frame) but pays a recompute that must be attributable.
  *
  * Release: unpersists every DataFrame the value holds (one frame or a
  * tuple of frames); driver-side and localCheckpoint-backed values are
  * freed by dropping the reference (the ContextCleaner reclaims the
  * checkpoint blocks). [[release]] drops a whole session — the bench
  * calls it before stop, and a REPL or diagnostic calls it to force a
  * cold rebuild.
  *
  * Census: every lookup counts as a hit (served the held value), a
  * build (no value held: the first lookup, or one after a failed build)
  * or a supersede (rebuild over a mismatched stamp), per entry FAMILY — the name up to
  * its first `/` (`schema/documents` counts under `schema`). Read with
  * [[census]]; a session's counts go with its [[release]].
  *
  * Locking: each entry has its own build lock, so a racing caller waits
  * for the winner and reuses its value — nothing is built or persisted
  * twice — while builds of different entries never serialize each
  * other. The map itself is lock-free: no registry-wide lock is ever
  * held across a build, a Spark action or a `LakeArtifact.ensure`.
  * One lock-order rule: lake-artifact builds hold the ensure lock while
  * they look up entries (the signature, quantizer and token frames), so
  * an entry lock must never be held while waiting for it — a served
  * artifact read calls `ensure` BEFORE its memo lookup, and no memo
  * build ensures an artifact.
  */
private[graft] object Frames {

  private final class Entry {
    var stamp: String = _
    var value: Any = _
    var released = false
  }

  private val entries =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), Entry]

  /** Lookups of one entry family in one session. */
  final case class Census(hits: Long, builds: Long, supersedes: Long)

  private final class Counts {
    val hits, builds, supersedes = new java.util.concurrent.atomic.AtomicLong
  }

  private val counts =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Counts]

  private def countsOf(s: SparkSession, name: String): Counts =
    counts.getOrElseUpdate((s, name.takeWhile(_ != '/')), new Counts)

  def memo[A](s: SparkSession, dir: String, name: String, inputs: Seq[String],
              dials: String = "")(build: => A): A = {
    val stamp = (if (inputs.isEmpty) "" else LakeArtifact.dataStamp(s, dir, inputs)) +
      ";" + s.conf.get("spark.sql.shuffle.partitions", "") + ";" + dials
    val key = (s, dir, name)
    var out: Option[A] = None
    while (out.isEmpty) {
      val e = entries.getOrElseUpdate(key, new Entry)
      out = e.synchronized {
        // released between the map read and the lock: retry on the
        // fresh entry, so no value is ever built into an orphan
        if (e.released) None
        else {
          val c = countsOf(s, name)
          if (e.stamp == stamp) c.hits.incrementAndGet()
          else {
            if (e.stamp == null) c.builds.incrementAndGet()
            else {
              c.supersedes.incrementAndGet()
              System.err.println(
                s"[graft] frames: $name for $dir superseded (stamp ${e.stamp} -> $stamp) " +
                  "- any consumer mid-job on the old value recomputes it")
              unpersistAll(e.value)
            }
            // cleared first: a throwing build leaves an empty entry
            e.stamp = null
            e.value = null
            e.value = build
            e.stamp = stamp
          }
          Some(e.value.asInstanceOf[A])
        }
      }
    }
    out.get
  }

  /** Release every entry owned by `s`, waiting out any in-flight build,
    * and drop its census.
    */
  def release(s: SparkSession): Unit = {
    entries.keys.filter(_._1 eq s).foreach { k =>
      entries.remove(k).foreach { e =>
        e.synchronized {
          e.released = true
          unpersistAll(e.value)
          e.value = null
        }
      }
    }
    counts.keys.filter(_._1 eq s).foreach(counts.remove)
  }

  /** Hits, builds and supersedes of `s`'s lookups per entry family. */
  def census(s: SparkSession): Map[String, Census] =
    counts.collect { case ((o, family), c) if o eq s =>
      family -> Census(c.hits.get, c.builds.get, c.supersedes.get)
    }.toMap

  private def unpersistAll(v: Any): Unit = v match {
    case d: Dataset[_] => d.unpersist(); ()
    case (a, b) => unpersistAll(a); unpersistAll(b)
    case _ => ()
  }
}
