package graft

import java.io.File
import java.nio.file.Files
import graft.queries._

/** Crash-safety contract of every lake-artifact family, one parametrized
  * case per family over a private copy of sf0.001 (its own lake dirs,
  * deleted afterwards). Each case shows that
  *  - a warm ensure returns rebuilt = false and journals nothing;
  *  - a fault after the tables commit and before the stamp (a throwing
  *    `recover` hook, on a stale stamp) leaves no stamp, and the next
  *    ensure rebuilds — running the hook on the rebuilt tables before
  *    the stamp lands — and journals exactly one row;
  *  - a `_SUCCESS` deleted under a CURRENT stamp followed by a fault
  *    leaves the stamp cleared, never current over a half-rebuilt
  *    artifact, and the next ensure rebuilds it.
  */
class LakeArtifactSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val src: String = copyOf(sf("sf0.001"), "graft-lakeartifact")

  private val ns = "faultspec"
  private val sentinel = 900901L

  private final case class Case(label: String, artifact: LakeArtifact, ns: String = "",
                                recover: String => Unit = _ => (),
                                verify: String => Unit = _ => ())

  private lazy val admitted =
    Seq((sentinel, "faultspec recovery sentinel tokens wholly unlike corpus text"))
      .toDF("doc_id", "text")

  // parents before dependants: the gate labels copy the base labels and
  // the namespaced mix state copies the base state
  private val cases = Seq(
    Case("sim", IndexOps.simIndex, ns,
      recover = p => IndexOps.appendToIndexAt(spark, p, admitted),
      verify = p => assert(spark.read.parquet(s"$p/sets.parquet")
        .filter($"sid" === sentinel).count() == 1,
        "the recovery append must be visible in the rebuilt index")),
    Case("vec", IndexOps.vecIndex, ns),
    Case("cluster labels", TextOps.labels),
    Case("gate labels", TextOps.gateLabelsArtifact, ns),
    Case("ivf", IvfIndex.ivfIndex),
    Case("pq", PqIndex.pqIndex),
    Case("ivfpq", PqIndex.ivfPqIndex),
    Case("emblabels", EmbedOps.embDedup),
    Case("embed_model", EmbedOps.embedModel),
    Case("mm fingerprints", ExtensibilityOps.mmFingerprints("image")),
    Case("lm state", PipelineOps.lmState),
    Case("mix state", PipelineOps.mixState),
    Case("namespaced mix state", PipelineOps.nsMixState, ns),
    Case("hll state", PipelineOps.hllState),
    Case("fact layout", FactLayout.artifact))

  private def boom(p: String): Unit = throw new IllegalStateException(s"injected fault at $p")

  for (c <- cases) test(s"${c.label}: warm ensure is silent; faults never leave a stamp") {
    val a = c.artifact
    val p = a.path(src, c.ns)
    val stampFile = new File(s"$p/${a.name}.version")
    def rows(): Seq[String] = LakeArtifact.drainJournal().filter(_.endsWith("@" + p))
    def committed: Boolean = a.tables.forall(t => new File(s"$p/$t.parquet/_SUCCESS").exists())

    a.ensure(spark, src, c.ns)
    LakeArtifact.drainJournal()
    // warm: current, no rebuild, nothing journaled
    assert(a.ensure(spark, src, c.ns) == ((p, false)))
    assert(rows().isEmpty, "a warm ensure must journal nothing")
    // stamp format: `version@fingerprint` (+ dial), version-only without inputs
    val stored = a.storedStamp(spark, src, c.ns)
    assert(stored == a.stamp(spark, src))
    if (a.inputs.isEmpty) assert(stored == a.codeVersion)
    else assert(stored.matches(java.util.regex.Pattern.quote(a.codeVersion) + "@[0-9a-z]{1,12}.*"))

    // a stale stamp (version bump), then a fault after the tables commit
    Files.write(stampFile.toPath, "obsolete".getBytes("UTF-8"))
    intercept[IllegalStateException](a.ensure(spark, src, c.ns, recover = boom))
    assert(committed, "the fault must come after the tables commit")
    assert(!stampFile.exists() && !a.current(spark, src, c.ns),
      "a fault before the stamp must leave no stamp")
    rows()

    // the next ensure rebuilds, runs recovery before the stamp, journals once
    var recovered = false
    val (_, rebuilt) = a.ensure(spark, src, c.ns, recover = q => {
      assert(q == p && committed && !stampFile.exists(), "recovery runs on committed, unstamped tables")
      c.recover(q)
      recovered = true
    })
    assert(rebuilt && recovered && a.current(spark, src, c.ns))
    assert(rows() == Seq(s"${a.name}@$p"))
    c.verify(p)

    // _SUCCESS lost under a CURRENT stamp (crashed compaction swap), then a fault
    assert(new File(s"$p/${a.tables.head}.parquet/_SUCCESS").delete())
    intercept[IllegalStateException](a.ensure(spark, src, c.ns, recover = boom))
    assert(!stampFile.exists(), "a rebuild under a current stamp must clear it first")
    assert(a.ensure(spark, src, c.ns)._2 && a.current(spark, src, c.ns),
      "the next ensure must rebuild to a servable state")
  }

  test("small lake files carry no .crc; a rewrite drops the one a checksummed write left") {
    val fs = LakeFs(spark, src)
    val p = s"$src/_probe.tsv"
    val crc = new File(s"$src/._probe.tsv.crc")
    // a checksummed create, as lineage sidecars were once written
    val out = fs.create(new org.apache.hadoop.fs.Path(p), true)
    try out.write("old".getBytes("UTF-8")) finally out.close()
    assert(crc.exists())
    LakeFs.writeText(fs, p, "new")
    assert(!crc.exists(), "a stale checksum would fail the next checked read")
    assert(LakeFs.readText(fs, p).contains("new"))
  }

  override def afterAll(): Unit = {
    for (c <- cases) rm(new File(c.artifact.path(src, c.ns)))
    // the fact layout registers its bucketed tables in the session catalog
    spark.catalog.listTables().collect().map(_.name).filter(_.contains("lakeartifact"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    rm(new File(src))
    super.afterAll()
  }
}
