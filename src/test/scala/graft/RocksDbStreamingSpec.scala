package graft

/** The stateful-streaming config matrix (r15 verdict ask #5): the same
  * restart-recovery and state-bound cases StreamingSpec proves against
  * the default HDFS-backed in-memory state store, re-run under the
  * RocksDB provider — the spill-to-disk store the 100 TB streaming
  * story actually deploys (per-executor state outgrows heap long before
  * the lake does; RocksDB keeps hot state off-heap and checkpoints by
  * uploading SST snapshots). Same semantics contract both ways: byte-
  * equal recovered state; only the provider moves. The provider is a
  * session conf consumed at QUERY START, so it's set around each case
  * and restored after (suites share one JVM-wide session).
  */
class RocksDbStreamingSpec extends SparkSpecBase with StreamRestartCases {

  override protected def providerSuffix: String = "rocksdb"

  private val key = "spark.sql.streaming.stateStore.providerClass"
  private val rocks =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def withRocksDb[T](f: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, rocks)
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("RocksDB: mapGroupsWithState accumulates across batches") {
    withRocksDb(statefulAccumulateCase())
  }

  test("RocksDB: heavy-hitter sketches stay bounded with cross-batch carry") {
    withRocksDb(heavyHittersBoundCase())
  }

  test("RocksDB: killed heavy-hitters query restarts from the checkpoint (and the state files ARE RocksDB's)") {
    withRocksDb {
      val ckpt = heavyHittersRestartCase()
      // prove the provider actually engaged: RocksDB checkpoints state
      // as .zip/.changelog snapshot files, never the HDFS provider's
      // .delta files
      val stateRoot = new java.io.File(s"$ckpt/state")
      val names = filesUnder(stateRoot).map(_.getName)
      assert(names.exists(n => n.endsWith(".zip") || n.endsWith(".changelog")),
        s"no RocksDB snapshot files under $stateRoot: $names")
      assert(!names.exists(_.endsWith(".delta")),
        s"HDFS-provider .delta files present — RocksDB did not engage: $names")
    }
  }

  test("RocksDB: killed upsert query restarts from the checkpoint") {
    withRocksDb(upsertRestartCase())
  }

  test("RocksDB: killed mix-state (MV) query restarts from the checkpoint") {
    withRocksDb(mixStateRestartCase())
  }

  // r16 verdict ask #5: the remaining per-user long-state recursions —
  // cusum (flatMapGroupsWithState Page recursion vs the batch oracle)
  // and attribution (capped view buffer + cross-batch purchase credit)
  // — complete the matrix: every mapGroupsWithState /
  // flatMapGroupsWithState entry now runs under both providers.
  test("RocksDB: stream_cusum equals the batch replay across batches") {
    withRocksDb(cusumBatchParityCase())
  }

  test("RocksDB: stream_attribution credits match the batch formula across batches") {
    withRocksDb(attributionCrossBatchCase())
  }

  test("RocksDB: changelog checkpointing recovers a killed query (and writes .changelog files)") {
    // the incremental-checkpoint mode a long-running deployment turns
    // on so each commit uploads a key-delta changelog instead of a
    // full SST snapshot — restart-recovery must hold there too, and
    // the checkpoint must actually contain changelog files
    val clKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prev = spark.conf.getOption(clKey)
    spark.conf.set(clKey, "true")
    try withRocksDb {
      val ckpt = heavyHittersRestartCase()
      val stateRoot = new java.io.File(s"$ckpt/state")
      val names = filesUnder(stateRoot).map(_.getName)
      assert(names.exists(_.endsWith(".changelog")),
        s"changelog checkpointing did not engage under $stateRoot: $names")
    } finally prev match {
      case Some(v) => spark.conf.set(clKey, v)
      case None    => spark.conf.unset(clKey)
    }
  }
}
