package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session constructor, [[harnessSession]]. Graft's
  * rules, planner strategy and SQL functions reach the session through
  * `spark.sql.extensions` ([[graft.plans.GraftExtensions]]) alone.
  */
object GraftSession {

  /** The session every runnable main (Tool, Verify, Bench, WeatherDemo),
    * the `perfbench` harness and the test suites build: ONE definition of
    * the config surface, so a targeted `Tool verify` or `Tool probe` run
    * and every test execute under exactly the session a full Bench sweep
    * uses — a config drift here would make targeted re-verification
    * silently meaningless.
    * `SPARK_GRAFT_CPUS` sizes both the master and the shuffle-partition
    * count. Every file the session makes (shuffle and spill files, the
    * warehouse of managed tables) lives under the scratch root
    * ([[graft.util.Scratch]]), and `file:` paths go through
    * [[graft.util.InProcessLocalFileSystem]] and
    * [[graft.util.InProcessLocalFs]], which set permissions and check
    * links without starting a child process.
    */
  def harnessSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions",
        classOf[graft.plans.GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", cpus)
      // shuffle/spill files follow the scratch root (guide §6): ephemeral
      // by definition, small-write-heavy, and the root is parameterized
      // (SPARK_GRAFT_SCRATCH) so a deployment points it at its fast local
      // disks — the default here prefers tmpfs over the virtual disk,
      // whose sync-write latency both slowed and devarianced every
      // state-commit-heavy gate (measured 16 vs 821 MB/s at 4k dsync)
      .config("spark.local.dir",
        graft.util.Scratch.dir("spark_local").toString)
      // managed tables (`saveAsTable`, e.g. Scale.writeBucketed) go to the
      // scratch root with the rest of the session's files, not into a
      // `spark-warehouse/` under whatever directory the process runs in
      .config("spark.sql.warehouse.dir",
        graft.util.Scratch.dir("spark_warehouse").toString)
      // `file:` paths without a child process per chmod or link check
      // (graft.util.LocalFs): the FileSystem key serves file sinks and
      // lake writes, the AbstractFileSystem key the FileContext every
      // streaming checkpoint commits through. Other schemes (HDFS,
      // object stores) never read these keys.
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.util.InProcessLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.util.InProcessLocalFs].getName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // checkpoint/state history retention: the default 100 batches
      // keeps commit/offset/state files for debugging long-lived jobs;
      // the gate queries run a handful of batches on throwaway scratch
      // checkpoints and restart only from the LATEST batch, so retaining
      // 2 is the recovery contract with less maintenance I/O per commit
      .config("spark.sql.streaming.minBatchesToRetain", "2")
      // ContextCleaner only reclaims checkpoint/broadcast/shuffle state
      // once the JVM garbage-collects the referencing objects; a 24g heap
      // under a 231-query sweep GCs so rarely that dead localCheckpoint
      // blocks pile up for hundreds of queries (default periodicGC is
      // 30min — longer than the whole sweep) and the tail of the sweep
      // runs against a storage-full block manager. 2min keeps reclamation
      // inside the sweep; long-lived production sessions want the same.
      .config("spark.cleaner.periodicGC.interval", "2min")
      // RocksDB state-store commits upload a full snapshot (zip + fsync
      // of every sst file, per store, per batch) by default — measured
      // (`Tool probe`, p_stream_join_rocks: 8 partitions × 4 join stores):
      // rocksdbCommitFileSyncLatencyMs was ~40% of summed commit time
      // and SnapshotLastUploaded advanced every batch. Changelog
      // checkpointing writes the batch's delta instead and defers
      // snapshots to background maintenance; recovery replays last
      // snapshot + changelogs, so exactly-once is unchanged. At real
      // state volume the per-batch upload grows with STATE SIZE while
      // the changelog grows with batch delta — this is the documented
      // production setting for any nontrivial RocksDB state, not a
      // local-mode tweak.
      .config("spark.sql.streaming.stateStore.rocksdb" +
        ".changelogCheckpointing.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
