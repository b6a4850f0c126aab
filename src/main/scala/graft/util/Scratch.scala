package graft.util

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}

/** Process-lifetime scratch directories: created under the scratch root
  * and recursively deleted at JVM exit, after the SparkContext stops.
  * Gate queries that stage files (streaming sources, export round-trips,
  * checkpoints) return lazy DataFrames still reading from these paths, so
  * deletion must wait for JVM exit — without the hook every `Tool
  * verify`/Bench sweep strands staged copies of the input tables in the
  * scratch filesystem.
  *
  * Root selection (spark_optimization_guide §6 — I/O layout): everything
  * written here is ephemeral per-process data (micro-batch checkpoints of
  * throwaway gate queries, staged copies of immutable fixtures, scratch
  * lake tables), and its write pattern is many small create+rename+fsync
  * commits — the workload a memory-backed filesystem serves ~50x faster
  * than a virtual disk (measured on this host: 4k dsync writes 16 MB/s on
  * /tmp ext4 vs 821 MB/s on /dev/shm; the drain/lifecycle gates inflated
  * 2.5-6x whenever the host disk was contended, with CPU steal at 0%).
  * So the root is, in priority order:
  *
  *   1. `SPARK_GRAFT_SCRATCH` — deployments choose the medium: durable
  *      storage where checkpoint survival across machine loss matters,
  *      fast local disk/ramdisk for throwaway analytics scratch;
  *   2. `/dev/shm` when present, writable AND holding at least
  *      [[MinTmpfsBytes]] of usable space (Linux tmpfs);
  *   3. `java.io.tmpdir` otherwise.
  *
  * SIZING CONSTRAINT (the tmpfs default is deliberate but not free):
  * tmpfs pages compete with the JVM heap and the OS page cache for the
  * same RAM, and a shuffle/spill volume that would survive on disk can
  * instead OOM-kill the host process. The default is only correct while
  * peak concurrent scratch volume (shuffle files + spill + staged
  * fixtures + state checkpoints) stays well under free RAM — point
  * `SPARK_GRAFT_SCRATCH` at a real fast disk when spill volume
  * approaches memory (see SCALE.md "Scratch medium sizing"). The chosen
  * root is logged once at first use so the choice is never silent.
  *
  * The per-process subdirectory keeps concurrent JVMs (sbt test forks,
  * a `Tool verify` beside a Bench) from colliding and makes the shutdown sweep
  * one recursive delete.
  */
object Scratch {

  /** Minimum usable space for the unconfigured tmpfs default: below
    * this, memory is already too tight for RAM-backed scratch to be a
    * sane silent choice and the fallback prefers the real-disk tmpdir.
    */
  private val MinTmpfsBytes: Long = 2L << 30

  /** Chosen scratch base + per-process subdir, created lazily. */
  lazy val root: Path = {
    val base = sys.env.get("SPARK_GRAFT_SCRATCH").map(Paths.get(_))
      .orElse {
        val shm = Paths.get("/dev/shm")
        if (Files.isDirectory(shm) && Files.isWritable(shm) &&
            (try Files.getFileStore(shm).getUsableSpace >= MinTmpfsBytes
             catch { case _: Throwable => false })) Some(shm)
        else None
      }
      .getOrElse(Paths.get(System.getProperty("java.io.tmpdir")))
    Files.createDirectories(base)
    val r = Files.createTempDirectory(base, "graft-scratch-")
    // never silent: tmpfs scratch trades RAM for I/O latency, and the
    // operator reading the logs should see which medium was picked
    System.err.println(s"[scratch] root=$r" +
      (if (!sys.env.contains("SPARK_GRAFT_SCRATCH") &&
          r.startsWith("/dev/shm"))
        " (tmpfs default: shuffle/spill competes with the heap for RAM —" +
          " set SPARK_GRAFT_SCRATCH to fast disk when spill volume" +
          " approaches free memory)"
      else ""))
    created.add(r)
    r
  }

  private val created = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  // Teardown runs in Spark's ordered shutdown sequence: a raw Runtime hook
  // runs concurrently with Spark's and could delete a checkpoint under a
  // state store that is still open. First, while the SparkContext is up,
  // stop the default session's streaming queries and close the state
  // stores; then, after the SparkContext has stopped, delete the roots.
  GraftBridge.addShutdownHook(GraftBridge.SparkContextShutdownPriority + 1) { () =>
    SparkSession.getDefaultSession.foreach(_.streams.active.foreach { q =>
      try q.stop() catch { case _: Throwable => () }
    })
    try GraftBridge.closeStateStores() catch { case _: Throwable => () }
  }
  GraftBridge.addShutdownHook(GraftBridge.TempDirShutdownPriority) { () =>
    created.forEach { p =>
      try deleteTree(p) catch { case _: Throwable => () }
    }
  }

  /** A fresh scratch directory, deleted (recursively) at JVM exit. */
  def dir(prefix: String): Path =
    Files.createTempDirectory(root, prefix)

  /** Write `df` as ONE parquet file at `stage/name` with the given mtime
    * — the staging primitive for multi-batch file-source gates
    * (`maxFilesPerTrigger=1` orders micro-batches by file mtime).
    */
  def stageParquetFile(df: DataFrame, stage: Path, name: String,
      mtimeMillis: Long): Unit = {
    val tmp = dir(s"graft_stage_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = new java.io.File(tmp.toString).listFiles()
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part file written under $tmp"))
    val dest = stage.resolve(name)
    Files.move(part.toPath, dest)
    Files.setLastModifiedTime(dest,
      java.nio.file.attribute.FileTime.fromMillis(mtimeMillis))
  }

  /** Recursive delete that does NOT follow symlinks: a link inside a
    * scratch dir pointing at real data (a future staging optimization)
    * must have the LINK removed, never the target's contents. Public —
    * also the stale-output cleaner for `Tool verify`.
    */
  def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val s = Files.list(p)
      try s.forEach(deleteTree(_)) finally s.close()
    }
    Files.deleteIfExists(p)
  }
}
