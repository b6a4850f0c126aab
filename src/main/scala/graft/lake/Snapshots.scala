package graft.lake

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Manifest-based SNAPSHOT ISOLATION + TIME TRAVEL for a parquet table —
  * the mechanism under every lakehouse table format (Delta/Iceberg/Hudi),
  * reduced to its core: data files are immutable and append-only; each
  * version is a MANIFEST listing exactly the files visible at that
  * version; a manifest is published with an atomic hard-link creation
  * (single-winner: a concurrent append fails LOUDLY instead of silently
  * replacing the other writer's version), so readers either see a
  * complete version or the previous one, never a torn state. `read(version = N)` pins N's manifest and reproduces that
  * version's content bit-for-bit forever — concurrent appends cannot
  * perturb a running query, and yesterday's training run is re-readable
  * for audits/repro regardless of what landed since.
  *
  * Scale shape: an append writes only ITS files plus one manifest (cost ∝
  * delta, never table size — the new manifest references the old files,
  * it does not copy them); a versioned read plans a normal parquet scan
  * over the manifest's file list, so pushdown/pruning/AQE all apply
  * unchanged. Production swaps the `java.nio` calls for the Hadoop
  * FileSystem API (same atomic-rename contract on HDFS; object stores
  * need the format's log-based commit instead — exactly why Delta has
  * one) and adds manifest compaction past ~10⁵ files. The normal
  * deployment is the reference's single archiver (`Weather-Monitoring`'s
  * central station owns its archive directory — see SURVEY §3.1), but a
  * racing second writer is DETECTED, not absorbed: publication is
  * single-winner, and the loser re-runs its read-and-publish from a
  * fresh `latestVersion` — the optimistic-concurrency loop the
  * production formats run ([[occRetry]]) — except an [[append]] pinned
  * to an `expectedVersion`, which gets the explicit conflict error.
  */
object Snapshots {

  private def manifestDir(table: String): Path =
    Paths.get(table, "_manifests")

  /** Latest published version, 0 when the table is empty. */
  def latestVersion(table: String): Int = {
    val md = manifestDir(table)
    if (!Files.isDirectory(md)) return 0
    val s = Files.list(md)
    try s.iterator().asScala
      .map(_.getFileName.toString)
      .collect { case n if n.startsWith("v") && n.endsWith(".list") =>
        n.stripPrefix("v").stripSuffix(".list").toInt }
      .foldLeft(0)(math.max)
    finally s.close()
  }

  private def manifestLines(table: String, version: Int): Seq[String] = {
    val m = manifestDir(table).resolve(s"v$version.list")
    require(Files.exists(m), s"no such version $version in $table")
    Files.readAllLines(m).asScala.toSeq.filter(_.nonEmpty)
  }

  private def manifestFiles(table: String, version: Int): Seq[String] =
    manifestLines(table, version).filterNot(_.startsWith("#"))

  // --- per-file column statistics (the data-skipping substrate) -------

  /** Stats recorded for one column of one data file: min/max rendered
    * through `CAST(x AS STRING)` (None for an all-null file) plus the
    * null count — enough to answer "could this file contain a row
    * matching the predicate?" without opening it.
    */
  case class ColStat(min: Option[String], max: Option[String], nulls: Long)

  /** Per-file statistics line from a manifest: file path (manifest-
    * relative), row count, and per-column [[ColStat]]s.
    */
  case class FileStat(file: String, rows: Long, cols: Map[String, ColStat])

  /** Columns tracked in per-file stats: the orderable scalar types whose
    * min/max a comparison predicate can act on. Nested/array/binary
    * columns are untracked — files stay un-prunable on them, which is
    * conservative, never wrong.
    */
  private def statFields(schema: StructType): Seq[StructField] =
    schema.fields.toSeq.filter(f => f.dataType match {
      case _: NumericType | StringType | DateType | TimestampType |
           BooleanType => true
      case _ => false
    })

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")

  /** Column reference robust to names a bare `col(name)` would
    * mis-parse as nested-field access (dots) or break on (backticks).
    */
  private def qcol(name: String): org.apache.spark.sql.Column =
    col("`" + name.replace("`", "``") + "`")

  /** Render one stat value for the manifest. Timestamps are stored as
    * epoch MICROS, not `CAST(ts AS STRING)`: the string render (and its
    * re-parse in [[pruneFiles]]) goes through
    * `spark.sql.session.timeZone` at call time, so a zone change
    * between publish and prune would shift the reconstructed interval
    * by the offset and let pruning prove "no match" for a file that
    * HAS matching rows — the one failure mode an answer-preserving
    * skipper must never have. Epoch micros round-trip zone-free (the
    * Delta/Iceberg convention); [[decodeStat]] is the inverse.
    */
  private def encodeStat(dt: org.apache.spark.sql.types.DataType,
      agg: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    dt match {
      case TimestampType => unix_micros(agg).cast("string")
      case _ => agg.cast("string")
    }

  /** Stats-format version this code WRITES. v2 = timestamps as epoch
    * micros; v1 (the pre-marker format, no `#statsv=` header) rendered
    * timestamps through `CAST(ts AS STRING)` in the publisher's session
    * zone. The marker lets [[decodeStat]] pick the right inverse per
    * manifest instead of silently NULL-casting a legacy
    * `yyyy-MM-dd HH:mm:ss` render to long — which would coalesce the
    * interval test to false and prune files that DO contain matches.
    */
  private val StatsFormatVersion = 2

  /** Stats format of `version`'s manifest: the `#statsv=` header, or 1
    * for a manifest that predates the marker.
    */
  def statsVersion(table: String, version: Int): Int =
    manifestLines(table, version).collectFirst {
      case l if l.startsWith("#statsv=") => l.stripPrefix("#statsv=").toInt
    }.getOrElse(1)

  /** Inverse of [[encodeStat]]: reconstruct a typed bound from its
    * manifest string — zone-free epoch micros for v2+ timestamps, the
    * legacy session-zone string render for v1 manifests (parsed under
    * the CURRENT session zone; graft pins UTC everywhere, and
    * [[possibility]]'s undecodable guard keeps the file whenever a
    * non-null raw fails to parse, so a zone-shifted legacy bound can
    * widen the kept set but never prune a matching file).
    */
  private def decodeStat(raw: org.apache.spark.sql.Column,
      dt: org.apache.spark.sql.types.DataType,
      statsv: Int): org.apache.spark.sql.Column =
    dt match {
      // try-variants, not plain casts: under ANSI (Spark 4 default) a
      // mis-formatted bound must surface as NULL for the undecodable
      // guard to catch, not throw mid-prune
      case TimestampType if statsv >= 2 =>
        timestamp_micros(raw.try_cast("long"))
      // v1 covers two disjoint legacy renders: the session-zone string
      // (`yyyy-MM-dd HH:mm:ss[.SSS]`, which try_to_timestamp parses) and
      // the unmarked epoch-micros era — manifests written by the micros
      // encoder just before the #statsv header existed (a bare integer
      // string, which try_to_timestamp yields NULL on). Decoding both
      // recovers pruning for the unmarked-micros era; the renders can't
      // collide (one has separators, the other is all digits), so this
      // can never mis-decode a bound into a wrong prune
      case TimestampType =>
        coalesce(try_to_timestamp(raw),
          timestamp_micros(raw.try_cast("long")))
      case _ => raw.try_cast(dt.sql)
    }

  private def statsLines(table: String, version: Int): Seq[String] =
    manifestLines(table, version).filter(_.startsWith("#stats="))
  private def statsRelOf(line: String): String =
    line.stripPrefix("#stats=").takeWhile(_ != '|')

  /** Compute `#stats=` header lines for freshly written delta files in
    * ONE grouped aggregation (min/max/nulls per tracked column, grouped
    * by `input_file_name`), plus the delta's total row count. The
    * collect is ∝ delta FILE count — bounded commit-log metadata, the
    * same class as the manifest write itself, never data-sized.
    */
  private def deltaStats(spark: SparkSession, table: String,
      fresh: Seq[String]): (Seq[String], Long) = {
    if (fresh.isEmpty) return (Seq.empty, 0L)
    val bySuffix = fresh.map(rel =>
      rel.split('/').takeRight(2).mkString("/") -> rel).toMap
    val df = spark.read.parquet(
      fresh.map(f => Paths.get(table).resolve(f).toString): _*)
    val cols = statFields(df.schema)
    val aggs = Seq(count(lit(1)).as("__rows")) ++ cols.flatMap { f =>
      Seq(encodeStat(f.dataType, min(qcol(f.name))).as(s"m0_${f.name}"),
        encodeStat(f.dataType, max(qcol(f.name))).as(s"m1_${f.name}"),
        sum(when(qcol(f.name).isNull, 1L).otherwise(0L))
          .as(s"nn_${f.name}"))
    }
    val perFile = df.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()                                // ∝ delta file count
    val entries = perFile.toSeq.map { r =>
      val rel = bySuffix(r.getString(0).split('/').takeRight(2)
        .mkString("/"))
      val n = r.getLong(r.fieldIndex("__rows"))
      val parts = cols.map { f =>
        val mn = Option(r.getString(r.fieldIndex(s"m0_${f.name}")))
        val mx = Option(r.getString(r.fieldIndex(s"m1_${f.name}")))
        val nulls = r.getLong(r.fieldIndex(s"nn_${f.name}"))
        Seq(b64(f.name), mn.map(b64).getOrElse("-"),
          mx.map(b64).getOrElse("-"), nulls.toString).mkString(":")
      }
      (s"#stats=$rel|$n|" + parts.mkString("|"), n)
    }
    (entries.map(_._1).sorted, entries.map(_._2).sum)
  }

  /** Parse `version`'s per-file stats. Files published before stats
    * existed simply have no entry — [[pruneFiles]] keeps them
    * unconditionally.
    */
  def fileStats(table: String, version: Int): Seq[FileStat] =
    fileStatsOf(manifestLines(table, version))

  private def fileStatsOf(lines: Seq[String]): Seq[FileStat] =
    lines.filter(_.startsWith("#stats=")).map { l =>
      val parts = l.stripPrefix("#stats=").split('|')
      val cols = parts.drop(2).filter(_.nonEmpty).map { p =>
        val Array(c, mn, mx, nn) = p.split(':')
        unb64(c) -> ColStat(
          if (mn == "-") None else Some(unb64(mn)),
          if (mx == "-") None else Some(unb64(mx)), nn.toLong)
      }.toMap
      FileStat(parts(0), parts(1).toLong, cols)
    }

  /** Operation kind that produced `version`: "append", "rewrite", or
    * "delete". Recorded as a `#op=` header line in the manifest; a
    * header-less manifest (pre-header table) reads as "append".
    */
  def opKind(table: String, version: Int): String =
    opKindOpt(table, version).getOrElse("append")

  /** [[opKind]] without the "append" default: None for a header-less
    * manifest (published by pre-header code), where the operation that
    * produced the version is genuinely UNKNOWN. Consumers whose
    * correctness depends on the kind (the change feed's span guard)
    * must use this form — defaulting an unknown rewrite/delete to
    * "append" would let the manifest set-difference double-count every
    * republished row as an add.
    */
  def opKindOpt(table: String, version: Int): Option[String] =
    manifestLines(table, version).collectFirst {
      case l if l.startsWith("#op=") =>
        l.stripPrefix("#op=").takeWhile(_ != '|')
    }

  /** The SQL predicate a `delete` version removed, None otherwise.
    * Stored base64-encoded in the manifest header so the change feed
    * can replay exactly which rows a version erased.
    */
  def deletePredicate(table: String, version: Int): Option[String] =
    manifestLines(table, version).collectFirst {
      case l if l.startsWith("#op=delete|") =>
        new String(java.util.Base64.getDecoder.decode(
          l.stripPrefix("#op=delete|")), "UTF-8")
    }

  /** Append `df` as a new version; returns the published version number.
    * The data lands under a version-unique subdirectory first; the
    * manifest (old files + new files) is staged to a temp name and
    * published last via atomic hard-link creation — the publish point.
    *
    * `expectedVersion` is the compare-and-swap handle: pass the version
    * your read/transform was based on and the append fails if anyone
    * published past it in the meantime (otherwise the new version could
    * silently NOT include a concurrent append's rows in downstream
    * diffs). Omitted, the append chains onto whatever is latest at entry
    * — publication is still single-winner either way.
    */
  def append(df: DataFrame, table: String,
      expectedVersion: Option[Int] = None): Int =
    publish(df, table, expectedVersion, carryForward = true)

  /** Content-preserving REWRITE — the OPTIMIZE step of the lifecycle:
    * republish the latest version's content as `targetFiles` fresh
    * files under a new version whose manifest references ONLY them.
    * The read answer is unchanged (bit-for-bit the previous version's
    * rows); what changes is PROVENANCE — later versions no longer
    * reference the old small files, which is precisely what makes
    * [[vacuum]] able to reclaim them. Cost ∝ live table size, run it
    * when small-file count (not data) is the problem. A rewrite that
    * loses its CAS to a concurrent ingest re-reads from scratch
    * ([[occRetry]]): it must republish the LATEST content, so retrying
    * from the stale read would drop the winner's rows.
    */
  def rewrite(spark: SparkSession, table: String,
      targetFiles: Int = 1): Int = occRetry {
    val current = latestVersion(table)
    require(current > 0, s"table $table has no published versions")
    publish(read(spark, table, Some(current)).coalesce(targetFiles),
      table, Some(current), carryForward = false)
  }

  /** Retention VACUUM — physically delete data files referenced ONLY by
    * versions before `retainFrom`, plus those versions' manifests.
    * Safety is set arithmetic, not bookkeeping: the keep-set is the
    * union of every retained manifest's file list, so a file shared
    * with any retained version survives no matter how many expired
    * manifests also list it (append-only chains share everything —
    * vacuum only reclaims what a [[rewrite]] orphaned). Time travel to
    * expired versions fails loudly afterwards ("no such version") —
    * the retention contract every lakehouse format documents. Returns
    * `(dataFilesDeleted, versionsExpired)`.
    */
  def vacuum(table: String, retainFrom: Int): (Int, Int) = {
    val latest = latestVersion(table)
    require(retainFrom >= 1 && retainFrom <= latest,
      s"retainFrom must be in [1, $latest]: $retainFrom")
    val keep = (retainFrom to latest)
      .flatMap(manifestFiles(table, _)).toSet
    val expired = (1 until retainFrom)
      .filter(v => Files.exists(manifestDir(table).resolve(s"v$v.list")))
    val doomed = expired.flatMap(manifestFiles(table, _)).toSet -- keep
    doomed.foreach { rel =>
      Files.deleteIfExists(Paths.get(table).resolve(rel))
    }
    // manifests list only parquet files, so a fully reclaimed version
    // directory still holds writer residue (_SUCCESS, .crc sidecars) —
    // sweep any version dir whose parquet content is gone, or repeated
    // rewrite+vacuum cycles accumulate one orphan dir per version
    doomed.map(rel => Paths.get(table).resolve(rel).getParent).foreach {
      dir =>
        if (Files.isDirectory(dir)) {
          val left = Files.list(dir)
          val names =
            try {
              val b = scala.collection.mutable.ArrayBuffer[Path]()
              left.iterator().forEachRemaining(p => b += p)
              b.toSeq
            } finally left.close()
          if (!names.exists(_.getFileName.toString.endsWith(".parquet"))) {
            names.foreach(Files.deleteIfExists(_))
            Files.deleteIfExists(dir)
          }
        }
    }
    expired.foreach { v =>
      Files.deleteIfExists(manifestDir(table).resolve(s"v$v.list"))
    }
    (doomed.size, expired.size)
  }

  private def publish(df: DataFrame, table: String,
      expectedVersion: Option[Int], carryForward: Boolean,
      extraHeaders: Seq[String] = Nil): Int = {
    val current = expectedVersion.getOrElse(latestVersion(table))
    require(current >= 0, s"expectedVersion must be >= 0: $current")
    val next = current + 1
    val (sub, fresh) = writeData(df, table, next)
    // commit-log stats, the production pattern (Delta's commitInfo /
    // Iceberg's snapshot summary + per-file min/max): computed over the
    // WRITTEN delta files, not the input plan — delta-sized cost, and
    // the numbers describe what actually landed even if the input was
    // nondeterministic. Carried files keep their original stats lines
    // (immutable files, immutable stats).
    val (statHdrs, rows) = deltaStats(df.sparkSession, table, fresh)
    // ONE read of the current manifest for both the carried file list
    // and the carried stats lines: the manifest grows with the table's
    // file count, so every publication at 10^5-file scale was paying
    // the read twice (the pruneFiles single-read precedent)
    val curLines = if (current == 0 || !carryForward) Seq.empty[String]
                   else manifestLines(table, current)
    val carried = curLines.filterNot(_.startsWith("#"))
    val carriedSet = carried.toSet
    val carriedStats =
      if (carried.isEmpty) Seq.empty[String]
      else curLines.filter(_.startsWith("#stats="))
        .filter(l => carriedSet(statsRelOf(l)))
    val all = carried ++ fresh
    val op = if (carryForward) "append" else "rewrite"
    publishManifest(table, next,
      (s"#op=$op" +: s"#rows=$rows" +: s"#statsv=$StatsFormatVersion" +:
        (extraHeaders ++ carriedStats ++ statHdrs)) ++ all, Seq(sub))
  }

  /** Rows written into `version`'s own fresh files (from the `#rows=`
    * commit-stat header), -1 for manifests published before the header
    * existed. For an append this is the delta row count; for a
    * rewrite/delete it is the republished file content.
    */
  def rowsWritten(table: String, version: Int): Long =
    manifestLines(table, version).collectFirst {
      case l if l.startsWith("#rows=") => l.stripPrefix("#rows=").toLong
    }.getOrElse(-1L)

  /** Highest streaming batch id ever published into `table`, walking
    * back from the latest version until an ingest (`#batch=`-headed)
    * manifest is found — maintenance versions (rewrite/vacuum/delete)
    * interleave without batch headers and must not mask the high-water
    * mark. Cost ∝ versions since the last ingest, not table size.
    */
  def lastBatchId(table: String): Option[Long] = {
    var v = latestVersion(table)
    while (v > 0) {
      val b = manifestLines(table, v).collectFirst {
        case l if l.startsWith("#batch=") => l.stripPrefix("#batch=").toLong
      }
      if (b.isDefined) return b
      v -= 1
    }
    None
  }

  /** EXACTLY-ONCE streaming append — the foreachBatch contract: publish
    * `df` as a new version whose manifest records `batchId`, unless a
    * version with this (or a later) batch id is already published, in
    * which case the call is a NO-OP returning None. Spark re-delivers a
    * micro-batch under the SAME batch id when the sink failed before
    * the checkpoint committed, so idempotence on batch id is exactly
    * what turns at-least-once delivery into an exactly-once table.
    * The publish itself is the CAS hard-link, run under [[occRetry]] —
    * the commit protocol every lakehouse runs when ingest races
    * maintenance (Delta's conflict-detection-and-retry, Iceberg's commit
    * loop): a lost CAS re-checks the high-water mark (a racing duplicate
    * delivery of this id degrades to the no-op) and otherwise re-reads
    * the new latest version and re-attempts, because an append COMMUTES
    * with any content-preserving rewrite (the delta rows are new either
    * way). Losers clean up their staged files before retrying
    * (publishManifest deletes the owned subdirectory on EEXIST), so
    * retries never leak data files.
    */
  def appendBatch(df: DataFrame, table: String,
      batchId: Long): Option[Int] = occRetry {
    if (lastBatchId(table).exists(_ >= batchId)) None
    else {
      val cur = latestVersion(table)
      try Some(publish(df, table, Some(cur), carryForward = true,
        extraHeaders = Seq(s"#batch=$batchId")))
      catch {
        case e: IllegalStateException =>
          if (lastBatchId(table).exists(_ >= batchId)) None else throw e
      }
    }
  }

  /** The lake's one streaming sink: drains `stream` with
    * `Trigger.AvailableNow` (what is there now, then stop — a caller can
    * stage more input and re-enter with the SAME `checkpoint`, a restart
    * that must resume exactly past the published batches) and publishes
    * each micro-batch's `delta(batch)` through [[appendBatch]], so
    * Structured Streaming's at-least-once foreachBatch delivery degrades
    * to an exactly-once table against the commit log's batch-id
    * high-water mark (no reconciliation scan). A batch must be published
    * now or already sit at or under the mark (Spark redelivers under
    * the same id after a crash between publish and checkpoint commit),
    * and each batch DELIVERS ITSELF ONCE MORE — the sink-failed-after-
    * publish retry — which must no-op. `delta` is the batch's transform
    * into table rows (identity, an index layout, a backfill's
    * reconciliation); it runs once per batch.
    */
  def streamAppend(stream: DataFrame, table: String, checkpoint: String)(
      delta: DataFrame => DataFrame): Unit =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val rows = delta(batch)
        require(appendBatch(rows, table, bid).isDefined ||
          lastBatchId(table).exists(_ >= bid), s"batch $bid was not published")
        require(appendBatch(rows, table, bid).isEmpty,
          s"duplicate batch $bid published twice")
        ()
      }
      .start()
      .awaitTermination()

  /** Attempts of the OCC retry loop before a conflict surfaces. */
  private val OccAttempts = 32

  /** THE optimistic-concurrency retry loop of every table-maintaining
    * writer ([[appendBatch]], [[rewrite]], [[rewriteClustered]],
    * [[zorderRewriteN]]): a lost publication CAS
    * (`IllegalStateException`) re-runs `attempt` from scratch —
    * re-reading the new latest version — up to [[OccAttempts]] times,
    * and the last attempt runs unguarded so its conflict surfaces.
    * Bounded attempts keep a livelock loud instead of silent. Only
    * [[append]] with an explicit `expectedVersion` reports a lost CAS
    * to its caller: that handle pins what the caller read.
    */
  private def occRetry[T](attempt: => T): T = {
    var n = 1
    while (n < OccAttempts) {
      try return attempt
      catch { case _: IllegalStateException => n += 1 }
    }
    attempt
  }

  /** Content-preserving CLUSTERED rewrite — [[rewrite]] that re-RANGES
    * instead of coalescing: republish the latest version's rows
    * range-partitioned (and within-partition sorted) on `cols`, so
    * each fresh file covers a contiguous band of the clustering key
    * and its manifest min/max stay tight. This is the compaction an
    * index-shaped lake table needs: after row-level deletes fragment a
    * bucket-banded layout ([[delete]] swaps affected files for
    * survivor files whose bands the delete predicate chose, not the
    * index key), a plain coalescing [[rewrite]] would merge unrelated
    * bands into wide-interval files and destroy the probe-side file
    * skipping — this one restores it. Same OCC publication and retry,
    * same bit-for-bit content contract; cost ∝ live table (one range
    * shuffle), the OPTIMIZE bill.
    */
  def rewriteClustered(spark: SparkSession, table: String,
      cols: Seq[String], targetFiles: Int): Int = occRetry {
    require(cols.nonEmpty, "rewriteClustered needs at least one column")
    val current = latestVersion(table)
    require(current > 0, s"table $table has no published versions")
    publish(
      read(spark, table, Some(current))
        .repartitionByRange(targetFiles, cols.map(qcol): _*)
        .sortWithinPartitions(cols.map(qcol): _*),
      table, Some(current), carryForward = false)
  }

  /** Multi-dimensional clustering REWRITE — the write side of
    * `OPTIMIZE ZORDER BY (colA, colB)`: republish the latest version's
    * content (bit-for-bit, the [[rewrite]] contract) laid out along the
    * Z-curve over two columns, so the manifest's per-file min/max stats
    * prune range predicates on EITHER dimension afterwards — the layout
    * [[pruneFiles]] exploits, produced by the engine from an arbitrarily
    * clustered table instead of constructed by a fixture.
    *
    * Mechanism: each column is normalized to a `2^bits`-tile grid from
    * its live min/max (one 4-scalar aggregate), the tiles interleave
    * through [[graft.functions.ZOrderCode]] (codegen'd Morton code),
    * and the rows `repartitionByRange` on the code into `targetFiles`
    * output files — contiguous Z-ranges per file, which is what makes
    * BOTH dims' per-file intervals tight — then sort within partitions
    * on the code so parquet row-group stats inherit the same locality.
    * Null/constant dimensions park on tile 0 (a null has no position;
    * any fixed tile preserves answers and keeps stats truthful).
    *
    * At 100 TB: cost ∝ live table — ONE range-shuffle + rewrite, the
    * same bill `OPTIMIZE ZORDER` pays (the range partitioner's sample
    * pass replaces a global sort); production runs it per partition on
    * a cadence, not per query. Min/max tile normalization (the
    * default) is skew-sensitive — a hot value crowds one tile;
    * `quantileTiles = true` switches to equi-DEPTH tiles from one
    * `approx_percentile` pass per column (2^bits quantile cuts,
    * kilobytes to the driver), so every tile holds ~equal rows no
    * matter the distribution — same interleave, same publication path,
    * one extra corpus aggregate. Returns the new version.
    */
  def zorderRewrite(spark: SparkSession, table: String,
      colA: String, colB: String, targetFiles: Int = 4,
      bits: Int = 8, quantileTiles: Boolean = false): Int =
    zorderRewriteN(spark, table, Seq(colA, colB), targetFiles, bits,
      quantileTiles)

  /** [[zorderRewrite]] over ANY number of dimensions (the full
    * `OPTIMIZE ZORDER BY (c1, ..., cn)` arity): same tile
    * normalization per column, interleaved through the n-ary
    * [[graft.functions.ZOrderCodeN]] Morton code (bit-identical to the
    * 2-dim form at n = 2). `n · bits` must fit a long, so wide
    * clusterings trade per-dim resolution: n = 2 → 8 bits/dim default,
    * n = 6 → 10 bits/dim max. More dims also dilute each dim's
    * locality (the curse the Z-curve inherits) — 2–4 is the practical
    * production range, same guidance as Delta's. A lost publication
    * race re-reads the (new) latest version and re-tiles ([[occRetry]]):
    * min/max and layout are recomputed against what actually won.
    */
  def zorderRewriteN(spark: SparkSession, table: String,
      cols: Seq[String], targetFiles: Int = 4,
      bits: Int = 8, quantileTiles: Boolean = false): Int = occRetry {
    require(cols.size >= 2, s"z-order needs >= 2 columns, got ${cols.size}")
    val current = latestVersion(table)
    require(current > 0, s"table $table has no published versions")
    val df = read(spark, table, Some(current))
    def minmaxTile(name: String, mnIdx: Int,
        r: org.apache.spark.sql.Row): org.apache.spark.sql.Column = {
      if (r.isNullAt(mnIdx) || r.isNullAt(mnIdx + 1)) return lit(0L)
      val (mn, mx) = (r.getDouble(mnIdx), r.getDouble(mnIdx + 1))
      if (!(mx > mn)) return lit(0L) // constant column: one tile
      // values land in [0, 2^bits]; ZOrderCode saturates the top edge
      coalesce(
        floor((qcol(name).cast("double") - mn) / (mx - mn) * (1L << bits))
          .cast("long"),
        lit(0L))
    }
    // equi-depth tile: index of the first quantile cut >= value (binary
    // search over the 2^bits-1 interior cuts, broadcast as a sorted
    // literal array; duplicate cuts from a hot value collapse adjacent
    // tiles onto it, which is exactly equi-depth's answer to skew)
    def quantileTile(name: String,
        cuts: Array[Double]): org.apache.spark.sql.Column =
      if (cuts.isEmpty || cuts.forall(_ == cuts(0))) lit(0L)
      else {
        val arr = typedLit(cuts.toSeq)
        coalesce(
          aggregate(arr, lit(0L), (acc, cut) =>
            acc + when(qcol(name).cast("double") > cut, lit(1L))
              .otherwise(lit(0L))),
          lit(0L))
      }
    val tiles =
      if (quantileTiles) {
        val nCuts = (1 << bits) - 1
        val cutsSql = (1 to nCuts)
          .map(i => (i.toDouble / (1 << bits)).toString)
          .mkString("array(", ",", ")")
        def pct(c: String) =
          expr("approx_percentile(CAST(`" + c.replace("`", "``") +
            "` AS DOUBLE), " + cutsSql + ")")
        val r = df.agg(pct(cols.head), cols.tail.map(pct): _*).head
        def cutsOf(i: Int): Array[Double] =
          if (r.isNullAt(i)) Array.empty
          else r.getSeq[Double](i).toArray
        cols.zipWithIndex.map { case (c, i) => quantileTile(c, cutsOf(i)) }
      } else {
        val aggs = cols.flatMap(c => Seq(
          min(qcol(c)).cast("double"), max(qcol(c)).cast("double")))
        val r = df.agg(aggs.head, aggs.tail: _*).head
        cols.zipWithIndex.map { case (c, i) => minmaxTile(c, 2 * i, r) }
      }
    val zkey =
      if (cols.size == 2)
        graft.functions.ZOrderCode.zorder_code(tiles(0), tiles(1), bits)
      else
        graft.functions.ZOrderCode.zorder_code_n(tiles, bits)
    publish(
      df.withColumn("__zorder", zkey)
        .repartitionByRange(targetFiles, col("__zorder"))
        .sortWithinPartitions(col("__zorder"))
        .drop("__zorder"),
      table, Some(current), carryForward = false)
  }

  /** Commit history — DESCRIBE HISTORY for the snapshot table: one row
    * per version with the op kind, file count, delta row count, and the
    * ingest batch id where one was recorded. Reads only manifests
    * (headers + file-list length), never data.
    */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    // ONE manifest read per version: op kind, file count, row count and
    // batch id all come from the same lines — the per-header helpers
    // each re-read the file, which at 10^5-file manifests makes the
    // history scan 4x more I/O than the data it returns
    (1 to latestVersion(table)).map { v =>
      val lines = manifestLines(table, v)
      def hdr(p: String): Option[String] = lines.collectFirst {
        case l if l.startsWith(p) => l.stripPrefix(p)
      }
      (v,
        hdr("#op=").map(_.takeWhile(_ != '|')).getOrElse("append"),
        lines.count(!_.startsWith("#")).toLong,
        hdr("#rows=").map(_.toLong).getOrElse(-1L),
        hdr("#batch=").map(_.toLong))
    }.toDF("version", "op", "n_files", "rows_written", "batch_id")
  }

  /** Write `df`'s rows as version-`next`-unique fresh files; returns the
    * data subdirectory name and the manifest-relative file paths.
    */
  private def writeData(df: DataFrame, table: String,
      next: Int): (String, Seq[String]) = {
    val dataDir = Paths.get(table, "data")
    Files.createDirectories(dataDir)
    Files.createDirectories(manifestDir(table))
    val sub = s"v$next-${java.util.UUID.randomUUID().toString.take(8)}"
    df.write.parquet(dataDir.resolve(sub).toString)
    val s = Files.list(dataDir.resolve(sub))
    val fresh =
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSeq.sorted
        .map(f => s"data/$sub/$f")
      finally s.close()
    (sub, fresh)
  }

  /** CAS publication point: stage the manifest lines to a temp name,
    * publish via atomic hard-link creation. Hard-link, not rename:
    * rename(2) silently REPLACES an existing target, so two racing
    * writers would both "succeed" and one version would vanish; link(2)
    * fails with EEXIST atomically, making publication single-winner.
    * The loser's staged tmp AND its freshly written data subdirectories
    * (`ownedSubs`) are removed — without the data cleanup, lost-race
    * parquet is referenced by no manifest ever, so vacuum's
    * manifest-set arithmetic can never reclaim it and retries leak disk
    * invisibly. The conflict then surfaces as an error the caller
    * retries from a fresh `latestVersion` (the optimistic-concurrency
    * loop production formats run).
    */
  private def publishManifest(table: String, next: Int,
      lines: Seq[String], ownedSubs: Seq[String]): Int = {
    val tmp = manifestDir(table).resolve(
      s"v$next-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    Files.write(tmp, lines.mkString("\n").getBytes("UTF-8"))
    val target = manifestDir(table).resolve(s"v$next.list")
    try Files.createLink(target, tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        ownedSubs.foreach(sub => graft.util.Scratch.deleteTree(
          Paths.get(table, "data").resolve(sub)))
        throw new IllegalStateException(
          s"concurrent append lost the race for version $next of $table" +
            " — re-read latestVersion and retry")
    }
    Files.deleteIfExists(tmp)
    next
  }

  /** Row-level DELETE — the GDPR/compliance path: publish a new version
    * whose manifest swaps every file CONTAINING a matching row for a
    * rewritten copy holding only that file's surviving rows; untouched
    * files carry forward by reference. Cost ∝ matching files, never
    * table size: the affected-file scan reads only the predicate's
    * columns (pushdown applies), and only affected files are rewritten.
    * The predicate is recorded in the manifest header so
    * [[readDeletes]] can replay exactly which rows this version erased.
    * Time travel to pre-delete versions still serves the deleted rows
    * until [[vacuum]] physically reclaims the swapped-out files —
    * retention policy, not the delete, is what erases bytes (same
    * contract as Delta/Iceberg).
    *
    * A predicate matching nothing still publishes a version (same file
    * list, op recorded) — compliance wants the attempt in the log.
    * Returns the published version.
    */
  def delete(spark: SparkSession, table: String, predicate: String,
      expectedVersion: Option[Int] = None): Int = {
    import org.apache.spark.sql.functions.{col, expr, input_file_name}
    val current = expectedVersion.getOrElse(latestVersion(table))
    require(current > 0, s"table $table has no published versions")
    val next = current + 1
    val files = manifestFiles(table, current)
    // manifest-relative path keyed by its version-unique "sub/name"
    // suffix — input_file_name() returns a URI whose prefix varies by
    // filesystem, but the last two segments are unique by construction
    val bySuffix = files.map(rel =>
      rel.split('/').takeRight(2).mkString("/") -> rel).toMap
    val abs = files.map(rel => Paths.get(table).resolve(rel).toString)
    val affected = spark.read.parquet(abs: _*)
      .filter(expr(predicate))
      .select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0))                // ∝ file count, bounded
      .map(uri => bySuffix(uri.split('/').takeRight(2).mkString("/")))
      .toSet
    val header = "#op=delete|" + java.util.Base64.getEncoder
      .encodeToString(predicate.getBytes("UTF-8"))
    if (affected.isEmpty)
      return publishManifest(table, next,
        Seq(header, "#rows=0") ++ statsLines(table, current) ++ files,
        Seq.empty)
    val keepAbs = affected.toSeq.sorted
      .map(rel => Paths.get(table).resolve(rel).toString)
    val survivors = spark.read.parquet(keepAbs: _*)
      .filter(!expr(predicate) || expr(predicate).isNull)
    val (sub, fresh) = writeData(survivors, table, next)
    val (statHdrs, rows) = deltaStats(spark, table, fresh)
    val keptFiles = files.filterNot(affected)
    val keptSet = keptFiles.toSet
    val keptStats =
      statsLines(table, current).filter(l => keptSet(statsRelOf(l)))
    val all = keptFiles ++ fresh
    publishManifest(table, next,
      Seq(header, s"#rows=$rows") ++ keptStats ++ statHdrs ++ all,
      Seq(sub))
  }

  /** Rows a `delete` version REMOVED — the deletion side of the change
    * feed: re-read the files the delete swapped OUT of the manifest
    * (cost ∝ affected files) and filter by the predicate the manifest
    * recorded. Incremental consumers apply [[readChanges]] for adds and
    * this for retractions.
    */
  def readDeletes(spark: SparkSession, table: String,
      version: Int): DataFrame = {
    import org.apache.spark.sql.functions.expr
    require(opKind(table, version) == "delete",
      s"v$version of $table is a ${opKind(table, version)}, not a delete")
    val pred = deletePredicate(table, version).get
    val removed = manifestFiles(table, version - 1).toSet --
      manifestFiles(table, version).toSet
    val base = read(spark, table, Some(version))
    if (removed.isEmpty) return base.limit(0).filter(expr(pred))
    spark.read.parquet(removed.toSeq.sorted
        .map(rel => Paths.get(table).resolve(rel).toString): _*)
      .filter(expr(pred))
  }

  /** Read the table at `version` (default: latest). The returned frame is
    * pinned to that version's manifest — later appends never change it.
    */
  def read(spark: SparkSession, table: String,
      version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(latestVersion(table))
    require(v > 0, s"table $table has no published versions")
    val paths = manifestFiles(table, v)
      .map(rel => Paths.get(table).resolve(rel).toString)
    spark.read.parquet(paths: _*)
  }

  /** Rows ADDED between `fromVersion` (exclusive) and `toVersion`
    * (inclusive) — the change-data-feed read ("give me what landed since
    * my last sync") that turns the snapshot log into an incremental
    * pipeline source. Because data files are immutable and appends only
    * ever ADD manifest entries, the delta is exactly the manifest set
    * difference — computed from two manifest reads, no data scan, then
    * planned as a normal parquet scan over only the delta files. A
    * downstream consumer at 100 TB reads ∝ what changed, never the
    * table.
    */
  def readChanges(spark: SparkSession, table: String,
      fromVersion: Int, toVersion: Int): DataFrame = {
    require(fromVersion >= 0 && toVersion > fromVersion,
      s"need 0 <= from < to, got $fromVersion..$toVersion")
    // the manifest-set-difference delta is only the ADDED rows when
    // every version in the span is an append: a rewrite republishes the
    // whole table as fresh files (the difference would double-count
    // every pre-existing row as "new"), and a delete's rewritten
    // survivor files would likewise surface as adds. Fail with the
    // span's first offending version instead of silently over-reporting
    // — the consumer re-syncs from a post-rewrite baseline.
    ((fromVersion + 1) to toVersion).foreach { v =>
      // header-less manifests (pre-header publishers) are UNKNOWN, not
      // appends: a rewrite published by old code would pass an
      // append-defaulting guard and double-count every republished row
      val op = opKindOpt(table, v)
      require(op.contains("append"),
        s"change-feed span v$fromVersion..v$toVersion of $table crosses" +
          s" a ${op.getOrElse("version of unknown kind (header-less " +
            "manifest; rewrite the table once to re-baseline)")} at v$v" +
          s" — re-baseline the consumer at v$v instead")
    }
    val before =
      if (fromVersion == 0) Set.empty[String]
      else manifestFiles(table, fromVersion).toSet
    val added = manifestFiles(table, toVersion).filterNot(before)
    // a genuinely empty delta (appends of zero files) is an answer, not
    // an error: an incremental consumer polling an idle table expects
    // an empty frame with the table's schema
    if (added.isEmpty) return read(spark, table, Some(toVersion)).limit(0)
    spark.read.parquet(
      added.map(rel => Paths.get(table).resolve(rel).toString): _*)
  }

  // --- data skipping ---------------------------------------------------

  /** Files of `version` that COULD contain rows matching `predicate`,
    * decided purely from the manifest's per-file min/max/null stats —
    * Delta/Iceberg-style DATA SKIPPING: at 100 TB the win is that
    * skipping happens at PLAN time from commit-log arithmetic, before a
    * single data byte is opened, and composes with (runs ahead of) the
    * row-group pruning parquet itself does.
    *
    * Conservative by construction: a file is dropped only when the
    * rewritten predicate PROVES no row can match — files without stats
    * (pre-stats manifests), columns outside the tracked set, and
    * predicate shapes the rewriter doesn't understand all KEEP the file.
    * The possibility check is evaluated by Spark itself over a
    * file-count-sized stats frame (one job, distributes past 10⁶
    * files), reusing Spark's own cast/comparison semantics so the
    * stats-vs-literal comparison can never disagree with the real scan's
    * filter. Returns `(kept, allFiles)` in manifest order.
    */
  def pruneFiles(spark: SparkSession, table: String, predicate: String,
      version: Option[Int] = None): (Seq[String], Seq[String]) = {
    val v = version.getOrElse(latestVersion(table))
    // one manifest read serves files + stats + format version — a second
    // manifestLines pass per prune is pure redundant IO on large tables
    val lines = manifestLines(table, v)
    val files = lines.filterNot(_.startsWith("#"))
    val stats = fileStatsOf(lines)
    val statsv = lines.collectFirst {
      case l if l.startsWith("#statsv=") => l.stripPrefix("#statsv=").toInt
    }.getOrElse(1)
    if (stats.isEmpty) return (files, files)
    val schema = read(spark, table, Some(v)).schema
    import spark.implicits._
    val sdf = stats.map(fs => (fs.file, fs.rows,
        fs.cols.collect { case (c, s) if s.min.isDefined => c -> s.min.get },
        fs.cols.collect { case (c, s) if s.max.isDefined => c -> s.max.get },
        fs.cols.map { case (c, s) => c -> s.nulls }))
      .toDF("file", "rows", "mins", "maxs", "nulls")
    // parse to a REAL catalyst tree — Spark 4's expr() wraps the raw SQL
    // in an opaque SqlExpression column node that only unwraps during
    // analysis, so the rewriter would see one unknown leaf and keep all
    val pred = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(predicate)
    val possible = sdf.filter(possibility(pred, schema, statsv))
      .select("file").collect().map(_.getString(0)).toSet // ∝ file count
    val hasStats = stats.map(_.file).toSet
    (files.filter(f => !hasStats(f) || possible(f)), files)
  }

  /** Versioned read that SKIPS files [[pruneFiles]] proves irrelevant,
    * then applies the full predicate to the survivors — the answer is
    * always exactly `read(...).filter(predicate)`, pruning only changes
    * which files the scan opens.
    */
  def prunedScan(spark: SparkSession, table: String, predicate: String,
      version: Option[Int] = None): DataFrame = {
    val (kept, _) = pruneFiles(spark, table, predicate, version)
    if (kept.isEmpty)
      return read(spark, table, version).limit(0).filter(expr(predicate))
    spark.read.parquet(
        kept.map(rel => Paths.get(table).resolve(rel).toString): _*)
      .filter(expr(predicate))
  }

  /** Rewrite `pred` (over table rows) into a POSSIBILITY predicate over
    * the stats frame (`file, rows, mins, maxs, nulls` with map-typed
    * per-column entries): true ⇒ the file may hold a matching row,
    * false ⇒ provably cannot. Handles conjunction/disjunction,
    * comparisons between one column and one literal (either side),
    * IN-lists, and IS [NOT] NULL; any other subtree rewrites to `true`
    * (keep — never prune on what we can't reason about). Per-leaf
    * rules: an untracked column keeps the file; an all-null column
    * yields NULL intervals which coalesce to false — correct, since no
    * comparison matches NULL.
    */
  private def possibility(pred: org.apache.spark.sql.catalyst.expressions.Expression,
      schema: StructType, statsv: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.Column
    def field(n: String): Option[StructField] =
      schema.find(_.name.equalsIgnoreCase(n))
    // UnresolvedAttribute (from expr()) and AttributeReference both
    // surface here as Attribute
    object A {
      def unapply(e: Expression): Option[String] = e match {
        case a: Attribute => Some(a.name)
        case _ => None
      }
    }
    def litCol(l: Literal): Column = GraftBridge.toColumn(l)
    def leaf(n: String)(interval: (Column, Column) => Column): Column =
      field(n) match {
        case None => lit(true)
        case Some(f) =>
          val tracked = element_at(col("nulls"), f.name).isNotNull
          val rawMn = element_at(col("mins"), f.name)
          val rawMx = element_at(col("maxs"), f.name)
          val mn = decodeStat(rawMn, f.dataType, statsv)
          val mx = decodeStat(rawMx, f.dataType, statsv)
          // a bound that is PRESENT but fails to decode (stats written
          // under a different format than the manifest claims — e.g.
          // legacy lines carried into a v2 manifest) keeps the file:
          // undecodable must degrade to "can't prune", never to the
          // all-null-looking NULL interval that coalesces to a prune
          val undecodable =
            (rawMn.isNotNull && mn.isNull) || (rawMx.isNotNull && mx.isNull)
          when(!tracked || undecodable, lit(true))
            .otherwise(coalesce(interval(mn, mx), lit(false)))
      }
    def eq(n: String, l: Literal): Column =
      leaf(n)((mn, mx) => mn <= litCol(l) && mx >= litCol(l))
    def nullLeaf(n: String)(f: Column => Column): Column =
      field(n) match {
        case None => lit(true)
        case Some(sf) =>
          val nulls = element_at(col("nulls"), sf.name)
          when(nulls.isNull, lit(true)).otherwise(f(nulls))
      }
    def go(e: Expression): Column = e match {
      case And(a, b) => go(a) && go(b)
      case Or(a, b) => go(a) || go(b)
      case EqualTo(A(n), l: Literal) => eq(n, l)
      case EqualTo(l: Literal, A(n)) => eq(n, l)
      case EqualNullSafe(A(n), l: Literal) if l.value != null => eq(n, l)
      case EqualNullSafe(l: Literal, A(n)) if l.value != null => eq(n, l)
      case LessThan(A(n), l: Literal) => leaf(n)((mn, _) => mn < litCol(l))
      case LessThan(l: Literal, A(n)) => leaf(n)((_, mx) => mx > litCol(l))
      case LessThanOrEqual(A(n), l: Literal) =>
        leaf(n)((mn, _) => mn <= litCol(l))
      case LessThanOrEqual(l: Literal, A(n)) =>
        leaf(n)((_, mx) => mx >= litCol(l))
      case GreaterThan(A(n), l: Literal) =>
        leaf(n)((_, mx) => mx > litCol(l))
      case GreaterThan(l: Literal, A(n)) =>
        leaf(n)((mn, _) => mn < litCol(l))
      case GreaterThanOrEqual(A(n), l: Literal) =>
        leaf(n)((_, mx) => mx >= litCol(l))
      case GreaterThanOrEqual(l: Literal, A(n)) =>
        leaf(n)((mn, _) => mn <= litCol(l))
      // BETWEEN survives parsing as an unresolved function call (it only
      // desugars during analysis) — expand it here
      case b: Between =>
        go(And(GreaterThanOrEqual(b.input, b.lower),
          LessThanOrEqual(b.input, b.upper)))
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.map(_.toLowerCase(java.util.Locale.ROOT)) ==
            Seq("between") && f.arguments.size == 3 =>
        go(And(GreaterThanOrEqual(f.arguments(0), f.arguments(1)),
          LessThanOrEqual(f.arguments(0), f.arguments(2))))
      case In(A(n), es) if es.nonEmpty && es.forall(_.isInstanceOf[Literal]) =>
        es.map(l => eq(n, l.asInstanceOf[Literal])).reduce(_ || _)
      case IsNull(A(n)) => nullLeaf(n)(nulls => nulls > 0)
      case IsNotNull(A(n)) => nullLeaf(n)(nulls => nulls < col("rows"))
      case _ => lit(true) // unknown shape: cannot prune on it
    }
    go(pred)
  }
}
