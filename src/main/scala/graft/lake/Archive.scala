package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row
import graft.core.Normalize
import graft.schema.WeatherSchema

/** K4/S5/S7 — the partitioned Parquet lake.
  *
  * Layout matches the reference: hive-style `date=/hour=/station_id=` dirs,
  * snappy parquet (ref: ParquetArchiver.java:107-143). Spark's dynamic
  * partition write does the reference's hand-rolled groupBy-then-write
  * (ParquetArchiver.java:96-120), and partition discovery on read gives
  * pruning for free.
  *
  * Small files: the reference writes one file per (≤1000-row flush ×
  * partition) (ref: ParquetArchiver.java:34). The streaming write
  * hash-repartitions each micro-batch on the partition columns before the
  * file sink, so a batch writes one file per partition directory however
  * many input partitions it read; the batch [[write]] keeps its input's
  * partitioning (one file per input partition × directory) and exposes
  * `maxRecordsPerFile`, and [[compact]] collapses either afterwards.
  */
object Archive {

  val PartitionCols: Seq[String] = Seq("date", "hour", "station_id")

  /** Batch write: archive-shaped rows → partitioned lake. */
  def write(archive: DataFrame, path: String,
      maxRecordsPerFile: Long = 0L): Unit =
    Normalize.withPartitionKeys(archive)
      .write
      .option("compression", "snappy")
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .partitionBy(PartitionCols: _*)
      .mode("append")
      .parquet(path)

  /** Streaming write: same layout with checkpointed exactly-once file sink
    * (strictly better than the reference's volatile queue,
    * ref: ParquetArchiver.java:36 loss window; SURVEY §2.6). Each batch is
    * hash-repartitioned on [[PartitionCols]] into the session's
    * `spark.sql.shuffle.partitions`, so every partition directory's rows
    * land in one task and the batch writes one file per directory. The
    * explicit count matters: without one, adaptive execution coalesces a
    * small batch's shuffle into a single task that writes every file in
    * turn.
    */
  def writeStream(archive: DataFrame, path: String, checkpoint: String,
      triggerMs: Long = 10000L): DataStreamWriter[Row] = {
    val keyed = Normalize.withPartitionKeys(archive)
    val n = archive.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    keyed.repartition(n, PartitionCols.map(keyed.col): _*)
      .writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .option("compression", "snappy")
      .partitionBy(PartitionCols: _*)
      .trigger(Trigger.ProcessingTime(triggerMs))
  }

  /** Batch read with partition discovery (S7). Filters on date/hour/station_id
    * prune directories before any IO.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Compaction: rewrite the lake (or a pruned slice of it) so each hive
    * partition holds `filesPerPartition` files instead of
    * one-file-per-micro-batch. The operational answer to streaming
    * small-files buildup (ref's compactor rewrites segments the same way,
    * BitCask.java:182-254; see SCALE.md). Rewrites into a temp dir then
    * swaps via rename-aside: the live dir is moved to `.old`, the rewrite
    * renamed into place, then `.old` deleted — no reader can ever observe a
    * HALF-compacted mix, though between the two renames the path briefly
    * resolves to nothing (a concurrently-starting read fails fast with
    * path-not-found rather than reading torn data), and a crash in that
    * window leaves the full dataset recoverable under `.old`. A
    * serve-while-compacting deployment points readers at a manifest/view
    * and swaps that instead. Concurrent APPENDS during
    * compaction are unsupported (rows written after the initial read would
    * be dropped by the swap) — pause writers or take an external lock.
    *
    * A lake written by a STREAMING file sink is refused: FileStreamSink
    * maintains a `_spark_metadata` transaction log and batch readers list
    * files THROUGH it, so rewriting the data files without rewriting the
    * log would make every compacted row silently invisible (or fail the
    * read on missing log entries). Compacting such a lake needs a
    * log-aware rewrite (a table format like Delta/Iceberg, or read →
    * write to a fresh path → repoint readers).
    *
    * `partitionCols` defaults to the weather lake's layout; any hive
    * layout compacts the same way — e.g. the ANN index's `bucket=`
    * directories after [[graft.ext.sim.Similarity.appendLshIndex]]
    * generations accrete (gated by `x_ann_compact`).
    *
    * `rewrite` transforms the content during the rewrite pass (default
    * identity — pure compaction). This is the reclamation hook: a
    * tombstone-aware caller passes the live-view anti-join
    * ([[graft.ext.sim.Similarity.lshIndexReclaim]]) so deleted rows are
    * physically dropped by the same atomic swap that collapses files.
    */
  def compact(spark: SparkSession, path: String,
      partitionCols: Seq[String] = PartitionCols,
      rewrite: DataFrame => DataFrame = identity): Unit = {
    val dst = new org.apache.hadoop.fs.Path(path)
    // Path-based FileSystem resolution: `new URI(path)` throws on spaces
    // and other URI-illegal characters that are perfectly legal in paths
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new org.apache.hadoop.fs.Path(dst, "_spark_metadata")),
      s"compact: $path carries a FileStreamSink _spark_metadata log; " +
        "rewriting its files would orphan the log's file list and batch " +
        "readers would silently lose every compacted row. Rewrite through " +
        "a fresh path (or a log-aware table format) instead.")
    val tmp = path + ".compacting"
    val df = rewrite(spark.read.parquet(path))
    // hash-repartition on the partition keys: every hive partition's rows
    // land in one task → one output file per partition
    df.repartition(partitionCols.map(df.col): _*)
      .write
      .option("compression", "snappy")
      .partitionBy(partitionCols: _*)
      .mode("overwrite")
      .parquet(tmp)
    val src = new org.apache.hadoop.fs.Path(tmp)
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    fs.delete(old, true) // clear any leftover from a prior crashed swap
    if (!fs.rename(dst, old))
      throw new java.io.IOException(s"compact: cannot move $dst aside")
    if (!fs.rename(src, dst)) {
      fs.rename(old, dst) // roll back so the lake stays readable
      throw new java.io.IOException(s"compact: cannot move $src into place")
    }
    fs.delete(old, true)
  }

  /** MERGE upsert (SCD-1): apply a `delta` batch onto `base` by primary
    * key — matched keys take the delta row (update), unmatched delta keys
    * append (insert), everything else passes through. The plan is ONE
    * left-anti hash join on the key plus a union — no window, no sort: the
    * nightly "apply the change feed to the snapshot" shape. At 100 TB the
    * anti join shuffles on the key (or broadcasts when the delta is small
    * — AQE decides from the delta's actual size), and cost is
    * ∝ |base| + |delta| regardless of how many keys changed. Both inputs
    * must be unique per key (a change FEED with multiple versions per key
    * should be pre-collapsed with latest-per-key, `max_by`); delta columns
    * are aligned to base's by name.
    */
  def mergeUpsert(base: DataFrame, delta: DataFrame,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "mergeUpsert needs at least one key column")
    base.join(delta, keys, "left_anti")
      .unionByName(delta.select(base.columns.toIndexedSeq.map(delta.col): _*))
  }

  /** CDC apply: advance a snapshot by a raw change FEED — multiple
    * versioned rows per key carrying upsert/delete ops (`opCol` = "D"
    * deletes, anything else upserts), the Debezium/Delta-CDF shape. Two
    * steps, both scale-bounded: (1) collapse the feed to each key's
    * LATEST change with `max_by(struct(payload), struct(version, op))` —
    * one hash aggregate with map-side partials, no window sort; the
    * (version, op) ordering makes a same-version delete+upsert pair
    * resolve deterministically (upsert wins: "U" > "D" lexically);
    * (2) [[mergeUpsert]] the surviving upserts onto the base, with keys
    * whose final change is a delete dropped from BOTH sides. Cost
    * ∝ |base| + |feed| at any change multiplicity; the oracle restates it
    * as row_number-latest + NOT EXISTS.
    */
  /** SCD Type-2 history build — the lakehouse op [[cdcApply]] is NOT:
    * where cdcApply folds a change feed into the latest state, scd2 keeps
    * every version as a validity interval. Per key (ordered by
    * `orderCols`), consecutive rows whose tracked `attrs` are unchanged
    * are collapsed (a version opens only when something tracked actually
    * changes — the Kimball contract), then each change point becomes a
    * row with `valid_from` = its own timestamp, `valid_to` = the next
    * change's (null while current), `version` = its ordinal, and
    * `is_current`. Null-safe change detection (`<=>`): a null attribute
    * is a value, not a wildcard.
    *
    * Scale shape: ONE shuffle on the key columns; both window passes and
    * the change filter share that partitioning (Catalyst reuses the
    * exchange — the post-filter windows re-sort within partitions but
    * never reshuffle). History size is ∝ change points, not feed rows.
    */
  def scd2(updates: DataFrame, keys: Seq[String], orderCols: Seq[String],
      attrs: Seq[String], tsCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val attrStruct = struct(attrs.map(col): _*)
    val changed = updates
      .withColumn("__prev", lag(attrStruct, 1).over(w))
      .filter(!(col("__prev") <=> attrStruct))
      .drop("__prev")
    changed
      .withColumn("version", row_number().over(w))
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .drop(orderCols.filterNot(c => keys.contains(c) ||
        attrs.contains(c)): _*)
      .drop(tsCol)
  }

  def cdcApply(base: DataFrame, feed: DataFrame, keys: Seq[String],
      versionCol: String, opCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val payload = base.columns.toSeq
    val latest = feed.groupBy(keys.map(col): _*)
      .agg(max_by(
          struct((payload.filterNot(keys.contains).map(col) :+
            col(opCol)): _*),
          struct(col(versionCol), col(opCol))).as("__last"))
      .select(keys.map(col) :+ col("__last.*"): _*)
    // null-safe: a null op must UPSERT per the contract ("D" deletes,
    // anything else upserts); plain =!= evaluates to null on null ops,
    // dropping the row from upserts while the anti join still removes its
    // key from base — the key would silently vanish
    val upserts = latest.filter(!(col(opCol) <=> "D"))
      .select(payload.map(col): _*)
    base.join(latest, keys, "left_anti")
      .unionByName(upserts)
  }

  /** Streaming read (S5) — fixed schema (inference off, like the reference,
    * ref: SparkParquetStreamingToElasticsearch.java:47,76-90), recursive
    * lookup, bounded files per micro-batch.
    */
  def readStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 50): DataFrame = {
    val withParts = WeatherSchema.archive
      .add("date", org.apache.spark.sql.types.StringType)
      .add("hour", org.apache.spark.sql.types.IntegerType)
    spark.readStream
      .schema(withParts)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .option("pathGlobFilter", "*.parquet")
      .format("parquet")
      .load(path)
  }
}
