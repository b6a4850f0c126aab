package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.Scratch.stageParquetFile

/** SURVEY §2 parity operators, expressed over the driver's `events` table
  * (`event_id, ts, user_id, event_type, value, props`) — the telemetry-shaped
  * stand-in for the reference's weather stream (user_id ↔ station_id,
  * event_id ↔ s_no, ts ↔ status_timestamp, props ↔ nested weather JSON).
  *
  * Each method is the batch-queryable form of a reference operator; the
  * streaming twins live in [[graft.streaming]] and the weather-domain API in
  * [[graft.core]]. Scale notes per operator in the Scaladoc.
  */
object EventOps {

  /** The events parquet has shipped as both TIMESTAMP(NANOS) (read as
    * BIGINT nanos under the session's nanosAsLong flag) and
    * TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ); [[graft.util.EventTs]]
    * dispatches on the actual dtype so every gate is encoding-independent
    * and an unknown encoding fails loudly.
    */
  private def events(spark: SparkSession, dir: String): DataFrame =
    graft.util.EventTs.readEvents(spark, dir)

  /** T1 — JSON parse with PERMISSIVE-drop semantics
    * (ref: Rain-Detector/Main.java:36-44, CentralStation.java:63).
    * `from_json` is codegen'd and runs map-side; corrupt rows become null
    * structs and are filtered — no exceptions, no driver involvement.
    */
  def jsonParse(spark: SparkSession, dir: String): DataFrame = {
    val schema = StructType(Seq(StructField("k", IntegerType)))
    events(spark, dir)
      .select(col("event_id"),
        from_json(col("props"), schema).as("parsed"))
      .filter(col("parsed").isNotNull && col("parsed.k").isNotNull)
      .select(col("event_id"), col("parsed.k").as("k"))
  }

  /** [[jsonParse]] through Spark 4's VARIANT type: `parse_json` decodes
    * the props string ONCE into the binary variant encoding, then typed
    * `variant_get` paths extract fields without re-parsing — the modern
    * semi-structured path for wide/evolving JSON at scale (N extractions
    * cost one parse + N binary walks, vs `from_json`'s fixed schema or N
    * string re-parses with `get_json_object`; the binary encoding also
    * survives shuffles compactly). `try_parse_json` keeps the
    * PERMISSIVE-drop contract: corrupt JSON becomes null variant, not an
    * exception. Same output contract as [[jsonParse]], so the same
    * oracle pins both paths — Spark's two JSON front doors provably
    * agree.
    */
  def variantExtract(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_id"),
        expr("try_parse_json(props)").as("v"))
      .select(col("event_id"),
        expr("try_variant_get(v, '$.k', 'int')").as("k"))
      .filter(col("k").isNotNull)

  /** T2+T3 — predicate filter on a reading + alert-string projection
    * (ref: Rain-Detector/Main.java:34-46). The filter is pushed into the
    * Parquet scan; the string build is a codegen'd concat. The decimal cast
    * makes the number format deterministic across engines.
    */
  def filterAlert(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(col("value") > 70.0)
      .select(col("event_id"),
        concat(lit("Raining alert! High humidity detected: "),
          col("value").cast(DecimalType(12, 2)).cast(StringType))
          .as("alert"))

  /** T4+T5+T7+T11 — schema normalization: rename to the archive shape,
    * calendar extraction for partition keys, lowercase + closed-enum
    * validation, round-to-int reading
    * (ref: CentralStation.java:91-120, ParquetArchiver.java:122-143).
    * Pure narrow projection — no shuffle, fully pushed/pruned.
    */
  def normalize(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(lower(col("event_type"))
        .isin("click", "view", "purchase", "signup", "error"))
      .select(
        col("user_id").as("station_id"),
        col("event_id").as("s_no"),
        date_format(col("ts"), "yyyy-MM-dd").as("date"),
        hour(col("ts")).as("hour"),
        lower(col("event_type")).as("event_type"),
        round(col("value"), 0).cast(IntegerType).as("reading"))

  /** A1 — latest-value-per-key (the BitCask `put` semantics, event-time
    * corrected: max by (ts, s_no), ref: BitCask.java:119-141).
    * Implemented as `max_by(struct(...), struct(ts, event_id))` — a real
    * aggregate with map-side partial combine, NOT a window+row_number
    * (which would force a full shuffle+sort of every row at 100 TB; the
    * aggregate moves one row per key per partition).
    */
  def latestPerKey(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id").as("station_id"))
      .agg(max_by(
        struct(col("ts"), col("event_id"), col("event_type"), col("value")),
        struct(col("ts"), col("event_id"))).as("latest"))
      .select(col("station_id"),
        date_format(col("latest.ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
        col("latest.event_id").as("s_no"),
        col("latest.event_type").as("event_type"),
        round(col("latest.value"), 2).as("value"))

  /** A3 — keyed point lookup against the latest-value table
    * (ref: BitCask.java:143-168, CentralStationServer.java:43-58).
    * The station filter lands on the scan (partition-prunable when the lake
    * is partitioned by key); at serving scale this is the memory-sink /
    * state-store probe.
    */
  def pointLookup(spark: SparkSession, dir: String): DataFrame =
    latestPerKey(spark, dir).filter(col("station_id") === 7)

  /** A8 — dedup on a key set with a deterministic representative
    * (ref: ES doc-id dedup, ParquetToElasticsearch.java:192-200).
    * `dropDuplicates` keeps an arbitrary row; at scale (and for oracle
    * comparison) we keep min(event_id) via aggregation instead — same
    * partial-agg shape as A1.
    */
  def dedupKeys(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_rows"), min(col("event_id")).as("first_event"))

  /** A7 — group-by-partition-key accounting (what
    * `write.partitionBy(date,hour)` does shuffle-free on write;
    * ref: ParquetArchiver.java:96-103).
    */
  def partitionCounts(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("date"),
        hour(col("ts")).as("hour"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))

  /** S2-inverse — inter-arrival gap analysis per key (the reference's
    * sequence-gap/drop detection analog, WeatherStation.java:47-52).
    * Window `lag` partitioned by key: the sort is per-key within shuffle
    * partitions — no global sort. Micros arithmetic keeps it exact-integer
    * until the final rounded average.
    */
  def sessionGaps(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        round(avg(col("gap_us")) / 1e6, 2).as("avg_gap_sec"),
        round(max(col("gap_us")) / lit(1e6), 2).as("max_gap_sec"))
  }

  /** T4-enum — closed-set validation accounting
    * (ref: WeatherStatus.avsc enum + isin check).
    */
  def enumValidate(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("valid",
        col("event_type").isin("click", "view", "purchase", "signup", "error"))

  /** T8/T9 — struct flatten → JSON document with a deterministic doc id
    * (the index-document shape, ref: ParquetToElasticsearch.java:193;
    * same `to_json(struct(...))` path as [[graft.core.Normalize.toIndexDocs]]).
    * Field set limited to types whose JSON rendering is byte-identical
    * across engines (integers, strings) so the doc string itself is hashed.
    */
  def docJson(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      concat(col("user_id"), lit("_"), col("event_id")).as("doc_id"),
      to_json(struct(
        col("user_id").as("station_id"),
        col("event_id").as("s_no"),
        col("event_type"),
        struct(
          date_format(col("ts"), "yyyy-MM-dd").as("day"),
          round(col("value"), 0).cast(IntegerType).as("reading")).as("meta")))
        .as("doc"))

  /** A4/K6 — full scan of the latest-value table served through the query
    * API (temp-view + SQL front-end), the reference's GET /stations
    * (ref: CentralStationServer.java:38-41).
    */
  def fullScan(spark: SparkSession, dir: String): DataFrame = {
    // unique, dropped-in-finally view name: a gated query function must not
    // clobber a user view named "latest" (QueryApi keeps that default name
    // only for the long-lived serving deployment); spark.sql analyzes
    // eagerly, so the returned frame survives the drop
    val view = "latest_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // a served latest table orders a station's rows by
    // (status_timestamp, s_no); `ts` is this table's event time, rendered
    // fixed-width so it orders as text
    val latest = latestPerKey(spark, dir).withColumnRenamed("ts", "status_timestamp")
    val api = new graft.serve.QueryApi(spark, latest, view)
    try api.sql(s"SELECT station_id, s_no, event_type, value FROM $view")
    finally spark.catalog.dropTempView(view)
  }

  /** K7 — CSV export + read-back round trip (ref: bitcask_client.py:11-29
    * CSV dump). Values must survive the text round trip exactly: longs and
    * strings trivially, doubles via shortest-decimal rendering (lossless
    * for round-tripped IEEE doubles).
    */
  def csvRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.util.Scratch.dir("graft_csv").toString
    latestPerKey(spark, dir)
      .coalesce(1)
      .write.option("header", "true").mode("overwrite").csv(out)
    spark.read
      .option("header", "true")
      .schema("station_id BIGINT, ts STRING, s_no BIGINT, event_type STRING, value DOUBLE")
      .csv(out)
  }

  /** Row shape for the typed streaming-latest gate. */
  case class EventRecord(station_id: Long, s_no: Long,
      ts: java.sql.Timestamp, event_type: String, value: Double)

  /** Staged file source + memory-sink drain shared by the streaming gates
    * (one copy, so the gates can't silently diverge). The file streaming
    * source requires a DIRECTORY; the single events file is staged into a
    * scratch dir unchanged. The user schema a file stream must declare is
    * inferred from the real file's footer (NOT hand-pinned — a pinned
    * LongType over a TIMESTAMP(MICROS) file silently reads micros as
    * nanos), and `ts` is normalized by [[graft.util.EventTs.toMicros]]
    * right here, so every downstream gate sees one canonical TIMESTAMP.
    */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val stage = graft.util.Scratch.dir("graft_stream_src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      stage.resolve("events.parquet"))
    graft.util.EventTs.readEventsStream(spark, dir, stage.toString)
  }

  /** The multi-batch file source of the staged-slice gates: slice `i`
    * is staged as ONE file with mtime `base + i·60 s` under a fresh
    * `prefix` scratch dir, and `maxFilesPerTrigger=1` reads one file per
    * micro-batch in mtime order — so slice `i` is batch `i`.
    */
  private def stagedEventsStream(spark: SparkSession, dir: String,
      prefix: String)(slices: DataFrame*): DataFrame = {
    val stage = graft.util.Scratch.dir(prefix)
    val base = System.currentTimeMillis()
    slices.zipWithIndex.foreach { case (slice, i) =>
      stageParquetFile(slice, stage, s"s$i.parquet", base + i * 60000L)
    }
    graft.util.EventTs.readEventsStream(spark, dir, stage.toString,
      Map("maxFilesPerTrigger" -> "1"))
  }

  /** The two-batch re-ingest both dedup gates stream: batch 0 is the
    * full log plus an in-batch replay of the odd-`event_id` rows, batch
    * 1 replays the even-`event_id` rows.
    */
  private def replayedEventsStream(spark: SparkSession, dir: String,
      prefix: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/events.parquet")
    stagedEventsStream(spark, dir, prefix)(
      raw.unionAll(raw.filter(col("event_id") % 2 === 1)),
      raw.filter(col("event_id") % 2 === 0))
  }

  // drainToMemory temporarily lowers the SESSION-global shuffle-partition
  // conf; a query planned concurrently on the same session would silently
  // inherit the low setting. Gates run sequentially today — the lock makes
  // that assumption enforced rather than incidental by serializing
  // concurrent drains (the conf mutation window) against each other.
  private val drainLock = new Object

  /** State-store INSTANCE count of every drain (= shuffle partitions at
    * first batch, then pinned in the checkpoint). It should track state
    * VOLUME, not CPU count: every instance pays per-batch
    * commit/maintenance file I/O (up to 4 stores per partition for a
    * stream-stream join), so 32 instances for ~100k rows of state is pure
    * overhead — these gates measurably drain ~2x faster at 8 (and
    * measurably SLOWER again at 4: the instances also carry processing
    * parallelism, and below 8 that loss outweighs the saved commit I/O).
    * A 100 TB deployment sizes it UP for exactly the same reason, and
    * because the count is pinned at checkpoint creation it must be chosen
    * for peak state, not cores.
    */
  private val StatePartitions = 8

  /** The larger-than-heap state store, and the only one
    * `transformWithState` runs on.
    */
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def drainToMemory(spark: SparkSession, df: DataFrame, sink: String,
      mode: org.apache.spark.sql.streaming.OutputMode,
      stateStoreProvider: Option[String] = None,
      checkpoint: Option[String] = None,
      pollInputRows: Option[Long] = None): DataFrame =
      drainLock.synchronized {
    import org.apache.spark.sql.streaming.Trigger
    // unique per call + dropped after resolution: gated query functions stay
    // free of session-catalog mutation (the memory sink's rows are captured
    // by the resolved plan, so the view itself is disposable)
    val name = sink + "_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", StatePartitions)
    // optional state-store provider override (e.g. RocksDB for the
    // larger-than-heap state path); read at query start and pinned in
    // the checkpoint, so set-and-restore around the drain is exact
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.get(providerKey)
    stateStoreProvider.foreach(spark.conf.set(providerKey, _))
    // state circuit breaker (see graft.streaming.StateGuard): a source
    // with collapsed event times freezes the watermark and stops state
    // eviction — fail fast with an attributable message instead of
    // letting the drain grow state quadratically (the r7 bench blowup)
    val guard = new graft.streaming.StateGuard(spark,
      graft.streaming.StateGuard.DefaultMaxStateRows).install()
    // the view drop lives in the SAME finally as the rest of the cleanup:
    // a guard trip throws out of this block, and the UUID-named memory
    // sink must not stay registered (holding its buffered rows in driver
    // memory) for the rest of a `Tool verify`/Bench sweep
    try {
      // pollInputRows: a ProcessingTime-time-mode stateful operator
      // (value-state TTL / processing-time timers) reports pending work
      // on every clock advance, so AvailableNow never sees a quiescent
      // plan and reruns empty batches forever (observed: 2.5k commits
      // before the kill), and processAllAvailable's noNewData latch
      // never fires for the same reason. For those drains the
      // termination signal that IS well-defined is input volume: run a
      // real ProcessingTime trigger (whose interval doubles as the
      // between-batch clock gap a TTL gate needs) and stop once the
      // query has consumed the staged row count.
      val writer = df.writeStream
        .outputMode(mode)
        .format("memory").queryName(name)
        .option("checkpointLocation", checkpoint.getOrElse(
          graft.util.Scratch.dir("graft_ck").toString))
      val q = pollInputRows match {
        case Some(total) =>
          val qq = writer
            .trigger(Trigger.ProcessingTime("1000 milliseconds")).start()
          val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
          // accumulate input rows INCREMENTALLY from lastProgress deltas
          // by batchId: recentProgress is a ring buffer (default 100
          // entries), so re-summing it loses evicted batches' counts
          // once a slow drain crosses ~100 triggers and the loop could
          // then only exit via the timeout below
          var seen = 0L
          var lastBatch = -1L
          def consumed(): Long = {
            val p = qq.lastProgress
            if (p != null && p.batchId > lastBatch) {
              // between polls more than one batch may complete; fold in
              // any ring entries newer than the last counted batch, then
              // the latest progress itself
              qq.recentProgress.iterator
                .filter(rp => rp.batchId > lastBatch && rp.batchId < p.batchId)
                .foreach(rp => seen += rp.numInputRows)
              seen += p.numInputRows
              lastBatch = p.batchId
            }
            seen
          }
          while (qq.isActive && consumed() < total) {
            if (System.nanoTime() > deadline) {
              qq.stop()
              sys.error(s"drain of $sink timed out before $total input rows")
            }
            Thread.sleep(100)
          }
          qq.stop()
          qq
        case None => writer.trigger(Trigger.AvailableNow()).start()
      }
      q.awaitTermination()
      guard.assertClean(q)
      graft.streaming.StateGuard.audit(q)
      spark.table(name)
    } finally {
      guard.uninstall()
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set(providerKey, prevProvider)
      spark.catalog.dropTempView(name)
    }
  }

  /** A1-streaming gate — the SAME latest-per-key result as [[latestPerKey]],
    * produced through the streaming path: file-source micro-batch read
    * (S5), mapGroupsWithState latest state (A1), memory sink (A3/A4 serve),
    * drained with Trigger.AvailableNow. Deterministic because the input is
    * one parquet file → one micro-batch → exactly one Update row per key;
    * the driver hash-compares it against the batch oracle.
    */
  def latestPerKeyStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    implicit val enc = org.apache.spark.sql.Encoders.product[EventRecord]
    implicit val keyEnc = org.apache.spark.sql.Encoders.scalaLong
    val rec = eventsStream(spark, dir)
      .select(col("user_id").as("station_id"), col("event_id").as("s_no"),
        col("ts"), col("event_type"), col("value")).as[EventRecord]
    val latest = graft.core.LatestState.latestStreamBy(rec)(_.station_id) { r =>
      val i = r.ts.toInstant
      (i.getEpochSecond * 1000000L + i.getNano / 1000L, r.s_no)
    }
    latestWinners(drainToMemory(spark, latest.toDF(), "latest_stream_gate",
      OutputMode.Update()))
  }

  /** The event-time winner per station of an Update-mode latest-state
    * drain, in the latest-per-key oracle's columns. Defensive: an
    * Update-mode memory sink appends one row per key PER BATCH; if a
    * session setting ever splits the staged file into several
    * micro-batches, this reduces to the winner instead of silently
    * hash-mismatching (single-batch stage ⇒ value-level no-op).
    */
  private def latestWinners(drained: DataFrame): DataFrame =
    drained
      .groupBy(col("station_id"))
      .agg(max_by(
        struct(col("ts"), col("s_no"), col("event_type"), col("value")),
        struct(col("ts"), col("s_no"))).as("r"))
      .select(col("station_id"),
        date_format(col("r.ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
        col("r.s_no").as("s_no"), col("r.event_type").as("event_type"),
        round(col("r.value"), 2).as("value"))

  /** A1 through Spark 4's `transformWithState`
    * ([[graft.streaming.TwsLatest]]) — the third stateful-API gate beside
    * mapGroupsWithState (p_latest_stream) and the arrival-order mode
    * (p_latest_arrival), all hash-compared to the same latest-per-key
    * oracle. transformWithState runs only on the RocksDB state store,
    * which the drain sets for its query and restores after.
    */
  def latestPerKeyTws(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    implicit val enc =
      org.apache.spark.sql.Encoders.product[graft.streaming.TwsLatest.Rec]
    val rec = eventsStream(spark, dir)
      .select(col("user_id").as("station_id"), col("event_id").as("s_no"),
        col("ts"), col("event_type"), col("value"))
      .as[graft.streaming.TwsLatest.Rec]
    latestWinners(drainToMemory(spark,
      graft.streaming.TwsLatest.latestStream(rec).toDF(), "latest_tws_gate",
      OutputMode.Update(), stateStoreProvider = Some(RocksDbProvider)))
  }

  /** Value-state TTL gate ([[graft.streaming.TwsTtl]]) — the one
    * state-lifecycle knob the rest of the matrix doesn't cover. ONE
    * query, two data micro-batches: slice A (`event_id ≡ 0 mod 2`) and
    * slice B staged upfront as separate files, `maxFilesPerTrigger=1` to pin
    * one file per batch (mtime-ordered), and a 1 s ProcessingTime
    * trigger — 2.5× the 400 ms TTL — as the between-batch clock gap (the
    * memory sink cannot recover a checkpoint, so the gap must come from
    * the trigger interval, not a query restart). The processor keeps
    * the per-key count in a TTL'd ValueState AND a durable twin, so the
    * last emission per key must show `last_ttl` restarted at |B| while
    * `last_dur` accumulated to |A|+|B| — the differential that proves
    * expired state stopped influencing output (a checkpoint loss or
    * restart artifact would reset BOTH). Deterministic because TTL
    * rides the micro-batch processing timestamp: every trigger after the
    * first fires on a multiple of the interval, and an empty file staged
    * before A makes A's batch the second, so batch B fires at least a
    * full interval after batch A's timestamp, past every A-side
    * deadline, however short A's batch is (with A first, a short first
    * batch could put B's trigger within the TTL of A's). Within a batch
    * state is written after it is read.
    * Keys absent from one slice degrade to the single-batch row on both
    * columns, which the oracle's CASE reproduces.
    */
  def stateTtlStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    implicit val enc =
      org.apache.spark.sql.Encoders.product[graft.streaming.TwsTtl.KeyedRow]
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val rec = stagedEventsStream(spark, dir, "graft_ttl_src")(raw.limit(0),
        raw.filter(col("event_id") % 2 === 0),
        raw.filter(col("event_id") % 2 === 1))
      .select(col("user_id").as("station_id"))
      .as[graft.streaming.TwsTtl.KeyedRow]
    val out = drainToMemory(spark,
      graft.streaming.TwsTtl.countStream(rec, ttlMillis = 400L).toDF(),
      "state_ttl", OutputMode.Update(),
      stateStoreProvider = Some(RocksDbProvider),
      pollInputRows = Some(raw.count()))
    out
      .groupBy(col("station_id"))
      .agg(max_by(col("ttl_c"), col("dur_c")).as("last_ttl"),
        max(col("dur_c")).cast("long").as("last_dur"))
  }

  /** The event-type counts computed through [[graft.operators.Scale
    * .saltedAggregate]] — gates the skew machinery itself: the two-phase
    * (key, salt) → key aggregation must be value-identical to the plain
    * GROUP BY the oracle runs. Five event types with ~120k rows each at
    * sf0.1 is exactly the hot-reducer-key shape salting exists for.
    */
  def saltedTypeStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Scale
    import graft.operators.Scale.TwoPhase
    val df = events(spark, dir)
      .select(col("event_type"), col("value"))
    // the sum is over integer cents (floor(v*100+0.5)): associative and
    // exact, so the per-salt partial order can never shift a rounded
    // decimal the way FP double summation could
    val cents = floor(col("value") * 100 + 0.5).cast("long")
    Scale.saltedAggregate(df.withColumn("cents", cents),
      Seq("event_type"), nSalts = 8, Seq(
        TwoPhase.countAll("n"),
        TwoPhase.sumOf("sum_cents", col("cents")),
        TwoPhase.minOf("min_value", col("value")),
        TwoPhase.maxOf("max_value", col("value"))))
      .select(col("event_type"), col("n").cast("long").as("n"),
        col("sum_cents").cast("long").as("sum_cents"),
        round(col("min_value"), 2).as("min_value"),
        round(col("max_value"), 2).as("max_value"))
  }

  /** A join executed through [[graft.operators.Scale.writeBucketed]]
    * bucketed tables — gates the co-located-join machinery end to end:
    * both sides are persisted bucketed by `user_id` (the write-time
    * shuffle that every later join amortizes; `ScaleSpec` separately
    * plan-asserts such joins need no Exchange), then joined and
    * aggregated. Values must equal the oracle's plain join.
    */
  def bucketedJoinStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Scale
    val ev = events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"))
    Scale.writeBucketed(ev, "graft_events_bkt", "user_id", nBuckets = 8)
    val totals = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    Scale.writeBucketed(totals, "graft_totals_bkt", "user_id", nBuckets = 8)
    spark.table("graft_events_bkt")
      .join(spark.table("graft_totals_bkt"), "user_id")
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        first(col("n_events")).as("n_events"))
  }

  /** The q12 tumbling-window aggregate produced through the REAL streaming
    * path: file-source micro-batches → streaming window aggregate →
    * memory sink, drained with `Trigger.AvailableNow`. Complete output
    * mode re-emits every window each trigger, so the drained result
    * equals the batch aggregate deterministically — no watermark to drop
    * late rows, no append-mode finalization races. Gate-compared to the
    * same DuckDB oracle as the batch q12.
    */
  def tumblingWindowStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val agg = eventsStream(spark, dir)
      .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    drainToMemory(spark, agg, "window_stream_gate", OutputMode.Complete())
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"), col("n"), col("sum_value"))
  }

  /** Staged file-stream source for append-mode gates: the real events file
    * PLUS the first far-future `__flush__` sentinel in micro-batch one,
    * the second sentinel in micro-batch two (`maxFilesPerTrigger=2` +
    * explicit mtimes order them). Batch one runs at the epoch-floor
    * initial watermark either way (nothing is late-dropped) and its END
    * recomputes the watermark from the sentinel — past every real window
    * end; batch two then emits ALL real windows/timers, finalized — no
    * reliance on no-data micro-batches, and one micro-batch cheaper than
    * staging the first sentinel alone (each batch pays the full
    * state-store commit/maintenance round, so the drain floor is
    * batches × store-instance I/O). Callers filter
    * `event_type != '__flush__'` from their drained result.
    *
    * `slice` (raw, pre-normalization rows) restricts the staged events —
    * `None` stages the whole file byte-identical via copy. One definition
    * for the single-source append gates AND each leg of the union gate, so
    * the sentinel encoding logic cannot drift between them. The staged
    * directory is IMMUTABLE and identical for every gate that streams the
    * same (corpus, slice), so ~12 gate invocations share one
    * [[graft.util.Artifacts]] staging instead of each re-paying the copy
    * plus two single-file Spark write jobs; each gate still runs its own
    * query over its own fresh checkpoint. Keyed by `sliceTag`, not the
    * Column (which has no stable identity): "all" must only ever pair
    * with `slice = None`, and a distinct tag per distinct predicate.
    */
  private def eventsStreamWithFlush(spark: SparkSession, dir: String,
      slice: Option[org.apache.spark.sql.Column] = None,
      sliceTag: String = "all"): DataFrame = {
    val staged = graft.util.Artifacts.shared(spark, "stream_stage", dir,
        sliceTag) {
      val stage = graft.util.Scratch.dir("graft_stream_append_src")
      val base = System.currentTimeMillis()
      slice match {
        case None =>
          val eventsFile = stage.resolve("events.parquet")
          java.nio.file.Files.copy(
            java.nio.file.Paths.get(s"$dir/events.parquet"), eventsFile)
          java.nio.file.Files.setLastModifiedTime(eventsFile,
            java.nio.file.attribute.FileTime.fromMillis(base))
        case Some(cond) =>
          stageParquetFile(
            spark.read.parquet(s"$dir/events.parquet").filter(cond),
            stage, "events.parquet", base)
      }
      // 2100-01-01 / 2100-01-02 as nanos — far past any real event
      // time. The sentinel file must carry the SAME physical ts
      // encoding as the real events file (one user schema decodes the
      // whole directory), so the nanos literal is re-encoded to the
      // footer's actual dtype.
      val rawSchema = graft.util.EventTs.rawEventsSchema(spark, dir)
      Seq(("flush1.parquet", 4102444800000000000L, 60),
          ("flush2.parquet", 4102531200000000000L, 120)).foreach {
        case (name, tsNanos, offsetSec) =>
          import spark.implicits._
          stageParquetFile(
            graft.util.EventTs.nanosColTo(
              Seq((-1L, tsNanos, -1L, "__flush__", 0.0,
                  Option.empty[String]))
                .toDF("event_id", "ts", "user_id", "event_type",
                  "value", "props"),
              rawSchema("ts").dataType),
            stage, name, base + offsetSec * 1000L)
      }
      stage.toString
    }
    graft.util.EventTs.readEventsStream(spark, dir, staged,
      Map("maxFilesPerTrigger" -> "2"))
  }

  /** The same q12 window aggregate through the SCALE-CORRECT streaming
    * shape: watermark + APPEND output mode — each window is emitted exactly
    * once, finalized, and its state is evicted when the watermark passes its
    * end. (Complete mode, gated by [[tumblingWindowStream]], re-emits every
    * window each trigger: state ∝ all windows ever — a scale-killer as the
    * only exercised mode; this gate closes that gap.)
    *
    * Deterministic two-batch drain via the staged sentinel source (see
    * [[eventsStreamWithFlush]]). The sentinels' own windows never finalize
    * (their ends exceed the final watermark) and their rows are filtered
    * from the drained result either way.
    */
  def tumblingWindowStreamAppend(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val agg = eventsStreamWithFlush(spark, dir)
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    drainToMemory(spark, agg, "window_stream_append_gate", OutputMode.Append())
      .filter(col("event_type") =!= "__flush__")
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"), col("n"), col("sum_value"))
  }

  /** Multi-SOURCE streaming union — two independent file streams (the
    * events split by `event_id` parity, standing in for two topics)
    * unioned into ONE query and windowed. The part worth gating is the
    * watermark algebra, and its placement is load-bearing: each leg
    * carries its OWN `withWatermark` BEFORE the union, so the query has
    * two watermark operators and the combined watermark is their MIN
    * (`multipleWatermarkPolicy=min`, the default) — a stalled source
    * holds back every window's finalization, which is why BOTH legs
    * stage their own flush sentinels. (A single post-union watermark
    * would advance on the MAX event time across legs — one leg's
    * sentinel would finalize everything and the per-source-liveness
    * property would be silently untested.) Result must equal the
    * single-source window aggregate over all events — the split/union
    * must be invisible.
    */
  def streamUnionAppend(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val left = eventsStreamWithFlush(spark, dir,
      Some(col("event_id") % 2 === 0), sliceTag = "even")
      .withWatermark("ts", "30 minutes")
    val right = eventsStreamWithFlush(spark, dir,
      Some(col("event_id") % 2 === 1), sliceTag = "odd")
      .withWatermark("ts", "30 minutes")
    val agg = left.unionByName(right)
      .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + lit(0.5)).cast("long"))
          .cast("long").as("cents"))
    drainToMemory(spark, agg, "stream_union_gate", OutputMode.Append())
      .filter(col("event_type") =!= "__flush__")
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"), col("n"), col("cents"))
  }

  /** CHAINED stateful operators in ONE streaming query — Spark's
    * multiple-stateful-operator support: a 15-minute windowed aggregate
    * whose output is RE-aggregated into 1-hour windows downstream, both
    * levels stateful, one checkpoint, one watermark propagated through.
    * The second `groupBy` windows ON the first level's window column
    * (`window_time` projects the window struct back to an event time),
    * which is what lets the engine finalize hour windows only after
    * every constituent quarter-hour is final. This is the streaming
    * rollup-cascade shape — at 100 TB you keep the fine windows for
    * recent data and let the coarse cascade serve history, all in one
    * query instead of a re-read. Integer cent-sums both levels, so
    * two-level summation is exactly the direct hour aggregate the
    * oracle computes.
    */
  def windowChainAppend(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val lvl1 = eventsStreamWithFlush(spark, dir)
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + lit(0.5)).cast("long")).as("cents"))
    val lvl2 = lvl1
      .groupBy(window(window_time(col("w")), "1 hour").as("h"),
        col("event_type"))
      .agg(sum(col("n")).cast("long").as("n"),
        sum(col("cents")).cast("long").as("cents"))
    drainToMemory(spark, lvl2, "window_chain_gate", OutputMode.Append())
      .filter(col("event_type") =!= "__flush__")
      .select(
        date_format(col("h.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"), col("n"), col("cents"))
  }

  /** [[graft.streaming.WindowedStats.tumbling]] itself — per-station
    * watermarked tumbling windows in append mode — gated end to end over
    * the weather-shaped projection of events (station_id = user_id,
    * humidity = round(value), wind_speed = event_id % 30). Same sentinel
    * drain as [[tumblingWindowStreamAppend]]; the DuckDB oracle recomputes
    * the per-station windows from events directly.
    */
  def windowedStatsAppend(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val archive = eventsStreamWithFlush(spark, dir)
      .select(col("user_id").as("station_id"),
        col("ts").as("status_timestamp"),
        struct(
          round(col("value"), 0).cast(IntegerType).as("humidity"),
          (col("event_id") % 30).cast(IntegerType).as("wind_speed"))
          .as("weather"))
    val agg = graft.streaming.WindowedStats.tumbling(
      archive, "15 minutes", "30 minutes")
    // WindowedStats.tumbling groups on (window, station_id); sentinel rows
    // carry station_id = -1 and are excluded after the drain
    drainToMemory(spark, agg, "wstats_append_gate", OutputMode.Append())
      .filter(col("station_id") =!= -1L)
      .select(
        date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("station_id"), col("n"),
        round(col("avg_humidity"), 4).as("avg_humidity"),
        col("max_wind"))
  }

  /** The q16 SESSION windows through the streaming path: streaming
    * `session_window` requires exactly this watermark+Append shape (state
    * for a session is merged on overlap and evicted once the watermark
    * passes the session's end). Same two-sentinel drain; the sentinel's own
    * session rides user_id = -1 and is excluded. Oracle = the batch q16
    * session definition.
    */
  def sessionWindowStreamAppend(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val agg = eventsStreamWithFlush(spark, dir)
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("session_value"))
    drainToMemory(spark, agg, "session_stream_gate", OutputMode.Append())
      .filter(col("user_id") =!= -1L)
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("session_start"),
        col("n_events"), col("session_value"))
  }

  /** [[graft.streaming.WindowedStats.sliding]] end to end — overlapping
    * 15-minute windows sliding every 5 (each event lands in 3), watermarked
    * append mode over the weather-shaped projection, same sentinel drain.
    */
  def slidingWindowStreamAppend(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val archive = eventsStreamWithFlush(spark, dir)
      .select(col("user_id").as("station_id"),
        col("ts").as("status_timestamp"))
    val agg = graft.streaming.WindowedStats.sliding(
      archive, "15 minutes", "5 minutes", "30 minutes")
    drainToMemory(spark, agg, "sliding_stream_gate", OutputMode.Append())
      .filter(col("station_id") =!= -1L)
      .select(
        date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("station_id"), col("n"))
  }

  /** [[graft.streaming.WindowedStats.risingEdgeAlerts]] — the stateful
    * flatMapGroupsWithState edge-trigger — gated end to end: alerts fire
    * only when a station CROSSES the threshold (rising edge), not on every
    * high reading. Deterministic because the operator itself sorts each
    * group's rows by s_no within the single staged micro-batch; the DuckDB
    * oracle is the equivalent lag-window predicate.
    */
  def edgeAlertStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val archive = eventsStream(spark, dir)
      .select(col("user_id").as("station_id"), col("event_id").as("s_no"),
        struct(round(col("value"), 0).cast(IntegerType).as("humidity"))
          .as("weather"))
    val alerts =
      graft.streaming.WindowedStats.risingEdgeAlerts(archive, threshold = 70)
    drainToMemory(spark, alerts.toDF(), "edge_alert_gate", OutputMode.Append())
  }

  /** A1 in the reference's FAITHFUL arrival-order semantics: the last row
    * to ARRIVE wins, even if its event time is older (BitCask.java:136
    * overwrites unconditionally; the event-time-corrected mode is gated by
    * [[latestPerKeyStream]]). Arrival order is made deterministic by
    * staging the events log SORTED by s_no into one file — one scan split,
    * one micro-batch, so per-key iterator order is s_no order and the
    * winner is the max-s_no row, which the DuckDB oracle states directly.
    */
  def latestArrivalStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    implicit val enc = org.apache.spark.sql.Encoders.product[EventRecord]
    implicit val keyEnc = org.apache.spark.sql.Encoders.scalaLong
    val stage = graft.util.Scratch.dir("graft_stream_arrival_src")
    spark.read.parquet(s"$dir/events.parquet")
      .repartition(1).sortWithinPartitions(col("event_id"))
      .write.mode("overwrite").parquet(stage.toString)
    val rec = graft.util.EventTs.readEventsStream(spark, dir, stage.toString)
      .select(col("user_id").as("station_id"), col("event_id").as("s_no"),
        col("ts"), col("event_type"), col("value")).as[EventRecord]
    val latest = graft.core.LatestState.latestStreamArrivalBy(rec)(_.station_id)
    // defensive multi-batch reduce (same rationale as latestPerKeyStream):
    // arrival order is s_no order here, so the final state is the max-s_no
    // row per key in ANY batch split
    drainToMemory(spark, latest.toDF(), "latest_arrival_gate", OutputMode.Update())
      .groupBy(col("station_id"))
      .agg(max_by(
        struct(col("ts"), col("s_no"), col("event_type"), col("value")),
        col("s_no")).as("r"))
      .select(col("station_id"),
        date_format(col("r.ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
        col("r.s_no").as("s_no"), col("r.event_type").as("event_type"),
        round(col("r.value"), 2).as("value"))
  }

  /** A8 through the SCALE-CORRECT streaming shape: watermarked
    * `dropDuplicates` — dedup state is keyed on (station_id, s_no, ts)
    * WITH the event-time column, so each key's state is EVICTED once the
    * watermark passes its event time (the no-watermark/no-ts form keeps
    * every key ever seen: unbounded state, the scale-killer this gate
    * exists to avoid). Duplicates are staged both
    * ways a real re-ingest produces them: batch 1 is the full log PLUS an
    * in-batch replay of the odd-s_no rows (in-batch hits go through the
    * state store too); batch 2 replays the even-s_no rows in a later
    * micro-batch — each replayed row is dropped as a state hit if its key
    * is still live, or as late data once the watermark passed its event
    * time, and both paths emit nothing. Every unique row is emitted
    * exactly once, so the oracle is simply the event log itself
    * ((user_id, event_id) is unique in the testdata).
    */
  def dedupStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val deduped = replayedEventsStream(spark, dir, "graft_dedup_stream_src")
      .withWatermark("ts", "30 minutes")
      // the EVENT-TIME column must be part of the dedup key: Spark evicts
      // dedup state by key-embedded event time (WatermarkSupport's
      // watermarkPredicateForKeys) — without ts in the subset, state
      // holds every key ever seen and only the late-drop path bounds
      // work. Replays are byte-identical, so adding ts changes no values.
      .dropDuplicates("user_id", "event_id", "ts")
      .select(col("user_id").as("station_id"), col("event_id").as("s_no"),
        col("event_type"), round(col("value"), 2).as("value"))
    drainToMemory(spark, deduped, "dedup_stream_gate", OutputMode.Append())
  }

  /** K4-adjacent — ORC as an alternative columnar archive format: the
    * normalized projection is written as ORC, read back, and aggregated;
    * every value (including the max event timestamp, which exercises
    * ORC's nanosecond timestamp round trip) must equal the oracle's
    * aggregate over the parquet original. The lake layer is not
    * parquet-bound: `Archive`-shaped data survives either columnar
    * format byte-exactly.
    */
  def orcRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.util.Scratch.dir("graft_orc").toString
    events(spark, dir)
      .select(col("user_id").as("station_id"), col("event_id").as("s_no"),
        col("ts"), col("event_type"), col("value"))
      .write.mode("overwrite").orc(out)
    spark.read.orc(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("s_no")).as("sum_sno"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("max_ts"),
        round(sum(col("value")), 2).as("sum_value"))
  }

  /** Stream-stream inner join — the last major Structured Streaming
    * operator shape previously ungated: severe readings (value > 90)
    * joined to the SAME station's context events in the preceding 12
    * hours. Both sides are watermarked and the join carries an event-time
    * range condition — that pair is what lets the engine EVICT buffered
    * rows once the watermark passes their join window (without it,
    * stream-stream join state grows with the full history: the 100 TB
    * scale-killer). Inner joins emit a pair as soon as both sides have
    * arrived, so the single-batch AvailableNow drain emits exactly the
    * batch-join result deterministically (the watermark bounds STATE, not
    * result membership). Oracle = the equivalent batch range self-join.
    */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    drainToMemory(spark, severeContextJoin(spark, dir), "ss_join_gate",
      OutputMode.Append())
  }

  /** The severe-alerts × prior-context join plan shared by
    * [[streamStreamJoin]] and [[streamStreamJoinRocks]] — one definition
    * so the two gates provably run the SAME query and differ only in
    * state-store provider.
    */
  private def severeContextJoin(spark: SparkSession, dir: String): DataFrame = {
    val severe = eventsStream(spark, dir)
      .filter(col("value") > 90.0)
      .select(col("user_id").as("station_id"),
        col("event_id").as("alert_sno"), col("ts").as("alert_ts"))
      .withWatermark("alert_ts", "30 minutes")
    val context = eventsStream(spark, dir)
      .select(col("user_id").as("ctx_station"),
        col("event_id").as("ctx_sno"), col("ts").as("ctx_ts"))
      .withWatermark("ctx_ts", "30 minutes")
    severe.join(context,
      col("station_id") === col("ctx_station") &&
        col("ctx_ts") >= col("alert_ts") - expr("INTERVAL 12 hours") &&
        col("ctx_ts") < col("alert_ts"))
      .select(col("station_id"), col("alert_sno"), col("ctx_sno"))
  }

  /** [[streamStreamJoin]] on the RocksDB state store — the 100 TB state
    * path: the default HDFS-backed provider keeps every store's working
    * set on-heap (state volume is bounded by executor heap × instances,
    * and GC pressure scales with it), while RocksDB keeps state off-heap
    * on local disk with an in-memory cache, which is how a production
    * stream-stream join carries state far past memory. Identical plan
    * and oracle to `p_stream_join` — the gate proves provider choice
    * changes WHERE state lives, never what the query answers — and its
    * drain-floor delta vs the default store is the measured cost of the
    * larger-than-heap capability (SCALE.md row).
    */
  def streamStreamJoinRocks(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    drainToMemory(spark, severeContextJoin(spark, dir), "ss_rocks_gate",
      OutputMode.Append(), stateStoreProvider = Some(RocksDbProvider))
  }

  /** Stream-stream LEFT OUTER join — the half of streaming join semantics
    * [[streamStreamJoin]] cannot exercise: an unmatched left row may only
    * be emitted (null-padded) once the watermark proves no match can
    * still arrive, which is exactly the state-eviction machinery working.
    * Both sides use the two-sentinel flush staging (the sentinels advance
    * the joint watermark past every real event), so every unmatched alert
    * finalizes deterministically: alerts with no same-station context
    * event in the preceding 12 hours emit with a null ctx_sno. The
    * sentinel rows must survive the alert filter on BOTH sides: each
    * side's watermark advances only from rows reaching its own watermark
    * node, so dropping the sentinels pre-watermark on the severe side
    * would freeze its watermark at the last real alert and the final
    * 30 minutes of unmatched alerts would never finalize (observed as an
    * off-by-one on first gating). Sentinels ride station_id = -1: they
    * join nothing (their 24 h spacing misses the 12 h window) and are
    * filtered after the drain. Oracle = the batch LEFT range self-join.
    */
  def streamStreamJoinOuter(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val severe = eventsStreamWithFlush(spark, dir)
      .filter(col("value") > 90.0 || col("event_type") === "__flush__")
      .select(col("user_id").as("station_id"),
        col("event_id").as("alert_sno"), col("ts").as("alert_ts"))
      .withWatermark("alert_ts", "30 minutes")
    val context = eventsStreamWithFlush(spark, dir)
      .select(col("user_id").as("ctx_station"),
        col("event_id").as("ctx_sno"), col("ts").as("ctx_ts"))
      .withWatermark("ctx_ts", "30 minutes")
    val joined = severe.join(context,
        col("station_id") === col("ctx_station") &&
          col("ctx_ts") >= col("alert_ts") - expr("INTERVAL 12 hours") &&
          col("ctx_ts") < col("alert_ts"),
        "left_outer")
      .select(col("station_id"), col("alert_sno"), col("ctx_sno"))
    drainToMemory(spark, joined, "ss_outer_gate", OutputMode.Append())
      .filter(col("station_id") =!= -1L)
  }

  /** Stream-stream FULL OUTER join — the third and last join polarity
    * ([[streamStreamJoin]] inner, [[streamStreamJoinOuter]] left):
    * unmatched rows finalize on BOTH sides once the joint watermark
    * proves no partner can arrive, so every context event without a
    * following same-station alert ALSO emits null-padded. The sentinel
    * rows would themselves emit as unmatched on either side (full outer
    * keeps everything), so the post-drain filter keys on the COALESCED
    * station id. Oracle = the batch FULL range self-join.
    */
  def streamStreamJoinFullOuter(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val severe = eventsStreamWithFlush(spark, dir)
      .filter(col("value") > 90.0 || col("event_type") === "__flush__")
      .select(col("user_id").as("station_id"),
        col("event_id").as("alert_sno"), col("ts").as("alert_ts"))
      .withWatermark("alert_ts", "30 minutes")
    val context = eventsStreamWithFlush(spark, dir)
      .select(col("user_id").as("ctx_station"),
        col("event_id").as("ctx_sno"), col("ts").as("ctx_ts"))
      .withWatermark("ctx_ts", "30 minutes")
    val joined = severe.join(context,
        col("station_id") === col("ctx_station") &&
          col("ctx_ts") >= col("alert_ts") - expr("INTERVAL 12 hours") &&
          col("ctx_ts") < col("alert_ts"),
        "full_outer")
      .select(coalesce(col("station_id"), col("ctx_station")).as("station_id"),
        col("alert_sno"), col("ctx_sno"))
    drainToMemory(spark, joined, "ss_full_outer_gate", OutputMode.Append())
      .filter(col("station_id") =!= -1L)
  }

  /** A8 through `dropDuplicatesWithinWatermark` — the Spark 3.5+ dedup
    * API for keys that REPEAT with drifting timestamps (retry storms,
    * producer re-sends with fresh ingest times), where exact-(key, ts)
    * dedup ([[dedupStream]]) would pass the replay through. State is
    * keyed on the subset columns ONLY and evicted once the watermark
    * passes each key's first-seen event time + delay; a replay arriving
    * inside that window is a state hit, one arriving after it is late
    * data — both drop, so the staged re-ingests must leave exactly the
    * unique event log (same oracle as the exact-key gate).
    */
  def dedupWithinWatermarkStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val deduped = replayedEventsStream(spark, dir, "graft_dedup_wm_src")
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_id")
      .select(col("user_id").as("station_id"), col("event_id").as("s_no"),
        col("event_type"), round(col("value"), 2).as("value"))
    drainToMemory(spark, deduped, "dedup_wm_gate", OutputMode.Append())
  }

  /** [[graft.streaming.WindowedStats.offlineAlerts]] gated end to end —
    * the EVENT-TIME TIMER path: every station's timer is armed at its
    * latest ping + 24 h and re-armed by newer pings; the two far-future
    * flush sentinels drive the watermark past every armed time, so every
    * real station times out exactly once and emits its final state. The
    * sentinels' own station (-1) arms a timer the final watermark never
    * passes, so it never emits (and is filtered defensively anyway). The
    * emitted rows must equal the batch latest-per-key oracle — the same
    * ANSWER as p_latest_per_key, through a completely different
    * (timer-driven, push-based) mechanism.
    */
  def offlineTimeoutStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val pings = eventsStreamWithFlush(spark, dir)
      .select(col("user_id").as("station_id"), col("event_id").as("s_no"),
        col("ts"))
    val alerts = graft.streaming.WindowedStats.offlineAlerts(pings)
    drainToMemory(spark, alerts.toDF(), "offline_gate", OutputMode.Append())
      .filter(col("station_id") =!= -1L)
      .select(col("station_id"), col("last_s_no"),
        date_format(col("last_seen"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("last_seen"))
  }

  /** Small-file compaction round trip ([[graft.operators.Scale
    * .compactFiles]]): the event log is deliberately shattered into 64
    * micro-batch-sized files (the streaming-ingest failure shape), then
    * compacted to size-targeted files and read back. The integer
    * checksum aggregate must equal the oracle's over the ORIGINAL log —
    * compaction must be a pure layout change, byte-losslessly preserving
    * every row. ScaleSpec separately asserts the file-count arithmetic.
    */
  def compactRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val shattered = graft.util.Scratch.dir("graft_compact_in").toString
    spark.read.parquet(s"$dir/events.parquet")
      .repartition(64).write.mode("overwrite").parquet(shattered)
    val out = graft.util.Scratch.dir("graft_compact_out").toString
    graft.operators.Scale.compactFiles(spark, shattered, out,
      targetFileBytes = 4L << 20)
    graft.util.EventTs.toMicros(spark.read.parquet(out))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_sno"),
        countDistinct(col("user_id")).as("n_stations"))
  }

  /** The bloom-prefiltered semi join machinery
    * ([[graft.operators.Scale.bloomSemiJoin]]) gated end to end: events of
    * stations that ever sent a signup, aggregated per type. The engine
    * builds a bloom of the signup stations, prefilters the full log inside
    * the scan stage, and exact-semi-joins the survivors; the DuckDB oracle
    * is the plain EXISTS semi join — any bloom false POSITIVE the exact
    * join fails to drop, or any false NEGATIVE (impossible by
    * construction), breaks the hash match.
    */
  def bloomPrunedStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val signup = ev.filter(col("event_type") === "signup")
      .select(col("user_id"))
    graft.operators.Scale.bloomSemiJoin(ev, signup, "user_id",
        numBits = 1 << 16)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_stations"),
        round(sum(col("value")), 2).as("sum_value"))
  }

  /** Z-order (Morton) codes over the distinct (station-bucket, hour) cells
    * — gates the [[graft.functions.ZOrderCode]] bit interleave against a
    * DuckDB bit-arithmetic oracle. The layout operator built on it
    * ([[graft.operators.Scale.zorderWrite]]) is plan/layout-asserted in
    * ScaleSpec.
    */
  def zorderCells(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(pmod(col("user_id"), lit(256)).as("a"),
        hour(col("ts")).as("b"))
      .distinct()
      .withColumn("z",
        graft.functions.ZOrderCode.zorder_code(col("a"), col("b"), 8))

  /** As-of state probe — "what was the station's latest reading as of
    * minute 37 of each active hour" — through
    * [[graft.operators.AsOfJoin.asOf]]: probes are the distinct
    * (station, hour) cells shifted to :37:00, build is the station's own
    * event timeline, inclusive at-or-before with max-s_no tie-break.
    * The DuckDB oracle states the same result as an inequality join +
    * per-probe row_number — exactly the quadratic formulation the
    * operator's union+window shape avoids (ScaleSpec plan-asserts zero
    * Join nodes and a single shuffle).
    */
  /** [[asOfState]] through the WHOLE-OPERATOR pipeline
    * ([[graft.operators.AsOfJoin.asOfExec]]: custom logical node →
    * planner strategy → merge-scan physical operator) — same probes,
    * same build, same output columns, same driver oracle as the
    * union+window form, so the two physical strategies are pinned
    * answer-equal by the correctness gate itself.
    */
  def asOfStateExec(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val probes = ev
      .select(col("user_id").as("station_id"),
        (date_trunc("hour", col("ts")) + expr("INTERVAL 37 minutes"))
          .as("probe_ts"))
      .distinct()
    val build = ev.select(col("user_id").as("b_station"),
      col("ts").as("b_ts"), col("event_id").as("b_sno"),
      col("value").as("b_value"))
    graft.operators.AsOfJoin.asOfExec(probes, build,
        Seq("station_id"), Seq("b_station"), "probe_ts", "b_ts",
        buildTie = Seq("b_sno"))
      .select(col("station_id"),
        date_format(col("probe_ts"), "yyyy-MM-dd HH:mm:ss").as("probe_ts"),
        col("b_sno").as("s_no"),
        date_format(col("b_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("event_ts"),
        round(col("b_value"), 2).as("value"))
  }

  /** [[asOfStateExec]] reached from SQL TEXT — the as-of operator's SQL
    * surface (the r13 verdict's ask: winnow_fp/bpe_tokenize set the
    * function-registration precedent; the as-of pair was Scala-only).
    * The `as_of` TABLE function
    * ([[graft.plans.GraftExtensions.sqlTableFunctions]], injected through
    * `spark.sql.extensions`) resolves the probe/build temp views and
    * returns the analyzed [[graft.plans.AsOfJoinNode]] plan, so the SQL
    * query plans through the SAME custom merge-scan exec as the Scala API
    * — and this gate shares p_asof_exec's oracle, pinning the two front
    * doors answer-equal.
    */
  def asOfStateSql(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val pv = s"asof_probes_$tag"; val bv = s"asof_build_$tag"
    ev.select(col("user_id").as("station_id"),
        (date_trunc("hour", col("ts")) + expr("INTERVAL 37 minutes"))
          .as("probe_ts"))
      .distinct().createOrReplaceTempView(pv)
    ev.select(col("user_id").as("b_station"),
        col("ts").as("b_ts"), col("event_id").as("b_sno"),
        col("value").as("b_value")).createOrReplaceTempView(bv)
    try spark.sql(
      s"""SELECT station_id,
        |  date_format(probe_ts, 'yyyy-MM-dd HH:mm:ss') AS probe_ts,
        |  b_sno AS s_no,
        |  date_format(b_ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS event_ts,
        |  round(b_value, 2) AS value
        |FROM as_of('$pv', '$bv', 'station_id', 'b_station',
        |           'probe_ts', 'b_ts', 'b_sno')""".stripMargin)
    finally {
      spark.catalog.dropTempView(pv)
      spark.catalog.dropTempView(bv)
    }
  }

  def asOfState(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val probes = ev
      .select(col("user_id").as("station_id"),
        (date_trunc("hour", col("ts")) + expr("INTERVAL 37 minutes"))
          .as("probe_ts"))
      .distinct()
    val build = ev.select(col("user_id").as("station_id"), col("ts"),
      col("event_id"), col("value"))
    graft.operators.AsOfJoin.asOf(probes, build, Seq("station_id"),
        "probe_ts", "ts", buildTieBreak = Seq("event_id"))
      .select(col("station_id"),
        date_format(col("probe_ts"), "yyyy-MM-dd HH:mm:ss").as("probe_ts"),
        col("matched.event_id").as("s_no"),
        date_format(col("matched.ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("event_ts"),
        round(col("matched.value"), 2).as("value"))
  }

  /** Regular-grid resampling with forward fill — the pandas
    * `resample(...).ffill()` / time-series gap-fill step, as one
    * distributed as-of join: probes are epoch-aligned `slotSeconds`
    * boundaries spanning the corpus (every station carries the FULL
    * global grid, so a station's pre-first-event slots surface as
    * UNFILLED rows — null s_no/value — rather than silently missing),
    * build is each station's own event timeline, and the fill is the
    * latest at-or-before event (max-event_id tie-break) via
    * [[graft.operators.AsOfJoin.asOf]] — the union+window shape: zero
    * Join nodes, one shuffle, no per-probe scan. The slot grid is
    * arithmetic on `floor(epoch / slotSeconds)`, so both engines derive
    * identical naive-UTC boundaries. At 100 TB the grid is
    * |stations| × |slots| narrow rows riding a broadcast of two slot
    * indices — the corpus itself moves once, into the same single
    * shuffle every as-of query pays.
    */
  def resampleFfill(spark: SparkSession, dir: String,
      slotSeconds: Long = 21600L): DataFrame = {
    require(slotSeconds > 0, s"slotSeconds must be positive: $slotSeconds")
    val ev = events(spark, dir)
    val bounds = ev.agg(
      floor(unix_timestamp(min(col("ts"))) / slotSeconds).cast("long")
        .as("s0"),
      floor(unix_timestamp(max(col("ts"))) / slotSeconds).cast("long")
        .as("s1"))
    val probes = ev.select(col("user_id").as("station_id")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("station_id"),
        explode(sequence(col("s0"), col("s1"))).as("slot"))
      .select(col("station_id"),
        timestamp_seconds(col("slot") * slotSeconds).as("slot_ts"))
    val build = ev.select(col("user_id").as("station_id"), col("ts"),
      col("event_id"), col("value"))
    graft.operators.AsOfJoin.asOf(probes, build, Seq("station_id"),
        "slot_ts", "ts", buildTieBreak = Seq("event_id"))
      .select(col("station_id"),
        date_format(col("slot_ts"), "yyyy-MM-dd HH:mm:ss").as("slot_ts"),
        col("matched.event_id").as("s_no"),
        round(col("matched.value"), 2).as("value"))
  }

  /** Linear-interpolation resampling — [[resampleFfill]]'s interior
    * twin (pandas `resample().interpolate()`): each grid slot takes the
    * time-weighted blend of its station's bracketing readings,
    * `v0 + (v1 − v0)·(slot − t0)/(t1 − t0)` over microsecond longs cast
    * to double (every op correctly-rounded IEEE in both engines, rounded
    * to 4 for hash stability). The bracket comes from TWO passes of the
    * same as-of machinery — backward inclusive for (t0, v0), FORWARD
    * STRICT for (t1, v1), so t1 > slot ≥ t0 and the denominator can
    * never be zero — joined back on the grid key. Slots missing either
    * bracket (before a station's first event / after its last) surface
    * with null `v_interp` and the missing side's null s_no, not dropped.
    * Cost: two union+window as-of passes (zero Join nodes each) plus one
    * grid-keyed join of the two |stations|·|slots| narrow frames.
    */
  def resampleInterp(spark: SparkSession, dir: String,
      slotSeconds: Long = 21600L): DataFrame = {
    require(slotSeconds > 0, s"slotSeconds must be positive: $slotSeconds")
    val ev = events(spark, dir)
    val bounds = ev.agg(
      floor(unix_timestamp(min(col("ts"))) / slotSeconds).cast("long")
        .as("s0"),
      floor(unix_timestamp(max(col("ts"))) / slotSeconds).cast("long")
        .as("s1"))
    val probes = ev.select(col("user_id").as("station_id")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("station_id"),
        explode(sequence(col("s0"), col("s1"))).as("slot"))
      .select(col("station_id"),
        timestamp_seconds(col("slot") * slotSeconds).as("slot_ts"))
    val build = ev.select(col("user_id").as("station_id"), col("ts"),
      col("event_id"), col("value"))
    val back = graft.operators.AsOfJoin.asOf(probes, build,
        Seq("station_id"), "slot_ts", "ts", buildTieBreak = Seq("event_id"))
      .select(col("station_id"), col("slot_ts"),
        unix_micros(col("matched.ts")).as("t0"),
        col("matched.event_id").as("s_no_prev"),
        col("matched.value").as("v0"))
    val fwd = graft.operators.AsOfJoin.asOf(probes, build,
        Seq("station_id"), "slot_ts", "ts", buildTieBreak = Seq("event_id"),
        strict = true, forward = true)
      .select(col("station_id"), col("slot_ts"),
        unix_micros(col("matched.ts")).as("t1"),
        col("matched.event_id").as("s_no_next"),
        col("matched.value").as("v1"))
    back.join(fwd, Seq("station_id", "slot_ts"))
      .select(col("station_id"),
        date_format(col("slot_ts"), "yyyy-MM-dd HH:mm:ss").as("slot_ts"),
        col("s_no_prev"), col("s_no_next"),
        round(col("v0") + (col("v1") - col("v0")) *
          ((unix_micros(col("slot_ts")) - col("t0")).cast("double") /
            (col("t1") - col("t0")).cast("double")), 4).as("v_interp"))
  }

  /** Downsampling to OHLC bars — [[resampleFfill]]'s aggregate twin
    * (upsample fills gaps; downsample summarizes dense slots): per
    * (station, epoch-aligned 6-hour slot), open = first reading, close =
    * last, plus min/max/count. First/last are `min_by`/`max_by` on the
    * (ts, event_id) order struct — partial-aggregate-friendly (no
    * per-slot sort, no window), reduction-order-exact because extrema
    * commute, with event_id breaking equal-ts ties deterministically.
    * One hash aggregate: the classic time-series bar rollup at any
    * scale.
    */
  def ohlcBars(spark: SparkSession, dir: String,
      slotSeconds: Long = 21600L): DataFrame = {
    require(slotSeconds > 0, s"slotSeconds must be positive: $slotSeconds")
    events(spark, dir)
      .select(col("user_id").as("station_id"),
        timestamp_seconds(
          floor(unix_timestamp(col("ts")) / slotSeconds).cast("long")
            * slotSeconds).as("slot"),
        col("ts"), col("event_id"), col("value"))
      .groupBy(col("station_id"), col("slot"))
      .agg(
        round(min_by(col("value"), struct(col("ts"), col("event_id"))), 2)
          .as("open"),
        round(max(col("value")), 2).as("high"),
        round(min(col("value")), 2).as("low"),
        round(max_by(col("value"), struct(col("ts"), col("event_id"))), 2)
          .as("close"),
        count(lit(1)).as("n"))
      .select(col("station_id"),
        date_format(col("slot"), "yyyy-MM-dd HH:mm:ss").as("slot_ts"),
        col("open"), col("high"), col("low"), col("close"), col("n"))
  }

  /** S4/K1 decode-path gate — the closest executable approximation to the
    * Kafka ingest spine in an environment with no broker or connector jars
    * (COVERAGE S4): events are rendered as Kafka-SHAPED frames — binary
    * key/value plus topic/partition/offset, the exact columns
    * `format("kafka").load()` yields — staged as parquet, then run through
    * the real [[graft.streaming.WeatherPipeline.decodeWire]] →
    * [[graft.core.Normalize.parseWire]] → [[graft.core.Normalize.toArchive]]
    * chain. Malformed JSON (event_id % 7 == 0) exercises the
    * PERMISSIVE-drop path and invalid battery enums (event_id % 11 == 0)
    * the closed-enum drop; the DuckDB oracle reproduces the surviving rows
    * from the events table.
    */
  def wireDecode(spark: SparkSession, dir: String): DataFrame = {
    val stage = graft.util.Scratch.dir("graft_wire_frames").toString
    val battery = element_at(
      array(lit("LOW"), lit("MEDIUM"), lit("HIGH")),
      (col("event_id") % 3 + 1).cast(IntegerType))
    val wireJson = when(col("event_id") % 7 === 0, lit("not json {"))
      .otherwise(to_json(struct(
        col("user_id").as("stationId"),
        col("event_id").as("sequenceNumber"),
        when(col("event_id") % 11 === 0, lit("BROKEN")).otherwise(battery)
          .as("batteryStatus"),
        unix_millis(col("ts")).as("statusTimestamp"),
        struct(
          round(col("value"), 0).cast(IntegerType).as("humidity"),
          (col("event_id") % 50).cast(IntegerType).as("temperature"),
          (col("event_id") % 30).cast(IntegerType).as("wind_speed"))
          .as("weather"))))
    events(spark, dir).select(
        col("user_id").cast(StringType).cast(BinaryType).as("key"),
        wireJson.cast(BinaryType).as("value"),
        lit("weather-data").as("topic"),
        (col("user_id") % 4).cast(IntegerType).as("partition"),
        col("event_id").as("offset"))
      .write.mode("overwrite").parquet(stage)
    val frames = spark.read.parquet(stage)
    graft.core.Normalize.toArchive(graft.core.Normalize.parseWire(
        graft.streaming.WeatherPipeline.decodeWire(frames)))
      .select(col("station_id"), col("s_no"), col("battery_status"),
        date_format(col("status_timestamp"), "yyyy-MM-dd HH:mm:ss.SSS").as("ts"),
        col("weather.humidity").as("humidity"),
        col("weather.temperature").as("temperature"),
        col("weather.wind_speed").as("wind_speed"))
  }

  /** S4 through the DataSourceV2 Source API itself: the custom
    * [[graft.sources.WireSourceProvider]] micro-batch stream replays wire
    * frames with per-station cadence + lossy-channel drops + malformed
    * frames + invalid enums, and this gate drives them through the exact
    * decode → parse → normalize pipeline the Kafka path uses
    * ([[wireDecode]]) — same offset/partition-reader contract the Kafka
    * connector implements, no broker required. The frame arithmetic is
    * small-integer modular math, so the DuckDB oracle reproduces the
    * surviving row set from `generate_series` alone.
    */
  def wireSourceReplay(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val raw = spark.readStream
      .format(classOf[graft.sources.WireSourceProvider].getName)
      .option("stations", 40).option("perStation", 50)
      .option("ticksPerBatch", 25)
      .load()
    drainToMemory(spark, wireArchiveProjection(raw), "wire_source_gate",
      OutputMode.Append())
  }

  /** The decode → parse → normalize → flat-archive projection both wire
    * gates drive — identical to the Kafka-path pipeline shape.
    */
  private def wireArchiveProjection(raw: DataFrame): DataFrame =
    graft.core.Normalize.toArchive(graft.core.Normalize
        .parseWire(graft.streaming.WeatherPipeline.decodeWire(raw)))
      .select(col("station_id"), col("s_no"), col("battery_status"),
        date_format(col("status_timestamp"), "yyyy-MM-dd HH:mm:ss.SSS")
          .as("ts"),
        col("weather.humidity").as("humidity"),
        col("weather.temperature").as("temperature"),
        col("weather.wind_speed").as("wind_speed"))

  /** [[wireSourceReplay]] THROUGH a kill + checkpoint restart — the
    * strongest transport-contract evidence a broker-less sandbox allows
    * (reference semantics: at-least-once delivery + idempotent doc-id;
    * SURVEY §2.6). The first run writes to an exactly-once parquet sink
    * (file-sink manifest) behind a checkpoint and is STOPPED as soon as
    * one data-carrying micro-batch has committed — a mid-replay kill;
    * the second run resumes from the committed offset and drains the
    * rest. The union must equal the full surviving frame set with no
    * duplicates and no gaps REGARDLESS of where the kill lands, so the
    * gate shares `p_wire_source`'s generate_series oracle: offsets-only
    * recovery (no source rewind beyond the committed offset, no
    * double-commit) is exactly what the hash equality proves. 10 ticks
    * per trigger over 50 ticks = up to 10 micro-batches, so the kill
    * virtually always lands with work left; the companion spec asserts
    * that property explicitly ([[graft.WireSourceSpec]]).
    */
  def wireSourceRestart(spark: SparkSession, dir: String): DataFrame = {
    val ck = graft.util.Scratch.dir("graft_wire_restart_ck").toString
    val out = graft.util.Scratch.dir("graft_wire_restart_out").toString
    def start() = {
      val raw = spark.readStream
        .format(classOf[graft.sources.WireSourceProvider].getName)
        .option("stations", 40).option("perStation", 50)
        .option("ticksPerBatch", 10)
        .load()
      wireArchiveProjection(raw).writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .format("parquet").option("path", out).start()
    }
    val q1 = start()
    val deadline = System.currentTimeMillis() + 60000
    while (q1.recentProgress.count(_.numInputRows > 0) < 1 &&
        System.currentTimeMillis() < deadline) Thread.sleep(25)
    // Fail loudly if the deadline fired before any data-carrying
    // micro-batch committed: a kill with zero committed progress would
    // silently degenerate this gate into a plain (restart-free) run.
    val committedBatches = q1.recentProgress.count(_.numInputRows > 0)
    q1.stop()
    require(committedBatches >= 1,
      s"wireSourceRestart: no data-carrying micro-batch committed within " +
        s"60 s before the kill (saw ${q1.recentProgress.length} progress " +
        "events); the restart gate would not exercise checkpoint resume")
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    spark.read.parquet(out)
  }

  /** Forward as-of with tolerance — "the FIRST reading at-or-after minute
    * 37 of each active hour, but only if it arrives within 30 minutes" —
    * [[graft.operators.AsOfJoin.asOf]] with `forward = true` and
    * `toleranceSeconds`: same union+window join-free shape as
    * [[asOfState]], traversing the timeline descending; the tolerance
    * bound nulls out matches farther than 30 min (pandas `merge_asof`
    * semantics). The oracle restates it as the quadratic bounded
    * inequality join + per-probe top-1.
    */
  def asOfForward(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val probes = ev
      .select(col("user_id").as("station_id"),
        (date_trunc("hour", col("ts")) + expr("INTERVAL 37 minutes"))
          .as("probe_ts"))
      .distinct()
    val build = ev.select(col("user_id").as("station_id"), col("ts"),
      col("event_id"), col("value"))
    graft.operators.AsOfJoin.asOf(probes, build, Seq("station_id"),
        "probe_ts", "ts", buildTieBreak = Seq("event_id"),
        forward = true, toleranceSeconds = Some(30L * 60))
      .select(col("station_id"),
        date_format(col("probe_ts"), "yyyy-MM-dd HH:mm:ss").as("probe_ts"),
        col("matched.event_id").as("s_no"),
        date_format(col("matched.ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("event_ts"),
        round(col("matched.value"), 2).as("value"))
  }

  /** [[asOfForward]] through the WHOLE-OPERATOR pipeline — forward +
    * tolerance planned as [[graft.plans.AsOfJoinExec]]'s merge scan
    * instead of the union+window rewrite: same probes, same build, same
    * output columns, same driver oracle, so the exec's forward mode is
    * pinned answer-equal to the rewrite by the correctness gate itself
    * (the p_asof_exec / p_asof_state shared-oracle pattern).
    */
  def asOfForwardExec(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val probes = ev
      .select(col("user_id").as("station_id"),
        (date_trunc("hour", col("ts")) + expr("INTERVAL 37 minutes"))
          .as("probe_ts"))
      .distinct()
    val build = ev.select(col("user_id").as("b_station"),
      col("ts").as("b_ts"), col("event_id").as("b_sno"),
      col("value").as("b_value"))
    graft.operators.AsOfJoin.asOfExec(probes, build,
        Seq("station_id"), Seq("b_station"), "probe_ts", "b_ts",
        buildTie = Seq("b_sno"), forward = true,
        toleranceSeconds = Some(30L * 60))
      .select(col("station_id"),
        date_format(col("probe_ts"), "yyyy-MM-dd HH:mm:ss").as("probe_ts"),
        col("b_sno").as("s_no"),
        date_format(col("b_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("event_ts"),
        round(col("b_value"), 2).as("value"))
  }

  /** MERGE upsert gate — [[graft.lake.Archive.mergeUpsert]] applying a
    * change feed onto a snapshot by primary key (station, s_no): the
    * "delta" re-delivers every third event with a corrected value (+1000)
    * plus a synthetic batch of brand-new rows; matched keys must take the
    * correction, new keys must append, the rest pass through untouched.
    * The oracle is the NOT EXISTS + UNION ALL restatement.
    */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id").as("station_id"), col("event_id").as("s_no"),
        col("event_type"), round(col("value"), 2).as("value"))
    // base omits every 5th event; delta re-delivers every 3rd — their
    // overlap (s_no % 3 == 0 && % 5 != 0) exercises UPDATE, the s_no % 15
    // rows (in delta, never in base) exercise INSERT
    val base = ev.filter(col("s_no") % 5 =!= 0)
    val delta = ev.filter(col("s_no") % 3 === 0)
      .select(col("station_id"), col("s_no"), col("event_type"),
        round(col("value") + 1000, 2).as("value"))
    graft.lake.Archive.mergeUpsert(base, delta, Seq("station_id", "s_no"))
  }

  /** CDC apply gate — [[graft.lake.Archive.cdcApply]] advancing a
    * per-station snapshot by a RAW multi-version change feed: every even
    * event is a change (version = s_no), with every 10th a DELETE, so
    * each station's fate rides on its LATEST even event — collapse must
    * pick it (not any earlier change), deletes must drop the station from
    * the snapshot, upserts must replace it. The oracle restates collapse
    * as row_number-latest and the apply as NOT EXISTS + UNION ALL.
    */
  /** TIME TRAVEL over the snapshot-isolated lake table
    * ([[graft.lake.Snapshots]]): publish two versions (events with
    * `s_no ≡ 0 (mod 3)`, then append the `≡ 1` slice), then read BOTH
    * versions back AFTER the second append and checksum each — version 1
    * must still be exactly its historical content even though the table
    * has moved on. The oracle recomputes both checksums from the raw
    * events with the same mod slices, so a manifest that leaked v2 files
    * into a v1 read (or dropped v1 files from v2) is a red row naming
    * the version.
    */
  /** Two-version snapshot table over the events log (v1 = `s_no ≡ 0
    * (mod 3)`, v2 appends the `≡ 1` slice) — shared by the time-travel
    * and change-feed gates so both read the SAME published table.
    */
  private def snapshotFixture(spark: SparkSession, dir: String): String = {
    val table = graft.util.Scratch.dir("graft_snap").toString
    val ev = events(spark, dir)
      .select(col("user_id").as("station_id"), col("event_id").as("s_no"),
        col("event_type"))
    graft.lake.Snapshots.append(ev.filter(col("s_no") % 3 === 0), table)
    graft.lake.Snapshots.append(ev.filter(col("s_no") % 3 === 1), table)
    table
  }

  def timeTravel(spark: SparkSession, dir: String): DataFrame = {
    val table = snapshotFixture(spark, dir)
    (1 to 2).map { v =>
      graft.lake.Snapshots.read(spark, table, Some(v))
        .agg(count(lit(1)).as("n"),
          sum(col("s_no")).cast("long").as("sum_sno"),
          countDistinct(col("station_id")).as("n_stations"))
        .select(lit(v).as("version"), col("n"), col("sum_sno"),
          col("n_stations"))
    }.reduce(_.unionAll(_))
  }

  /** Change-data-feed read over the snapshot table
    * ([[graft.lake.Snapshots.readChanges]]): "everything that landed
    * between v1 and v2" must be exactly the second append's slice —
    * computed from the manifest set difference alone, scanning only the
    * delta files. Checksummed per event_type so a delta that leaked v1
    * files (or dropped part of the append) reds the named type row.
    */
  /** File-level DATA SKIPPING over the snapshot lake
    * ([[graft.lake.Snapshots.prunedScan]]): publish the events log as
    * four value-banded versions (one file each, bands chosen inside the
    * data's [0, ~490] range), then answer a selective predicate through
    * the manifest's per-file min/max/null stats — 1 of 4 files survives
    * pruning by construction, and the kept/total counts are CONTRACT
    * COLUMNS pinned as literals in the oracle, so a stats regression
    * that stops pruning (or over-prunes) reds the row even though the
    * filtered ANSWER would still be correct. At 100 TB this is the
    * Delta/Iceberg skipping story: the decision happens at plan time
    * from commit-log arithmetic — the three cold files are never
    * opened, not even for footers.
    */
  /** The skipping gate's staged lake, a shared [[graft.util.Artifacts]]
    * entry per corpus: the table layout is deterministic, so it is staged
    * ONCE per session (`SparkEntry.prestage`) and the gate times pruning
    * + the pruned scan — the production split, where the lake already
    * EXISTS and skipping is the read-side win.
    */
  def lakeSkippingTable(spark: SparkSession, dir: String): String =
    graft.util.Artifacts.shared(spark, "skip_lake", dir) {
      import graft.lake.Snapshots
      val table = graft.util.Scratch.dir("graft_skip").toString
      val ev = events(spark, dir).select(col("event_id"),
        col("user_id"), col("event_type"), col("value"))
      // ONE ingest producing four range-clustered files — the CLUSTER
      // BY layout whose per-file stats make skipping effective (a
      // value-shuffled layout would keep every file). The bands are
      // EXPLICIT cuts (not repartitionByRange's sampled boundaries,
      // which only guaranteed one admissible file while the sampler
      // happened to place the third boundary at or below the
      // predicate cutoff): the top band starts exactly at the gate
      // predicate's 320.0, so precisely one file can admit
      // value >= 320 by construction, at any SF and under any
      // regenerated fixture. Routing: each band gets a KEY whose
      // Murmur3 hash lands in its own partition of 4 (hash%4 of
      // 12/6/2/0 = 0/1/2/3 — fixed seed, engine constant; a
      // union-of-coalesced/repartitioned legs form would NOT work,
      // the optimizer collapses per-leg repartitions through Union
      // to one partition). The require keeps layout drift loud.
      val bandKey = when(col("value") < 100.0, 12)
        .when(col("value") < 200.0, 6)
        .when(col("value") < 320.0, 2)
        .otherwise(0)
      Snapshots.append(
        ev.withColumn("__band", bandKey)
          .repartition(4, col("__band")).drop("__band"), table)
      val n = Snapshots.fileStats(table, 1).size
      require(n == 4, s"skipping fixture expected 4 band files, got $n")
      table
    }

  /** MULTI-dimensional stats skipping — the OPTIMIZE-ZORDER read-side
    * story: a table clustered on TWO dimensions (dense event_id halves
    * × a value cut) with per-file min/max stats on both, probed with a
    * CONJUNCTIVE predicate where EACH conjunct prunes files the other
    * cannot (the event_id bound eliminates the low-id quadrants, the
    * value bound the low-value ones) — exactly 1 of 4 files survives BY
    * CONSTRUCTION (explicit quadrant cuts; the event_id cut is derived
    * as (max+1)/2 in exact integers, which the oracle replays as a
    * scalar subquery, so the contract holds at every SF). Same band→
    * distinct-hash-partition routing as [[lakeSkippingTable]].
    */
  def lakeSkipping2dTable(spark: SparkSession, dir: String): (String, Long) =
    graft.util.Artifacts.shared(spark, "skip_lake_2d", dir) {
      import graft.lake.Snapshots
      val table = graft.util.Scratch.dir("graft_skip2d").toString
      val ev = events(spark, dir).select(col("event_id"),
        col("user_id"), col("event_type"), col("value"))
      val cut = (ev.agg(max(col("event_id"))).head.getLong(0) + 1L) / 2L
      // quadrant -> key whose Murmur3 hash%4 is distinct (12/6/2/0 ->
      // partitions 0/1/2/3; see lakeSkippingTable for why a
      // union-of-repartitioned legs cannot pin this)
      val keys = Seq(12, 6, 2, 0)
      val quadrant =
        when(col("event_id") < cut && col("value") < 100.0, keys(0))
          .when(col("event_id") < cut, keys(1))
          .when(col("value") < 100.0, keys(2))
          .otherwise(keys(3))
      Snapshots.append(
        ev.withColumn("__q", quadrant)
          .repartition(4, col("__q")).drop("__q"), table)
      val n = Snapshots.fileStats(table, 1).size
      require(n == 4, s"2d skipping fixture expected 4 files, got $n")
      (table, cut)
    }

  def lakeSkipping2d(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val (table, cut) = lakeSkipping2dTable(spark, dir)
    val pred = s"event_id >= $cut AND value >= 100.0"
    val (kept, all) = Snapshots.pruneFiles(spark, table, pred)
    Snapshots.prunedScan(spark, table, pred)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + lit(0.5)).cast("long"))
          .cast("long").as("cents"),
        countDistinct(col("user_id")).as("n_users"))
      .withColumn("n_kept_files", lit(kept.size))
      .withColumn("n_total_files", lit(all.size))
  }

  /** Engine-produced Z-ORDER — the WRITE side p_lake_skipping2d was
    * missing (its quadrant layout is fixture-constructed; the r13
    * verdict's #2 ask): start from an ARBITRARILY clustered table (a
    * flat round-robin shuffle, so every file spans the full range of
    * both dims and the conjunctive predicate can prune nothing), run
    * [[graft.lake.Snapshots.zorderRewrite]] over (event_id, value), and
    * prove from the MANIFEST that each single-dim predicate now skips
    * files on its own — the Z-curve's both-dims-tight promise, which no
    * single-column sort can give. Content preservation rides in
    * `n_rows_total` (the p_vacuum rewrite contract) and in the filtered
    * aggregate itself, which the oracle replays directly over `events`.
    * The pruning claims are BOOLEANS, not file counts: Z-quartile file
    * boundaries fall where the data's z-distribution puts them, so
    * exact kept-counts would pin an accident of the distribution where
    * "this dimension now prunes at all / the flat layout never did" is
    * the actual contract.
    */
  def lakeZorder(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val ev = events(spark, dir).select(col("event_id"), col("user_id"),
      col("event_type"), col("value"))
    val cut = (ev.agg(max(col("event_id"))).head.getLong(0) + 1L) / 2L
    val table = graft.util.Scratch.dir("graft_zorder").toString
    Snapshots.append(ev.repartition(4), table)
    val pred = s"event_id >= $cut AND value >= 100.0"
    val (k0, a0) = Snapshots.pruneFiles(spark, table, pred)
    val flatPruned = k0.size < a0.size
    Snapshots.zorderRewrite(spark, table, "event_id", "value")
    val (kId, aId) = Snapshots.pruneFiles(spark, table, s"event_id >= $cut")
    val (kV, aV) = Snapshots.pruneFiles(spark, table, "value >= 320.0")
    val nRows = Snapshots.read(spark, table).count()
    Snapshots.prunedScan(spark, table, pred)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + lit(0.5)).cast("long"))
          .cast("long").as("cents"),
        countDistinct(col("user_id")).as("n_users"))
      .withColumn("flat_pruned", lit(flatPruned))
      .withColumn("zorder_prunes_id", lit(kId.size < aId.size))
      .withColumn("zorder_prunes_value", lit(kV.size < aV.size))
      .withColumn("n_total_files", lit(aId.size))
      .withColumn("n_rows_total", lit(nRows))
  }

  def lakeSkipping(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val table = lakeSkippingTable(spark, dir)
    val pred = "value >= 320.0 AND event_type = 'click'"
    val (kept, all) = Snapshots.pruneFiles(spark, table, pred)
    Snapshots.prunedScan(spark, table, pred)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + lit(0.5)).cast("long"))
          .cast("long").as("cents"),
        countDistinct(col("user_id")).as("n_users"))
      .withColumn("n_kept_files", lit(kept.size))
      .withColumn("n_total_files", lit(all.size))
  }

  def snapshotChanges(spark: SparkSession, dir: String): DataFrame = {
    val table = snapshotFixture(spark, dir)
    graft.lake.Snapshots.readChanges(spark, table, 1, 2)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("s_no")).cast("long").as("sum_sno"),
        countDistinct(col("station_id")).as("n_stations"))
  }

  /** Dynamic partition overwrite — the BACKFILL pattern: reprocessing
    * one day/type must replace ONLY the partitions the new data
    * touches, leaving every other partition's files physically intact
    * (static mode would wipe the whole table first). The gate writes
    * events partitioned by type, backfills just the `error` partition
    * with corrected values (cents + 1) under
    * `partitionOverwriteMode=dynamic`, and aggregates the whole table:
    * errors must carry the correction, every other type must be
    * byte-identical to the original write. The conf is set and
    * restored around the write — it changes WRITE semantics only.
    */
  def partitionOverwrite(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.util.Scratch.dir("graft_dpo").toString
    val ev = events(spark, dir)
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    val fixed = ev.filter(col("event_type") === "error")
      .withColumn("cents", col("cents") + 1)
    // session-global conf mutation window: serialized under the same
    // lock drainToMemory uses, so a concurrently planned overwrite
    // can't silently inherit dynamic mode
    drainLock.synchronized {
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.get(key)
      spark.conf.set(key, "dynamic")
      try fixed.write.mode("overwrite").partitionBy("event_type")
        .parquet(out)
      finally spark.conf.set(key, prev)
    }
    spark.read.parquet(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).cast("long").as("cents"))
  }

  /** EXACTLY-ONCE streaming ingestion into the snapshot lake
    * ([[graft.lake.Snapshots.streamAppend]]) — the shape
    * that turns Structured Streaming's at-least-once foreachBatch
    * delivery into an exactly-once TABLE: each micro-batch publishes one
    * lake version whose manifest records the batch id, and a
    * re-delivered batch id no-ops instead of double-appending. The gate
    * stages the events log as two mtime-ordered files
    * (`maxFilesPerTrigger=1` → two batches), and the sink
    * DELIVERS EVERY BATCH TWICE — the second call simulates the
    * sink-failed-after-publish retry and must return None. Contract
    * columns: the per-type aggregate of the final table (a duplicated
    * batch doubles counts → red) and `n_versions` pinned to exactly one
    * version per batch. At 100 TB this is the ingestion front door:
    * micro-batch cost ∝ delta (one manifest + its files), and crash
    * recovery needs no reconciliation scan because idempotence lives in
    * the commit log itself.
    */
  def streamSinkLake(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val rec = stagedEventsStream(spark, dir, "graft_sink_src")(
        raw.filter(col("event_id") % 2 === 0),
        raw.filter(col("event_id") % 2 === 1))
      .select(col("user_id"), col("event_id"), col("event_type"))
    val table = graft.util.Scratch.dir("graft_sink_lake").toString
    graft.lake.Snapshots.streamAppend(rec, table,
      graft.util.Scratch.dir("graft_sink_ck").toString)(identity)
    graft.lake.Snapshots.read(spark, table)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("event_id")).cast("long").as("sum_id"))
      .withColumn("n_versions",
        lit(graft.lake.Snapshots.latestVersion(table).toLong))
  }

  /** CONCURRENT-WRITER composition — the OPTIMIZE-races-ingest
    * production incident: a streaming ingest publishes exactly-once
    * batches ([[graft.lake.Snapshots.streamAppend]]) WHILE a
    * compactor thread publishes content-preserving rewrites
    * ([[graft.lake.Snapshots.rewrite]]), both under the lake's
    * CAS + OCC-retry commit protocol. The contract is
    * interleaving-INVARIANT (which is what makes it oracle-checkable
    * despite a real race): whatever order the CAS serializes, the
    * final table holds every staged row exactly once, the version
    * count is appends + rewrites (each publication wins exactly one
    * version; losers retry, never vanish and never double-publish),
    * and the history records exactly 3 appends and 2 rewrites. A lost
    * row (rewrite from a stale read), a doubled batch (retry
    * re-publishing a delivered id), or a swallowed conflict (either
    * writer giving up) each break a pinned column.
    */
  def streamConcurrentWriters(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val rec = stagedEventsStream(spark, dir, "graft_ccw_src")(
        (0 until 3).map(i => raw.filter(col("event_id") % 3 === i)): _*)
      .select(col("user_id"), col("event_id"), col("event_type"))
    val table = graft.util.Scratch.dir("graft_ccw_lake").toString
    val nRewrites = 2
    @volatile var compactorErr: Option[Throwable] = None
    val compactor = new Thread(() => {
      // a separate writer, like the stream: its jobs, and the OCC retries
      // whose number the race decides, join no caller's job group (the
      // thread would otherwise inherit the group of the thread starting it)
      spark.sparkContext.clearJobGroup()
      try {
        var done = 0
        while (done < nRewrites) {
          if (Snapshots.latestVersion(table) >= 1) {
            Snapshots.rewrite(spark, table)
            done += 1
            Thread.sleep(150) // spread rewrites across the batch drain
          } else Thread.sleep(5)
        }
      } catch { case t: Throwable => compactorErr = Some(t) }
    }, "graft-ccw-compactor")
    compactor.setDaemon(true)
    compactor.start()
    Snapshots.streamAppend(rec, table,
      graft.util.Scratch.dir("graft_ccw_ck").toString)(identity)
    compactor.join(120000)
    compactorErr.foreach(t => throw t)
    require(!compactor.isAlive, "compactor did not finish its rewrites")
    val hist = Snapshots.history(spark, table)
    def ops(kind: String): Long =
      hist.filter(col("op") === kind).count()
    Snapshots.read(spark, table)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("event_id")).cast("long").as("sum_id"))
      .withColumn("n_versions",
        lit(Snapshots.latestVersion(table).toLong))
      .withColumn("n_appends", lit(ops("append")))
      .withColumn("n_rewrites", lit(ops("rewrite")))
  }

  /** Batch-bootstrap → streaming-tail HANDOFF (the kappa backfill): a
    * batch job bootstraps the table from the historical log, then the
    * stream starts over a range OVERLAPPING the bootstrap — and the
    * overlap must reconcile to exactly one copy of every row. The
    * production-shaped reconciliation: the bootstrap records its key
    * high-water mark; each micro-batch splits on it, appends `key >
    * hwm` rows DIRECTLY (no table read — the steady-state path after
    * the first batch), and anti-joins only the `key <= hwm` slice
    * against the PINNED bootstrap version (never the growing latest —
    * the reconciliation read stays bounded by the bootstrap forever,
    * and the stream's own batches are already exactly-once via
    * [[graft.lake.Snapshots.streamAppend]]). Fixture: bootstrap covers
    * `id < T/2`; the stream's first file covers `[T/3, 2T/3)` (partial
    * overlap — half dies in the anti-join, half is fresh), its second
    * `[2T/3, ∞)` (pure tail). Contract columns: the per-type aggregate
    * of the final table (any unreconciled duplicate doubles a count)
    * plus each version's `#rows=` commit stat — v2 must equal ONLY the
    * fresh half of the overlap batch.
    */
  def streamBackfill(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val t = raw.agg(max(col("event_id"))).collect()(0).getLong(0) + 1
    val (third, half, twoThird) = (t / 3, t / 2, 2 * t / 3)
    val rec = stagedEventsStream(spark, dir, "graft_bf_src")(
        raw.filter(col("event_id") >= third && col("event_id") < twoThird),
        raw.filter(col("event_id") >= twoThird))
      .select(col("user_id"), col("event_id"), col("event_type"))
    val table = graft.util.Scratch.dir("graft_bf_lake").toString
    val vBoot = graft.lake.Snapshots.append(
      raw.filter(col("event_id") < half)
        .select(col("user_id"), col("event_id"), col("event_type")), table)
    val hwm = half - 1 // the bootstrap's recorded key high-water mark
    graft.lake.Snapshots.streamAppend(rec, table,
        graft.util.Scratch.dir("graft_bf_ck").toString) { bdf =>
      val fresh = bdf.filter(col("event_id") > hwm)
      val overlap = bdf.filter(col("event_id") <= hwm)
      if (overlap.isEmpty) fresh // steady state: no table read at all
      else fresh.unionByName(overlap.join(
        graft.lake.Snapshots.read(bdf.sparkSession, table, Some(vBoot))
          .select(col("event_id")),
        Seq("event_id"), "left_anti"))
    }
    val rows = (1 to 3).map(v =>
      graft.lake.Snapshots.rowsWritten(table, v))
    graft.lake.Snapshots.read(spark, table)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("event_id")).cast("long").as("sum_id"))
      .withColumn("boot_rows", lit(rows(0)))
      .withColumn("overlap_rows", lit(rows(1)))
      .withColumn("tail_rows", lit(rows(2)))
  }

  /** Commit history — DESCRIBE HISTORY over the snapshot table
    * ([[graft.lake.Snapshots.history]]): the fixture's two appends, a
    * predicate delete, and an OPTIMIZE rewrite must each surface as one
    * row with the op kind and the `#rows=` commit-log stat (rows landed
    * in that version's own files — the number an operator reads off the
    * history instead of scanning data). The delete predicate
    * (`s_no % 6 = 1`) matches rows in every v2 file, so the delete's
    * rewritten-survivor count and the rewrite's live-row count are both
    * pure functions of the events log the oracle can replay. `n_files`
    * is deliberately NOT a contract column — it tracks write
    * parallelism, not data.
    */
  def lakeHistory(spark: SparkSession, dir: String): DataFrame = {
    val table = snapshotFixture(spark, dir)
    graft.lake.Snapshots.delete(spark, table, "s_no % 6 = 1")
    graft.lake.Snapshots.rewrite(spark, table)
    graft.lake.Snapshots.history(spark, table)
      .select(col("version"), col("op"), col("rows_written"))
  }

  /** Snapshot-lake retention lifecycle
    * ([[graft.lake.Snapshots.rewrite]] + [[graft.lake.Snapshots.vacuum]]
    * — the OPTIMIZE + VACUUM pair): two appends (v1, v2), a
    * content-preserving rewrite (v3 — same rows, fresh files, manifest
    * referencing ONLY them), then vacuum retaining from v3. The gate's
    * contract columns prove all three retention promises at once:
    * `v1_expired` (time travel to a vacuumed version fails LOUDLY, not
    * with partial data), `orphans_reclaimed` (the rewrite-orphaned data
    * files of both appends were physically deleted and both old
    * manifests expired), and the per-type aggregate of v3 AFTER the
    * vacuum — the live answer must be byte-identical to the source
    * slices even though every pre-rewrite file is gone.
    */
  def vacuumLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val table = snapshotFixture(spark, dir)
    graft.lake.Snapshots.rewrite(spark, table)
    val (deleted, expired) = graft.lake.Snapshots.vacuum(table, 3)
    val v1Gone =
      try { graft.lake.Snapshots.read(spark, table, Some(1)); false }
      catch { case _: IllegalArgumentException => true }
    graft.lake.Snapshots.read(spark, table, Some(3))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("s_no")).cast("long").as("sum_sno"),
        countDistinct(col("station_id")).as("n_stations"))
      .withColumn("v1_expired", lit(v1Gone))
      .withColumn("orphans_reclaimed", lit(deleted > 0 && expired == 2))
  }

  /** Row-level DELETE on the snapshot lake
    * ([[graft.lake.Snapshots.delete]] — the GDPR/compliance path), the
    * whole lifecycle in one gate: publish the two-version fixture,
    * delete `s_no ≡ 0 (mod 5)` (v3 — manifest swaps affected files for
    * survivor rewrites, untouched files carry forward by reference),
    * then prove all five contract points at once: (1) the live v3
    * aggregate excludes exactly the predicate rows; (2) the deleted-row
    * change feed ([[graft.lake.Snapshots.readDeletes]]) replays
    * precisely what was erased (count + checksum); (3) pre-delete time
    * travel still serves the deleted rows UNTIL vacuumed (`v2_n`); (4)
    * the add-side change feed refuses a span crossing the delete
    * instead of over-reporting (`span_guard`); (5) vacuum then
    * physically reclaims the swapped-out files and expires pre-delete
    * travel (`reclaimed`, `v2_expired`) — retention, not the delete,
    * erases bytes, the contract every lakehouse format documents.
    */
  def snapshotDelete(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val table = snapshotFixture(spark, dir)
    Snapshots.delete(spark, table, "s_no % 5 = 0")
    val v2n = Snapshots.read(spark, table, Some(2)).count()
    val del = Snapshots.readDeletes(spark, table, 3)
      .agg(count(lit(1)).as("n"), sum(col("s_no")).cast("long").as("s"))
      .head()
    val spanGuard =
      try { Snapshots.readChanges(spark, table, 1, 3); false }
      catch { case e: IllegalArgumentException =>
        e.getMessage.contains("crosses a delete") }
    val (reclaimed, _) = Snapshots.vacuum(table, 3)
    val v2Gone =
      try { Snapshots.read(spark, table, Some(2)); false }
      catch { case _: IllegalArgumentException => true }
    Snapshots.read(spark, table, Some(3))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("s_no")).cast("long").as("sum_sno"),
        countDistinct(col("station_id")).as("n_stations"))
      .withColumn("v2_n", lit(v2n))
      .withColumn("deleted_n", lit(del.getLong(0)))
      .withColumn("deleted_sum", lit(del.getLong(1)))
      .withColumn("span_guard", lit(spanGuard))
      .withColumn("v2_expired", lit(v2Gone))
      .withColumn("reclaimed", lit(reclaimed > 0))
  }

  /** State-store INTROSPECTION — Spark 4's state data source
    * (`format("statestore")`) read back as a queryable DataFrame: run a
    * streaming dedup over `user_id` (state = one entry per distinct key)
    * against a known checkpoint, then read that checkpoint's state store
    * and project the keys. The emitted set must equal batch
    * `SELECT DISTINCT user_id` — proving the operational surface every
    * production streaming deployment leans on (state debugging, audits,
    * offline state repair) reads EXACTLY what the operator stored, not an
    * approximation of it. Reader cost is ∝ state rows (per-partition
    * store files), never the stream's history.
    */
  def stateReader(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val ckpt = graft.util.Scratch.dir("graft_ck_reader").toString
    val deduped = eventsStream(spark, dir)
      .select(col("user_id")).dropDuplicates("user_id")
    // the drain itself is discarded — the gate's subject is the state
    // the query left behind in the checkpoint
    drainToMemory(spark, deduped, "state_reader_gate", OutputMode.Append(),
      checkpoint = Some(ckpt))
    spark.read.format("statestore").load(ckpt)
      .select(col("key.user_id").as("user_id"))
  }

  /** Gated hot-key split join ([[graft.operators.Scale.hotKeySplitJoin]]):
    * lineitem ⋈ orders on orderkey with the hot threshold INSIDE the
    * key-multiplicity range (lineitem carries 1–7 rows per order, so
    * both the broadcast-hot and shuffle-cold legs are exercised with
    * real rows), rolled up per returnflag. The oracle is the PLAIN join
    * — the split must be invisible in the result.
    */
  def hotKeyJoinStats(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("orderkey"), col("l_returnflag"),
        col("l_quantity"))
    val ord = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey").as("orderkey"), col("o_totalprice"))
    graft.operators.Scale.hotKeySplitJoin(li, ord, "orderkey",
        hotThreshold = 4L)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("l_quantity") * 100 + lit(0.5)).cast("long"))
          .cast("long").as("qty_cents"),
        sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
          .cast("long").as("price_cents"))
  }

  /** Gated SCD2 history: every station's `event_type` timeline as
    * validity intervals — consecutive equal types collapse, each change
    * opens a version stamped [valid_from, valid_to). Deterministic under
    * ties via the (ts, event_id) ordering. See [[graft.lake.Archive.scd2]]
    * for the operator contract and scale shape.
    */
  def scd2History(spark: SparkSession, dir: String): DataFrame =
    graft.lake.Archive.scd2(
      events(spark, dir).select(col("user_id").as("station_id"),
        col("ts"), col("event_id"), col("event_type")),
      keys = Seq("station_id"), orderCols = Seq("ts", "event_id"),
      attrs = Seq("event_type"), tsCol = "ts")

  def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id").as("station_id"), col("event_id").as("s_no"),
        col("event_type"), round(col("value"), 2).as("value"), col("ts"))
    val base = ev.groupBy(col("station_id"))
      .agg(max_by(
        struct(col("s_no"), col("event_type"), col("value")),
        struct(col("ts"), col("s_no"))).as("l"))
      .select(col("station_id"), col("l.*"))
    val feed = ev.filter(col("s_no") % 2 === 0)
      .select(col("station_id"), col("s_no"), col("event_type"),
        round(col("value") + 500, 2).as("value"),
        col("s_no").as("version"),
        when(col("s_no") % 10 === 0, lit("D")).otherwise(lit("U")).as("op"))
    graft.lake.Archive.cdcApply(base, feed, Seq("station_id"),
      "version", "op")
  }

  /** Schema-evolution read: the lake accrues batches whose schema GREW (a
    * `quality` column added mid-stream — the normal life of a telemetry
    * archive); `mergeSchema` reconciles per-file footers into the union
    * schema, with the old batch's missing column read as null. The gate
    * aggregates across both generations — null-aware counts/sums must
    * equal the oracle's CASE-based reconstruction. (mergeSchema is a
    * LAYOUT-TIME cost: at 100 TB you pay footer reads per file once per
    * listing, which is why production lakes persist the merged schema in
    * a catalog — the READ path with an explicit union schema is what
    * this gate exercises.)
    */
  def schemaEvolve(spark: SparkSession, dir: String): DataFrame = {
    val stage = graft.util.Scratch.dir("graft_evolve").toString
    val ev = events(spark, dir)
      .select(col("user_id").as("station_id"), col("event_id").as("s_no"),
        round(col("value"), 2).as("value"))
    ev.filter(col("s_no") % 2 === 0)
      .write.mode("overwrite").parquet(s"$stage/gen=1")
    ev.filter(col("s_no") % 2 =!= 0)
      .withColumn("quality", (col("s_no") % 5).cast(IntegerType))
      .write.mode("overwrite").parquet(s"$stage/gen=2")
    spark.read.option("mergeSchema", "true").parquet(stage)
      .groupBy(col("station_id"))
      .agg(count(lit(1)).as("n"), sum(col("s_no")).as("sum_sno"),
        count(col("quality")).as("n_quality"),
        sum(col("quality")).as("sum_quality"))
  }

  /** Stream-STATIC enrichment — the stateless streaming join the
    * stream-stream gates don't cover: each micro-batch of the event
    * stream joins a broadcast STATIC dimension (re-resolved per batch,
    * no watermark, no join state — the dimension is not a stream). This
    * is the ingest-time enrichment shape (station → region metadata); at
    * 100 TB the dimension stays broadcast-sized or becomes a
    * bucketed-table join, never stateful. Oracle = the batch join.
    */
  def streamEnrich(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val dim = spark.read.parquet(s"$dir/nation.parquet")
      .select(col("n_nationkey"), col("n_name"))
    val st = eventsStream(spark, dir)
      .select(col("user_id").as("station_id"), col("event_id").as("s_no"),
        round(col("value"), 2).as("value"),
        pmod(col("user_id"), lit(25)).as("nk"))
    val joined = st.join(broadcast(dim), col("nk") === col("n_nationkey"))
      .select(col("station_id"), col("s_no"), col("value"),
        col("n_name").as("region_name"))
    drainToMemory(spark, joined, "stream_enrich_gate", OutputMode.Append())
  }

  /** In-flight pipeline telemetry via `Dataset.observe` — the API that
    * rides arrival metrics on the SAME pass as the real work instead of
    * paying a second scan (at 100 TB "count the rows you just wrote" as
    * a separate query doubles the read): an `Observation` attaches
    * named aggregates to the plan, the main action (here the per-type
    * rollup this pipeline actually runs) executes once, and the metrics
    * arrive on the driver as a side channel. The gate returns the
    * OBSERVED metrics as a 1-row frame; the oracle recomputes them
    * directly, so the side channel must agree with a from-scratch scan
    * — and the action row count is folded in to prove the real query
    * ran alongside.
    */
  def observedStats(spark: SparkSession, dir: String): DataFrame = {
    val obs = org.apache.spark.sql.Observation()
    val ev = events(spark, dir).observe(obs,
      count(lit(1)).as("n_rows"),
      sum(floor(col("value") * 100 + lit(0.5)).cast("long"))
        .cast("long").as("cents"),
      count(when(col("value") > 100.0, lit(1))).as("n_hot"))
    // the real work: one action over the observed frame
    val nTypes = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n")).count()
    val m = obs.get
    import spark.implicits._
    Seq((m("n_rows").asInstanceOf[Long], m("cents").asInstanceOf[Long],
      m("n_hot").asInstanceOf[Long], nTypes))
      .toDF("n_rows", "cents", "n_hot", "n_types")
  }

  /** Per-user partial summary: the mergeable-aggregate state
    * (count / sum / min / max as integer cents) that [[aggMaintain]]
    * unions — one definition so base, delta, and a from-scratch rebuild
    * can never drift.
    */
  private def userSummary(df: DataFrame): DataFrame =
    df.select(col("user_id"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
        min(col("cents")).as("min_c"), max(col("cents")).as("max_c"))

  /** Incremental aggregate maintenance — the materialized-summary-table
    * pattern at 100 TB: a per-user summary built from the historical 90%
    * of events is UPDATED by merging the delta's partial aggregates,
    * never rescanning base events. Works because every maintained
    * statistic is a commutative monoid (counts and sums add, min/max
    * take min/max), so `merge = union the summary rows, re-aggregate` —
    * cost ∝ |delta| + |summary|, and when the summary table is
    * partitioned/bucketed by the group key the merge is co-located,
    * shuffle-free. Derived statistics (here `avg_cents`) are computed AT
    * READ from the maintained sums, never maintained directly (averages
    * don't merge). The non-example matters just as much: COUNT DISTINCT
    * is not a monoid — maintaining it incrementally is what the
    * mergeable sketches are for (`kmv_sketch`, `approx_count_distinct`
    * in `x_profile_approx`). Oracle = the from-scratch aggregate over
    * ALL events: the maintained summary must be indistinguishable from
    * a full rebuild.
    */
  /** The monoid merge shared by the batch and streaming maintainers —
    * union the summary rows, re-aggregate. */
  private def mergeSummaries(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("user_id"))
      .agg(sum(col("n")).cast("long").as("n"),
        sum(col("cents")).cast("long").as("cents"),
        min(col("min_c")).as("min_c"), max(col("max_c")).as("max_c"))

  def aggMaintain(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    mergeSummaries(userSummary(ev.filter(col("event_id") % 10 =!= 0)),
        userSummary(ev.filter(col("event_id") % 10 === 0)))
      .withColumn("avg_cents", expr("cents div n"))
  }

  /** STREAMING materialized view — [[aggMaintain]]'s merge run from a
    * `foreachBatch` loop: the event stream arrives as three staged
    * files (`maxFilesPerTrigger=1` → three micro-batches), and each
    * batch's partial summary is merged into a new VERSION of the
    * summary table (`v{id} + partial → v{id+1}` — versioned dirs, so a
    * crashed batch retries against its input version instead of a
    * half-written table; Delta's MERGE transaction collapses the
    * version pair, same recovery contract). The maintained view after
    * the last batch must equal the from-scratch batch rebuild — the
    * SAME oracle as `p_agg_maintain`, which is the whole point: a
    * summary kept current by a stream is indistinguishable from one
    * recomputed over all history. Cost per batch ∝ batch + summary,
    * exactly the incremental-view promise, now on the streaming path.
    */
  def aggMaintainStream(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val stream = stagedEventsStream(spark, dir, "graft_mv_src")(
      (0 until 3).map(i => raw.filter(col("event_id") % 3 === i)): _*)
    val sumRoot = graft.util.Scratch.dir("graft_mv_sum").toString
    val q = stream.writeStream
      .option("checkpointLocation",
        graft.util.Scratch.dir("graft_mv_ck").toString)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val partial = userSummary(batch)
        val merged =
          if (id == 0) partial
          else mergeSummaries(
            batch.sparkSession.read.parquet(s"$sumRoot/v$id"), partial)
        merged.write.mode("overwrite").parquet(s"$sumRoot/v${id + 1}")
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val last = new java.io.File(sumRoot).listFiles()
      .map(_.getName).filter(_.startsWith("v")).map(_.drop(1).toInt).max
    spark.read.parquet(s"$sumRoot/v$last")
      .withColumn("avg_cents", expr("cents div n"))
  }
}
