package graft

import org.apache.spark.sql.functions._
import graft.core.Normalize
import graft.gen.StationSource
import graft.lake.Archive

class MergeUpsertSpec extends SparkSpec {

  test("mergeUpsert: matched keys update, new keys insert, rest pass through") {
    import spark.implicits._
    val base = Seq((1L, "a", 1.0), (2L, "b", 2.0), (4L, "d", 4.0))
      .toDF("k", "s", "v")
    val delta = Seq((2L, "B", 20.0), (3L, "c", 3.0))
      .toDF("k", "s", "v")
    val out = Archive.mergeUpsert(base, delta, Seq("k")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(out == Map(1L -> ("a", 1.0), 2L -> ("B", 20.0),
      3L -> ("c", 3.0), 4L -> ("d", 4.0)))
    // one anti join + union: no window, no sort in the plan
    val plan = Archive.mergeUpsert(base, delta, Seq("k"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), plan.take(600))
    assert(!plan.contains("Window"), plan.take(600))
  }

  test("cdcApply collapses the feed per key, applies deletes and upserts") {
    import spark.implicits._
    val base = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("k", "s", "v")
    // key 1: U then later D -> deleted; key 2: D then later U -> upserted
    // (latest wins, not op precedence); key 4: insert; key 3: untouched
    val feed = Seq(
      (1L, "a1", 10.0, 1L, "U"), (1L, "a2", 11.0, 2L, "D"),
      (2L, "b1", 20.0, 1L, "D"), (2L, "b2", 21.0, 2L, "U"),
      (4L, "d", 40.0, 1L, "U"))
      .toDF("k", "s", "v", "version", "op")
    val out = Archive.cdcApply(base, feed, Seq("k"), "version", "op")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2)))
      .toMap
    assert(out == Map(2L -> ("b2", 21.0), 3L -> ("c", 3.0),
      4L -> ("d", 40.0)))
    // same-version delete+upsert pair resolves to the upsert ("U" > "D")
    val tie = Seq((5L, "e", 50.0, 1L, "D"), (5L, "e2", 51.0, 1L, "U"))
      .toDF("k", "s", "v", "version", "op")
    val tied = Archive.cdcApply(base.limit(0), tie, Seq("k"),
      "version", "op").collect()
    assert(tied.map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((5L, "e2")))
  }

  test("scd2 collapses unchanged runs and stamps validity intervals") {
    import spark.implicits._
    val ts = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val feed = Seq(
      (1L, ts(1), 10L, "a"), (1L, ts(2), 11L, "a"),  // unchanged -> collapse
      (1L, ts(3), 12L, "b"), (1L, ts(4), 13L, "a"),  // back to a = NEW version
      (2L, ts(1), 20L, null.asInstanceOf[String]),   // null is a value
      (2L, ts(2), 21L, null.asInstanceOf[String]),   // unchanged null -> collapse
      (2L, ts(3), 22L, "x"))
      .toDF("k", "ts", "seq", "attr")
    val out = Archive.scd2(feed, Seq("k"), Seq("ts", "seq"), Seq("attr"), "ts")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getTimestamp(3), Option(r.getTimestamp(4)), r.getBoolean(5)))
      .sortBy(t => (t._1, t._3)).toList
    assert(out == List(
      (1L, "a", 1, ts(1), Some(ts(3)), false),
      (1L, "b", 2, ts(3), Some(ts(4)), false),
      (1L, "a", 3, ts(4), None, true),
      (2L, null, 1, ts(1), Some(ts(3)), false),
      (2L, "x", 2, ts(3), None, true)), out.toString)
    // conservation: exactly one current version per key; intervals chain
    assert(out.count(_._6) == 2)
  }

  test("snapshots: version reads are pinned; appends never rewrite old files") {
    import spark.implicits._
    import graft.lake.Snapshots
    val table = graft.util.Scratch.dir("graft_snap_spec").toString
    val v1 = Snapshots.append(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), table)
    // pin a v1 frame BEFORE v2 exists
    val pinned = Snapshots.read(spark, table, Some(v1))
    val v1Files = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(table))
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(p => p -> java.nio.file.Files.getLastModifiedTime(p)).toMap
      finally s.close()
    }
    val v2 = Snapshots.append(Seq((3L, "c")).toDF("k", "s"), table)
    assert((v1, v2) == ((1, 2)))
    // the pinned frame AND a fresh v1 read both see only v1's rows
    assert(pinned.count() == 2)
    assert(Snapshots.read(spark, table, Some(1)).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(Snapshots.read(spark, table).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(Snapshots.latestVersion(table) == 2)
    // append-only: no v1 data file was touched by the v2 append
    v1Files.foreach { case (p, t) =>
      assert(java.nio.file.Files.getLastModifiedTime(p) == t,
        s"$p was modified by a later append") }
    // change feed: v1->v2 delta is exactly the second append's rows;
    // from version 0 the delta is the whole table
    assert(Snapshots.readChanges(spark, table, 1, 2).select("k")
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    // ...and the scan PLANS only the delta files — the whole point of
    // the manifest diff is that a consumer never touches v1's data
    val v1Paths = Snapshots.read(spark, table, Some(1)).inputFiles.toSet
    val deltaPaths = Snapshots.readChanges(spark, table, 1, 2).inputFiles
    assert(deltaPaths.nonEmpty && deltaPaths.forall(!v1Paths.contains(_)),
      s"delta scan touches v1 files: ${deltaPaths.toSeq}")
    assert(Snapshots.readChanges(spark, table, 0, 2).count() == 3)
    intercept[IllegalArgumentException] {
      Snapshots.readChanges(spark, table, 2, 2)
    }
    // no torn manifests left behind (every staged .tmp was renamed)
    val manifests = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(
        java.nio.file.Paths.get(table, "_manifests"))
      try s.iterator().asScala.map(_.getFileName.toString).toList
      finally s.close()
    }
    assert(manifests.sorted == List("v1.list", "v2.list"), manifests)
  }

  test("snapshots: a racing append loses loudly, never clobbers a version") {
    import spark.implicits._
    import graft.lake.Snapshots
    val table = graft.util.Scratch.dir("graft_snap_race").toString
    Snapshots.append(Seq((1L, "a")).toDF("k", "s"), table)
    // simulate the race: another writer has already published v2 while
    // this writer still holds expectedVersion = 1 (the CAS handle)
    val v2 = java.nio.file.Paths.get(table, "_manifests", "v2.list")
    java.nio.file.Files.write(v2, "data/other/winner.parquet".getBytes)
    val err = intercept[IllegalStateException] {
      Snapshots.append(Seq((2L, "b")).toDF("k", "s"), table,
        expectedVersion = Some(1))
    }
    assert(err.getMessage.contains("version 2"))
    // the published v2 is untouched and no staged tmp lingers
    assert(new String(java.nio.file.Files.readAllBytes(v2))
      == "data/other/winner.parquet")
    val leftovers = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(
        java.nio.file.Paths.get(table, "_manifests"))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".tmp")).toList
      finally s.close()
    }
    assert(leftovers.isEmpty, leftovers.toString)
    // the loser's freshly written data subdirectory is reclaimed too:
    // lost-race parquet is referenced by no manifest, so vacuum's
    // keep/doomed arithmetic could never see it — without this cleanup
    // every retry leaks a directory forever
    val dataSubs = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(
        java.nio.file.Paths.get(table, "data"))
      try s.iterator().asScala.map(_.getFileName.toString).toList
      finally s.close()
    }
    assert(dataSubs.size == 1 && dataSubs.head.startsWith("v1-"),
      s"lost-race data not reclaimed: $dataSubs")
  }

  test("snapshots: row-level delete swaps only affected files; CDF replays it") {
    import spark.implicits._
    import graft.lake.Snapshots
    val table = graft.util.Scratch.dir("graft_snap_del").toString
    Snapshots.append(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), table)
    Snapshots.append(Seq((3L, "c"), (4L, "d")).toDF("k", "s"), table)
    val v1Paths = Snapshots.read(spark, table, Some(1)).inputFiles.toSet
    // delete k=3: only the v2 append's file contains a match, so v1's
    // files must carry forward BY REFERENCE (same physical paths)
    val v3 = Snapshots.delete(spark, table, "k = 3")
    assert(v3 == 3 && Snapshots.opKind(table, 3) == "delete")
    assert(Snapshots.deletePredicate(table, 3).contains("k = 3"))
    val v3Read = Snapshots.read(spark, table, Some(3))
    assert(v3Read.select("k").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 4L))
    assert(v1Paths.subsetOf(v3Read.inputFiles.toSet),
      "untouched files were rewritten by the delete")
    // pre-delete versions still serve the deleted row (until vacuumed)
    assert(Snapshots.read(spark, table, Some(2)).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    // the change feed replays exactly the erased rows
    assert(Snapshots.readDeletes(spark, table, 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((3L, "c")))
    // vacuum to the delete version physically reclaims the swapped-out
    // file; the live answer is unchanged
    val (deleted, _) = Snapshots.vacuum(table, 3)
    assert(deleted > 0)
    assert(Snapshots.read(spark, table).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 4L))
    // a no-match delete still publishes a version (compliance log) with
    // identical content and zero rewritten files
    val v4 = Snapshots.delete(spark, table, "k = 999")
    assert(v4 == 4 && Snapshots.opKind(table, 4) == "delete")
    assert(Snapshots.read(spark, table, Some(4)).inputFiles.toSet
      == Snapshots.read(spark, table, Some(3)).inputFiles.toSet)
    assert(Snapshots.readDeletes(spark, table, 4).count() == 0)
  }

  test("snapshots: delete keeps null-predicate rows (SQL DELETE semantics)") {
    import spark.implicits._
    import graft.lake.Snapshots
    val table = graft.util.Scratch.dir("graft_snap_delnull").toString
    Snapshots.append(Seq((Some(1L), "a"), (None, "b"), (Some(3L), "c"))
      .toDF("k", "s"), table)
    Snapshots.delete(spark, table, "k < 2")  // NULL < 2 is NULL → keep
    assert(Snapshots.read(spark, table).select("s")
      .collect().map(_.getString(0)).sorted.toSeq == Seq("b", "c"))
  }

  test("data skipping prunes by manifest stats, never the answer") {
    import spark.implicits._
    import graft.lake.Snapshots
    val table = graft.util.Scratch.dir("graft_skip_spec").toString
    // three files with disjoint k ranges; one holds nulls in s
    Snapshots.append(Seq((1L, Option("a")), (2L, Option("b")))
      .toDF("k", "s").repartition(1), table)
    Snapshots.append(Seq((10L, Option("c")), (11L, None: Option[String]))
      .toDF("k", "s").repartition(1), table)
    Snapshots.append(Seq((20L, Option("d")), (21L, Option("e")))
      .toDF("k", "s").repartition(1), table)

    def kept(pred: String): Int =
      Snapshots.pruneFiles(spark, table, pred)._1.size
    def answer(pred: String): Seq[Long] =
      Snapshots.prunedScan(spark, table, pred).select("k")
        .collect().map(_.getLong(0)).sorted.toSeq
    def full(pred: String): Seq[Long] =
      Snapshots.read(spark, table).filter(expr(pred)).select("k")
        .collect().map(_.getLong(0)).sorted.toSeq

    // point + range predicates open only the band file
    assert(kept("k = 10") == 1)
    assert(kept("k >= 20") == 1)
    assert(kept("k < 3") == 1)
    assert(kept("k BETWEEN 9 AND 12") == 1)   // parser expands to >= AND <=
    assert(kept("k IN (2, 21)") == 2)
    assert(kept("k = 15") == 0)               // falls between bands
    // IS NULL opens only the file that HAS nulls; IS NOT NULL keeps all
    // files with at least one non-null
    assert(kept("s IS NULL") == 1)
    assert(kept("s IS NOT NULL") == 3)
    // disjunction: union of the bands
    assert(kept("k = 1 OR k = 20") == 2)
    // unknown shapes keep everything (conservative, never wrong)
    assert(kept("k % 2 = 0") == 3)
    assert(kept("length(s) > 0") == 3)
    // every pruned answer equals the unpruned one
    Seq("k = 10", "k >= 20", "k < 3", "k IN (2, 21)", "k = 15",
        "s IS NULL", "k = 1 OR k = 20", "k % 2 = 0").foreach { p =>
      assert(answer(p) == full(p), s"pruned answer drifted for: $p")
    }
    // an all-pruned scan still returns the schema'd empty frame
    assert(Snapshots.prunedScan(spark, table, "k = 15").columns.toSeq ==
      Seq("k", "s"))
    // stats survive carry-forward: the delete rewrites ONE file, the
    // other two keep their original stats lines and still prune
    Snapshots.delete(spark, table, "k = 11")
    assert(kept("k = 1") == 1)
    assert(kept("s IS NULL") <= 1) // nulls gone; rewritten file re-statted
    assert(answer("k >= 10") == Seq(10L, 20L, 21L))
  }

  test("timestamp stats prune zone-free: publish and prune under different session TZs") {
    import spark.implicits._
    import graft.lake.Snapshots
    val table = graft.util.Scratch.dir("graft_skip_tz").toString
    val tzKey = "spark.sql.session.timeZone"
    val prev = spark.conf.get(tzKey)
    try {
      // publish under UTC: two files with disjoint hour bands
      spark.conf.set(tzKey, "UTC")
      Snapshots.append(Seq(1L, 2L).toDF("id").select(col("id"),
        to_timestamp(lit("2024-03-01 01:00:00")).as("ts")).repartition(1),
        table)
      Snapshots.append(Seq(3L, 4L).toDF("id").select(col("id"),
        to_timestamp(lit("2024-03-01 13:00:00")).as("ts")).repartition(1),
        table)
      // prune under a +14h zone: the stored stat must reconstruct the
      // SAME instant — a session-zone string round-trip would shift the
      // interval by the offset and prune the matching file away
      spark.conf.set(tzKey, "Pacific/Kiritimati")
      val pred = "ts >= TIMESTAMP'2024-03-01 13:00:00'"
      // under +14, 13:00 local = 2024-02-29T23:00 UTC — BOTH files match
      val (kept, all) = Snapshots.pruneFiles(spark, table, pred)
      assert(all.size == 2)
      val ans = Snapshots.prunedScan(spark, table, pred)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      val want = Snapshots.read(spark, table).filter(expr(pred))
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ans == want, "pruned answer drifted across a TZ change")
      assert(want == Seq(1L, 2L, 3L, 4L))
      assert(kept.size == 2)
      // and pruning still bites zone-free: a UTC-anchored literal that
      // only the second file can match keeps exactly one file
      spark.conf.set(tzKey, "UTC")
      assert(Snapshots.pruneFiles(spark, table,
        "ts >= TIMESTAMP'2024-03-01 13:00:00'")._1.size == 1)
    } finally spark.conf.set(tzKey, prev)
  }

  test("legacy v1 manifests: string timestamp stats never cause a wrong prune") {
    import spark.implicits._
    import graft.lake.Snapshots
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val table = graft.util.Scratch.dir("graft_skip_legacy").toString
    Snapshots.append(Seq(1L, 2L).toDF("id").select(col("id"),
      to_timestamp(lit("2024-03-01 01:00:00")).as("ts")).repartition(1),
      table)
    Snapshots.append(Seq(3L, 4L).toDF("id").select(col("id"),
      to_timestamp(lit("2024-03-01 13:00:00")).as("ts")).repartition(1),
      table)
    val pred = "ts >= TIMESTAMP'2024-03-01 13:00:00'"
    assert(Snapshots.statsVersion(table, 2) == 2)
    assert(Snapshots.pruneFiles(spark, table, pred)._1.size == 1)

    // rewrite v2's manifest as a pre-marker (v1) manifest: drop the
    // #statsv header and re-render the micros bounds as the legacy
    // session-zone strings v1 code wrote (session TZ is pinned UTC)
    def legacyRender(micros: String): String = {
      val inst = java.time.Instant.EPOCH.plusNanos(micros.toLong * 1000L)
      java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss")
        .withZone(java.time.ZoneOffset.UTC).format(inst)
    }
    def b64(s: String) =
      java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
    def unb64(s: String) =
      new String(java.util.Base64.getDecoder.decode(s), "UTF-8")
    val m = Paths.get(table, "_manifests", "v2.list")
    val rewritten = Files.readAllLines(m).asScala.toSeq
      .filterNot(_.startsWith("#statsv="))
      .map { l =>
        if (!l.startsWith("#stats=")) l
        else {
          val Array(head, rows, parts @ _*) = l.split('|')
          val fixed = parts.map { p =>
            val Array(c, mn, mx, nn) = p.split(':')
            if (unb64(c) != "ts") p
            else Seq(c,
              if (mn == "-") "-" else b64(legacyRender(unb64(mn))),
              if (mx == "-") "-" else b64(legacyRender(unb64(mx))),
              nn).mkString(":")
          }
          (head +: rows +: fixed).mkString("|")
        }
      }
    Files.delete(m)
    Files.write(m, rewritten.asJava)

    // the marker is gone → decode takes the legacy string parse, the
    // prune still bites, and the answer never changes
    assert(Snapshots.statsVersion(table, 2) == 1)
    assert(Snapshots.pruneFiles(spark, table, pred)._1.size == 1)
    assert(Snapshots.prunedScan(spark, table, pred)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))

    // mixed/corrupt case: legacy strings under a manifest that still
    // CLAIMS v2 — micros decode fails, the undecodable guard must KEEP
    // both files (conservative), never prune the matching one
    val claimed = ("#statsv=2" +: rewritten).asJava
    Files.delete(m)
    Files.write(m, claimed)
    assert(Snapshots.statsVersion(table, 2) == 2)
    val (kept, all) = Snapshots.pruneFiles(spark, table, pred)
    assert(all.size == 2 && kept.size == 2)
    assert(Snapshots.prunedScan(spark, table, pred)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
  }

  test("unmarked-micros manifests (pre-header era) keep timestamp pruning") {
    import spark.implicits._
    import graft.lake.Snapshots
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // manifests written by the micros encoder just BEFORE the #statsv
    // header existed: epoch-micros renders, no marker. statsVersion
    // reads them as v1; the v1 decode must recover the micros bounds
    // (coalesce with the string parse — the renders are disjoint), not
    // NULL-out and silently keep every file
    val table = graft.util.Scratch.dir("graft_skip_unmarked").toString
    Snapshots.append(Seq(1L, 2L).toDF("id").select(col("id"),
      to_timestamp(lit("2024-03-01 01:00:00")).as("ts")).repartition(1),
      table)
    Snapshots.append(Seq(3L, 4L).toDF("id").select(col("id"),
      to_timestamp(lit("2024-03-01 13:00:00")).as("ts")).repartition(1),
      table)
    val pred = "ts >= TIMESTAMP'2024-03-01 13:00:00'"
    val m = Paths.get(table, "_manifests", "v2.list")
    val unmarked = Files.readAllLines(m).asScala.toSeq
      .filterNot(_.startsWith("#statsv="))
    Files.delete(m)
    Files.write(m, unmarked.asJava)
    assert(Snapshots.statsVersion(table, 2) == 1)
    // pruning BITES on the unmarked micros bounds...
    val (kept, all) = Snapshots.pruneFiles(spark, table, pred)
    assert(all.size == 2 && kept.size == 1,
      s"unmarked-micros era lost pruning: kept=${kept.size} of ${all.size}")
    // ...and the answer is unchanged
    assert(Snapshots.prunedScan(spark, table, pred)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
  }

  test("timestamp stats round-trip across all three manifest eras on random timelines") {
    import spark.implicits._
    import graft.lake.Snapshots
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // random micros spanning pre-1970 and fractional seconds — the
    // decode matrix: v2 (#statsv=2, micros), the unmarked-micros era
    // (no header, micros renders), and legacy v1 (no header, session-
    // zone string renders). Contract: prunedScan == read().filter for
    // every predicate under every era (decode may only LOSE pruning,
    // never answers)
    val rnd = new scala.util.Random(421L)
    val span = 200L * 365 * 86400 * 1000000L // ±200 years in micros
    val micros = (1 to 48).map(i =>
      (i.toLong, math.floorMod(rnd.nextLong(), 2 * span) - span))
    val table = graft.util.Scratch.dir("graft_skip_eras").toString
    // range-partition on ts: two NON-EMPTY files with disjoint ts bands
    // (a hash split can leave an empty stats-less part file, which
    // pruning must conservatively keep — not what this test probes)
    Snapshots.append(
      micros.toDF("id", "us")
        .select(col("id"), timestamp_micros(col("us")).as("ts"))
        .repartitionByRange(2, col("ts")),
      table)
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC)
    def lit6(us: Long): String = "TIMESTAMP'" + fmt.format(
      java.time.Instant.EPOCH.plusNanos(us * 1000L)) + "'"
    val probes = rnd.shuffle(micros.map(_._2)).take(5)
    val preds =
      probes.map(us => s"ts >= ${lit6(us)}") ++
      probes.map(us => s"ts <= ${lit6(us)}") :+
      s"ts >= ${lit6(micros.map(_._2).max)}" // extreme: must prune
    def checkAll(era: String): Unit = preds.foreach { p =>
      val want = Snapshots.read(spark, table).filter(expr(p))
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      val got = Snapshots.prunedScan(spark, table, p)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == want, s"[$era] answer drifted under '$p'")
    }
    checkAll("v2")
    val m = Paths.get(table, "_manifests", "v1.list")
    val v2Lines = Files.readAllLines(m).asScala.toSeq
    // era: unmarked micros (header stripped, micros renders kept)
    Files.delete(m)
    Files.write(m, v2Lines.filterNot(_.startsWith("#statsv=")).asJava)
    assert(Snapshots.statsVersion(table, 1) == 1)
    checkAll("unmarked-micros")
    val extreme = s"ts >= ${lit6(micros.map(_._2).max)}"
    val (xk, xa) = Snapshots.pruneFiles(spark, table, extreme)
    assert(xk.size <= 1,
      s"unmarked-micros decode must still prune '$extreme': kept $xk of" +
        s" $xa; stats=${Snapshots.fileStats(table, 1)}")
    // era: legacy v1 strings — re-render every ts bound through Spark's
    // own CAST(ts AS STRING) under the pinned UTC session zone (exactly
    // what pre-micros code wrote, fractional seconds included)
    def b64(s: String) =
      java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
    def unb64(s: String) =
      new String(java.util.Base64.getDecoder.decode(s), "UTF-8")
    def castRender(us: Long): String =
      Seq(Tuple1(us)).toDF("us")
        .select(timestamp_micros(col("us")).cast("string"))
        .collect().head.getString(0)
    val legacy = v2Lines.filterNot(_.startsWith("#statsv=")).map { l =>
      if (!l.startsWith("#stats=")) l
      else {
        val Array(head, rows, parts @ _*) = l.split('|')
        val fixed = parts.map { p =>
          val Array(c, mn, mx, nn) = p.split(':')
          if (unb64(c) != "ts") p
          else Seq(c,
            if (mn == "-") "-" else b64(castRender(unb64(mn).toLong)),
            if (mx == "-") "-" else b64(castRender(unb64(mx).toLong)),
            nn).mkString(":")
        }
        (head +: rows +: fixed).mkString("|")
      }
    }
    Files.delete(m)
    Files.write(m, legacy.asJava)
    checkAll("legacy-strings")
  }

  test("zorderRewrite: content preserved bit-for-bit; null and constant dims degrade gracefully") {
    import spark.implicits._
    import graft.lake.Snapshots
    val table = graft.util.Scratch.dir("graft_zorder_spec").toString
    // nulls in one dim, a constant second dim, plus negative values —
    // the tile normalization's edge cases (nulls park on tile 0, a
    // constant column collapses to one tile, min/max shifting handles
    // negatives since tiles are offsets from the live min)
    val rows = (1L to 97L).map(i =>
      (i, if (i % 7 == 0) None else Some(i * 3 - 50), "k"))
    val df = rows.toDF("id", "v", "c")
    Snapshots.append(df.repartition(3), table)
    val before = Snapshots.read(spark, table)
      .collect().map(_.toString).sorted.toSeq
    val v2 = Snapshots.zorderRewrite(spark, table, "id", "v",
      targetFiles = 3)
    assert(v2 == 2)
    val after = Snapshots.read(spark, table)
      .collect().map(_.toString).sorted.toSeq
    assert(after == before, "zorder rewrite must preserve content exactly")
    // constant dim: every row on tile 0 of that axis — still publishes,
    // still preserves content (degenerates to a 1-dim range layout)
    val t2 = graft.util.Scratch.dir("graft_zorder_spec_const").toString
    Snapshots.append(df.withColumn("k", lit(5L)).repartition(2), t2)
    Snapshots.zorderRewrite(spark, t2, "k", "id", targetFiles = 2)
    assert(Snapshots.read(spark, t2).count() == 97L)
    // the produced layout prunes on the id dim from the manifest
    val (kept, all) = Snapshots.pruneFiles(spark, t2, "id >= 90")
    assert(all.size == 2 && kept.size == 1,
      s"1-dim degenerate z-layout should still prune: ${kept.size}/${all.size}")
  }

  test("zorder_code_n: bit-identical to the 2-dim form; 3-dim rewrite prunes each dim") {
    import spark.implicits._
    import graft.lake.Snapshots
    import graft.functions.ZOrderCode
    // n = 2 must be BIT-IDENTICAL to the gated binary expression (the
    // generalization cannot silently re-order the interleave)
    val pairs = (0L to 300L by 7).flatMap(a => Seq((a, (a * 13) % 256)))
    val df2 = pairs.toDF("a", "b")
    val viaBin = df2.select(ZOrderCode.zorder_code(col("a"), col("b"), 8))
      .collect().map(_.getLong(0)).toSeq
    val viaN = df2.select(ZOrderCode.zorder_code_n(Seq(col("a"), col("b")), 8))
      .collect().map(_.getLong(0)).toSeq
    assert(viaN == viaBin)
    // null in any dim -> null code
    assert(Seq((Some(1L), Option.empty[Long])).toDF("a", "b")
      .select(ZOrderCode.zorder_code_n(Seq(col("a"), col("b")), 8))
      .collect().head.isNullAt(0))
    // 3-dim OPTIMIZE: flat table, rewrite on (x, y, w), every
    // single-dim range predicate prunes files from the manifest alone
    val rows = (1L to 729L).map { i =>
      (i, (i * 7) % 729, (i * 31) % 729, s"p$i")
    }
    val table = graft.util.Scratch.dir("graft_zorder_3d").toString
    Snapshots.append(rows.toDF("x", "y", "w", "payload").repartition(4),
      table)
    val before = Snapshots.read(spark, table)
      .collect().map(_.toString).sorted.toSeq
    Snapshots.zorderRewriteN(spark, table, Seq("x", "y", "w"),
      targetFiles = 8, bits = 6)
    val after = Snapshots.read(spark, table)
      .collect().map(_.toString).sorted.toSeq
    assert(after == before, "3-dim zorder rewrite must preserve content")
    for (c <- Seq("x", "y", "w")) {
      val (kept, all) = Snapshots.pruneFiles(spark, table, s"$c >= 700")
      assert(all.size == 8 && kept.size < all.size,
        s"dim $c must prune post-rewrite: ${kept.size}/${all.size}")
    }
  }

  test("zorderRewrite quantile tiles: equi-depth layout prunes under heavy skew") {
    import spark.implicits._
    import graft.lake.Snapshots
    // 90% of v sits on ONE hot value — min/max tiles would crowd the
    // whole corpus onto tile 0 of that axis; equi-depth cuts collapse
    // the duplicates and spread the layout by id instead
    val rows = (1L to 500L).map(i =>
      (i, if (i % 10 != 0) 1.0 else 1000.0 + i))
    val table = graft.util.Scratch.dir("graft_zorder_skew").toString
    Snapshots.append(rows.toDF("id", "v").repartition(4), table)
    val before = Snapshots.read(spark, table)
      .collect().map(_.toString).sorted.toSeq
    Snapshots.zorderRewrite(spark, table, "id", "v", targetFiles = 4,
      quantileTiles = true)
    val after = Snapshots.read(spark, table)
      .collect().map(_.toString).sorted.toSeq
    assert(after == before)
    val (kId, aId) = Snapshots.pruneFiles(spark, table, "id >= 450")
    assert(aId.size == 4 && kId.size < aId.size,
      s"id dim must prune under skewed v: ${kId.size}/${aId.size}")
    val (kV, aV) = Snapshots.pruneFiles(spark, table, "v >= 1000.0")
    assert(kV.size < aV.size,
      s"skewed dim's tail must prune: ${kV.size}/${aV.size}")
  }

  test("stats tolerate column names with dots and backticks") {
    import spark.implicits._
    import graft.lake.Snapshots
    val table = graft.util.Scratch.dir("graft_skip_dots").toString
    val df = Seq((1L, 5L), (2L, 9L)).toDF("a.b", "c`d")
    Snapshots.append(df.repartition(1), table)   // stats pass must not throw
    val stats = Snapshots.fileStats(table, 1)
    assert(stats.size == 1)
    assert(stats.head.cols.keySet == Set("a.b", "c`d"))
    assert(stats.head.cols("a.b").min.contains("1"))
    assert(stats.head.cols("c`d").max.contains("9"))
  }

  test("concurrent appends and rewrites serialize under OCC retry: no lost or doubled rows") {
    import spark.implicits._
    import graft.lake.Snapshots
    val nBatches = 8; val minRewrites = 2
    // two compactors race the ingest: a coalescing rewrite and a z-order
    // rewrite (a longer read-and-publish). Each compacts back to back for
    // the whole ingest, and the ingest pauses a seeded 0-400 ms between
    // batches, so a rewrite that started in a pause outruns the next
    // append: appends lose CASes as well as win them
    val compactors = Seq[(String, String => Int)](
      "rewrite" -> (t => Snapshots.rewrite(spark, t)),
      "zorderRewrite" -> (t => Snapshots.zorderRewrite(spark, t, "k", "v",
        targetFiles = 2)))
    for ((name, compact) <- compactors) {
      val table = graft.util.Scratch.dir(s"graft_ccw_spec_$name").toString
      @volatile var err: Option[Throwable] = None
      @volatile var ingesting = true
      @volatile var done = 0
      val compactor = new Thread(() => {
        try {
          while (ingesting || done < minRewrites) {
            if (Snapshots.latestVersion(table) >= 1) {
              compact(table); done += 1
            } else Thread.sleep(2)
          }
        } catch { case t: Throwable => err = Some(t) }
      })
      compactor.start()
      val pause = new scala.util.Random(7)
      (0 until nBatches).foreach { b =>
        Thread.sleep(pause.nextInt(400))
        val slice = ((b * 10) until (b * 10 + 10))
          .map(i => (i.toLong, (i * 7 % 13).toLong))
        assert(Snapshots.appendBatch(
          slice.toDF("k", "v"), table, b.toLong).isDefined,
          s"$name: batch $b must eventually publish")
        // duplicate delivery of a published id stays a no-op under retry
        assert(Snapshots.appendBatch(
          slice.toDF("k", "v"), table, b.toLong).isEmpty)
      }
      ingesting = false
      compactor.join(120000)
      err.foreach(t => throw t)
      assert(!compactor.isAlive)
      // interleaving-invariant contract: every row exactly once, every
      // publication exactly one version, history = appends + rewrites
      val ks = Snapshots.read(spark, table).select("k")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ks == (0L until (nBatches * 10).toLong), name)
      assert(Snapshots.latestVersion(table) == nBatches + done, name)
      val ops = Snapshots.history(spark, table).collect()
        .groupBy(_.getString(1)).map { case (k, v) => k -> v.length }
      assert(ops == Map("append" -> nBatches, "rewrite" -> done), name)
    }
  }

  test("change feed refuses spans crossing a rewrite/delete; empty delta is empty, not an error") {
    import spark.implicits._
    import graft.lake.Snapshots
    val table = graft.util.Scratch.dir("graft_snap_cdf").toString
    Snapshots.append(Seq((1L, "a")).toDF("k", "s"), table)
    Snapshots.append(Seq((2L, "b")).toDF("k", "s"), table)
    Snapshots.rewrite(spark, table)                     // v3
    Snapshots.append(Seq((3L, "c")).toDF("k", "s"), table) // v4
    val err = intercept[IllegalArgumentException] {
      Snapshots.readChanges(spark, table, 1, 4)
    }
    assert(err.getMessage.contains("crosses a rewrite at v3"),
      err.getMessage)
    // re-baselined at the rewrite, the feed works again
    assert(Snapshots.readChanges(spark, table, 3, 4).select("k")
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    Snapshots.delete(spark, table, "k = 1")             // v5
    assert(intercept[IllegalArgumentException] {
      Snapshots.readChanges(spark, table, 3, 5)
    }.getMessage.contains("crosses a delete at v5"))
    // an append contributing zero rows → empty frame with the table's
    // schema, NOT an exception
    Snapshots.append(Seq.empty[(Long, String)].toDF("k", "s"), table) // v6
    val delta = Snapshots.readChanges(spark, table, 5, 6)
    assert(delta.columns.toSeq == Seq("k", "s") && delta.count() == 0)
  }

  test("appendBatch is idempotent on batch id, across maintenance versions") {
    import spark.implicits._
    import graft.lake.Snapshots
    val table = graft.util.Scratch.dir("graft_sink_spec").toString
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val b1 = Seq((3L, "c")).toDF("k", "s")
    assert(Snapshots.appendBatch(b0, table, 0L) == Some(1))
    // redelivery of the same batch id: no-op, no new version
    assert(Snapshots.appendBatch(b0, table, 0L) == None)
    assert(Snapshots.latestVersion(table) == 1)
    assert(Snapshots.appendBatch(b1, table, 1L) == Some(2))
    // maintenance versions interleave WITHOUT batch headers; the
    // high-water walk must see through them
    Snapshots.rewrite(spark, table)
    assert(Snapshots.latestVersion(table) == 3)
    assert(Snapshots.appendBatch(b1, table, 1L) == None,
      "rewrite masked the ingest high-water mark")
    assert(Snapshots.appendBatch(b1, table, 2L) == Some(4))
    assert(Snapshots.lastBatchId(table) == Some(2L))
    // the table holds each batch exactly once
    assert(Snapshots.read(spark, table).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 3L))
    // history: ops + batch ids + commit-log row stats line up
    val h = Snapshots.history(spark, table).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).sortBy(_._1)
    assert(h.toSeq == Seq((1, "append", 2L, 0L), (2, "append", 1L, 1L),
      (3, "rewrite", 3L, -1L), (4, "append", 1L, 2L)))
  }

  test("mergeUpsert aligns delta columns by name") {
    import spark.implicits._
    val base = Seq((1L, "a", 1.0)).toDF("k", "s", "v")
    val delta = Seq((9.0, "z", 5L)).toDF("v", "s", "k") // shuffled order
    val out = Archive.mergeUpsert(base, delta, Seq("k")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(out == Set((1L, "a", 1.0), (5L, "z", 9.0)))
  }
}

class CompactionSpec extends SparkSpec {

  test("compact collapses per-batch small files to one file per partition") {
    val dir = tmpDir("lake") + "/lake"
    val archive = Normalize.toArchive(
      StationSource.messages(spark, nStations = 3, perStation = 40))
    // three appends → ≥3 files per partition
    (1 to 3).foreach(_ => Archive.write(archive.limit(60), dir))
    def parquetFiles(): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(dir))
    }
    val before = parquetFiles().size
    val rowsBefore = spark.read.parquet(dir).count()
    Archive.compact(spark, dir)
    val after = parquetFiles().size
    assert(after < before, s"$before -> $after")
    assert(spark.read.parquet(dir).count() == rowsBefore)
    // still a valid hive layout with pruning
    val plan = spark.read.parquet(dir).filter(col("station_id") === 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    // swap is rename-aside: no temp/old leftovers once compact returns
    val parent = new java.io.File(dir).getParentFile
    assert(!new java.io.File(parent, "lake.compacting").exists())
    assert(!new java.io.File(parent, "lake.old").exists())
    // a stale .old from a prior crashed swap is cleared by the next compact
    val stale = new java.io.File(parent, "lake.old")
    stale.mkdirs()
    Archive.compact(spark, dir)
    assert(!stale.exists())
    assert(spark.read.parquet(dir).count() == rowsBefore)

    // a FileStreamSink lake (carries _spark_metadata) must be REFUSED:
    // compacting it would orphan the sink log's file list and batch
    // readers would silently lose every compacted row
    val sinkLog = new java.io.File(dir, "_spark_metadata")
    sinkLog.mkdirs()
    val e = intercept[IllegalArgumentException](Archive.compact(spark, dir))
    assert(e.getMessage.contains("_spark_metadata"), e.getMessage)
    sinkLog.delete()
    // the refusal fired before any rewrite: the lake is untouched
    assert(spark.read.parquet(dir).count() == rowsBefore)
  }

  test("a streaming lake batch writes one file per partition directory") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.schema.{WeatherReading, WeatherStatus}
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = tmpDir("lake_stream") + "/lake"
    // 3 stations × 2 hours × 4 readings, ordered by reading so each of the
    // 4 input partitions holds a row of every (date, hour, station_id)
    val rows = for (n <- 1 to 4; h <- 0 to 1; st <- 1L to 3L)
      yield WeatherStatus(st, (h * 4 + n).toLong, "high",
        new java.sql.Timestamp(h * 3600000L + n * 1000L), WeatherReading(40 + n, 20, 5))
    val input = MemoryStream[WeatherStatus](4)
    input.addData(rows: _*)
    val q = Archive.writeStream(input.toDF(), dir, tmpDir("lake_stream_ck")).start()
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) == 1)
    val leaves = java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .groupBy(_.getParent)
    assert(leaves.size == 6, leaves.keys)
    assert(leaves.forall(_._2.size == 1), leaves.map { case (d, fs) => d -> fs.size })
    val lake = Archive.read(spark, dir).select("station_id", "s_no", "battery_status",
      "status_timestamp", "weather").as[WeatherStatus].collect()
    assert(lake.sortBy(r => (r.station_id, r.s_no)).toSeq ==
      rows.sortBy(r => (r.station_id, r.s_no)))
  }

  test("compact on the ANN index layout: one file per bucket, same answers") {
    val dir = "/root/testdata/sf0.001"
    val indexPath = graft.util.Scratch.dir("graft_cmp_spec").toString
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    (0L until 4L).foreach(g =>
      graft.ext.sim.Similarity.appendLshIndex(
        e.filter(pmod(col("vec_id"), lit(4L)) === g), indexPath, nBits = 6))
    def filesPerBucket(): Map[String, Int] =
      new java.io.File(indexPath).listFiles().toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    // interleaved generations fragment: some bucket holds several files
    assert(filesPerBucket().values.max >= 2)
    val qVec = e.filter(col("vec_id") === 0L)
      .select(col("embedding")).collect().head.getSeq[Float](0).toArray
    def answer() = graft.ext.sim.Similarity
      .lshTopKIndexed(spark, indexPath, qVec, nBits = 6, probes = 64,
        excludeVecId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    val before = answer()
    Archive.compact(spark, indexPath, Seq("bucket"))
    // every bucket rewritten to exactly one file; probes see no change
    assert(filesPerBucket().values.forall(_ == 1), filesPerBucket().toString)
    assert(answer() == before)
    // pruning survives the rewrite (bucket stays the partition column)
    val plan = spark.read.parquet(indexPath)
      .filter(col("bucket") === 3).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
  }

  test("quantized k-means recovers planted clusters and keeps empty centroids") {
    import spark.implicits._
    import graft.ext.sim.Similarity
    val scratch = graft.util.Scratch.dir("graft_km_spec").toString
    // 4 tight clusters at scaled basis directions; vec_ids 0..3 are one
    // member of each cluster, so the k-smallest-ids init starts spread
    val rows = (0 until 40).map { i =>
      val cluster = i % 4
      val base = Array.fill(8)(0.1f)
      base(cluster * 2) = 10.0f + (i / 4) * 0.01f   // tight, distinct
      (i.toLong, base.toSeq, cluster)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$scratch/embeddings.parquet")
    val out = Similarity.kmeansQuantized(spark, scratch).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    // every planted cluster recovered wholesale: 10 members each, and
    // the id-sum per cluster matches the planted residue class
    assert(out.keySet == Set(0, 1, 2, 3))
    (0 until 4).foreach { c =>
      val ids = (0 until 40).filter(_ % 4 == c).map(_.toLong)
      assert(out(c) == ((10L, ids.sum)),
        s"cluster $c: got ${out(c)}, want (10, ${ids.sum})")
    }
    // empty-cluster rule: with all points identical, clusters 1..3 go
    // empty after the first update and must KEEP their init centroids
    // (not crash or emit nulls); every point lands in cluster 0 (lowest
    // index wins ties)
    val same = (0 until 12).map(i => (i.toLong, Seq.fill(8)(1.0f), 0))
    same.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$scratch/embeddings.parquet")
    val degenerate = Similarity.kmeansQuantized(spark, scratch).collect()
    assert(degenerate.map(_.getInt(0)).toSeq == Seq(0))
    assert(degenerate.head.getLong(1) == 12L)
    assert(degenerate.head.getLong(3) == 0L, "identical points: zero inertia")
  }

  test("ANN delete: tombstoned vectors vanish from probes, reclaim drops them physically") {
    import graft.ext.sim.Similarity
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val qVec = e.filter(col("vec_id") === 0L)
      .select(col("embedding")).collect().head.getSeq[Float](0).toArray
    // one lifecycle, two directory layouts: each builds its index and
    // returns its full-probe query, its reclaim and its partition column
    val lsh = () => {
      val indexPath = graft.util.Scratch.dir("graft_del_spec").toString
      (0L until 2L).foreach(g =>
        Similarity.appendLshIndex(
          e.filter(pmod(col("vec_id"), lit(2L)) === g), indexPath, nBits = 6))
      (indexPath, () => Similarity.lshTopKIndexed(spark, indexPath, qVec,
          nBits = 6, probes = 64, excludeVecId = Some(0L)),
        () => Similarity.lshIndexReclaim(spark, indexPath), "bucket")
    }
    val ivf = () => {
      val indexPath = graft.util.Scratch.dir("graft_ivf_del_spec").toString
      val centroids = Similarity.writeIvfIndex(spark, dir, indexPath, nLists = 8)
      (indexPath, () => Similarity.ivfTopKIndexed(spark, indexPath, centroids,
          qVec, nProbe = 8, excludeVecId = Some(0L)),
        () => Similarity.ivfIndexReclaim(spark, indexPath), "ivf_list")
    }
    for (build <- Seq(lsh, ivf)) {
      val (indexPath, probe, reclaim, partCol) = build()
      def answer(): List[Long] = probe().collect().map(_.getLong(0)).toList
      val before = answer()
      val victims = before.take(3)
      Similarity.deleteFromVecIndex(spark, indexPath, victims)
      // a second delete of the same ids is an absorbed no-op, not a double
      Similarity.deleteFromVecIndex(spark, indexPath, victims.take(1))
      val masked = answer()
      assert(victims.forall(v => !masked.contains(v)),
        s"$partCol: tombstoned $victims still probed: $masked")
      assert(masked.size == 10, s"$partCol: k results still returned after delete")
      val physicalBefore = spark.read.parquet(indexPath).count()
      reclaim()
      assert(answer() == masked, s"$partCol: reclaim changed probe answers")
      assert(spark.read.parquet(indexPath).count() == physicalBefore - 3,
        s"$partCol: reclaim must physically drop exactly the tombstoned rows")
      assert(!new java.io.File(indexPath, "_tombstones").exists(),
        s"$partCol: reclaim must clear the tombstone set")
      // pruning survives the reclaim rewrite
      val plan = spark.read.parquet(indexPath)
        .filter(col(partCol) === 3).queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters"), s"$partCol: $plan")
    }
  }

  test("streaming read of the lake feeds the index sink (SURVEY 3.2 path)") {
    val dir = tmpDir("lake2") + "/lake"
    val archive = Normalize.toArchive(
      StationSource.messages(spark, nStations = 4, perStation = 30))
    Archive.write(archive, dir)
    val stream = Archive.readStream(spark, dir, maxFilesPerTrigger = 10)
    val idxDir = tmpDir("idx")
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.index.IndexSink.docs(batch.drop("date", "hour"))
          .write.mode("append").parquet(idxDir)
      }
      .option("checkpointLocation", tmpDir("ck"))
      .start()
    try {
      q.processAllAvailable()
      val idx = spark.read.parquet(idxDir)
      assert(idx.count() == archive.count())
      assert(idx.select("doc_id").distinct().count() == archive.count())
    } finally q.stop()
  }

  test("dynamic partition overwrite leaves untouched partitions intact") {
    import spark.implicits._
    val out = tmpDir("dpo")
    Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "k")
      .write.mode("overwrite").partitionBy("k").parquet(out)
    def files(part: String) = {
      val d = java.nio.file.Paths.get(out, s"k=$part")
      val s = java.nio.file.Files.list(d)
      try {
        val b = scala.collection.mutable.ArrayBuffer[String]()
        s.iterator().forEachRemaining(p =>
          if (p.toString.endsWith(".parquet")) b += p.getFileName.toString)
        b.toSet
      } finally s.close()
    }
    val aBefore = files("a")
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try Seq((9L, "b")).toDF("id", "k")
      .write.mode("overwrite").partitionBy("k").parquet(out)
    finally spark.conf.set(key, prev)
    // partition a: same physical files; partition b: replaced content
    assert(files("a") == aBefore)
    val rows = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "a"), (2L, "a"), (9L, "b")))
  }

  test("vacuum is set-arithmetic-safe: append-only chains lose nothing") {
    import spark.implicits._
    import graft.lake.Snapshots
    val table = tmpDir("snap_vac")
    Snapshots.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), table)
    Snapshots.append(Seq((3L, "c")).toDF("id", "v"), table)
    // append-only: v2's manifest shares v1's files, so vacuuming v1
    // must delete ZERO data files (only the v1 manifest expires)
    val (d0, e0) = Snapshots.vacuum(table, 2)
    assert(d0 == 0 && e0 == 1)
    assert(Snapshots.read(spark, table, Some(2)).count() == 3)
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, table, Some(1))
    }
    // rewrite orphans the old files; vacuum then reclaims them while
    // the live answer is unchanged
    val v3 = Snapshots.rewrite(spark, table)
    assert(v3 == 3)
    val (d1, e1) = Snapshots.vacuum(table, 3)
    assert(d1 > 0 && e1 == 1)
    assert(Snapshots.read(spark, table, Some(3))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // and the orphaned files are physically gone: only v3's files remain
    // — including writer residue (_SUCCESS, .crc) and the emptied
    // version DIRECTORIES themselves, not just the parquet entries
    val dataDir = java.nio.file.Paths.get(table, "data")
    val left = java.nio.file.Files.walk(dataDir).iterator()
    val parquets = new scala.collection.mutable.ArrayBuffer[String]
    val versionDirs = new scala.collection.mutable.ArrayBuffer[String]
    while (left.hasNext) {
      val p = left.next()
      if (p.toString.endsWith(".parquet")) parquets += p.toString
      if (java.nio.file.Files.isDirectory(p) && p != dataDir)
        versionDirs += p.toString
    }
    val manifest = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(table, "_manifests", "v3.list"))
        .asScala.filterNot(_.startsWith("#"))  // skip the #op= header
    }
    assert(parquets.size == manifest.size)
    assert(versionDirs.size == 1, s"orphan version dirs: $versionDirs")
  }

  test("mergeSchema read null-pads files written before a column existed") {
    import spark.implicits._
    val out = tmpDir("evo")
    Seq((1L, "a"), (2L, "b")).toDF("id", "k")
      .write.parquet(s"$out/b1")
    Seq((3L, "a", 30L), (4L, "c", 40L)).toDF("id", "k", "late")
      .write.parquet(s"$out/b2")
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(s"$out/b1", s"$out/b2")
    assert(merged.columns.toSet == Set("id", "k", "late"))
    // old files surface the late column as null — absent, not zero
    assert(merged.filter(col("late").isNull).select("id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(merged.agg(sum(col("late"))).collect().head.getLong(0) == 70L)
    // and the reverse order of paths changes nothing
    val flipped = spark.read.option("mergeSchema", "true")
      .parquet(s"$out/b2", s"$out/b1")
    assert(flipped.count() == 4 && flipped.columns.toSet == merged.columns.toSet)
  }
}

class GraftSessionSpec extends SparkSpec {

  test("custom expressions are SQL-callable in the harness session") {
    val r = spark.sql(
      """SELECT polyhash('abc') AS p,
        |  simhash64(array('a','b')) AS s,
        |  minhash_sig(array('a','b'), 4) AS m,
        |  shingle_array(array('a','b','c'), 2) AS sh""".stripMargin).collect().head
    def ref(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % 1000000007L)
    assert(r.getAs[Long]("p") == ref("abc"))
    assert(r.getAs[scala.collection.Seq[Long]]("m").length == 4)
    assert(r.getAs[scala.collection.Seq[String]]("sh") == Seq("a b", "b c"))
    // the round-10 additions ride the same registry
    val r2 = spark.sql(
      """SELECT bpe_tokenize('customer the') AS b,
        |  unicode_normalize('é') AS u,
        |  winnow_fp(array('a','b','c','d','e','f'), 3, 4) AS w
        |""".stripMargin).collect().head
    assert(r2.getAs[scala.collection.Seq[String]]("b")
      == Seq("customer", "t", "h", "e"))
    assert(r2.getAs[String]("u") == "\u00e9")
    assert(r2.getAs[scala.collection.Seq[Long]]("w").nonEmpty)
  }

  test("custom aggregates and zorder_code are SQL-callable in the harness session") {
    import spark.implicits._
    Seq(1L, 1L, 2L, 3L).toDF("v").createOrReplaceTempView("sqlreg_vals")
    try {
      val r = spark.sql(
        """SELECT kmv_sketch(CAST(v AS STRING), 16) AS kmv,
          |  freq_items(v, 8) AS fi,
          |  bloom_agg(v, 1024, 5) AS bloom,
          |  zorder_code(max(v), max(v), 4) AS z
          |FROM sqlreg_vals""".stripMargin).collect().head
      assert(r.getStruct(0).getInt(0) == 3)      // kmv nd = 3 distinct
      val items = r.getStruct(1).getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getLong(0), x.getLong(1)))
      assert(items.head == (1L, 2L))             // top item 1 with count 2
      val (nh, words) =
        graft.functions.BloomUtil.fromBytes(r.getAs[Array[Byte]](2))
      assert(nh == 5 &&
        graft.functions.BloomUtil.mightContain(words, nh, 3L) &&
        !graft.functions.BloomUtil.mightContain(words, nh, 99L))
      assert(r.getAs[Long]("z") == 15L)          // 3 ⋈ 3 = 1111b
    } finally spark.catalog.dropTempView("sqlreg_vals")
  }
}

class EmbedNearDupSpec extends SparkSpec {

  test("LSH-bucketed cosine near-dup catches planted near-identical vectors") {
    import spark.implicits._
    val base = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val nearDup = base.clone(); nearDup(0) = base(0) + 0.001f
    val other = Array.tabulate(64)(i => math.cos(3 * i + 2).toFloat)
    val df = Seq((0L, base.toSeq, 0), (1L, nearDup.toSeq, 0), (2L, other.toSeq, 1))
      .toDF("vec_id", "embedding", "label")
    val dir = tmpDir("emb")
    df.write.parquet(s"$dir/embeddings.parquet")
    val pairs = graft.ext.sim.Similarity.cosineNearDupPairs(spark, dir, 0.99)
      .collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 0L && pairs.head.getLong(1) == 1L)
    // and equals the exhaustive yardstick
    val ex = graft.ext.sim.Similarity
      .cosineNearDupPairsExhaustive(spark, dir, 0.99).collect()
    assert(ex.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("resize stub downsamples payloads deterministically") {
    import spark.implicits._
    import graft.ext.multimodal.Multimodal
    val media = Seq(Multimodal.MediaRow(1L, "image/fake",
      Array.tabulate[Byte](100)(_.toByte))).toDS()
    val out = Multimodal.resize(media, factor = 4).collect().head
    assert(out.payload.length == 25)
    assert(out.payload.toSeq == (0 until 100 by 4).map(_.toByte))
  }
}
