package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** As-of (point-in-time) join: for every probe row, the latest build row of
  * the same key at-or-before the probe's timestamp — the historical
  * generalization of the reference's latest-value point lookup
  * (BitCask.java:143-168: `get(station)` answers "state NOW"; as-of answers
  * "state as of time T" for many (key, T) probes at once).
  */
object AsOfJoin {

  /** For each probe row, attach the latest build row of the same `keys`
    * whose `buildTs` is at-or-before (`strict = false`) / strictly before
    * (`strict = true`) the probe's `probeTs`. Ties on `buildTs` are broken
    * by `buildTieBreak` (largest wins), so the match is deterministic.
    * `forward = true` flips the direction: the EARLIEST build row
    * at-or-after (or strictly after) the probe. `toleranceSeconds` bounds
    * the match distance — a build row further than the tolerance from the
    * probe yields null, same as no match (pandas `merge_asof` semantics).
    *
    * There is NO join in the physical plan: both inputs are unioned with a
    * side tag and the match is a running `last(_, ignoreNulls)` window over
    * the key, ordered by (ts, side, tie-break) — one hash shuffle on the
    * key plus a per-key sort, each input row moved exactly once. The naive
    * formulation (inequality join + per-probe top-1) materializes
    * O(probes × matching-history) candidate pairs before pruning — a
    * nested-loop scale-killer at 100 TB. This shape's cost is
    * sort-of(|build| + |probe|) per key, independent of match fan-in;
    * skew is bounded by the hottest single key, same as any keyed window.
    *
    * Output: probe columns + a `matched` struct of the build row's non-key
    * columns (null when no build row precedes the probe). Rows with a null
    * timestamp on either side are dropped — they have no position on the
    * timeline. Rows with a null key column are likewise dropped on BOTH
    * sides: an equi-join never matches null keys, but `Window.partitionBy`
    * groups nulls together, so without the filter a null-key probe would
    * "match" null-key build history.
    */
  def asOf(probe: DataFrame, build: DataFrame, keys: Seq[String],
      probeTs: String, buildTs: String, buildTieBreak: Seq[String] = Nil,
      strict: Boolean = false, matchedCol: String = "matched",
      forward: Boolean = false,
      toleranceSeconds: Option[Long] = None): DataFrame = {
    require(keys.nonEmpty, "as-of join needs at least one key column")
    require(toleranceSeconds.forall(_ >= 0),
      s"as-of tolerance must be non-negative, got $toleranceSeconds")
    val reserved = Seq("__ts", "__side", "__tb", "__b", matchedCol)
    require(!(probe.columns ++ build.columns).exists(reserved.contains),
      s"column names $reserved are reserved by AsOfJoin.asOf")

    val probePayload = probe.columns.toSeq.filterNot(keys.contains)
    val buildPayload = build.columns.toSeq.filterNot(keys.contains)
    // the build timestamp rides along inside the match struct so the
    // tolerance bound can be checked AFTER the window pass (one extra
    // embedded field instead of a second join)
    val bStruct = StructType(Seq(
      StructField("__bts", build.schema(buildTs).dataType),
      StructField("__bp", StructType(buildPayload.map(n => build.schema(n))))))
    val tbStruct = StructType(buildTieBreak.map(n => build.schema(n)))

    val (buildTb, probeTb) =
      if (buildTieBreak.nonEmpty)
        (struct(buildTieBreak.map(col): _*), lit(null).cast(tbStruct))
      else (lit(0), lit(0))

    val nonNullKeys = keys.map(col(_).isNotNull).reduce(_ && _)
    val buildSide = build
      .filter(col(buildTs).isNotNull && nonNullKeys)
      .select(
        keys.map(col) ++ Seq(
          col(buildTs).as("__ts"),
          lit(0).as("__side"),
          buildTb.as("__tb"),
          struct(col(buildTs).as("__bts"),
            struct(buildPayload.map(col): _*).as("__bp")).as("__b")) ++
        probePayload.map(n =>
          lit(null).cast(probe.schema(n).dataType).as(n)): _*)
    val probeSide = probe
      .filter(col(probeTs).isNotNull && nonNullKeys)
      .select(
        keys.map(col) ++ Seq(
          col(probeTs).as("__ts"),
          lit(1).as("__side"),
          probeTb.as("__tb"),
          lit(null).cast(bStruct).as("__b")) ++
        probePayload.map(col): _*)

    // inclusive: build rows sort BEFORE the probe at equal ts (side 0 < 1),
    // so `last` sees them; strict: probe first, equal-ts build rows
    // excluded. `forward` flips only the TIME axis (descending traversal:
    // the last build row seen before the probe is then the EARLIEST at-or-
    // after it); tie-break and side ordering are direction-independent.
    val sideOrd = if (strict) col("__side").desc else col("__side").asc
    val tsOrd = if (forward) col("__ts").desc else col("__ts").asc
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(tsOrd, sideOrd, col("__tb").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val raw = last(col("__b"), ignoreNulls = true).over(w)
    val bounded = toleranceSeconds.fold(raw) { tol =>
      when(raw.isNotNull &&
        abs(unix_micros(raw.getField("__bts")) - unix_micros(col("__ts")))
          <= tol * 1000000L, raw)
    }
    buildSide.unionByName(probeSide)
      .withColumn(matchedCol, bounded.getField("__bp"))
      .filter(col("__side") === 1)
      .select((keys ++ probePayload).map(col) :+ col(matchedCol): _*)
  }

  /** The WHOLE-OPERATOR form of [[asOf]] (largest tie wins; `forward`
    * / `strict` / `toleranceSeconds` as in [[asOf]]): plans through
    * graft's custom
    * [[graft.plans.AsOfJoinNode]] → [[graft.plans.AsOfJoinExec]]
    * pipeline instead of the union+window rewrite — one merge scan over
    * co-partitioned co-sorted children, O(1) state per partition.
    * Column names must be disjoint between the two sides (the output is
    * probe columns ++ nullable build columns); keys pair positionally
    * between `probeKeys` and `buildKeys`. Requires a session built with
    * `spark.sql.extensions = graft.plans.GraftExtensions`, which injects
    * [[graft.plans.AsOfJoinStrategy]].
    */
  def asOfExec(probe: DataFrame, build: DataFrame,
      probeKeys: Seq[String], buildKeys: Seq[String],
      probeTs: String, buildTs: String,
      buildTie: Seq[String] = Nil, strict: Boolean = false,
      toleranceSeconds: Option[Long] = None,
      forward: Boolean = false): DataFrame = {
    require(probeKeys.nonEmpty && probeKeys.size == buildKeys.size,
      "as-of join needs matching key lists")
    require(toleranceSeconds.forall(_ >= 0),
      s"as-of tolerance must be non-negative, got $toleranceSeconds")
    val overlap = probe.columns.toSet.intersect(build.columns.toSet)
    require(overlap.isEmpty,
      s"asOfExec output is probe ++ build columns; rename the build side" +
        s" first (overlapping: ${overlap.mkString(", ")})")
    val lp = probe.queryExecution.analyzed
    val rp = build.queryExecution.analyzed
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        n: String) = plan.output.find(_.name == n).getOrElse(
      sys.error(s"asOfExec: no column '$n' in ${plan.output.map(_.name)}"))
    // toleranceSeconds is converted to micros, which is only meaningful
    // against TIMESTAMP columns (stored as micros). The exec also merges
    // raw LongType timelines (compared in their native units) — there a
    // seconds→micros conversion would silently inflate the bound 10⁶×,
    // so refuse instead of guessing the column's unit.
    if (toleranceSeconds.isDefined) {
      val ptsT = probe.schema(probeTs).dataType
      val btsT = build.schema(buildTs).dataType
      require(ptsT == org.apache.spark.sql.types.TimestampType &&
          btsT == org.apache.spark.sql.types.TimestampType,
        s"asOfExec toleranceSeconds requires TIMESTAMP ts columns (got" +
          s" $probeTs: ${ptsT.sql}, $buildTs: ${btsT.sql}); for raw" +
          " LONG timelines bound the match in the column's own units" +
          " via AsOfJoinNode(toleranceMicros = ...) directly")
    }
    org.apache.spark.sql.GraftBridge.ofRows(probe.sparkSession,
      graft.plans.AsOfJoinNode(lp, rp,
        probeKeys.map(attr(lp, _)), buildKeys.map(attr(rp, _)),
        attr(lp, probeTs), attr(rp, buildTs), buildTie.map(attr(rp, _)),
        strict = strict,
        toleranceMicros = toleranceSeconds.map(_ * 1000000L),
        forward = forward))
  }
}
