package graft.ext.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Brute-force cosine top-k is the exact baseline: one scan, per-row dot
  * product in codegen (zip_with/aggregate higher-order functions), TopK via
  * sort+limit (TakeOrderedAndProject — no global sort materialized).
  *
  * The LSH variant buckets vectors by random-hyperplane signature; the query
  * probes buckets in increasing hamming distance from its own signature.
  * At 100 TB the bucketed table is written partitioned by bucket id so a
  * probe is a partition-pruned scan (touching `probes/2^bits` of the data);
  * brute force stays the recall=1.0 yardstick.
  *
  * Deliberate omission — graph ANN (HNSW/NSG): best-in-class for
  * low-latency serving, but its build is a sequential, pointer-chasing,
  * whole-index-in-RAM algorithm with no natural shuffle/partition
  * decomposition — on Spark it degenerates to "collect the corpus to one
  * node", exactly the shape this engine exists to avoid. The Spark-native
  * billion-scale layout is IVF-PQ ([[writeIvfPqIndex]]): list-partitioned
  * codes give directory-pruned scans, codebooks/centroids are kilobyte
  * broadcast artifacts, appends are partition writes, and recall is
  * dialed by nProbe/rerank. A deployment that needs single-digit-ms graph
  * serving exports the (Spark-built, Spark-maintained) vectors into an
  * external HNSW store — the same division of labor as the reference's
  * Elasticsearch indexing, and the `IndexSink` abstraction here is where
  * that export plugs in.
  */
object Similarity {

  private def emb(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** Exact brute-force cosine top-k neighbors of `queryVecId`. */
  def bruteForceTopK(spark: SparkSession, dir: String,
      queryVecId: Long = 0L, k: Int = 10): DataFrame = {
    val e = emb(spark, dir)
    val q = broadcast(e.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("query_vec")))
    e.filter(col("vec_id") =!= queryVecId)
      .crossJoin(q)
      .select(col("vec_id"),
        round(cosine(col("embedding"), col("query_vec")), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
  }

  /** BATCH multi-query exact top-k — the serving shape the single-query
    * gates don't cover: ONE corpus pass answers a whole query batch.
    * The batch broadcasts, every corpus row scores against all of it in
    * one narrow stage, and per-query top-k runs as the bounded-heap
    * [[graft.functions.TopKBy]] aggregate — map-side combined, so k
    * rows per query per partition cross the wire, never the |batch|·N
    * scored rows a window-rank formulation would shuffle. vs looping
    * single-query scans: one scan amortized over the batch, which is
    * how retrieval backfills and eval sweeps actually run at 100 TB.
    */
  def batchTopK(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 5): DataFrame = {
    import graft.functions.TopKBy.top_k_by
    val e = emb(spark, dir)
    val q = broadcast(e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("query_vec")))
    e.crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("embedding"), col("query_vec")), 6).as("score"))
      .groupBy(col("query_id"))
      .agg(top_k_by(struct(col("vec_id"), col("score")),
        struct((-col("score")).as("neg"), col("vec_id")), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "r")))
      .select(col("query_id"), col("r.vec_id").as("vec_id"),
        col("r.score").as("score"), (col("i") + 1).as("rank"))
  }

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein '98) — the
    * diversification pass a RAG stack runs AFTER retrieval: greedily pick
    * `kOut` of the `nCandidates` most query-similar vectors, each step
    * maximizing `λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s)` at λ = ½
    * (scaled by 2 to the integer form `simq_e6 − max sel sim_e6` — rank-
    * identical), ties on the id. Near-duplicate candidates are thereby
    * penalized out of the final list, which plain top-k cannot express.
    *
    * Shape: candidate generation is the distributed exact top-k scan
    * (TakeOrderedAndProject); the candidate×candidate similarity matrix is
    * an engine-computed self-join of the k-row frame (k² tiny rows, and
    * Catalyst's `cosine` on both legs keeps every double bit-identical to
    * the oracle's); only the inherently SEQUENTIAL greedy selection runs
    * on the driver, over k² integers — the same candidates-local /
    * selection-driver division as [[rankHammingBuckets]]. At 100 TB the
    * cost is the candidate scan; selection is O(k²) regardless of corpus.
    * All similarities quantize to e6 integers via the repo's
    * bit-deterministic `floor(x·1e6 + 0.5)` rule, so selection order is
    * exactly replayable by the DuckDB recursive-CTE oracle.
    */
  def mmrRerank(spark: SparkSession, dir: String, queryVecId: Long = 0L,
      nCandidates: Int = 20, kOut: Int = 10): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val q = broadcast(e.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("qv")))
    val cand = e.filter(col("vec_id") =!= queryVecId)
      .crossJoin(q)
      .select(col("vec_id"),
        floor(cosine(col("embedding"), col("qv")) * lit(1000000.0) + lit(0.5))
          .cast("long").as("simq_e6"),
        col("embedding"))
      .orderBy(col("simq_e6").desc, col("vec_id").asc)
      .limit(nCandidates)
      .localCheckpoint() // k rows; reused by the pair join and the collect
    val a = cand.select(col("vec_id").as("va"), col("embedding").as("ea"))
    val b = cand.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    val simMap = a.crossJoin(b).filter(col("va") =!= col("vb"))
      .select(col("va"), col("vb"),
        floor(cosine(col("ea"), col("eb")) * lit(1000000.0) + lit(0.5))
          .cast("long").as("sim_e6"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val candLocal = cand.select(col("vec_id"), col("simq_e6"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val remaining = scala.collection.mutable.ArrayBuffer(candLocal: _*)
    val sel = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    while (sel.size < kOut && remaining.nonEmpty) {
      val chosen = sel.map(_._2)
      val best = remaining.minBy { case (id, simq) =>
        val penalty =
          if (chosen.isEmpty) 0L else chosen.map(s => simMap((id, s))).max
        (penalty - simq, id) // == (-mmr, id): max mmr, ties to smallest id
      }
      sel += ((sel.size + 1L, best._1, best._2))
      remaining -= best
    }
    sel.toSeq.toDF("sel_order", "doc_id", "simq_e6")
  }

  /** Bucket every vector by hyperplane LSH signature (one codegen'd pass via
    * the custom [[graft.functions.HyperplaneBucket]] expression — the
    * hyperplane matrix is built once, not re-derived per row). Persisting
    * this partitioned by `bucket` turns ANN probes into partition-pruned
    * scans.
    */
  def lshBuckets(spark: SparkSession, dir: String, nBits: Int = 8): DataFrame =
    withBucket(emb(spark, dir), nBits)

  /** `df` plus its LSH `bucket` column — the one bucket assignment that
    * the directory index, its appends, the lake layout and the query
    * side all use.
    */
  private def withBucket(df: DataFrame, nBits: Int): DataFrame =
    df.withColumn("bucket",
      graft.functions.HyperplaneBucket.hyperplane_bucket(col("embedding"), nBits))

  /** Corpus vector `id`'s embedding — a query vector, one small
    * driver-side array (the value any serving query arrives with).
    */
  private def queryVec(spark: SparkSession, dir: String,
      id: Long = 0L): Array[Float] =
    emb(spark, dir).filter(col("vec_id") === id)
      .select(col("embedding")).collect().head.getSeq[Float](0).toArray

  /** THE bucket probe-selection rule (LSH family): the query vector's
    * bucket, computed on a one-row literal frame (no corpus scan), then
    * all 2^nBits bucket ids ranked by signature hamming distance to it,
    * ties on the id, `probes` nearest kept. One definition shared by the
    * inline, indexed and lake probe paths — build and probe must rank
    * identically or recall silently craters.
    */
  private def rankHammingBuckets(spark: SparkSession, qVec: Array[Float],
      nBits: Int, probes: Int): Seq[Int] = {
    import spark.implicits._
    val qb = withBucket(Seq(Tuple1(qVec.toSeq)).toDF("embedding"), nBits)
      .select(col("bucket")).collect().head.getInt(0)
    (0 until (1 << nBits))
      .sortBy(bid => (Integer.bitCount(bid ^ qb), bid))
      .take(probes)
  }

  /** THE list probe-selection rule (IVF family): list ids ranked by
    * squared centroid distance to the query, `nProbe` nearest kept. One
    * definition shared by all five IVF/IVF-PQ probe paths.
    */
  private def rankProbeLists(centroids: Array[Array[Double]],
      q: Array[Float], nProbe: Int): Seq[Int] =
    centroids.zipWithIndex.map { case (c, i) =>
      (i, c.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum)
    }.sortBy(_._2).take(nProbe).map(_._1).toSeq

  /** THE scoring tail of every ANN path: the candidate rows cross the
    * broadcast one-row query literal, cosine rounded to 6 places, top
    * `k` by (score desc, vec_id asc) — TakeOrderedAndProject, no global
    * sort. [[bruteForceTopK]] keeps its own copy: it is the reference
    * the ANN paths are tested against, so it must not share this code.
    */
  private def cosineTopK(rows: DataFrame, qVec: Array[Float],
      k: Int): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.crossJoin(broadcast(Seq(Tuple1(qVec.toSeq)).toDF("query_vec")))
      .select(col("vec_id"),
        round(cosine(col("embedding"), col("query_vec")), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
  }

  /** The probe-visible rows of a pruned index scan: `tombstones` (a
    * directory index's [[indexTombstones]]; None for a lake table, whose
    * deletes are commits) are broadcast-anti-joined out AFTER pruning,
    * so partition pruning is untouched, then `excludeVecId` is dropped
    * (self-query comparisons against brute force).
    */
  private def liveRows(pruned: DataFrame, tombstones: Option[DataFrame],
      excludeVecId: Option[Long]): DataFrame = {
    val live = tombstones.fold(pruned)(t =>
      pruned.join(broadcast(t), Seq("vec_id"), "left_anti"))
    excludeVecId.fold(live)(id => live.filter(col("vec_id") =!= id))
  }

  /** THE index write: `df` into `indexPath` partitioned by `partCol`,
    * with `mode` overwrite for a build and append for a maintenance
    * generation. Repartitioning by the partition column first makes each
    * task write whole partitions, so a write lands one file per
    * partition instead of (tasks × partitions) small files — the
    * standard partitioned-write shape.
    */
  private def writePartitioned(df: DataFrame, indexPath: String,
      partCol: String, mode: String): Unit =
    df.repartition(col(partCol))
      .write.mode(mode).partitionBy(partCol).parquet(indexPath)

  /** ANN top-k: probe the `probes` buckets nearest (by signature hamming
    * distance) to the query's bucket. With probes = 2^nBits this degrades to
    * exact brute force; fewer probes trade recall for a pruned scan.
    *
    * The probe set depends only on the query's signature and nBits, so all
    * 2^nBits bucket ids are enumerated and ranked DRIVER-side (256 ints at
    * the default) after one pruned fetch of the query row — the corpus is
    * then touched by exactly one scan, filtered with a literal `isin` set
    * that partition-prunes when the bucketed table is persisted
    * `partitionBy("bucket")`. (The previous shape discovered probe buckets
    * by scanning every corpus row before pruning — one full scan per query.)
    */
  def lshTopK(spark: SparkSession, dir: String, queryVecId: Long = 0L,
      k: Int = 10, nBits: Int = 8, probes: Int = 32): DataFrame = {
    val qVec = queryVec(spark, dir, queryVecId)
    val keep = rankHammingBuckets(spark, qVec, nBits, probes)
    cosineTopK(lshBuckets(spark, dir, nBits)
      .filter(col("bucket").isin(keep: _*))
      .filter(col("vec_id") =!= queryVecId), qVec, k)
  }

  /** Persist the LSH-bucketed corpus PARTITIONED BY bucket id — the
    * write-once index step that turns every subsequent probe into a
    * partition-pruned scan. At 100 TB a probe with `probes` buckets reads
    * `probes/2^nBits` of the data: the directory listing prunes before any
    * file I/O happens ([[lshTopKIndexed]] plan-asserts the
    * PartitionFilters).
    */
  def writeLshIndex(spark: SparkSession, dir: String, indexPath: String,
      nBits: Int = 8): Unit =
    writePartitioned(lshBuckets(spark, dir, nBits), indexPath, "bucket",
      "overwrite")

  /** ANN top-k over a persisted [[writeLshIndex]] index, querying by
    * VECTOR (the query need not be in the corpus). The query's bucket is
    * computed on a one-row frame (no corpus scan), the probe set is
    * enumerated driver-side, and the literal `isin` lands in the scan's
    * PartitionFilters — only the probed bucket directories are listed and
    * read. `excludeVecId` drops a known corpus id from the result (for
    * self-query comparisons against brute force). `labelEq` is the hybrid
    * (filtered) search form: the metadata predicate is applied INSIDE the
    * pruned index scan — parquet row-group pushdown on the label column,
    * composing with the bucket partition pruning — so the top-k heap sees
    * only qualifying rows and k results are guaranteed whenever ≥ k rows
    * qualify. Post-filtering a plain top-k would return fewer than k
    * under a selective predicate; pre-filtering thins each probed bucket
    * instead, which is why a SELECTIVE filter should widen `probes` to
    * hold recall (full probes stay exact by construction — the gate
    * config).
    */
  def lshTopKIndexed(spark: SparkSession, indexPath: String,
      qVec: Array[Float], k: Int = 10, nBits: Int = 8, probes: Int = 32,
      excludeVecId: Option[Long] = None,
      labelEq: Option[Int] = None): DataFrame = {
    val keep = rankHammingBuckets(spark, qVec, nBits, probes)
    val pruned = spark.read.parquet(indexPath)
      .filter(col("bucket").isin(keep: _*))
    // every probe reads the LIVE view: tombstoned vectors are invisible
    // the moment the delete lands
    val labeled = labelEq.fold(pruned)(l => pruned.filter(col("label") === l))
    cosineTopK(liveRows(labeled, indexTombstones(spark, indexPath),
      excludeVecId), qVec, k)
  }

  /** The gate-config LSH index (nBits = 6), built at most once per
    * (session, corpus) as a [[graft.util.Artifacts]] entry: both
    * indexed-ANN gates probe the SAME immutable artifact, so the second
    * gate reads the directories the first one wrote — the real serving
    * topology (one index, many queries) instead of one build per query.
    * Append/maintenance gates keep their own private paths because they
    * mutate.
    */
  private def sharedLshIndex(spark: SparkSession, dir: String,
      nBits: Int): String =
    graft.util.Artifacts.shared(spark, "lsh_index", dir, nBits) {
      val p = graft.util.Scratch.dir("graft_lsh_index_shared").toString
      writeLshIndex(spark, dir, p, nBits)
      p
    }

  /** Gated indexed-ANN report: builds (or reuses) the shared scratch
    * index, probes all buckets (exactness config) with vec 0's embedding —
    * must equal brute force; the partition-pruned reduced-probe path is
    * plan-asserted in SimilaritySpec. The gate uses nBits=6 (64
    * directories) to keep the index-write cost proportionate at bench
    * scale; the operator default stays 8 bits.
    */
  def lshIndexedReport(spark: SparkSession, dir: String): DataFrame =
    sharedIndexReport(spark, dir, labelEq = None)

  /** Gated filtered (hybrid) ANN: vector top-k restricted to a metadata
    * predicate (`label = 3`) over the SAME shared index — the serving
    * shape where every vector query carries a structured filter. Full
    * probes make it exact over the qualifying subset, so the oracle is a
    * brute-force filtered scan; the pushdown of the label predicate into
    * the index scan is plan-asserted in SimilaritySpec.
    */
  def filteredAnnReport(spark: SparkSession, dir: String): DataFrame =
    sharedIndexReport(spark, dir, labelEq = Some(3))

  private def sharedIndexReport(spark: SparkSession, dir: String,
      labelEq: Option[Int]): DataFrame =
    gateProbe(spark, sharedLshIndex(spark, dir, nBits = 6),
      queryVec(spark, dir), labelEq)

  /** Gate probe configuration shared by every indexed-ANN gate (nBits=6
    * full-probe exactness, vec 0 excluded) — one site to edit, so a gate
    * can never drift from its brute-force oracle's configuration.
    */
  private def gateProbe(spark: SparkSession, indexPath: String,
      qVec: Array[Float], labelEq: Option[Int] = None): DataFrame =
    lshTopKIndexed(spark, indexPath, qVec, nBits = 6, probes = 64,
      excludeVecId = Some(0L), labelEq = labelEq)

  /** Fresh scratch index accreted from `generations` interleaved
    * [[appendLshIndex]] writes (`vec_id mod generations`) — the shared
    * scaffold of the append/compact maintenance gates.
    */
  private def appendedIndex(spark: SparkSession, dir: String,
      generations: Long, prefix: String): String = {
    val indexPath = graft.util.Scratch.dir(prefix).toString
    val e = emb(spark, dir)
    (0L until generations).foreach(g =>
      appendLshIndex(e.filter(pmod(col("vec_id"), lit(generations)) === g),
        indexPath, nBits = 6))
    indexPath
  }

  /** Append a delta of vectors to an existing [[writeLshIndex]] index —
    * incremental index MAINTENANCE: the nightly embedding batch lands as
    * new files inside the same bucket directories (append mode +
    * `partitionBy`), no rewrite of the resident data; probes keep
    * partition-pruning over old and new generations alike. Compact with
    * [[graft.lake.Archive.compact]]-style rewrites when per-bucket file
    * counts accrete.
    */
  def appendLshIndex(df: DataFrame, indexPath: String, nBits: Int): Unit =
    writePartitioned(withBucket(df, nBits), indexPath, "bucket", "append")

  /** Gate for incremental maintenance: the index is built from the EVEN
    * vec_ids, the odd ids arrive later as an [[appendLshIndex]] delta,
    * and a full-probe query over the union must equal brute force over
    * the whole corpus — proving the appended generation is
    * indistinguishable from the resident one at probe time.
    */
  def lshIndexAppendReport(spark: SparkSession, dir: String): DataFrame =
    gateProbe(spark, appendedIndex(spark, dir, generations = 2L,
      prefix = "graft_lsh_index_inc"), queryVec(spark, dir))

  /** Serving-lifecycle gate: append generations accrete small files in
    * each `bucket=` directory, and the answer is the LAKE's compactor —
    * [[graft.lake.Archive.compact]] with the index's partition column —
    * rewriting every bucket to one file behind an atomic rename-aside
    * swap. Two interleaved generations land here (every bucket holds a
    * sliver of each — the spec's 4-generation variant pins the same
    * property harder at sf0.001), then the compacted index must answer a
    * full-probe query identically to brute force over the corpus —
    * compaction is invisible to probes, and partition pruning works
    * unchanged on the rewritten layout. The build → append → compact →
    * query cycle is the whole maintenance story of a 100 TB serving
    * index: none of its steps rewrite resident data except compact, and
    * compact touches each bucket exactly once.
    */
  def lshIndexCompactReport(spark: SparkSession, dir: String): DataFrame = {
    val indexPath = appendedIndex(spark, dir, generations = 2L,
      prefix = "graft_lsh_index_cmp")
    graft.lake.Archive.compact(spark, indexPath, Seq("bucket"))
    gateProbe(spark, indexPath, queryVec(spark, dir))
  }

  /** The index's tombstone set, if any: deleted vec_ids live under
    * `_tombstones/` INSIDE the index directory — the underscore prefix
    * makes the parquet file index treat it as hidden, so plain index
    * scans never read it as data, while every probe
    * ([[lshTopKIndexed]]) anti-joins it out. None when no delete has
    * ever landed (the existence check is one driver-side stat, so
    * tombstone-free indexes pay nothing).
    */
  private def indexTombstones(spark: SparkSession,
      indexPath: String): Option[DataFrame] = {
    val p = java.nio.file.Paths.get(indexPath, "_tombstones")
    if (java.nio.file.Files.isDirectory(p))
      Some(spark.read.parquet(p.toString).select(col("vec_id")))
    else None
  }

  /** DELETE vectors from a persisted LSH index by tombstone — the
    * GDPR/unlearning path the lake side already has
    * (`Snapshots.delete`), now for the serving index: the delete is a
    * tiny append (one parquet file of vec_ids under `_tombstones/`),
    * never a resident-bucket rewrite — cost ∝ the delete, not the
    * index. Probes exclude tombstoned ids immediately;
    * [[lshIndexReclaim]] later rewrites buckets without them and
    * clears the tombstones (physical reclamation). Idempotent: deleting
    * an id twice appends a duplicate tombstone row, which the anti-join
    * semantics absorb.
    */
  def deleteFromVecIndex(spark: SparkSession, indexPath: String,
      vecIds: Seq[Long]): Unit = {
    import spark.implicits._
    vecIds.toDF("vec_id").coalesce(1).write.mode("append")
      .parquet(java.nio.file.Paths.get(indexPath, "_tombstones").toString)
  }

  /** Physically reclaim tombstoned vectors: rewrite every bucket from
    * the LIVE view (one file per bucket, the compactor's layout) behind
    * [[graft.lake.Archive.compact]]'s rename-aside swap. The
    * `_tombstones/` directory lives inside the OLD index directory, so
    * the swap retires it atomically with the rows it masked — after
    * reclaim the index is byte-equivalent to one never containing the
    * deleted vectors.
    */
  def lshIndexReclaim(spark: SparkSession, indexPath: String): Unit =
    indexReclaim(spark, indexPath, "bucket")

  /** [[lshIndexReclaim]] for the IVF layout (`ivf_list` partitions). */
  def ivfIndexReclaim(spark: SparkSession, indexPath: String): Unit =
    indexReclaim(spark, indexPath, "ivf_list")

  private def indexReclaim(spark: SparkSession, indexPath: String,
      partitionCol: String): Unit = {
    val tomb = indexTombstones(spark, indexPath)
    graft.lake.Archive.compact(spark, indexPath, Seq(partitionCol),
      rewrite = liveRows(_, tomb, None))
  }

  /** Lifecycle gate for ANN deletes: build → probe → DELETE the probe's
    * 3 nearest (deterministic victims: top of the full-probe ranking,
    * which the oracle replays as brute force) → probe again (tombstone
    * stage: deleted ids must be gone from results while still
    * physically resident) → [[lshIndexReclaim]] → probe again
    * (compacted stage: same answers, rows physically gone, tombstone
    * set cleared). The two stages are pinned with physical row counts
    * and tombstone counts, so "hidden but resident" and "reclaimed"
    * are distinguishable in the contract, not just asserted.
    */
  def lshIndexDeleteReport(spark: SparkSession, dir: String): DataFrame = {
    // private mutable path (the gate deletes + rewrites), single build:
    // generational accretion is x_ann_append/compact's contract, not
    // this one's. nBits = 4 (16 buckets) keeps the lifecycle's two
    // full-directory rewrites at 16 files each while probes stay EXACT
    // (probes = 16 = every bucket), so the oracle is still brute force.
    val indexPath = graft.util.Scratch.dir("graft_lsh_index_del").toString
    writeLshIndex(spark, dir, indexPath, nBits = 4)
    val q = queryVec(spark, dir)
    deleteLifecycleReport(spark, indexPath, "bucket") {
      lshTopKIndexed(spark, indexPath, q, nBits = 4, probes = 16,
        excludeVecId = Some(0L))
    }
  }

  /** The delete lifecycle both directory layouts gate
    * ([[lshIndexDeleteReport]], [[ivfIndexDeleteReport]]) over a built
    * index: `probe` (a full-probe query, so every stage is exact) → delete
    * its 3 nearest → probe (tombstoned) → reclaim the `partCol`
    * partitions → probe (compacted).
    */
  private def deleteLifecycleReport(spark: SparkSession, indexPath: String,
      partCol: String)(probe: => DataFrame): DataFrame = {
    val victims = probe
      .limit(3).collect().map(_.getLong(0)).toSeq   // 3 rows, driver-side
    deleteFromVecIndex(spark, indexPath, victims)
    def stage(name: String, nTomb: Long): DataFrame =
      probe
        .withColumn("stage", lit(name))
        .withColumn("n_tombstones", lit(nTomb))
        .withColumn("n_index_rows",
          lit(spark.read.parquet(indexPath).count()))
    val tombstoned = stage("tombstoned", victims.size.toLong)
      .collect()                                    // pin BEFORE reclaim
    val tombstonedDf = spark.createDataFrame(
      java.util.Arrays.asList(tombstoned: _*),
      stage("tombstoned", 0L).schema)
    indexReclaim(spark, indexPath, partCol)
    require(indexTombstones(spark, indexPath).isEmpty,
      "reclaim must clear the tombstone set")
    tombstonedDf.unionAll(stage("compacted", 0L))
  }

  // --- streaming index maintenance (freshness) -----------------------

  /** Files per publication: each file covers a contiguous band of ~8
    * buckets, so an m-bucket probe keeps ceil(m/8)-ish files. At gate
    * scale more files would just buy per-file open overhead (the corpus
    * is small); a production deployment sizes this by target file size
    * (~512 MB), not bucket count — the skipping math is the same.
    */
  private val LakeIndexFiles = 8

  /** Bucket-augmented embeddings laid out for file-level skipping: each
    * output partition holds a contiguous RANGE of bucket values
    * (`repartitionByRange`, not hash — hash would interleave unrelated
    * buckets into one file and widen its min/max interval to cover
    * buckets it doesn't hold), so a published file's manifest stats on
    * `bucket` are tight and `Snapshots.prunedScan("bucket IN ...")`
    * skips non-probed buckets at PLAN time.
    */
  private def withBucketFiles(df: DataFrame, nBits: Int): DataFrame =
    withBucket(df, nBits).repartitionByRange(LakeIndexFiles, col("bucket"))

  /** ANN top-k over a LAKE-TABLE index ([[streamAppendLshLake]]'s
    * layout): the probe set prunes FILES through the manifest's
    * per-bucket min/max stats instead of `bucket=` directories — same
    * plan-time skipping, plus the commit protocol a directory layout
    * can't have (exactly-once streaming appends, snapshot isolation).
    */
  def lshLakeTopK(spark: SparkSession, table: String, qVec: Array[Float],
      k: Int = 10, nBits: Int = 8, probes: Int = 32,
      excludeVecId: Option[Long] = None): DataFrame = {
    val keep = rankHammingBuckets(spark, qVec, nBits, probes)
    cosineTopK(liveRows(graft.lake.Snapshots.prunedScan(spark, table,
      s"bucket IN (${keep.mkString(", ")})"), None, excludeVecId), qVec, k)
  }

  /** One EXACTLY-ONCE streaming-append session into the LSH lake-table
    * index: [[graft.lake.Snapshots.streamAppend]] of the staged corpus
    * files ([[stagedVectors]]) with the [[withBucketFiles]] layout.
    */
  def streamAppendLshLake(spark: SparkSession, stageDir: String,
      checkpoint: String, table: String, nBits: Int,
      schema: org.apache.spark.sql.types.StructType): Unit =
    graft.lake.Snapshots.streamAppend(stagedVectors(spark, stageDir, schema),
      table, checkpoint)(withBucketFiles(_, nBits))

  /** The staged corpus files as a stream, one file per micro-batch —
    * the source of both lake layouts' streaming appends.
    */
  private def stagedVectors(spark: SparkSession, stageDir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDir)

  /** STREAMING index maintenance gate — the freshness rung the index
    * lifecycle was missing (build/append/compact/delete are gated;
    * this pins "vectors streamed in become probe-visible, exactly
    * once, across restarts"). The index lives as a snapshot-lake table
    * (vec_id, embedding, label, bucket) rather than a `bucket=`
    * directory tree: the manifest's per-file bucket stats give probes
    * the same plan-time pruning ([[lshLakeTopK]]), and the commit
    * log's batch-id high-water mark gives the stream exactly-once
    * appends — the composition the verdict asked for
    * ([[graft.lake.Snapshots.streamAppend]], the p_stream_sink_lake
    * sink on the index layout).
    * The fixture and contract columns are [[lakeStreamReport]]'s.
    * Solo floor ~3 s: two AvailableNow drain cycles + three lake
    * publications — the same class as p_stream_sink_lake (SCALE.md
    * floor table).
    */
  def lshIndexStreamReport(spark: SparkSession, dir: String): DataFrame = {
    val nBits = 6
    lakeStreamReport(spark, dir, "graft_lsh_lake", withBucketFiles(_, nBits)) {
      (table, _) => lshLakeTopK(spark, table, queryVec(spark, dir), k = 10,
        nBits = nBits, probes = 64, excludeVecId = Some(0L))
    }
  }

  /** The streaming-maintenance fixture both lake layouts gate
    * ([[lshIndexStreamReport]], [[ivfPqIndexStreamReport]]), through
    * [[graft.lake.Snapshots.streamAppend]] with the layout's `layout`
    * transform: even vec_ids bootstrap v1; the odd ids arrive as two
    * staged files drained by TWO AvailableNow sessions over ONE
    * checkpoint — the second session is a mid-stream restart that must
    * resume past batch 0 without re-publishing it. Every batch also
    * re-delivers itself inside the sink (must no-op), and a post-hoc redelivery of the
    * final batch id must still no-op. Contract columns: `probe(table,
    * n_rows)`'s full-probe top-10 (= brute force over the WHOLE corpus —
    * a lost or doubled streamed vector shifts it), `n_versions` pinned
    * to bootstrap + one version per batch, and the odd-id row count +
    * id-sum (each streamed row exactly once).
    */
  private def lakeStreamReport(spark: SparkSession, dir: String,
      prefix: String, layout: DataFrame => DataFrame)(
      probe: (String, Long) => DataFrame): DataFrame = {
    import graft.lake.Snapshots
    import graft.util.Scratch
    val e = emb(spark, dir)
    val table = Scratch.dir(prefix).toString
    Snapshots.append(layout(e.filter(col("vec_id") % 2 === 0)), table)
    val stage = Scratch.dir(s"${prefix}_src")
    val ck = Scratch.dir(s"${prefix}_ck").toString
    val base = System.currentTimeMillis()
    // each file lands AFTER the previous session stopped: the restarted
    // session must resume from the checkpoint, never re-deliver an
    // earlier batch's rows
    Seq(1, 3).zipWithIndex.foreach { case (slice, batch) =>
      Scratch.stageParquetFile(e.filter(pmod(col("vec_id"), lit(4)) === slice),
        stage, s"g${batch + 1}.parquet", base + batch * 60000L)
      Snapshots.streamAppend(stagedVectors(spark, stage.toString, e.schema),
        table, ck)(layout)
      require(Snapshots.lastBatchId(table).contains(batch.toLong),
        s"session ${batch + 1} must have published exactly through batch $batch")
    }
    require(Snapshots.appendBatch(layout(e.limit(1)), table, 1L).isEmpty,
      "redelivered final batch must no-op against the high-water mark")
    val counters = Snapshots.read(spark, table).agg(
      count(lit(1)).as("n"),
      count(when(pmod(col("vec_id"), lit(2)) === 1, 1)).as("odd"),
      sum(when(pmod(col("vec_id"), lit(2)) === 1, col("vec_id")))
        .as("osum")).collect().head
    probe(table, counters.getLong(0))
      .withColumn("n_versions", lit(Snapshots.latestVersion(table).toLong))
      .withColumn("n_rows", lit(counters.getLong(0)))
      .withColumn("odd_rows", lit(counters.getLong(1)))
      .withColumn("odd_sum", lit(counters.getLong(2)))
  }

  /** Lake-layout ANN DELETE + COMPACT lifecycle — the remaining cell of
    * the index-maintenance matrix (directory layouts have tombstone
    * delete + reclaim gated in both LSH and IVF forms; the lake layout
    * had build/stream-append/probe but no mutation story). The lake
    * table does it with the COMMIT LOG instead of tombstones:
    * [[graft.lake.Snapshots.delete]] swaps affected files for survivor
    * files under a new version (deleted vectors vanish from probes
    * atomically, no live-view anti-join), and
    * [[graft.lake.Snapshots.rewriteClustered]] on `bucket` is the
    * compaction — a plain coalescing rewrite would merge unrelated
    * bucket bands into wide-interval files and destroy the manifest's
    * file skipping; the clustered form restores one tight band per
    * file. Gate contract: full corpus published (v1), `vec_id % 5 = 1`
    * row-level-deleted (v2), cluster-compacted back to
    * [[LakeIndexFiles]] banded files (v3); full-probe top-10 == brute
    * force over the SURVIVORS (a resurrected or lost vector shifts
    * it), survivor count + id-sum pin the delete's row arithmetic,
    * `n_versions` pins the lifecycle, and the post-compact layout must
    * still file-prune a narrow probe (`pruned_after_compact`).
    */
  def lshLakeDeleteReport(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val nBits = 6
    val e = emb(spark, dir)
    val table = graft.util.Scratch.dir("graft_lsh_lake_del").toString
    Snapshots.append(withBucketFiles(e, nBits), table)
    Snapshots.delete(spark, table, "vec_id % 5 = 1")
    Snapshots.rewriteClustered(spark, table, Seq("bucket"), LakeIndexFiles)
    val counters = Snapshots.read(spark, table).agg(
      count(lit(1)).as("n"),
      sum(col("vec_id")).as("idsum")).collect().head
    val (kept, all) = Snapshots.pruneFiles(spark, table, "bucket IN (0, 1)")
    lshLakeTopK(spark, table, queryVec(spark, dir), k = 10,
        nBits = nBits, probes = 64, excludeVecId = Some(0L))
      .withColumn("n_versions", lit(Snapshots.latestVersion(table).toLong))
      .withColumn("n_rows", lit(counters.getLong(0)))
      .withColumn("id_sum", lit(counters.getLong(1)))
      .withColumn("pruned_after_compact", lit(kept.size < all.size))
  }

  /** IVF-PQ rows laid out for file-level skipping, the [[withBucketFiles]]
    * analog on the learned-quantizer layout: [[ivfPqCodes]] against the
    * RESIDENT centroids and codebooks (fixed broadcast artifacts — the
    * IVF maintenance invariant, [[appendIvfIndex]]); raw vectors stay in
    * the corpus and are fetched just for the rerank survivors.
    * `repartitionByRange` on `ivf_list` keeps each published file's
    * manifest min/max on the list id tight, so a probe of `nProbe` lists
    * is a plan-time file prune — the manifest does what `ivf_list=`
    * directories do, with a commit protocol directories can't have.
    */
  private def withIvfListFiles(df: DataFrame,
      centroids: Array[Array[Double]],
      cb: Array[Array[Array[Double]]]): DataFrame =
    ivfPqCodes(df, centroids, cb)
      .repartitionByRange(LakeIndexFiles, col("ivf_list"))

  /** IVF-PQ top-k over a LAKE-TABLE index ([[streamAppendIvfPqLake]]'s
    * layout): list probes prune FILES through the manifest's per-file
    * `ivf_list` min/max stats ([[lshLakeTopK]]'s mechanism on the
    * learned-quantizer layout), the ADC pass scores the survivors from
    * the codes column only, and the top `rerank` candidate ids join
    * back to the corpus for the exact re-rank ([[ivfPqTopKIndexed]]'s
    * read path with manifest pruning instead of directory pruning).
    */
  def ivfPqLakeTopK(spark: SparkSession, table: String, corpus: DataFrame,
      centroids: Array[Array[Double]], cb: Array[Array[Array[Double]]],
      qVec: Array[Float], k: Int = 10, nProbe: Int = 4, rerank: Int = 400,
      excludeVecId: Option[Long] = None): DataFrame = {
    val probeLists = rankProbeLists(centroids, qVec, nProbe)
    val idx = graft.lake.Snapshots.prunedScan(spark, table,
      s"ivf_list IN (${probeLists.mkString(", ")})")
    adcRerankTopK(liveRows(idx, None, excludeVecId), corpus, cb, qVec, k,
      rerank)
  }

  /** [[streamAppendLshLake]] on the IVF-PQ layout — the index-freshness
    * asymmetry the r13 verdict flagged (streaming exactly-once appends
    * existed for the LSH lake layout only). Same machinery end to end
    * ([[graft.lake.Snapshots.streamAppend]]): the layout transform
    * assigns lists + PQ-encodes against the RESIDENT quantizer (both are
    * fixed broadcast artifacts, so the transform is a narrow per-row
    * pass — no refit, no resident rewrite).
    */
  def streamAppendIvfPqLake(spark: SparkSession, stageDir: String,
      checkpoint: String, table: String,
      centroids: Array[Array[Double]], cb: Array[Array[Array[Double]]],
      schema: org.apache.spark.sql.types.StructType): Unit =
    graft.lake.Snapshots.streamAppend(stagedVectors(spark, stageDir, schema),
      table, checkpoint)(withIvfListFiles(_, centroids, cb))

  /** STREAMING maintenance gate for the IVF-PQ layout — closes the
    * freshness asymmetry ([[lshIndexStreamReport]]'s contract on the
    * second index layout, the r13 verdict's #1 ask), through the same
    * [[lakeStreamReport]] fixture. The IVF centroids are fit on the
    * bootstrap (even) ids only, so streamed rows exercise STALE-quantizer
    * assignment (the [[ivfIndexAppendReport]] honesty). The full-probe
    * top-10 re-ranks a corpus-covering candidate pool, which makes ADC
    * ranking error irrelevant; a lost or doubled streamed vector still
    * shifts it. PQ codebooks come from the corpus-level `pq_fit` artifact
    * (shared with the other PQ gates — the codebook is ADC-ranking-only
    * here, never correctness). Solo floor ~3–5 s: two AvailableNow drain
    * cycles + three lake publications, the x_ann_stream class (SCALE.md
    * floor table).
    */
  def ivfPqIndexStreamReport(spark: SparkSession, dir: String): DataFrame = {
    val nLists = 16
    val e = emb(spark, dir)
    val centroids = ivfFitCentroidsOf(e.filter(col("vec_id") % 2 === 0),
      k = nLists)
    val cb = pqFitCodebooks(spark, dir)
    lakeStreamReport(spark, dir, "graft_ivfpq_lake",
        withIvfListFiles(_, centroids, cb)) { (table, nRows) =>
      // rerank ≥ the full index: the candidate pool IS the probed index,
      // so the exact re-rank equals brute force no matter how the
      // stale-ish codebook orders the ADC pass — the gate pins streaming
      // delivery, not ADC recall (x_ann_pq/x_ann_ivfpq own that)
      ivfPqLakeTopK(spark, table, e, centroids, cb, queryVec(spark, dir),
        k = 10, nProbe = nLists, rerank = nRows.toInt,
        excludeVecId = Some(0L))
    }
  }

  /** Embedding-cosine near-duplicate pairs: candidates from LSH bucket
    * agreement verified by exact cosine ≥ threshold, with MULTI-PROBE
    * recall: one side of the join explodes each vector's bucket into the
    * bucket itself plus its `nBits` hamming-1 neighbours, so any pair whose
    * signatures differ in ≤ `probeHamming` (0 or 1) bits becomes a
    * candidate. Probe values per vector are distinct, so a pair matches at
    * most once — no dedup pass. Candidates stay ∝ true near-dups (the probe
    * factor is nBits+1 on ONE side's keys, not a cross product); precision
    * is 1.0 because every candidate is exact-verified. The exhaustive O(n²)
    * form is the yardstick only.
    */
  def cosineNearDupPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.8, nBits: Int = 8, probeHamming: Int = 1): DataFrame =
    cosineNearDupPairsOf(emb(spark, dir), threshold, nBits, probeHamming)

  /** Gate entry for [[cosineNearDupPairs]]: the natural test corpus has no
    * pair above cosine 0.8 at any SF (max ≈ 0.60 at sf0.1), so gating the
    * raw operator proves only 0 == 0. To make the gate bite it PLANTS
    * exact twins — every `vec_id % 50 == 0` vector re-appears under
    * `vec_id + 1_000_000` with the same embedding — so the expected
    * output is exactly the planted pairs at score 1.0. Identical vectors
    * land in identical LSH buckets by construction, so banded recall on
    * the planted set is structural (not probabilistic) and the exhaustive
    * DuckDB oracle over the same union is a true equality. Perturbed-twin
    * recall (near-but-not-identical vectors) is covered by
    * `EmbedNearDupSpec`, which this gate complements rather than
    * replaces.
    */
  def embedNearDupGate(spark: SparkSession, dir: String): DataFrame =
    cosineNearDupPairsOf(plantTwins(emb(spark, dir)))

  /** The twin-planting convention shared by the embedding dedup gates
    * (`x_embed_neardup`, `x_embed_semdedup`): every `vec_id % 50 == 0`
    * vector re-appears under `vec_id + 1_000_000` with the same
    * embedding. Both gates' DuckDB oracles replay exactly this union —
    * one definition so the modulus/offset can never drift between them.
    */
  private def plantTwins(e: DataFrame): DataFrame = {
    val base = e.select(col("vec_id"), col("embedding"))
    base.unionAll(base.filter(col("vec_id") % 50 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
  }

  /** [[cosineNearDupPairs]] over any frame with (vec_id, embedding). */
  def cosineNearDupPairsOf(df: DataFrame, threshold: Double = 0.8,
      nBits: Int = 8, probeHamming: Int = 1): DataFrame = {
    require(probeHamming == 0 || probeHamming == 1,
      s"probeHamming must be 0 or 1, got $probeHamming")
    val b = df.withColumn("bucket",
      graft.functions.HyperplaneBucket.hyperplane_bucket(col("embedding"), nBits))
    val probes =
      if (probeHamming == 1)
        array((col("bucket") +: (0 until nBits).map(i =>
          col("bucket").bitwiseXOR(lit(1 << i)))): _*)
      else array(col("bucket"))
    val a1 = b.select(col("vec_id").as("v1"), col("embedding").as("e1"),
      explode(probes).as("bucket"))
    val a2 = b.select(col("vec_id").as("v2"), col("embedding").as("e2"),
      col("bucket"))
    a1.join(a2, Seq("bucket"))
      .filter(col("v1") < col("v2"))
      .select(col("v1"), col("v2"),
        round(cosine(col("e1"), col("e2")), 6).as("score"))
      .filter(col("score") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, arXiv
    * 2303.09540): partition the embedding space into clusters, then
    * within each cluster drop every vector that has a LOWER-id
    * near-duplicate (cosine ≥ `threshold`) — one deterministic survivor
    * per duplicate group. The paper clusters with k-means; here the
    * cluster is the LSH hyperplane bucket (identical/near-identical
    * vectors share a bucket structurally, and the bucket count is a pure
    * dial), which keeps the within-cluster candidate join at SemDeDup's
    * own O(Σ cluster²) cost model — `nBits` is the granularity knob that
    * holds cells small at 100 TB, exactly like the paper's k ∝ n. Single
    * pass, no iteration: "drop if ANY lower-id dup neighbor" equals
    * keep-min-per-component when duplication is transitive inside a
    * cluster (exact/near twins — the common case), and on a chain
    * a~b~c (a≁c) it prunes b AND c, the deliberately aggressive end;
    * transitive-closure survivors are [[graft.ext.dedup.TextDedup.dedupClusters]]'s
    * contract. Returns every input row flagged, never a filtered corpus:
    * (vec_id, cluster_id, kept) — the downstream filter is one
    * `where(kept)`, and the flag table doubles as the audit artifact.
    */
  def semDedup(spark: SparkSession, dir: String, threshold: Double = 0.8,
      nBits: Int = 8): DataFrame =
    semDedupOf(emb(spark, dir), threshold,
      e => graft.functions.HyperplaneBucket.hyperplane_bucket(e, nBits))

  /** [[semDedup]] over any (vec_id, embedding) frame with a caller-chosen
    * cluster assignment (k-means cell id, LSH bucket, …).
    */
  def semDedupOf(df: DataFrame, threshold: Double,
      clusterOf: Column => Column): DataFrame = {
    // the clustered frame feeds both self-join sides and the final
    // flag select; checkpoint it so the scan + cluster assignment (a
    // nontrivial per-row expression) runs ONCE, not once per consumer —
    // the 100 TB analog is writing the clustered corpus to scratch once
    val b = df.select(col("vec_id"), col("embedding"))
      .withColumn("cluster_id", clusterOf(col("embedding")))
      .localCheckpoint(true)
    val dropped = b.select(col("cluster_id"), col("vec_id").as("v1"),
        col("embedding").as("e1"))
      .join(b.select(col("cluster_id"), col("vec_id").as("v2"),
        col("embedding").as("e2")), Seq("cluster_id"))
      .filter(col("v1") < col("v2") &&
        round(cosine(col("e1"), col("e2")), 6) >= threshold)
      .select(col("v2").as("vec_id")).distinct()
      .withColumn("dup", lit(true))
    b.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"),
        (!coalesce(col("dup"), lit(false))).as("kept"))
  }

  /** The paper-faithful SemDeDup form: clusters come from the SAME
    * bounded-sample k-means the IVF family uses (one ≤`sampleSize`-row
    * seeded driver fit, then distributed codegen assignment via
    * `nearest_centroid`) instead of LSH buckets. Same downstream prune;
    * k is the cell-size dial (the paper's k ∝ n). Spec-verified, not
    * gated: learned float centroids aren't SQL-replayable — the gate
    * form ([[semDedupGate]]) covers the oracle with literal planes.
    */
  def semDedupKmeans(spark: SparkSession, dir: String,
      threshold: Double = 0.8, k: Int = 16): DataFrame =
    semDedupKmeansOf(emb(spark, dir), threshold, k)

  /** [[semDedupKmeans]] over an explicit (vec_id, embedding) frame — the
    * form the spec exercises directly.
    */
  def semDedupKmeansOf(df: DataFrame, threshold: Double,
      k: Int): DataFrame = {
    val centroids = ivfFitCentroidsOf(df, k)
    semDedupOf(df, threshold,
      c => graft.functions.NearestCentroid.nearest_centroid(c, centroids)
        .cast("long"))
  }

  /** Gate entry for [[semDedup]]: the natural corpus has no pair above
    * cosine 0.8 (max ≈ 0.60), so — like [[embedNearDupGate]] — the gate
    * PLANTS exact twins (`vec_id % 50 == 0` re-appears at
    * `vec_id + 1_000_000`) and swaps the hash-seeded production buckets
    * for [[integerPlaneBucket]]'s literal integer planes, making every
    * cluster id, pair score, and keep decision DuckDB-replayable. The
    * expected picture: every original vector kept, every planted twin
    * pruned by its lower-id original (identical vectors share a bucket
    * structurally, so the prune is certain, not probabilistic).
    */
  def semDedupGate(spark: SparkSession, dir: String): DataFrame =
    semDedupOf(plantTwins(emb(spark, dir)), 0.8,
      c => integerPlaneBucket(c, 4))

  /** Exhaustive cosine pair join (yardstick for recall testing — O(n²)). */
  def cosineNearDupPairsExhaustive(spark: SparkSession, dir: String,
      threshold: Double = 0.8): DataFrame = {
    val e = emb(spark, dir)
    val a1 = e.select(col("vec_id").as("v1"), col("embedding").as("e1"))
    val a2 = e.select(col("vec_id").as("v2"), col("embedding").as("e2"))
    a1.crossJoin(a2).filter(col("v1") < col("v2"))
      .select(col("v1"), col("v2"),
        round(cosine(col("e1"), col("e2")), 6).as("score"))
      .filter(col("score") >= threshold)
  }

  /** IVF coarse quantizer: Lloyd's k-means on a bounded driver-side sample
    * (seeded, deterministic), returning k centroids. At 100 TB the sample
    * stays bounded (`sampleSize` rows collected once); assignment of the
    * full corpus happens distributed via [[ivfAssign]]. For huge k use a
    * distributed k-means instead — this is the IVF-list builder, where k is
    * typically √n and the sample covers it.
    *
    * The fits over a CORPUS DIRECTORY (this and [[pqFitCodebooks]]) are
    * shared [[graft.util.Artifacts]] entries: the IVF/PQ gates each need
    * the same codebooks, and a serving deployment trains a quantizer
    * once per corpus snapshot, not once per query — one fit, many
    * consumers (the sharedLshIndex topology for driver-side artifacts).
    * The `...Of` frame variants stay unshared: an arbitrary DataFrame
    * has no stable identity to key on.
    */
  def ivfFitCentroids(spark: SparkSession, dir: String, k: Int = 16,
      iters: Int = 8, sampleSize: Int = 2048, seed: Long = 42L): Array[Array[Double]] =
    graft.util.Artifacts.shared(spark, "ivf_fit", dir, k, iters, sampleSize,
        seed) {
      ivfFitCentroidsOf(emb(spark, dir), k, iters, sampleSize, seed)
    }

  /** [[ivfFitCentroids]] over an explicit (vec_id, embedding) frame —
    * lets maintenance scenarios fit the quantizer on the RESIDENT corpus
    * only, before any delta exists.
    */
  def ivfFitCentroidsOf(df: DataFrame, k: Int = 16,
      iters: Int = 8, sampleSize: Int = 2048, seed: Long = 42L): Array[Array[Double]] = {
    val sample = boundedSampleOf(df, sampleSize, seed)
    require(sample.length >= k, s"sample ${sample.length} < k=$k")
    lloyd(sample, k, iters)
  }

  /** Seeded, deterministic, bounded driver-side sample — the quantizer
    * training set. At 100 TB this stays `sampleSize` rows collected once.
    */
  private def boundedSample(spark: SparkSession, dir: String,
      sampleSize: Int, seed: Long): Array[Array[Double]] =
    boundedSampleOf(emb(spark, dir), sampleSize, seed)

  private def boundedSampleOf(df: DataFrame,
      sampleSize: Int, seed: Long): Array[Array[Double]] =
    df.select(col("embedding")).orderBy(xxhash64(col("vec_id"), lit(seed)))
      .limit(sampleSize)
      .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)

  /** Lloyd's k-means over a driver-side sample (deterministic: first-k
    * init over the seeded sample order).
    */
  private def lloyd(sample: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    var centroids = sample.take(k).map(_.clone())
    (1 to iters).foreach { _ =>
      val dims = centroids(0).length
      val sums = Array.fill(k)(new Array[Double](dims))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        var best = 0; var bestDist = Double.MaxValue
        var c = 0
        while (c < k) {
          var dist = 0.0; var d = 0
          while (d < dims) { val x = v(d) - centroids(c)(d); dist += x * x; d += 1 }
          if (dist < bestDist) { bestDist = dist; best = c }
          c += 1
        }
        counts(best) += 1
        var d = 0
        while (d < dims) { sums(best)(d) += v(d); d += 1 }
      }
      centroids = Array.tabulate(k)(c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c)))
    }
    centroids
  }

  /** Distributed IVF assignment: every vector tagged with its nearest
    * centroid (one codegen'd pass; centroid matrix rides inside the
    * expression). Persist `partitionBy("ivf_list")` to make probes
    * partition-pruned scans.
    */
  def ivfAssign(spark: SparkSession, dir: String,
      centroids: Array[Array[Double]]): DataFrame =
    ivfAssignOf(emb(spark, dir), centroids)

  /** [[ivfAssign]] over an explicit frame — the single definition of the
    * assignment expression, shared by the build and append write paths.
    */
  def ivfAssignOf(df: DataFrame,
      centroids: Array[Array[Double]]): DataFrame =
    df.withColumn("ivf_list",
      graft.functions.NearestCentroid.nearest_centroid(col("embedding"), centroids))

  /** IVF top-k: search only the `nProbe` lists nearest to the query vector.
    * nProbe = k degrades to exact brute force (the correctness config);
    * nProbe « k is the scale path reading `nProbe/k` of the corpus.
    */
  def ivfTopK(spark: SparkSession, dir: String, queryVecId: Long = 0L,
      k: Int = 10, nLists: Int = 16, nProbe: Int = 4): DataFrame = {
    val centroids = ivfFitCentroids(spark, dir, nLists)
    val qVec = queryVec(spark, dir, queryVecId)
    // rank lists by centroid distance to the query, driver-side (k floats)
    val probeLists = rankProbeLists(centroids, qVec, nProbe)
    cosineTopK(ivfAssign(spark, dir, centroids)
      .filter(col("ivf_list").isin(probeLists: _*))
      .filter(col("vec_id") =!= queryVecId), qVec, k)
  }

  /** Persist the IVF-assigned corpus PARTITIONED BY list id — the
    * [[writeLshIndex]] analog for the learned quantizer: a probe of
    * `nProbe` lists is a directory-pruned scan reading `nProbe/nLists` of
    * the corpus. Returns the centroids (the probe ranking needs them;
    * persist alongside the index in production).
    */
  def writeIvfIndex(spark: SparkSession, dir: String, indexPath: String,
      nLists: Int = 16): Array[Array[Double]] = {
    val centroids = ivfFitCentroids(spark, dir, nLists)
    writePartitioned(ivfAssign(spark, dir, centroids), indexPath, "ivf_list",
      "overwrite")
    centroids
  }

  /** IVF top-k over a persisted [[writeIvfIndex]] index, querying by
    * vector: lists ranked by centroid distance driver-side, the literal
    * list set lands in the scan's PartitionFilters; tombstoned vectors
    * are invisible (the LSH probe's live view).
    */
  def ivfTopKIndexed(spark: SparkSession, indexPath: String,
      centroids: Array[Array[Double]], qVec: Array[Float], k: Int = 10,
      nProbe: Int = 4, excludeVecId: Option[Long] = None): DataFrame = {
    val pruned = spark.read.parquet(indexPath)
      .filter(col("ivf_list").isin(rankProbeLists(centroids, qVec, nProbe): _*))
    cosineTopK(liveRows(pruned, indexTombstones(spark, indexPath),
      excludeVecId), qVec, k)
  }

  /** Append a delta of vectors to an existing [[writeIvfIndex]] index
    * using the RESIDENT centroids — the IVF maintenance invariant: new
    * vectors are assigned into the existing list partitioning (append
    * mode lands them as new files inside the same list directories), the
    * quantizer is NOT refit per delta (refitting would re-assign the
    * resident corpus — a full rewrite; production refreshes centroids on
    * a slow cadence with an explicit rebuild). Probes keep
    * directory-pruning over old and new generations alike.
    */
  def appendIvfIndex(df: DataFrame, indexPath: String,
      centroids: Array[Array[Double]]): Unit =
    writePartitioned(ivfAssignOf(df, centroids), indexPath, "ivf_list",
      "append")

  /** Gate for IVF incremental maintenance (the [[lshIndexAppendReport]]
    * twin): centroids fit once, index built from the EVEN vec_ids, odd
    * ids appended as a delta under the same centroids; a full-probe
    * query over the union must equal brute force over the whole corpus.
    */
  def ivfIndexAppendReport(spark: SparkSession, dir: String): DataFrame = {
    val indexPath = graft.util.Scratch.dir("graft_ivf_index_inc").toString
    val e = emb(spark, dir)
    // fit on the RESIDENT (even) half only: the quantizer must never have
    // seen the delta, or the gate wouldn't exercise stale-centroid
    // assignment (full-probe correctness is partition-independent, so the
    // oracle equality is unaffected — that's what makes this honest)
    val centroids = ivfFitCentroidsOf(e.filter(col("vec_id") % 2 === 0), k = 16)
    appendIvfIndex(e.filter(col("vec_id") % 2 === 0), indexPath, centroids)
    appendIvfIndex(e.filter(col("vec_id") % 2 =!= 0), indexPath, centroids)
    ivfTopKIndexed(spark, indexPath, centroids, queryVec(spark, dir),
      nProbe = 16, excludeVecId = Some(0L))
  }

  /** Gated indexed-IVF report: full-probe config ≡ brute force. */
  def ivfIndexedReport(spark: SparkSession, dir: String): DataFrame = {
    val indexPath = graft.util.Scratch.dir("graft_ivf_index").toString
    val centroids = writeIvfIndex(spark, dir, indexPath, nLists = 16)
    ivfTopKIndexed(spark, indexPath, centroids, queryVec(spark, dir),
      nProbe = 16, excludeVecId = Some(0L))
  }

  /** [[lshIndexDeleteReport]] for the IVF layout — the same
    * tombstone → probe → reclaim lifecycle over `ivf_list` partitions,
    * with the learned-quantizer index: full-probe config (nProbe =
    * nLists) keeps every stage exact, so the oracle is brute force over
    * the survivors. Proves the tombstone contract is INDEX-AGNOSTIC:
    * the same `_tombstones/` convention serves any vec_id-keyed
    * partitioned layout.
    */
  def ivfIndexDeleteReport(spark: SparkSession, dir: String): DataFrame = {
    val indexPath = graft.util.Scratch.dir("graft_ivf_index_del").toString
    val centroids = writeIvfIndex(spark, dir, indexPath, nLists = 8)
    val q = queryVec(spark, dir)
    deleteLifecycleReport(spark, indexPath, "ivf_list") {
      ivfTopKIndexed(spark, indexPath, centroids, q, nProbe = 8,
        excludeVecId = Some(0L))
    }
  }

  /** Product-quantization codebooks: the vector space is split into `m`
    * subspaces of dim/m dims, each with its own `codes`-entry k-means
    * codebook fit on the bounded seeded sample. A vector is then stored as
    * `m` small code indices — at 100 TB that is the difference between
    * scanning raw floats (dim × 4 bytes/vector) and scanning codes
    * (m bytes/vector when byte-packed): a 16× I/O reduction at the
    * m=16, dim=64 default. The defaults are tuned for this corpus's
    * near-random embeddings (PQ's worst case — no cluster structure to
    * exploit); real embedding distributions usually tolerate coarser
    * codebooks.
    */
  def pqFitCodebooks(spark: SparkSession, dir: String, m: Int = 16,
      codes: Int = 128, iters: Int = 8, sampleSize: Int = 2048,
      seed: Long = 42L): Array[Array[Array[Double]]] =
    graft.util.Artifacts.shared(spark, "pq_fit", dir, m, codes, iters,
        sampleSize, seed) {
      val sample = boundedSample(spark, dir, sampleSize, seed)
      require(sample.length >= codes,
        s"sample ${sample.length} < codes=$codes")
      val dims = sample(0).length
      require(dims % m == 0, s"dims $dims not divisible by m=$m")
      val sub = dims / m
      // the m subspace fits are independent — run them on the driver's
      // cores (the sample is bounded, so this stays a sub-second local step)
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.DurationInt
      implicit val ec: ExecutionContext = ExecutionContext.global
      val fits = (0 until m).map { s => Future {
        lloyd(sample.map(v => v.slice(s * sub, (s + 1) * sub)), codes, iters)
      }}
      Await.result(Future.sequence(fits), 10.minutes).toArray
    }

  /** Distributed PQ encoding: per subspace, one codegen'd nearest-centroid
    * pass over the sliced vector; the codebooks ride inside the expressions
    * (kilobytes). Output column `codes` = array of `m` code indices.
    */
  def pqEncode(spark: SparkSession, dir: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame =
    pqEncodeDf(emb(spark, dir), codebooks)

  /** [[pqEncode]] over any frame with an `embedding` column (composes with
    * [[ivfAssign]] for IVF-PQ).
    */
  def pqEncodeDf(df: DataFrame,
      codebooks: Array[Array[Array[Double]]]): DataFrame =
    // one compact codegen'd expression for all m subspaces: m separate
    // slice+nearest_centroid trees push the fused whole-stage method
    // past the JIT's 8 KB bytecode ceiling and the hot loop runs
    // interpreted (see graft.functions.PqEncode's scaladoc)
    df.withColumn("codes",
      graft.functions.PqOps.pq_encode(col("embedding"), codebooks))

  /** The ADC approximate-cosine column over a `codes` column: per-subspace
    * lookup tables (dot product and squared norm of every codebook entry —
    * m × codes doubles, computed driver-side) reconstruct cosine per row
    * from `m` literal-array lookups, never touching raw floats.
    */
  private def adcCosine(cb: Array[Array[Array[Double]]],
      qVec: Array[Double]): org.apache.spark.sql.Column = {
    val m = cb.length
    val sub = cb(0)(0).length
    val qNorm = math.sqrt(qVec.map(x => x * x).sum)
    val dotTab = Array.tabulate(m) { s =>
      cb(s).map(c => c.indices.map(d => c(d) * qVec(s * sub + d)).sum)
    }
    val normTab = Array.tabulate(m) { s => cb(s).map(c => c.map(x => x * x).sum) }
    // one short codegen'd loop over the two tables instead of 2·m
    // inlined element_at(literal) trees — same subspace-order fold, so
    // the double result is bit-equal; the tree form blew the fused
    // method past the JIT's 8 KB limit (interpreted: ~10x slower)
    graft.functions.PqOps.pq_adc_cosine(col("codes"), dotTab, normTab, qNorm)
  }

  /** THE ADC candidate pass of the PQ family: score `rows`' codes by
    * [[adcCosine]] and keep the top `rerank` by (adc desc, vec_id asc)
    * for the exact re-rank, with `carry` riding along beside vec_id.
    */
  private def adcCandidates(rows: DataFrame, cb: Array[Array[Array[Double]]],
      qVec: Array[Float], rerank: Int, carry: Column*): DataFrame =
    rows.select((col("vec_id") +: carry) :+
        adcCosine(cb, qVec.map(_.toDouble)).as("adc"): _*)
      .orderBy(col("adc").desc, col("vec_id").asc)
      .limit(rerank)

  /** PQ ANN top-k by asymmetric distance computation (ADC) + exact re-rank:
    * the query precomputes per-subspace lookup tables (dot product and
    * squared norm of every codebook entry — m × codes doubles, driver-side
    * like the IVF centroid ranking), the corpus scan reconstructs an
    * approximate cosine per row from `m` table lookups over the codes
    * column ONLY (never touching raw floats), and the top `rerank`
    * candidates are re-scored exactly. At 100 TB the ADC scan reads the
    * codes column of a columnar store — a fraction of the raw-vector I/O —
    * and the exact pass fetches `rerank` vectors. `rerank ≥` the pool
    * where approximate and exact rankings can disagree makes the output
    * equal to brute force (gate config; recall/`rerank` trade measured in
    * the spec). Compose with [[ivfAssign]] (IVF-PQ) to also prune which
    * rows are scanned.
    */
  def pqTopK(spark: SparkSession, dir: String, queryVecId: Long = 0L,
      k: Int = 10, m: Int = 16, codes: Int = 128, rerank: Int = 400): DataFrame = {
    val cb = pqFitCodebooks(spark, dir, m, codes)
    val qVec = queryVec(spark, dir, queryVecId)
    // the embedding rides through the ADC top-`rerank` selection
    // (TakeOrderedAndProject keeps `rerank` rows per partition), so the
    // exact re-rank needs no join back to the corpus
    cosineTopK(adcCandidates(pqEncode(spark, dir, cb)
      .filter(col("vec_id") =!= queryVecId), cb, qVec, rerank,
      col("embedding")), qVec, k)
  }

  /** IVF-PQ: the composition the [[pqTopK]] scaladoc promises — IVF list
    * assignment prunes WHICH rows are scanned (`nProbe` of `nLists` lists;
    * partition-pruned when persisted `partitionBy("ivf_list")`), the ADC
    * pass scores the survivors from the codes column only, and the top
    * `rerank` candidates are re-scored exactly. At 100 TB this is the
    * standard billion-scale ANN shape: I/O ∝ (nProbe/nLists) × codes-column
    * bytes. At the gate config (nProbe = nLists, rerank ≥ the safe pool)
    * it degrades to exact brute force; reduced-probe recall is covered in
    * SimilaritySpec.
    */
  def ivfPqTopK(spark: SparkSession, dir: String, queryVecId: Long = 0L,
      k: Int = 10, nLists: Int = 16, nProbe: Int = 4, m: Int = 16,
      codes: Int = 128, rerank: Int = 400): DataFrame = {
    val centroids = ivfFitCentroids(spark, dir, nLists)
    val cb = pqFitCodebooks(spark, dir, m, codes)
    val qVec = queryVec(spark, dir, queryVecId)
    // rank lists by centroid distance to the query, driver-side (k floats)
    val probeLists = rankProbeLists(centroids, qVec, nProbe)
    cosineTopK(adcCandidates(pqEncodeDf(ivfAssign(spark, dir, centroids), cb)
      .filter(col("ivf_list").isin(probeLists: _*))
      .filter(col("vec_id") =!= queryVecId), cb, qVec, rerank,
      col("embedding")), qVec, k)
  }

  /** `df` assigned to IVF lists and PQ-encoded, stored as `(vec_id, codes
    * tinyint, ivf_list)` — codes ONLY, the billion-scale serving row that
    * the directory index ([[writeIvfPqIndex]]) and the lake layout
    * ([[withIvfListFiles]]) both hold. Codes are tinyint because PQ's
    * whole point is byte codes and the int-array form would quadruple the
    * index's scan bytes (code values are < `codes` <= 128 by
    * construction, so the cast is lossless; the ADC lookup arithmetic
    * widens back to int transparently).
    */
  private def ivfPqCodes(df: DataFrame, centroids: Array[Array[Double]],
      cb: Array[Array[Array[Double]]]): DataFrame =
    pqEncodeDf(ivfAssignOf(df, centroids), cb)
      .select(col("vec_id"), col("codes").cast("array<tinyint>").as("codes"),
        col("ivf_list"))

  /** Persist the IVF-PQ composition as an index — the billion-scale ANN
    * serving artifact: `ivf_list`-partitioned parquet of `(vec_id,
    * codes)` ONLY. A probe is then a directory-pruned scan (nProbe of
    * nLists list dirs, visible in PartitionFilters) that reads the
    * m-byte codes column instead of raw floats; the raw vectors stay in
    * the corpus and are fetched just for the `rerank` survivors. Returns
    * the (centroids, codebooks) pair the probe side needs — kilobytes;
    * persist alongside the index in production.
    */
  def writeIvfPqIndex(spark: SparkSession, dir: String, indexPath: String,
      nLists: Int = 16, m: Int = 16, codes: Int = 128)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    require(codes <= 128, s"tinyint code storage needs codes <= 128, got $codes")
    val centroids = ivfFitCentroids(spark, dir, nLists)
    val cb = pqFitCodebooks(spark, dir, m, codes)
    writePartitioned(ivfPqCodes(emb(spark, dir), centroids, cb), indexPath,
      "ivf_list", "overwrite")
    (centroids, cb)
  }

  /** Top-k over a persisted [[writeIvfPqIndex]] index: rank lists by
    * centroid distance driver-side, ADC-score the pruned scan's codes,
    * then join the `rerank` candidate ids back to the corpus for the
    * exact re-rank — the candidate set is `rerank` rows, so AQE
    * broadcasts it against the corpus fetch. This is the full
    * billion-scale read path: index I/O = (nProbe/nLists) × codes bytes,
    * corpus I/O = `rerank` rows.
    */
  def ivfPqTopKIndexed(spark: SparkSession, indexPath: String,
      corpus: DataFrame, centroids: Array[Array[Double]],
      cb: Array[Array[Array[Double]]], qVec: Array[Float], k: Int = 10,
      nProbe: Int = 4, rerank: Int = 400,
      excludeVecId: Option[Long] = None): DataFrame = {
    val pruned = spark.read.parquet(indexPath)
      .filter(col("ivf_list").isin(rankProbeLists(centroids, qVec, nProbe): _*))
    adcRerankTopK(liveRows(pruned, None, excludeVecId), corpus, cb, qVec, k,
      rerank)
  }

  /** The codes-only read path's tail, shared by the directory and lake
    * IVF-PQ indexes: [[adcCandidates]] over the live probed rows, then
    * the `rerank` candidate ids join back to the corpus for the exact
    * [[cosineTopK]] re-rank.
    */
  private def adcRerankTopK(probed: DataFrame, corpus: DataFrame,
      cb: Array[Array[Array[Double]]], qVec: Array[Float], k: Int,
      rerank: Int): DataFrame =
    cosineTopK(adcCandidates(probed, cb, qVec, rerank)
      .join(corpus.select(col("vec_id"), col("embedding")), "vec_id"), qVec, k)

  /** Gated indexed-IVF-PQ report: full-probe config (nProbe = nLists,
    * rerank covering the unsafe pool) ≡ brute force; reduced-probe recall
    * is covered in the spec alongside the plan's PartitionFilters
    * assertion.
    */
  def ivfPqIndexedReport(spark: SparkSession, dir: String): DataFrame = {
    val indexPath = graft.util.Scratch.dir("graft_ivfpq_index").toString
    val (centroids, cb) = writeIvfPqIndex(spark, dir, indexPath, nLists = 16)
    ivfPqTopKIndexed(spark, indexPath, emb(spark, dir), centroids, cb,
      queryVec(spark, dir), nProbe = 16, rerank = 400, excludeVecId = Some(0L))
  }

  /** Scalar int8 quantization: per-vector absmax scale, code_d =
    * floor(127·x_d/scale + 0.5) ∈ [-127, 127] — the storage format that
    * cuts embedding bytes 4× with ~0.3 % cosine error at typical dims.
    * `floor(x + 0.5)` (not `round`) so the rounding rule is
    * bit-deterministic across engines. Narrow per-row projection.
    */
  def quantizeInt8(df: DataFrame): DataFrame = {
    val e = col("embedding")
    val absmax = array_max(transform(e, x => abs(x.cast("double"))))
    val scale = when(absmax > 0, absmax).otherwise(lit(1.0))
    df.withColumn("scale", scale)
      .withColumn("codes",
        transform(col("embedding"), x =>
          floor(x.cast("double") * 127.0 / col("scale") + 0.5).cast("int")))
  }

  /** Gated quantization report. Integer checksums (sum and L1 of codes)
    * pin the exact code vector without any order-sensitive FP reduction —
    * integer sums are associative, so the gate is immune to summation
    * order; `scale` is rounded for FP display stability.
    */
  def quantizeReport(spark: SparkSession, dir: String): DataFrame =
    quantizeInt8(emb(spark, dir))
      .select(col("vec_id"), round(col("scale"), 6).as("scale"),
        aggregate(col("codes"), lit(0L), (a, c) => a + c).as("codes_sum"),
        aggregate(col("codes"), lit(0L), (a, c) => a + abs(c)).as("codes_l1"),
        size(filter(col("codes"), c => abs(c) === 127)).as("n_saturated"))

  /** DISTRIBUTED Lloyd's k-means over the int8-quantized embedding codes
    * — the corpus-scale clustering primitive behind SemDeDup's clusters,
    * IVF list training, and curriculum bucketing, as a first-class
    * oracle-gated operator (the float-centroid sample trainer
    * [[ivfFitCentroids]] stays the IVF coarse quantizer; it is
    * deliberately NOT gated because learned float centroids aren't
    * SQL-replayable). Quantized codes make every step integer-EXACT and
    * engine-replayable: distances are integer sums of squares,
    * centroid updates are floor(sum/n) on exact integers (one
    * correctly-rounded double division), ties break to the lowest
    * centroid index. Deterministic init: the k smallest vec_ids' code
    * vectors.
    *
    * Scale shape — the real distributed Lloyd, not the driver-sample
    * shortcut: each iteration is ONE narrow codegen'd assignment pass
    * (the k×dims centroid matrix rides into executors as literals —
    * kilobytes) plus ONE k×dims-group aggregate with map-side partial
    * combine; the only driver-side materialization is the k×dims
    * codebook itself, the artifact every consumer needs anyway. Nothing
    * is ∝ corpus size on the driver, and the corpus never reshuffles —
    * at 100 TB each iteration reads the codes once at scan speed.
    */
  def kmeansQuantized(spark: SparkSession, dir: String, k: Int = 4,
      iterations: Int = 2): DataFrame = {
    // materialize the codes once (tiny next to the corpus; the codes
    // table is a corpus-snapshot artifact anyway) so the 2·iterations+2
    // downstream actions replan a one-node scan instead of the whole
    // quantize pipeline
    val codes = quantizeInt8(emb(spark, dir))
      .select(col("vec_id"), col("codes")).localCheckpoint(true)
    var centroids: Seq[Seq[Long]] = codes.orderBy(col("vec_id")).limit(k)
      .collect().map(_.getSeq[Int](1).map(_.toLong)).toSeq
    // project the k distances as NAMED columns first, so each
    // zip_with/aggregate tree appears exactly once in the plan — the
    // argmin CASE and the inertia lookup then reference the columns,
    // not copies of the trees
    def withDists(cents: Seq[Seq[Long]]): DataFrame =
      codes.select(col("vec_id") +: col("codes") +:
        cents.zipWithIndex.map { case (cent, i) =>
          aggregate(
            zip_with(col("codes"), typedLit(cent),
              (a, b) => (a.cast("long") - b) * (a.cast("long") - b)),
            lit(0L), (acc, x) => acc + x).as(s"d$i")
        }: _*)
    // argmin with ties to the LOWEST index: i wins iff d_i <= d_j ∀ j>i,
    // tested from i = 0 outward
    def assignCol(n: Int): Column = {
      var c: Column = lit(n - 1)
      for (i <- n - 2 to 0 by -1) {
        val leAll = (i + 1 until n)
          .map(j => col(s"d$i") <= col(s"d$j")).reduce(_ && _)
        c = when(leAll, lit(i)).otherwise(c)
      }
      c
    }
    for (_ <- 1 to iterations) {
      val sums = withDists(centroids).withColumn("c", assignCol(k))
        .select(col("c"), posexplode(col("codes")).as(Seq("d", "v")))
        .groupBy(col("c"), col("d"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .collect()                      // k×dims rows — the codebook
      val byC = sums.groupBy(_.getInt(0))
      centroids = (0 until k).map(c => byC.get(c) match {
        case Some(rows) => rows
          .map(r => (r.getInt(1),
            math.floor(r.getLong(2).toDouble / r.getLong(3)).toLong))
          .sortBy(_._1).map(_._2).toSeq
        case None => centroids(c)       // empty cluster keeps its centroid
      })
    }
    val centroidSums: Seq[Long] = centroids.map(_.sum)
    withDists(centroids).withColumn("c", assignCol(k))
      .withColumn("dist",
        element_at(array((0 until k).map(i => col(s"d$i")): _*),
          col("c") + 1))
      .groupBy(col("c"))
      .agg(count(lit(1)).as("n"),
        sum(col("vec_id")).cast("long").as("sum_ids"),
        sum(col("dist")).cast("long").as("inertia"))
      .select(col("c").as("cluster"), col("n"), col("sum_ids"),
        col("inertia"),
        element_at(typedLit(centroidSums), col("c") + 1)
          .as("centroid_sum"))
  }

  /** Embedding column statistics per label: count, mean norm — the sanity
    * profile a pipeline runs before indexing.
    */
  def normStats(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir)
      .select(col("label"), norm(col("embedding")).as("nrm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), round(avg(col("nrm")), 4).as("avg_norm"),
        round(min(col("nrm")), 4).as("min_norm"),
        round(max(col("nrm")), 4).as("max_norm"))

  /** k-NN JOIN: EVERY corpus vector gets its top-k cosine neighbors — the
    * batch shape behind "retrieve neighbors for every training document"
    * (hard-negative mining, semantic dedup clustering, kNN-LM data prep).
    * The single-query gates ([[lshTopK]] etc.) probe once; this is the
    * all-pairs problem, and the all-pairs cross join is the 100 TB
    * scale-killer — O(n²) candidate pairs.
    *
    * Shape: every vector is LSH-bucketed once ([[lshBuckets]]); each
    * vector then probes the buckets within hamming `radius` of its own
    * signature (its probe LIST is computed per-row in codegen —
    * `filter(sequence(0, 2^nBits-1), hamming <= radius)` — no driver
    * enumeration, no second scan), and candidates meet through an
    * equi-join on the probed bucket id. Each corpus vector lives in
    * exactly one bucket, so a candidate pair appears at most once — no
    * dedup pass. Per-query top-k runs as the bounded O(k)
    * [[graft.functions.TopKBy]] heap aggregate (map-side combined), NOT a
    * window sort. Candidates ∝ bucket co-occupancy: at radius r the scan
    * touches C(nBits, <=r)/2^nBits of the corpus per query — the
    * recall/cost dial. At `radius = nBits` every bucket is probed and the
    * join degenerates to the exact all-pairs result (the gate config, so
    * the DuckDB exhaustive oracle states exact equality); reduced-radius
    * recall on planted clusters is covered in SimilaritySpec.
    *
    * For nBits beyond ~12 the per-row `sequence` enumeration (2^nBits
    * elements) should be replaced by combination generation; at the gate's
    * corpus scale nBits=4 keeps every bucket occupied.
    */
  def knnJoin(spark: SparkSession, dir: String, k: Int = 5, nBits: Int = 4,
      radius: Int = 4): DataFrame =
    knnJoinOf(emb(spark, dir), k, nBits, radius)

  /** Gate entry for [[knnJoin]]: full radius (exact ≡ exhaustive, so the
    * DuckDB all-pairs oracle states equality) over a deterministic
    * 1-in-10 id slice. Full radius IS the all-pairs problem — quadratic
    * by definition — so the gate bounds its own cost by slicing the
    * corpus rather than weakening the radius (which would break oracle
    * equality — the production planes are hash-seeded and not
    * SQL-reproducible); the production reduced-radius path over the full
    * corpus is what the planted-twin recall specs exercise.
    */
  def knnJoinGate(spark: SparkSession, dir: String): DataFrame =
    knnJoinOf(emb(spark, dir).filter(col("vec_id") % 10 === 0),
      k = 5, nBits = 4, radius = 4)

  /** Reduced-radius kNN-join recall report — the production dial
    * ([[knnJoin]] with radius < nBits) measured against the exact
    * full-radius answer on a deterministic 1-in-10 corpus slice (the
    * same slice [[knnJoinGate]] uses — both all-pairs yardsticks are
    * quadratic, so the slice is their only cost dial): one row per
    * radius with integer hit counts and
    * recall in permille (integer division — run-stable). The
    * radius = nBits row is the built-in sanity anchor (full probing IS
    * exact, so its recall must print 1000); the spec asserts it. This
    * production form (xxhash64-seeded hyperplanes) is not itself
    * SQL-reproducible; the GATE runs [[knnRecallGate]], which swaps in
    * [[integerPlaneBucket]]'s literal integer planes so the whole
    * report — buckets, hamming, recall — is DuckDB-oracled end to end.
    */
  def knnRecallReport(spark: SparkSession, dir: String): DataFrame =
    knnRecallReportWith(spark, dir, e =>
      graft.functions.HyperplaneBucket.hyperplane_bucket(e, 4))

  /** LSH bucket from LITERAL small-integer hyperplanes — the oracle-able
    * GATE form of [[graft.functions.HyperplaneBucket]]. The embedding is
    * first quantized portably (`floor(x * 1024 + 0.5)` — float→double
    * cast, one correctly-rounded multiply/add, exact floor — the same
    * cross-engine-stable rounding the int8 quantizer uses), then bit `b`
    * is the sign of an EXACT int64 dot product with the plane
    * `h_b[i] = ((i·(b+1) + 7b) mod 5) − 2` (i 1-based; multipliers 1..4
    * are all coprime to 5, so every plane cycles through {−2..2} and
    * none degenerates to a constant). Integer arithmetic end to end
    * after the quantize, so DuckDB reproduces every bucket bit for bit —
    * this is what lets the recall gate state a full cross-engine oracle.
    * The production path keeps the hash-seeded planes (better spread,
    * any nBits); this form exists for verifiability, same trick as the
    * wire source's modular-arithmetic frames.
    */
  def integerPlaneBucket(e: Column, nBits: Int): Column = {
    val codes = transform(e, x =>
      floor(x.cast("double") * 1024.0 + 0.5).cast("long"))
    (0 until nBits).map { b =>
      val dot = aggregate(
        transform(codes, (x, i) =>
          x * (((i + lit(1)) * lit(b + 1) + lit(7 * b)) % 5 - 2).cast("long")),
        lit(0L), (acc, v) => acc + v)
      when(dot > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** [[knnRecallReport]] with [[integerPlaneBucket]] — the gate entry,
    * fully DuckDB-oracled (see `x_knn_recall` in SparkEntry.oracleSql).
    */
  def knnRecallGate(spark: SparkSession, dir: String): DataFrame =
    knnRecallReportWith(spark, dir, e => integerPlaneBucket(e, 4))

  private def knnRecallReportWith(spark: SparkSession, dir: String,
      bucketOf: Column => Column): DataFrame = {
    import graft.functions.TopKBy.top_k_by
    val k = 5; val nBits = 4
    // 1-in-10 slice: the all-pairs yardstick is quadratic by definition,
    // so the slice is the gate's only cost dial — recall is a ratio over
    // the slice's own exact top-k, so ANY deterministic slice keeps the
    // oracle exact (and the radius=nBits row still anchors at 1000)
    val sub = emb(spark, dir).filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), col("embedding"))
    // ONE all-pairs frame annotated with bucket hamming distance serves
    // every radius: a neighbor is visible at radius r iff
    // hamming(bucket_q, bucket_n) <= r, so each radius's result is a
    // filter + top-k over the same cached pairs instead of its own join
    // (4 joins -> 1 join + 4 O(k)-heap aggregates; the all-pairs join is
    // the radius=nBits yardstick the report needs anyway)
    val b = sub.withColumn("bucket", bucketOf(col("embedding")))
    val a1 = b.select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
      col("bucket").as("q_bucket"))
    val a2 = b.select(col("vec_id").as("n_id"), col("embedding").as("n_vec"),
      col("bucket").as("n_bucket"))
    val pairs = a1.crossJoin(a2).filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(cosine(col("n_vec"), col("q_vec")), 6).as("score"),
        bit_count(col("q_bucket").bitwiseXOR(col("n_bucket"))).as("hamming"))
    // recall needs no per-radius top-k: candidates at radius r are a
    // SUBSET of the full set with unchanged scores, so an exact-top-k
    // pair that is visible (hamming <= r) has fewer than k visible pairs
    // above it and is ALWAYS in the radius-r top-k. Therefore
    // hits(r) = |{exact top-k pairs with hamming <= r}| — one top-k with
    // the hamming column carried through, then four conditional counts
    // in a single 4-long aggregate row
    val exact = pairs
      .groupBy(col("q_id"))
      .agg(top_k_by(struct(col("n_id"), col("score"), col("hamming")),
        struct(negate(col("score")), col("n_id")), k).as("nn"))
      .select(explode(col("nn")).as("e"))
      .select(col("e.hamming").as("hamming"))
    val radii = Seq(0, 1, 2, nBits)
    val hitAggs = radii.map(r =>
      count(when(col("hamming") <= r, 1)).as(s"h$r"))
    val row = exact.agg(hitAggs.head, hitAggs.tail: _*).collect().head
    val nExact = row.getLong(radii.length - 1)
    import spark.implicits._
    radii.zipWithIndex.map { case (r, i) =>
      val hits = row.getLong(i)
      (r, nExact, hits, if (nExact == 0) 0L else hits * 1000L / nExact)
    }.toDF("radius", "n_exact_pairs", "n_hits", "recall_permille")
  }

  /** [[knnJoin]] over an explicit (vec_id, embedding) frame. */
  def knnJoinOf(df: DataFrame, k: Int, nBits: Int, radius: Int): DataFrame = {
    import graft.functions.TopKBy.top_k_by
    val b = df.withColumn("bucket",
      graft.functions.HyperplaneBucket.hyperplane_bucket(col("embedding"),
        nBits))
    val corpus = b.select(col("bucket").as("__pb"), col("vec_id").as("n_id"),
      col("embedding").as("n_vec"))
    val probes = b.select(col("vec_id").as("q_id"),
      col("embedding").as("q_vec"),
      explode(filter(sequence(lit(0), lit((1 << nBits) - 1)),
        x => bit_count(x.bitwiseXOR(col("bucket"))) <= lit(radius)))
        .as("__pb"))
    probes.join(corpus, "__pb")
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(cosine(col("n_vec"), col("q_vec")), 6).as("score"))
      .groupBy(col("q_id"))
      .agg(top_k_by(struct(col("n_id"), col("score")),
        struct(negate(col("score")), col("n_id")), k).as("nn"))
      .select(col("q_id"), posexplode(col("nn")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.n_id").as("n_id"), col("col.score").as("score"))
  }
}
