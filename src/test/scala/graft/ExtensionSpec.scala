package graft

import org.apache.spark.sql.functions._
import graft.ext.dedup.TextDedup
import graft.ext.sim.Similarity
import graft.ext.text.TextAnalysis
import graft.ext.multimodal.Multimodal
import graft.functions.PolyHash.poly_hash

class TextDedupSpec extends SparkSpec {
  val dir = "/root/testdata/sf0.001"

  test("minhash LSH finds the same near-dup pairs as the exhaustive join") {
    val exhaustive = TextDedup.ngramJaccardPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = TextDedup.minhashLshPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exhaustive.nonEmpty, "testdata should contain planted near-dups")
    assert(lsh == exhaustive)
  }

  test("near-dup pairs have high jaccard; background pairs are excluded") {
    val pairs = TextDedup.ngramJaccardPairs(spark, dir, threshold = 0.8).collect()
    assert(pairs.forall(_.getDouble(2) >= 0.8))
  }

  test("ppjoin prefix filtering is lossless vs the exhaustive join") {
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    val exhaustive = canon(TextDedup.ngramJaccardPairs(spark, dir))
    assert(exhaustive.nonEmpty, "testdata should contain planted near-dups")
    assert(canon(TextDedup.ppjoinPairs(spark, dir)) == exhaustive)
    // lower threshold → longer prefixes, more pairs; still lossless
    val loose = canon(TextDedup.ngramJaccardPairs(spark, dir, threshold = 0.5))
    assert(canon(TextDedup.ppjoinPairs(spark, dir, threshold = 0.5)) == loose)
    assert(loose.size >= exhaustive.size)
  }

  test("ppjoin handles size-boundary and rounding-edge corpora") {
    import spark.implicits._
    // docs engineered so true jaccard sits AT and just below/above the
    // threshold after 3-dp rounding, plus a size-mismatched containment
    // pair the length filter must prune and identical twins at j=1.0
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, base),
      (2L, base),                                      // j=1.0 with 1
      (3L, base + " extra1"),                          // high-j neighbor
      (4L, (1 to 20).map(i => s"w$i").mkString(" ") + " x y z a b c"),
      (5L, (1 to 6).map(i => s"w$i").mkString(" ")),   // contained, small
      (6L, "totally different tokens nothing shared here at all now ok")
    ).toDF("doc_id", "text")
    for (t <- Seq(0.5, 0.7, 0.8, 0.9)) {
      def canon(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .toSet
      assert(canon(TextDedup.ppjoinPairsOf(df, t)) ==
        canon(TextDedup.ngramJaccardPairsOf(df, t)), s"threshold $t")
    }
  }

  test("containment finds a short doc embedded in a long one; jaccard misses it") {
    import spark.implicits._
    val short = "alpha beta gamma delta epsilon zeta eta theta"
    val long = "prefix words here " + short + " and a very long tail " +
      (1 to 40).map(i => s"filler$i").mkString(" ")
    val df = Seq((1L, short), (2L, long), (3L, "unrelated text entirely " +
      "different tokens nothing shared at all here")).toDF("doc_id", "text")
    val cont = TextDedup.containmentPairsOf(df, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every shingle of doc 1 appears in doc 2 → containment(1→2) = 1.0;
    // the reverse direction is far below threshold, as is doc 3
    assert(cont == Set((1L, 2L)))
    // symmetric jaccard on the same pair is diluted by the long tail
    val jac = TextDedup.ngramJaccardPairsOf(df, threshold = 0.8)
    assert(jac.collect().isEmpty)
  }

  test("simhash: identical docs collide, near-dups are close in hamming") {
    import spark.implicits._
    val df = Seq(
      (1L, "spark filter join group sort merge window hash scan table"),
      (2L, "spark filter join group sort merge window hash scan table"),
      (3L, "spark filter join group sort merge window hash scan chair"),
      (4L, "completely different words entirely unrelated content here now")
    ).toDF("doc_id", "text")
    val sh = df.select(col("doc_id"), TextDedup.simhash(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(3L)) <
      java.lang.Long.bitCount(sh(1L) ^ sh(4L)))
  }

  test("shingles have size-n+1 entries pre-distinct and drop short docs") {
    import spark.implicits._
    val df = Seq((1L, "a b c d"), (2L, "a b")).toDF("doc_id", "text")
    val sh = TextDedup.shingles(df, 3).collect()
    assert(sh.length == 1)
    assert(sh.head.getSeq[String](1) == Seq("a b c", "b c d"))
  }

  test("connected components: chains merge, components get their min label") {
    import spark.implicits._
    // two components: a 4-chain {1,2,3,4} (diameter 3 — needs real
    // propagation, not one hop) and a pair {10, 11}
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L)).toDF("d1", "d2")
    val labels = TextDedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("redactPii replaces and counts each category, untouched text intact") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail me at bob.smith+x@corp.example.org or call +44 555 0199 thanks"),
      (2L, "server at 10.0.255.7 and 192.168.1.1 responded"),
      (3L, "nothing sensitive here at all")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(df, col("text")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(1) == 1 && out(1L).getInt(2) == 1)
    assert(out(1L).getString(4) == "mail me at <EMAIL> or call <PHONE> thanks")
    assert(out(2L).getInt(3) == 2)
    assert(out(2L).getString(4) == "server at <IP> and <IP> responded")
    assert(out(3L).getString(4) == "nothing sensitive here at all")
  }

  test("contamination flags only train docs overlapping the bench set") {
    import spark.implicits._
    val mk = (id: Long, s: String) => (id, s)
    val bench = Seq(mk(100L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val train = Seq(
      mk(1L, "alpha beta gamma delta epsilon zeta eta theta iota"), // 1 shared 8-gram
      mk(2L, "totally unrelated words that never overlap anything else here"))
      .toDF("doc_id", "text")
    val out = TextDedup.contaminatedDocs(train, bench, n = 8).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 1L)))
  }

  test("repetition ratios are zero for all-distinct and high for repeated") {
    import spark.implicits._
    // repetitionSignals reads from dir; test the ratio math via the corpus
    val rows = TextAnalysis.repetitionSignals(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, nd) = (r.getInt(1), r.getInt(2))
      assert(math.abs(r.getDouble(3) - (1.0 - nd.toDouble / n)) < 1e-3)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
  }

  test("incremental dedup finds exactly the cross-partition near-dup pairs") {
    import spark.implicits._
    val all = TextDedup.ngramJaccardPairs(spark, dir).collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
      .filter { case (a, b) => a % 2 == 1 && b % 2 == 0 }.toSet
    val inc = TextDedup.incrementalNearDups(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == all)
  }

  test("streaming near-dup flagger catches dups per micro-batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val index = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again"),
      (101L, "completely different indexed content with many unique words here"))
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF.toDF("doc_id", "text")
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val q = TextDedup.streamingNearDups(stream, index, threshold = 0.5) {
      (pairs, _) => seen.synchronized {
        seen ++= pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
      }
    }
    try {
      // batch 1: one near-dup of doc 100, one novel doc
      input.addData((1L, "the quick brown fox jumps over the lazy dog again and"),
        (2L, "nothing like anything stored in the index at all whatsoever"))
      q.processAllAvailable()
      // reads synchronized like the writes: the callback mutates on the
      // stream-execution thread, and processAllAvailable is not documented
      // to publish callback side effects to this thread
      assert(seen.synchronized(seen.toSet) == Set((1L, 100L)))
      // batch 2: near-dup of doc 101 arrives later
      input.addData(
        (3L, "completely different indexed content with many unique words also"))
      q.processAllAvailable()
      assert(seen.synchronized(seen.toSet) == Set((1L, 100L), (3L, 101L)))
    } finally q.stop()
  }

  test("large-star/small-star converges on a deep chain the simple rule refuses") {
    import spark.implicits._
    // a 64-node chain: diameter 63 — min-label propagation at maxIters=5
    // must refuse loudly rather than return a partial labelling, while the
    // log-round edge-rewrite rule converges comfortably
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("d1", "d2")
    intercept[IllegalArgumentException] {
      TextDedup.connectedComponents(chain, maxIters = 5)
    }
    val labels = TextDedup.connectedComponents(chain, maxIters = 15,
      strategy = TextDedup.CcStrategy.LargeStarSmallStar).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.keySet == (0L to 63L).toSet)
    assert(labels.values.forall(_ == 0L))
  }

  test("large-star/small-star labels equal min-label propagation") {
    import spark.implicits._
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L)).toDF("d1", "d2")
    val simple = TextDedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    val lss = TextDedup.connectedComponents(pairs,
      strategy = TextDedup.CcStrategy.LargeStarSmallStar).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(lss == simple)
  }

  test("leakage-safe split never straddles a near-dup cluster across splits") {
    val s = graft.ext.corpus.Corpus.leakageSafeSplit(spark, dir)
    val clusters = TextDedup.dedupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"))
    val straddling = s.join(clusters, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(countDistinct(col("split")).as("k"))
      .filter(col("k") > 1).count()
    assert(straddling == 0)
    // all three splits are populated and cover every document
    assert(s.select(col("split")).distinct().count() == 3)
    assert(s.count() ==
      spark.read.parquet(s"$dir/documents.parquet").count())
  }

  test("dedup clusters mark exactly one canonical doc per cluster") {
    val rows = TextDedup.dedupClusters(spark, dir).collect()
    assert(rows.nonEmpty)
    val byCluster = rows.groupBy(_.getLong(1))
    byCluster.foreach { case (cid, members) =>
      assert(members.count(_.getBoolean(3)) == 1)
      assert(members.forall(_.getLong(2) == members.length))
      assert(members.map(_.getLong(0)).min == cid)
    }
  }

  test("repeated-line removal surfaces null-text docs as zero-line rows") {
    import spark.implicits._
    val scratch = graft.util.Scratch.dir("graft_lines_null").toString
    Seq((1L, "a b c a b c"), (2L, null.asInstanceOf[String]), (3L, ""))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$scratch/documents.parquet")
    val out = TextDedup
      .removeRepeatedLines(spark, scratch, lineTokens = 3, minDocs = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.keySet == Set(1L, 2L, 3L), "every doc_id surfaces")
    // within-ONE-doc repetition is df=1, not boilerplate: both lines stay
    assert(out(1L).getAs[Long]("n_lines") == 2 &&
      out(1L).getAs[Long]("kept_lines") == 2 &&
      out(1L).getAs[String]("cleaned_text") == "a b c a b c")
    assert(out(2L).getAs[Long]("n_lines") == 0 &&
      out(2L).getAs[Long]("kept_lines") == 0 &&
      out(2L).getAs[String]("cleaned_text") == "",
      "null-text doc surfaces as a zero-line row, never vanishes")
  }

  test("hash-keyed repeated-line removal equals the string-keyed form") {
    // the production shape shuffles 8-byte xxhash64 keys instead of line
    // strings; the answer must be identical (collisions aside)
    val byString = TextDedup.removeRepeatedLines(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    val byHash = TextDedup.removeRepeatedLines(spark, dir, hashKeys = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    assert(byHash == byString)
    assert(byString.nonEmpty)
  }

  private def substrRows(scratch: String, k: Int = 8) =
    TextDedup.removeRepeatedSubstrings(spark, scratch, k = k)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_tokens"), r.getAs[Int]("kept_tokens"),
          r.getAs[String]("cleaned_text"))).toMap

  test("exact substring dedup removes a planted cross-doc span everywhere") {
    import spark.implicits._
    val scratch = graft.util.Scratch.dir("graft_substr_plant").toString
    // "p q r s t u v w" (8 tokens) appears in docs 1 AND 2 at different
    // offsets; Lee et al. semantics remove EVERY occurrence
    Seq((1L, "p q r s t u v w x y z"),
        (2L, "m n p q r s t u v w k"),
        (3L, "totally unrelated content that matches nothing else at all"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$scratch/documents.parquet")
    val out = substrRows(scratch)
    assert(out(1L) == ((11, 3, "x y z")))
    assert(out(2L) == ((11, 3, "m n k")))
    assert(out(3L)._1 == out(3L)._2, "untouched doc keeps everything")
  }

  test("within-one-doc repetition is df=1, never removed") {
    import spark.implicits._
    val scratch = graft.util.Scratch.dir("graft_substr_within").toString
    val span = (1 to 8).map(i => s"a$i").mkString(" ")
    Seq((1L, s"$span $span"), (2L, "b1 b2 b3 b4 b5 b6 b7 b8 b9"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$scratch/documents.parquet")
    val out = substrRows(scratch)
    assert(out(1L) == ((16, 16, s"$span $span")),
      "a span repeated only inside one document is not cross-doc boilerplate")
  }

  test("overlapping repeated spans union into one removed region") {
    import spark.implicits._
    val scratch = graft.util.Scratch.dir("graft_substr_overlap").toString
    // 9 shared consecutive tokens = two overlapping hot 8-grams; the
    // covered region is their 9-token union, not 16 tokens
    val nine = (1 to 9).map(i => s"s$i").mkString(" ")
    Seq((1L, s"head $nine tail"), (2L, s"$nine other words here"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$scratch/documents.parquet")
    val out = substrRows(scratch)
    assert(out(1L) == ((11, 2, "head tail")))
    assert(out(2L) == ((12, 3, "other words here")))
  }

  test("substring dedup surfaces null/empty/short docs untouched") {
    import spark.implicits._
    val scratch = graft.util.Scratch.dir("graft_substr_null").toString
    Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "just seven tokens"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$scratch/documents.parquet")
    val out = substrRows(scratch)
    assert(out(1L) == ((0, 0, "")), "null-text doc surfaces, never vanishes")
    // "" splits to one empty token (the lines-gate convention): 1 in, 1 kept
    assert(out(2L) == ((1, 1, "")))
    assert(out(3L) == ((3, 3, "just seven tokens")))
  }

  test("hash-keyed substring dedup equals the string-keyed form") {
    val byString = TextDedup.removeRepeatedSubstrings(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getString(3))).toSet
    val byHash = TextDedup.removeRepeatedSubstrings(spark, dir,
        hashKeys = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getString(3))).toSet
    assert(byHash == byString)
    assert(byString.exists { case (_, n, kept, _) => kept < n },
      "testdata's syndicated docs should lose at least one repeated span")
  }

  test("dict tagging == naive all-occurrence scan (random texts + overlap edges)") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def naive(text: String, dict: Seq[String]): Seq[Int] =
      dict.map { w =>
        (0 to text.length - w.length).count(i => text.startsWith(w, i))
      }
    val dict = Seq("aa", "ab", "aab", "b", "ba ab", "aaa")
    val gen = Gen.choose(0, 24).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', ' ')).map(_.mkString))
    val texts: Seq[String] = (0 until 150).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(31L + i))) ++
      Seq("", "aaa", "aaaa", "ba ab", "ba aab b")
    val got = texts.toDF("t")
      .select(graft.functions.DictTagCounts.dict_tag_counts(col("t"), dict))
      .collect().map(_.getSeq[Int](0).toList).toSeq
    val want = texts.map(t => naive(t, dict).toList)
    assert(got == want, got.zip(want).zipWithIndex.collectFirst {
      case ((g, w), i) if g != w => s"'${texts(i)}': $g vs $w" }.toString)
    // overlap sanity pinned explicitly: "aaaa" holds 3x"aa" and 2x"aaa"
    val aaaa = naive("aaaa", dict)
    assert(aaaa(0) == 3 && aaaa(5) == 2)
  }

  test("streaming substring dedup equals the batch rewrite against the index half") {
    import spark.implicits._
    val scratch = graft.util.Scratch.dir("graft_substr_stream_spec").toString
    val span = (1 to 8).map(i => s"w$i").mkString(" ")
    // even docs are the index: the span is hot there (df=2); odd docs
    // arrive as the stream — doc 1 carries the span (must lose it),
    // doc 3 does not; a span repeated only among ARRIVING docs (z1..z8
    // in 3 and 5) must NOT be removed (df counts the index half only)
    val z = (1 to 8).map(i => s"z$i").mkString(" ")
    Seq((0L, s"$span a b"), (2L, s"c $span"),
        (1L, s"lead $span tail"), (3L, s"$z plain"), (5L, s"also $z"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$scratch/documents.parquet")
    val out = TextDedup.streamingSubstrGate(spark, scratch)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_tokens"), r.getAs[Int]("kept_tokens"),
          r.getAs[String]("cleaned_text"))).toMap
    assert(out.keySet == Set(1L, 3L, 5L), "exactly the arriving half")
    assert(out(1L) == ((10, 2, "lead tail")))
    assert(out(3L) == ((9, 9, s"$z plain")),
      "spans repeated only among arriving docs are not in the index set")
    assert(out(5L) == ((9, 9, s"also $z")))
  }

  test("substring quality rollup conserves token accounting per source") {
    val perDoc = TextDedup.removeRepeatedSubstrings(spark, dir)
      .join(spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source")), "doc_id")
      .collect().map(r => (r.getAs[String]("source"),
        r.getAs[Int]("n_tokens").toLong, r.getAs[Int]("kept_tokens").toLong))
    val want = perDoc.groupBy(_._1).map { case (s, rows) =>
      s -> (rows.length.toLong, rows.map(_._2).sum,
        rows.map(x => x._2 - x._3).sum) }
    val got = TextDedup.substrQualityBySource(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("total_tokens"),
          r.getAs[Long]("removed_tokens"))).toMap
    assert(got == want)
    TextDedup.substrQualityBySource(spark, dir).collect().foreach { r =>
      val ratio = r.getAs[Double]("kept_ratio")
      assert(ratio >= 0.0 && ratio <= 1.0)
    }
  }
}

class IncrementalClusterSpec extends SparkSpec {

  test("a delta twin joins its index cluster; a smaller delta id relabels it") {
    import spark.implicits._
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = "one two three four five six seven eight nine ten"
    val index = Seq(
      (10L, a), (11L, a),                            // cluster {10, 11}
      (20L, b), (21L, b)                             // cluster {20, 21}
    ).toDF("doc_id", "text")
    // identical text -> identical bands -> the candidate pair is found
    // deterministically, jaccard 1.0; id 5 < 10 must become the new label
    val delta = Seq((30L, b), (5L, a)).toDF("doc_id", "text")
    val merged = TextDedup.dedupClustersIncrementalOf(index, delta)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == Map(5L -> 5L, 10L -> 5L, 11L -> 5L,
      20L -> 20L, 21L -> 20L, 30L -> 20L), merged.toString)
  }

  test("components the delta never touches pass through untouched") {
    import spark.implicits._
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = "one two three four five six seven eight nine ten"
    val index = Seq((10L, a), (11L, a), (20L, b), (21L, b))
      .toDF("doc_id", "text")
    // the delta touches ONLY cluster {10, 11}; {20, 21} must keep its
    // labels via the pass-through path, not a re-cluster
    val delta = Seq((30L, a)).toDF("doc_id", "text")
    val merged = TextDedup.dedupClustersIncrementalOf(index, delta)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == Map(10L -> 10L, 11L -> 10L, 30L -> 10L,
      20L -> 20L, 21L -> 20L), merged.toString)
  }

  test("incremental maintenance equals the full recompute under a 1/3 split") {
    // different split shape than the gate (%3, not %2): the index is 2/3
    // of the corpus, the delta 1/3 — equality must hold regardless
    val dir = "/root/testdata/sf0.001"
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val inc = TextDedup.dedupClustersIncrementalOf(
        d.filter(col("doc_id") % 3 =!= 0), d.filter(col("doc_id") % 3 === 0))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val full = TextDedup.dedupClusters(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(inc.sameElements(full))
  }
}

class DecontaminateBloomSpec extends SparkSpec {
  val dir = "/root/testdata/sf0.001"

  test("bloom prefilter loses nothing and filters before the shuffle") {
    val exact = TextDedup.contaminationReport(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val bloomed = TextDedup.contaminationReportBloom(spark, dir)
    val got = bloomed.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.sameElements(exact), "bloom variant must equal exact")
    // the bloom predicate must sit in the train-side scan stage, below the
    // join's exchange — that's the point: non-candidate spans never shuffle
    val plan = bloomed.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"), plan.take(1500))
  }
}

class TopKBySpec extends SparkSpec {
  import graft.functions.TopKBy.top_k_by

  test("top_k_by keeps the k smallest ords, sorted, stable under repartition") {
    import spark.implicits._
    val rows = Seq(
      ("a", 5.0, 1L), ("a", 1.0, 2L), ("a", 3.0, 3L), ("a", 1.0, 1L),
      ("b", 9.0, 9L))
    for (parts <- Seq(1, 7)) {
      val got = rows.toDF("g", "v", "id").repartition(parts)
        .groupBy(col("g"))
        .agg(top_k_by(struct(col("v"), col("id")),
          struct(col("v"), col("id")), 2).as("top"))
        .select(col("g"), col("top"))
        .collect().map(r => r.getString(0) ->
          r.getSeq[org.apache.spark.sql.Row](1)
            .map(x => (x.getDouble(0), x.getLong(1))).toList).toMap
      // ties on v broken by id: (1.0,1) then (1.0,2)
      assert(got("a") == List((1.0, 1L), (1.0, 2L)), s"parts=$parts")
      assert(got("b") == List((9.0, 9L)), s"parts=$parts")
    }
  }

  test("top_k_by skips null ords and plans as ObjectHashAggregate") {
    import spark.implicits._
    val df = Seq((1L, Some(2.0)), (1L, None), (1L, Some(1.0)))
      .toDF("g", "v")
      .groupBy(col("g"))
      .agg(top_k_by(col("v"), col("v"), 5).as("top"))
    val out = df.collect().head.getSeq[Double](1).toList
    assert(out == List(1.0, 2.0))
    // the aggregate must partial-combine map-side (ObjectHashAggregate),
    // never fall back to a per-key sort
    val file = graft.queries.Analytics.q6SupplierRankTopK(
      spark, "/root/testdata/sf0.001")
    val plan = file.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(800))
    assert(!plan.contains("Window"), plan.take(800))
  }

  test("serialize copies pair bytes when the row exactly fills the writer buffer") {
    import spark.implicits._
    // pair row is (ord: long, payload: string): fixed part 8+16=24 bytes,
    // UnsafeRowWriter headroom 32 → a 32-char ASCII payload makes
    // sizeInBytes == buffer.length exactly, the case where getBytes
    // returns the shared backing array instead of a copy. Without the
    // defensive copy() in serialize(), the second pair overwrites the
    // first's shuffle bytes and the merged top-k holds duplicates.
    val payloads = (0 until 6).map(i => s"$i" * 32)
    val df = payloads.zipWithIndex.map { case (p, i) => (1, i.toLong, p) }
      .toDF("g", "ord", "p")
      .repartition(1) // one partial buffer holds all pairs → one serialize
      .groupBy(col("g"))
      .agg(top_k_by(col("p"), col("ord"), 6).as("top"))
    val out = df.collect().head.getSeq[String](1).toList
    assert(out == payloads.toList, out.map(_.take(4)))
  }

  test("q6 via top_k_by equals the window row_number form") {
    val dir = "/root/testdata/sf0.001"
    val window = graft.queries.Analytics.q6SupplierRank(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val agg = graft.queries.Analytics.q6SupplierRankTopK(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(agg == window)
    assert(agg.nonEmpty)
  }
}

class SimilaritySpec extends SparkSpec {
  val dir = "/root/testdata/sf0.001"

  test("MMR re-rank: redundant twin penalized behind the diverse candidate") {
    val scratch = graft.util.Scratch.dir("graft_mmr").toString
    import spark.implicits._
    // query [1,0,0]; 1 and 2 are identical (sim_e6 = 1e6), 3 is equally
    // query-similar (all simq_e6 = 948683) but only 0.9-similar to 1/2.
    // Greedy: step 1 tie-breaks to id 1; step 2 MUST pick 3 (mmr 48683)
    // over the twin 2 (mmr -51317); step 3 takes the remaining 2. Plain
    // top-3 (simq, id) would order 1, 2, 3 — the reorder IS the operator.
    Seq((0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(0.9f, 0.3f, 0.0f)),
      (2L, Array(0.9f, 0.3f, 0.0f)), (3L, Array(0.9f, 0.0f, 0.3f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$scratch/embeddings.parquet")
    val out = Similarity.mmrRerank(spark, scratch, nCandidates = 3, kOut = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toList == List(
      (1L, 1L, 948683L), (2L, 3L, 948683L), (3L, 2L, 948683L)))
    // corpus gate: kOut distinct docs in selection order
    val gate = Similarity.mmrRerank(spark, dir).collect()
    assert(gate.map(_.getLong(0)).toList == (1L to 10L).toList)
    assert(gate.map(_.getLong(1)).distinct.length == 10)
  }

  test("LSH ANN with full probes equals brute force") {
    val brute = Similarity.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val lsh = Similarity.lshTopK(spark, dir, probes = 256).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(brute.sameElements(lsh))
    assert(brute.length == 10)
    // scores are a descending cosine list in [-1, 1]
    assert(brute.map(_._2).sliding(2).forall(s => s.head >= s.last))
    assert(brute.forall(x => x._2 >= -1.0 && x._2 <= 1.0))
  }

  test("reduced probes trade recall but never return worse-ranked garbage") {
    val brute = Similarity.bruteForceTopK(spark, dir, k = 10).collect()
      .map(_.getLong(0)).toSet
    val lsh = Similarity.lshTopK(spark, dir, k = 10, probes = 64).collect()
      .map(_.getLong(0)).toSet
    // every reduced-probe hit that IS in the exact top-10 is fine; recall
    // is data-dependent, but the probe set must return 10 candidates
    assert(lsh.size == 10)
    assert((lsh intersect brute).nonEmpty)
  }

  test("IVF with full probes equals brute force; reduced probes return k hits") {
    val brute = Similarity.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val ivfFull = Similarity.ivfTopK(spark, dir, nLists = 16, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(ivfFull.sameElements(brute))
    val ivfProbe = Similarity.ivfTopK(spark, dir, nLists = 16, nProbe = 4)
      .collect()
    assert(ivfProbe.length == 10)
    // reduced probes still recall a meaningful share of the exact top-10
    val recall = ivfProbe.map(_.getLong(0)).toSet
      .intersect(brute.map(_._1).toSet).size
    assert(recall >= 1, s"recall $recall/10")
  }

  test("int8 quantization bounds codes and reconstructs within scale/254") {
    import spark.implicits._
    val df = Seq((1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
                 (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(df).collect()
      .map(r => r.getLong(0) ->
        (r.getDouble(2), r.getSeq[Int](3).toList)).toMap
    assert(out(1L)._1 == 1.0)
    assert(out(1L)._2 == List(64, -127, 32, 0))
    // zero vector: scale falls back to 1, all codes zero
    assert(out(2L)._1 == 1.0 && out(2L)._2.forall(_ == 0))
    // per-element reconstruction error <= scale/254 (half a code step)
    val codes = out(1L)._2
    val recon = codes.map(c => c * out(1L)._1 / 127.0)
    val orig = List(0.5, -1.0, 0.25, 0.0)
    assert(recon.zip(orig).forall { case (r, o) =>
      math.abs(r - o) <= out(1L)._1 / 254.0 + 1e-12 })
  }

  test("PQ codes are in range and the ADC+rerank result equals brute force") {
    val cb = Similarity.pqFitCodebooks(spark, dir)
    val enc = Similarity.pqEncode(spark, dir, cb)
      .select(org.apache.spark.sql.functions.col("codes")).collect()
    assert(enc.forall(_.getSeq[Int](0).forall(c => c >= 0 && c < 128)))
    assert(enc.forall(_.getSeq[Int](0).length == 16))
    val brute = Similarity.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val pq = Similarity.pqTopK(spark, dir, rerank = 200).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(pq.sameElements(brute))
  }

  test("compact PQ expressions equal their composed-tree forms bit-for-bit") {
    import graft.functions.{NearestCentroid, PqOps}
    val cb = Similarity.pqFitCodebooks(spark, dir)
    val m = cb.length
    val sub = cb(0)(0).length
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    // pq_encode == array(nearest_centroid(slice(...)), ...) — the shape
    // it replaced (m inlined trees blew the fused method past the JIT's
    // 8 KB bytecode limit; semantics must be unchanged)
    val viaTree = e.select(col("vec_id"), array((0 until m).map(s =>
        NearestCentroid.nearest_centroid(
          slice(col("embedding"), s * sub + 1, sub), cb(s))): _*).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val viaLoop = e.select(col("vec_id"),
        PqOps.pq_encode(col("embedding"), cb).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(viaLoop == viaTree)
    // pq_adc_cosine == the element_at lookup-chain fold, bit-equal
    // (same subspace summation order)
    val qVec = e.filter(col("vec_id") === 0L).select(col("embedding"))
      .collect().head.getSeq[Float](0).map(_.toDouble).toArray
    val qNorm = math.sqrt(qVec.map(x => x * x).sum)
    val dotTab = Array.tabulate(m) { s =>
      cb(s).map(c => c.indices.map(d => c(d) * qVec(s * sub + d)).sum)
    }
    val normTab = Array.tabulate(m) { s => cb(s).map(c => c.map(x => x * x).sum) }
    val encDf = Similarity.pqEncode(spark, dir, cb)
    val chainDot = (0 until m).map(s =>
      element_at(typedLit(dotTab(s).toSeq), col("codes")(s) + 1)).reduce(_ + _)
    val chainNorm2 = (0 until m).map(s =>
      element_at(typedLit(normTab(s).toSeq), col("codes")(s) + 1)).reduce(_ + _)
    val viaChain = encDf.select(col("vec_id"),
        (chainDot / (lit(qNorm) * sqrt(chainNorm2))).as("adc"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaExpr = encDf.select(col("vec_id"),
        PqOps.pq_adc_cosine(col("codes"), dotTab, normTab, qNorm).as("adc"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaExpr == viaChain)
    // byte-packed codes (the persisted-index layout) decode identically
    val viaByte = encDf.select(col("vec_id"),
        PqOps.pq_adc_cosine(col("codes").cast("array<tinyint>"),
          dotTab, normTab, qNorm).as("adc"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaByte == viaChain)
  }

  test("pq_adc_cosine: element_at NULL semantics on malformed codes, unsigned bytes") {
    import graft.functions.PqOps
    import spark.implicits._
    // 1 subspace, 200-entry tables: element_at's contract is NULL for a
    // null element and NULL out of range — the compact expression must
    // preserve it (garbage reads / AIOOBE are the regression ADVICE
    // flagged), in both the interpreted and codegen paths
    val dotTab = Array(Array.tabulate(200)(_.toDouble))
    val normTab = Array(Array.fill(200)(1.0))
    def adcInt(df: org.apache.spark.sql.DataFrame) = df.select(
      PqOps.pq_adc_cosine(col("codes"), dotTab, normTab, 1.0).as("adc"))
    val ok = adcInt(Seq(Tuple1(Seq[Integer](7))).toDF("codes")).collect()
    assert(ok.head.getDouble(0) == 7.0)
    // only codes[s] for s < m are read (the chain's shape) — the null
    // must sit inside the subspace range to be observable
    val nullElem = adcInt(Seq(Tuple1(Seq[Integer](null, 3)))
      .toDF("codes")).collect()
    assert(nullElem.head.isNullAt(0), "null code element must yield NULL")
    val oob = adcInt(Seq(Tuple1(Seq[Integer](500))).toDF("codes")).collect()
    assert(oob.head.isNullAt(0), "out-of-range code must yield NULL")
    val neg = adcInt(Seq(Tuple1(Seq[Integer](-1))).toDF("codes")).collect()
    assert(neg.head.isNullAt(0), "negative code must yield NULL")
    // byte codes are unsigned-packed: (byte) -56 = code 200... is out of
    // this 200-entry table; (byte) -126 = code 130 reads entry 130 —
    // a signed read would have thrown on the negative index
    val byteDf = Seq(Tuple1(Seq(130.toByte))).toDF("codes")
    val viaByte = byteDf.select(
      PqOps.pq_adc_cosine(col("codes"), dotTab, normTab, 1.0).as("adc"))
      .collect()
    assert(viaByte.head.getDouble(0) == 130.0,
      s"byte code 130 must read table entry 130 (unsigned), got ${viaByte.head}")
    val byteOob = Seq(Tuple1(Seq(200.toByte))).toDF("codes").select(
      PqOps.pq_adc_cosine(col("codes"), dotTab, normTab, 1.0).as("adc"))
      .collect()
    assert(byteOob.head.isNullAt(0), "byte code 200 is past a 200-entry table")
  }

  test("a small ADC pool still recalls most of the exact top-10") {
    val brute = Similarity.bruteForceTopK(spark, dir).collect()
      .map(_.getLong(0)).toSet
    val pq = Similarity.pqTopK(spark, dir, rerank = 20).collect()
    assert(pq.length == 10)
    val recall = pq.map(_.getLong(0)).toSet.intersect(brute).size
    assert(recall >= 5, s"recall $recall/10 with rerank=20")
  }

  test("lshTopK touches the corpus with exactly one scan (plus the query fetch)") {
    // the probe set is enumerated driver-side, so the returned frame's plan
    // must contain a single parquet scan — the old shape paid one full
    // corpus scan just to DISCOVER probe buckets before pruning
    val df = Similarity.lshTopK(spark, dir, probes = 8)
    val plan = df.queryExecution.executedPlan.toString
    val scans = "FileScan".r.findAllIn(plan).length
    assert(scans == 1, s"expected 1 FileScan, got $scans:\n${plan.take(1200)}")
    assert(df.collect().length == 10)
  }

  test("persisted LSH index prunes partitions: probes land in PartitionFilters") {
    val indexPath = tmpDir("lsh_index")
    Similarity.writeLshIndex(spark, dir, indexPath)
    val qVec = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") === 0L).select(col("embedding"))
      .collect().head.getSeq[Float](0).toArray
    // full probes == brute force (query row excluded like bruteForceTopK)
    val brute = Similarity.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val full = Similarity.lshTopKIndexed(spark, indexPath, qVec,
      probes = 256, excludeVecId = Some(0L)).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(full.sameElements(brute))
    // reduced probes: the literal bucket set must reach the scan as a
    // partition filter (directory pruning, not per-row filtering)
    val probed = Similarity.lshTopKIndexed(spark, indexPath, qVec, probes = 8)
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      plan.take(1200))
    val phys = probed.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scan = phys.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scan.nonEmpty, "expected a FileSourceScanExec over the index")
    val totalBuckets = spark.read.parquet(indexPath)
      .select(col("bucket")).distinct().count()
    val pruned = scan.get.selectedPartitions.partitionCount
    // at most the 8 probed directories survive (fewer when a probed bucket
    // is empty), and far fewer than the index's full directory set
    assert(pruned <= 8 && pruned < totalBuckets,
      s"pruned=$pruned probes=8 total=$totalBuckets")
    assert(probed.collect().length == 10)
  }

  /** Streams the odd vec_ids of `e` into `table` (bootstrapped with the
    * even ids in `layout`) as two staged files, through `append(stageDir,
    * checkpoint)` called twice over ONE checkpoint — the second call is
    * a restart — then checks the exactly-once contract: one version per
    * batch, and a redelivered final batch id is a no-op.
    */
  private def streamOddIds(e: org.apache.spark.sql.DataFrame, table: String,
      layout: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)(
      append: (String, String) => Unit): Unit = {
    import graft.lake.Snapshots
    Snapshots.append(layout(e.filter(col("vec_id") % 2 === 0)), table)
    val stage = graft.util.Scratch.dir("vec_stream_src")
    val ck = tmpDir("vec_stream_ck")
    val base = System.currentTimeMillis()
    Seq(1, 3).zipWithIndex.foreach { case (slice, i) =>
      graft.util.Scratch.stageParquetFile(
        e.filter(pmod(col("vec_id"), lit(4)) === slice), stage,
        s"g$i.parquet", base + i * 60000L)
      append(stage.toString, ck)
    }
    assert(Snapshots.latestVersion(table) == 3,
      "n_versions must be bootstrap + one per streamed batch")
    assert(Snapshots.appendBatch(layout(e.limit(1)), table, 1L).isEmpty,
      "a redelivered final batch id must no-op")
  }

  test("lake-table LSH index: manifest stats skip files, full probes equal brute force") {
    import graft.lake.Snapshots
    // build the lake layout the streaming maintenance gate publishes:
    // bucket-augmented rows, range-partitioned so each file holds a
    // contiguous bucket band (tight min/max stats per file)
    val table = tmpDir("lsh_lake_spec")
    val nBits = 6
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
    def layout(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("bucket", graft.functions.HyperplaneBucket
          .hyperplane_bucket(col("embedding"), nBits))
        .repartitionByRange(8, col("bucket"))
    Snapshots.append(layout(corpus), table)
    val qVec = corpus
      .filter(col("vec_id") === 0L).select(col("embedding"))
      .collect().head.getSeq[Float](0).toArray
    // full probes == brute force over the corpus
    val brute = Similarity.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    def fullProbe(t: String) = Similarity.lshLakeTopK(spark, t, qVec,
      nBits = nBits, probes = 64, excludeVecId = Some(0L)).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(fullProbe(table).sameElements(brute))
    // the same layout streamed in exactly once answers identically
    val streamed = tmpDir("lsh_lake_stream_spec")
    streamOddIds(corpus, streamed, layout) { (stage, ck) =>
      Similarity.streamAppendLshLake(spark, stage, ck, streamed, nBits,
        corpus.schema)
    }
    assert(fullProbe(streamed).sameElements(brute))
    // a narrow probe set must SKIP files at plan time, through the
    // manifest's per-file bucket min/max — the lake's data skipping is
    // this layout's partition pruning
    val (kept, all) = Snapshots.pruneFiles(spark, table, "bucket IN (0, 1)")
    assert(all.size > 1, s"fixture degenerated to ${all.size} file(s)")
    assert(kept.size < all.size,
      s"no files skipped: kept=${kept.size} of ${all.size}")
    // and the pruned scan still answers exactly over the probed buckets
    val want = spark.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("bucket", graft.functions.HyperplaneBucket
        .hyperplane_bucket(col("embedding"), nBits))
      .filter(col("bucket").isin(0, 1)).count()
    assert(Snapshots.prunedScan(spark, table, "bucket IN (0, 1)")
      .count() == want)
  }

  test("lake-table IVF-PQ index: manifest stats skip files on ivf_list, full probes equal brute force") {
    import graft.lake.Snapshots
    // the layout streamAppendIvfPqLake publishes: codes-only rows
    // assigned + PQ-encoded against the resident quantizer, range-
    // partitioned on ivf_list so each file holds a contiguous list band
    val table = tmpDir("ivfpq_lake_spec")
    val nLists = 16
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val centroids = Similarity.ivfFitCentroidsOf(e, k = nLists)
    val cb = Similarity.pqFitCodebooks(spark, dir)
    def layout(df: org.apache.spark.sql.DataFrame) =
      Similarity.pqEncodeDf(Similarity.ivfAssignOf(df, centroids), cb)
        .select(col("vec_id"),
          col("codes").cast("array<tinyint>").as("codes"), col("ivf_list"))
        .repartitionByRange(8, col("ivf_list"))
    Snapshots.append(layout(e), table)
    val qVec = e.filter(col("vec_id") === 0L).select(col("embedding"))
      .collect().head.getSeq[Float](0).toArray
    // full probes + corpus-covering rerank == brute force
    val brute = Similarity.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    def fullProbe(t: String) = Similarity.ivfPqLakeTopK(spark, t, e,
      centroids, cb, qVec, nProbe = nLists, rerank = e.count().toInt,
      excludeVecId = Some(0L)).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(fullProbe(table).sameElements(brute))
    // the same layout streamed in exactly once answers identically
    val streamed = tmpDir("ivfpq_lake_stream_spec")
    streamOddIds(e, streamed, layout) { (stage, ck) =>
      Similarity.streamAppendIvfPqLake(spark, stage, ck, streamed, centroids,
        cb, e.schema)
    }
    assert(fullProbe(streamed).sameElements(brute))
    // a narrow probe set must SKIP files at plan time through the
    // manifest's per-file ivf_list min/max — the learned-quantizer
    // analog of the LSH lake layout's bucket skipping
    val (kept, all) = Snapshots.pruneFiles(spark, table, "ivf_list IN (0, 1)")
    assert(all.size > 1, s"fixture degenerated to ${all.size} file(s)")
    assert(kept.size < all.size,
      s"no files skipped: kept=${kept.size} of ${all.size}")
    // and the pruned scan still answers exactly over the probed lists
    val want = Similarity.ivfAssignOf(e, centroids)
      .filter(col("ivf_list").isin(0, 1)).count()
    assert(Snapshots.prunedScan(spark, table, "ivf_list IN (0, 1)")
      .count() == want)
  }

  test("filtered ANN: label predicate pushes into the index scan, exact at full probes") {
    val indexPath = tmpDir("lsh_index_filtered")
    Similarity.writeLshIndex(spark, dir, indexPath)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val qVec = e.filter(col("vec_id") === 0L).select(col("embedding"))
      .collect().head.getSeq[Float](0).toArray
    // brute-force filtered scan: the exact answer over the label-3 subset
    val brute = e.filter(col("label") === 3 && col("vec_id") =!= 0L)
      .select(col("vec_id"),
        round(graft.functions.VectorFunctions.cosine(col("embedding"),
          typedLit(qVec.toSeq)), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val filtered = Similarity.lshTopKIndexed(spark, indexPath, qVec,
      probes = 256, excludeVecId = Some(0L), labelEq = Some(3))
    val got = filtered.collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.sameElements(brute), "full probes must be exact on the subset")
    assert(got.nonEmpty)
    // the predicate must reach the parquet scan (row-group pushdown), not
    // run as a post-scan filter only — that's what makes pre-filtering
    // cheaper than post-filtering at scale
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.replaceAll("\\s", "").contains("EqualTo(label,3)"),
      plan.take(1500))
    // a selective filter with FEW probes comes up short of k — the
    // documented reason the probe dial widens under selective predicates:
    // label=3 keeps ~1/selectivity of each probed bucket, so one bucket
    // cannot fill the heap on this fixture (deterministic: fixed corpus,
    // fixed hash planes)
    val narrow = Similarity.lshTopKIndexed(spark, indexPath, qVec,
      probes = 1, excludeVecId = Some(0L), labelEq = Some(3))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(narrow.length < got.length,
      s"probes=1 returned ${narrow.length} of ${got.length} — the probe " +
        "dial no longer bites under the filter")
    // every narrow-probe hit is a qualifying row (the filter held inside
    // the pruned scan); NOT necessarily in the global top-k — a single
    // bucket's best can rank below it, which is exactly the recall loss
    val qualifying = e.filter(col("label") === 3)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(narrow.forall(p => qualifying.contains(p._1)),
      "a narrow-probe hit escaped the label predicate")
  }

  test("persisted IVF index prunes list directories and matches brute force") {
    val indexPath = tmpDir("ivf_index")
    val centroids = Similarity.writeIvfIndex(spark, dir, indexPath, nLists = 16)
    val qVec = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") === 0L).select(col("embedding"))
      .collect().head.getSeq[Float](0).toArray
    val brute = Similarity.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val full = Similarity.ivfTopKIndexed(spark, indexPath, centroids, qVec,
      nProbe = 16, excludeVecId = Some(0L)).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(full.sameElements(brute))
    val probed = Similarity.ivfTopKIndexed(spark, indexPath, centroids, qVec,
      nProbe = 4)
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("ivf_list"),
      plan.take(1200))
    val phys = probed.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scan = phys.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scan.nonEmpty)
    assert(scan.get.selectedPartitions.partitionCount <= 4,
      s"pruned=${scan.get.selectedPartitions.partitionCount}")
    assert(probed.collect().length == 10)
  }

  test("appended IVF index: mixed generations still prune and answer reduced probes") {
    val indexPath = tmpDir("ivf_index_gen")
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    // resident-only centroid fit, two append generations (the maintenance
    // layout: each list directory holds files from both writes)
    val centroids = Similarity.ivfFitCentroidsOf(
      e.filter(col("vec_id") % 2 === 0), k = 16)
    Similarity.appendIvfIndex(e.filter(col("vec_id") % 2 === 0),
      indexPath, centroids)
    Similarity.appendIvfIndex(e.filter(col("vec_id") % 2 =!= 0),
      indexPath, centroids)
    val qVec = e.filter(col("vec_id") === 0L).select(col("embedding"))
      .collect().head.getSeq[Float](0).toArray
    // full probe over the union == brute force (both generations read)
    val brute = Similarity.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val full = Similarity.ivfTopKIndexed(spark, indexPath, centroids, qVec,
      nProbe = 16, excludeVecId = Some(0L)).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(full.sameElements(brute))
    // reduced probe still directory-prunes across the mixed generations
    val probed = Similarity.ivfTopKIndexed(spark, indexPath, centroids,
      qVec, nProbe = 4)
    val phys = probed.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scan = phys.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scan.nonEmpty)
    assert(scan.get.selectedPartitions.partitionCount <= 4,
      s"pruned=${scan.get.selectedPartitions.partitionCount}")
    assert(probed.collect().length == 10)
  }

  test("persisted IVF-PQ index: codes-only schema, pruned probes, brute-force equality") {
    val indexPath = tmpDir("ivfpq_index")
    val (centroids, cb) =
      Similarity.writeIvfPqIndex(spark, dir, indexPath, nLists = 16)
    // the index must NOT carry raw vectors — that's the point of PQ
    assert(spark.read.parquet(indexPath).columns.sorted.toList ==
      List("codes", "ivf_list", "vec_id"))
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
    val qVec = corpus.filter(col("vec_id") === 0L).select(col("embedding"))
      .collect().head.getSeq[Float](0).toArray
    val brute = Similarity.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val full = Similarity.ivfPqTopKIndexed(spark, indexPath, corpus,
      centroids, cb, qVec, nProbe = 16, rerank = 400,
      excludeVecId = Some(0L)).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(full.sameElements(brute))
    val probed = Similarity.ivfPqTopKIndexed(spark, indexPath, corpus,
      centroids, cb, qVec, nProbe = 4, rerank = 100)
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("ivf_list"),
      plan.take(1200))
    val phys = probed.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scan = phys.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scan.nonEmpty)
    assert(scan.get.selectedPartitions.partitionCount <= 4,
      s"pruned=${scan.get.selectedPartitions.partitionCount}")
    assert(probed.collect().length == 10)
  }

  test("IVF-PQ with full probes equals brute force; pruned probes return k") {
    val brute = Similarity.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val full = Similarity.ivfPqTopK(spark, dir, nLists = 16, nProbe = 16,
      rerank = 200).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(full.sameElements(brute))
    val pruned = Similarity.ivfPqTopK(spark, dir, nLists = 16, nProbe = 4,
      rerank = 100).collect()
    assert(pruned.length == 10)
    val recall = pruned.map(_.getLong(0)).toSet
      .intersect(brute.map(_._1).toSet).size
    assert(recall >= 1, s"recall $recall/10")
  }

  /** ONE planted-twin fixture for both hamming-1 recovery specs: 60 base
    * vectors plus tiny perturbations (seed 7, ±0.03) — near-identical
    * cosine, but a twin straddling one hyperplane lands in a hamming-1
    * bucket. Returns the frame plus the hamming-1-split and same-bucket
    * twin pairs; shared so a fixture tweak (seed, perturbation) can never
    * desynchronize the two specs.
    */
  private def plantedTwins(nBits: Int): (org.apache.spark.sql.DataFrame,
      Seq[(Long, Long)], Seq[(Long, Long)]) = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 64
    val rows = (0 until 60).flatMap { i =>
      val base = Array.fill(dim)((rnd.nextDouble() - 0.5).toFloat)
      val twin = base.map(x => x + (rnd.nextDouble() * 0.06 - 0.03).toFloat)
      Seq((i.toLong * 2, base.toSeq), (i.toLong * 2 + 1, twin.toSeq))
    }
    val df = rows.toDF("vec_id", "embedding")
    val buckets = df.select(col("vec_id"),
      graft.functions.HyperplaneBucket.hyperplane_bucket(col("embedding"), nBits)
        .as("b")).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val pairsByHam = (0 until 60).map(i => (i.toLong * 2, i.toLong * 2 + 1))
      .groupBy { case (a, b) => Integer.bitCount(buckets(a) ^ buckets(b)) }
    (df, pairsByHam.getOrElse(1, Nil), pairsByHam.getOrElse(0, Nil))
  }

  test("multi-probe near-dup recovers hamming-1 bucket splits single-probe misses") {
    // a hamming-1 twin is invisible to the single-probe join
    val nBits = 8
    val (df, split, sameBucket) = plantedTwins(nBits)
    assert(split.nonEmpty, "seed should plant hamming-1 splits")
    def pairs(probe: Int) =
      Similarity.cosineNearDupPairsOf(df, threshold = 0.9, nBits = nBits,
        probeHamming = probe).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = pairs(0)
    val multi = pairs(1)
    // multi-probe is a strict superset here and finds EVERY hamming<=1 twin
    assert(single.subsetOf(multi))
    split.foreach { p =>
      assert(!single.contains(p), s"hamming-1 pair $p visible to single-probe?")
      assert(multi.contains(p), s"hamming-1 pair $p missed by multi-probe")
    }
    // same-bucket twins are found by both
    sameBucket.foreach(p => assert(single.contains(p) && multi.contains(p)))
  }

  test("kNN join at full radius equals exhaustive; plans heap-agg, no window") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 32
    val rows = (0 until 40).map(i =>
      (i.toLong, Array.fill(dim)((rnd.nextDouble() - 0.5).toFloat).toSeq))
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.knnJoinOf(df, k = 3, nBits = 4, radius = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(x => (x._1, x._2))
    // exhaustive reference: same rounded-cosine, (score desc, id asc) order
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dim) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val want = rows.flatMap { case (q, qv) =>
      rows.filter(_._1 != q)
        .map { case (n, nv) => (n, cos(qv, nv)) }
        .sortBy { case (n, s) => (-s, n) }
        .take(3).zipWithIndex
        .map { case ((n, s), i) => (q, (i + 1).toLong, n, s) }
    }.sortBy(x => (x._1, x._2))
    assert(got.length == 40 * 3)
    assert(got.sameElements(want))
    // per-query top-k must be the bounded heap aggregate, not a window sort
    val plan = Similarity.knnJoin(spark, dir).queryExecution
      .executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(800))
    assert(!plan.contains("Window"), plan.take(800))
  }

  test("kNN join radius-1 probing recovers hamming-1 twins that radius 0 misses") {
    // same planted-twin fixture as the multi-probe near-dup spec:
    // a twin straddling one hyperplane is invisible at radius 0
    val nBits = 8
    val (df, split, _) = plantedTwins(nBits)
    assert(split.nonEmpty)
    def nn(radius: Int): Map[Long, Long] =
      Similarity.knnJoinOf(df, k = 1, nBits = nBits, radius = radius)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val r0 = nn(0); val r1 = nn(1)
    split.foreach { case (a, b) =>
      assert(r0.get(a) != Some(b), s"split twin ($a,$b) visible at radius 0?")
      assert(r1.get(a) == Some(b), s"radius 1 should find twin of $a")
    }
  }

  test("cosine of a vector with itself is 1") {
    import spark.implicits._
    val df = Seq((1L, Seq(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
    val c = df.select(graft.functions.VectorFunctions
      .cosine(col("embedding"), col("embedding")).as("c")).collect().head.getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("kNN recall report: full radius anchors at 1000, recall grows with radius") {
    // both bucket families — production hash-seeded planes and the gate's
    // oracle-able literal integer planes — must satisfy the same
    // invariants (the gate form is additionally DuckDB-oracled per round)
    for (report <- Seq(Similarity.knnRecallReport(spark, dir),
        Similarity.knnRecallGate(spark, dir))) {
      val rows = report.collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      assert(rows.map(_._1).toList == List(0, 1, 2, 4))
      // radius = nBits probes every bucket -> exact by construction
      assert(rows.last._2._3 == 1000L, s"full-radius recall ${rows.last._2._3}")
      // wider probing can only add candidates -> hits monotone in radius
      assert(rows.map(_._2._2).sliding(2).forall(p => p(0) <= p(1)))
      assert(rows.map(_._2._1).distinct.length == 1, "exact pair count is fixed")
    }
  }

  test("integer-plane buckets spread vectors across the bucket space") {
    // a degenerate plane set (e.g. a constant plane) would collapse the
    // bucket histogram; the gate's planes must actually partition
    val n = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(Similarity.integerPlaneBucket(col("embedding"), 4).as("b"))
      .agg(countDistinct(col("b"))).collect().head.getLong(0)
    assert(n >= 8, s"expected >= 8 of 16 buckets occupied, got $n")
  }

  test("semDedup keeps the lowest id per dup group and prunes chains hard") {
    import spark.implicits._
    // a~b and b~c near-dup (cos ≈ 0.9), a≁c (cos ≈ 0.62); d is far from
    // all. One cluster for everyone → the pure prune rule is under test.
    val df = Seq(
      (10L, Seq(1.0f, 0.0f)),
      (20L, Seq(0.9f, 0.436f)),
      (30L, Seq(0.62f, 0.785f)),
      (40L, Seq(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.semDedupOf(df, 0.8, _ => lit(0L)).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // chain semantics: b pruned by a, c pruned by b (even though c≁a) —
    // the documented aggressive end; transitive-closure keep is
    // dedupClusters' contract, not this operator's
    assert(out == Map(10L -> true, 20L -> false, 30L -> false, 40L -> true))
  }

  test("semDedup cluster boundaries shield cross-cluster near-dups") {
    import spark.implicits._
    // identical vectors in DIFFERENT caller-assigned clusters are not
    // compared — cluster granularity is the recall dial, by design
    val df = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val split = Similarity.semDedupOf(df, 0.8, _ => col("vec_id") % 2)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(split == Map(1L -> true, 2L -> true))
    val joined = Similarity.semDedupOf(df, 0.8, _ => lit(0L))
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(joined == Map(1L -> true, 2L -> false))
  }

  test("k-means semDedup prunes planted twins under learned clusters") {
    import spark.implicits._
    // identical vectors land on the identical nearest centroid whatever
    // the fit produced, so twin pruning is structural under k-means too
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val twins = e.filter(col("vec_id") % 50 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val planted = e.unionAll(twins)
    val out = Similarity.semDedupKmeansOf(planted, 0.8, k = 8).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val twinIds = out.keySet.filter(_ >= 1000000L)
    assert(twinIds.nonEmpty && twinIds.forall(!out(_)))
    assert(out.keySet.filter(_ < 1000000L).forall(out(_)))
  }

  test("Artifacts.clear invalidates the shared index after a corpus rewrite") {
    import spark.implicits._
    val corpus = graft.util.Scratch.dir("graft_memo_corpus").toString
    def writeCorpus(ids: Seq[Long]): Unit =
      ids.map(i => (i, Seq.tabulate(4)(d => (i + d + 1).toFloat / 10f), 0))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    writeCorpus(0L to 9L)
    val before = Similarity.lshIndexedReport(spark, corpus).collect()
      .map(_.getLong(0)).toSet
    assert(before.nonEmpty && before.subsetOf((1L to 9L).toSet))
    // rewrite the corpus at the SAME path: the memo key is the path, so
    // without invalidation the stale index would still answer
    writeCorpus(Seq(0L) ++ (100L to 108L))
    graft.util.Artifacts.clear()
    val after = Similarity.lshIndexedReport(spark, corpus).collect()
      .map(_.getLong(0)).toSet
    assert(after.nonEmpty && after.subsetOf((100L to 108L).toSet),
      s"stale index answered after Artifacts.clear: $after")
  }

  test("semDedup gate prunes exactly the planted twins") {
    val out = Similarity.semDedupGate(spark, dir).collect()
    val (twins, originals) = out.partition(_.getLong(0) >= 1000000L)
    assert(twins.nonEmpty && twins.forall(!_.getBoolean(2)),
      "every planted twin has a lower-id identical original in its bucket")
    assert(originals.forall(_.getBoolean(2)),
      "no natural pair reaches cosine 0.8 on this corpus")
  }
}

class TextAnalysisSpec extends SparkSpec {
  val dir = "/root/testdata/sf0.001"

  test("hashed linear classifier: null docs surface, plan stays narrow") {
    val scratch = graft.util.Scratch.dir("graft_classify").toString
    import spark.implicits._
    Seq((1L, "good words here"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$scratch/documents.parquet")
    val out = TextAnalysis.classifyQuality(spark, scratch).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(2L).getAs[Int]("n_tokens") == 0 &&
      out(2L).getAs[Long]("raw_score") == 0L &&
      !out(2L).getAs[Boolean]("keep"),
      "null-text doc must surface as (0, 0, false), never vanish or NPE")
    assert(out(1L).getAs[Int]("n_tokens") == 3)
    // a per-row projection must not shuffle — scan-speed at 100 TB
    val plan = TextAnalysis.classifyQuality(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(800))
    // the model must DISCRIMINATE on the fixture — if every doc landed on
    // one side, the gate and the funnel's classifier stage would be
    // vacuously green
    val byKeep = TextAnalysis.classifyQuality(spark, dir)
      .groupBy(col("keep")).count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(byKeep.getOrElse(true, 0L) > 0 && byKeep.getOrElse(false, 0L) > 0,
      s"classifier is vacuous on the fixture: $byKeep")
  }

  test("bigram LM: hand-computed stupid-backoff scores; filter discriminates") {
    val scratch = graft.util.Scratch.dir("graft_lm").toString
    import spark.implicits._
    // en model: uni = {a:3, b:3}, T = 6; bigrams = {"a b":3, "b a":1}
    Seq((1L, "a b a b", "en"), (2L, "a b", "en"), (3L, "c d", "de"),
      (4L, null.asInstanceOf[String], "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$scratch/documents.parquet")
    val out = TextAnalysis.lmScores(spark, scratch).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    // doc 1: "a b"→3e6 div 3 = 1000000, "b a"→1e6 div 3 = 333333, "a b"
    assert(out(1L).getAs[Long]("lm_score") == 2333333L &&
      out(1L).getAs[Long]("n_bigrams") == 3L &&
      out(1L).getAs[Long]("avg_e6") == 777777L &&
      out(1L).getAs[Boolean]("keep"))
    // doc 3: bigram unseen, cur token "d" out of vocab → backoff to zero
    assert(out(3L).getAs[Long]("lm_score") == 0L &&
      !out(3L).getAs[Boolean]("keep"))
    // null text surfaces as (0, 0, 0, false), never vanishes
    assert(out(4L).getAs[Long]("n_bigrams") == 0L &&
      !out(4L).getAs[Boolean]("keep"))
    // on the corpus the filter must discriminate — and in the right
    // direction: the reference language scores higher than the rest
    val byLang = TextAnalysis.lmScores(spark, dir)
      .join(spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang")), "doc_id")
      .where(col("n_bigrams") > 0)
      .groupBy(col("lang") === "en").agg(avg(col("avg_e6")))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(byLang(true) > byLang(false),
      s"en should outscore non-en on its own model: $byLang")
  }

  test("inverted index: df counts, sorted capped postings, AND lookup") {
    import spark.implicits._
    val df = Seq((3L, "red blue"), (1L, "red green"), (2L, "red blue red"))
      .toDF("doc_id", "text")
    val idx = TextAnalysis.invertedIndex(df, maxPostings = 2)
    val byTerm = idx.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getSeq[Long](2).toList))
      .toMap
    assert(byTerm("red") == (3L, List(1L, 2L)))  // df uncapped, postings capped+sorted
    assert(byTerm("blue") == (2L, List(2L, 3L)))
    assert(byTerm("green") == (1L, List(1L)))
    val hits = TextAnalysis.termLookup(
      TextAnalysis.invertedIndex(df, maxPostings = 100), Seq("red", "blue"))
      .collect().map(_.getLong(0)).sorted
    assert(hits.toList == List(2L, 3L))
  }

  test("termLookup: capped terms verify exactly against the corpus") {
    import spark.implicits._
    val df = Seq((3L, "red blue"), (1L, "red green"), (2L, "red blue red"))
      .toDF("doc_id", "text")
    val capped = TextAnalysis.invertedIndex(df, maxPostings = 2)
    // "red" (df=3) is capped to postings [1,2]; doc 3 must still be found
    // via the match-all-candidate + corpus-verify path
    val hits = TextAnalysis
      .termLookup(capped, Seq("red", "blue"), corpus = Some(df))
      .collect().map(_.getLong(0)).sorted
    assert(hits.toList == List(2L, 3L))
    // every queried term capped -> full-candidate degradation, still exact
    val allCapped = TextAnalysis.invertedIndex(df, maxPostings = 1)
    val hits2 = TextAnalysis
      .termLookup(allCapped, Seq("red", "blue"), corpus = Some(df))
      .collect().map(_.getLong(0)).sorted
    assert(hits2.toList == List(2L, 3L))
    // capped term without a corpus is refused, not silently wrong
    intercept[IllegalArgumentException] {
      TextAnalysis.termLookup(capped, Seq("red", "blue"))
    }
    // absent term -> empty (AND with a nowhere-term)
    assert(TextAnalysis
      .termLookup(capped, Seq("red", "nope"), corpus = Some(df)).count() == 0L)
    // repeated query terms must not inflate the required hit count
    val dup = TextAnalysis
      .termLookup(TextAnalysis.invertedIndex(df, maxPostings = 100),
        Seq("red", "red", "blue"))
      .collect().map(_.getLong(0)).sorted
    assert(dup.toList == List(2L, 3L))
  }

  test("BM25: hand-computed integer scores, idf reorders, top-k plan") {
    val scratch = graft.util.Scratch.dir("graft_bm25").toString
    import spark.implicits._
    Seq((1L, "red red blue"), (2L, "red green"),
      (3L, "blue blue blue green"), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$scratch/documents.parquet")
    // N = 3, T = 9; df(red) = df(blue) = 2 -> idf_e6 = 3e6 div 5 = 600000
    // doc1: red tf=2 dl=3 -> 792e6 div 576 = 1375000; blue tf=1 -> 1e6
    //       score = 600000*1375000 div 1e6 + 600000 = 1425000, 2 hits
    // doc2: red tf=1 dl=2 -> 396e6 div 342 = 1157894 -> 694736, 1 hit
    // doc3: blue tf=3 dl=4 -> 1188e6 div 810 = 1466666 -> 879999, 1 hit
    val out = TextAnalysis
      .bm25TopK(spark, scratch, queryTerms = Seq("red", "blue"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toList ==
      List((1L, 1425000L, 2L), (3L, 879999L, 1L), (2L, 694736L, 1L)))
    // corpus: the rare term's idf must dominate — every top-5 doc for the
    // default (spark, vector, dup) query contains "dup" (df ~5% of docs)
    val top = TextAnalysis.bm25TopK(spark, dir, k = 5)
    val topIds = top.collect().map(_.getLong(0))
    val withDup = spark.read.parquet(s"$dir/documents.parquet")
      .filter(array_contains(split(trim(col("text")), " "), "dup"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(topIds.forall(withDup), s"idf failed to rank 'dup' docs first")
    // top-k must plan as TakeOrderedAndProject (per-partition heaps +
    // driver merge of k rows), never a global sort
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
  }

  test("winnowing fingerprints match a plain-Scala reference; guarantee holds") {
    val scratch = graft.util.Scratch.dir("graft_winnow").toString
    import spark.implicits._
    // doc1: 6 tokens -> 4 trigrams -> one window (4-4+1) -> 1 fingerprint
    // doc2: 9 tokens -> 7 trigrams -> 4 windows
    // doc3: shares doc2's last 6 tokens = w+k-1 -> MUST share a fingerprint
    // doc4: 2 tokens (< k) -> zero grams; doc5 null text -> zero grams
    val d2 = "p q r s t u v w x"
    val d3 = "z z z " + d2.split(" ").drop(3).mkString(" ")
    Seq((1L, "a b c d e f"), (2L, d2), (3L, d3), (4L, "a b"),
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$scratch/documents.parquet")
    def ph(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % 1000000007L)
    def fps(text: String): Set[Long] = {
      val t = text.trim.split(" ")
      if (t.length < 3) Set.empty
      else {
        val gh = t.sliding(3).map(g => ph(g.mkString(" "))).toVector
        (1 to math.max(1, gh.length - 3)).map(i =>
          gh.slice(i - 1, i + 3).min).toSet
      }
    }
    val out = TextAnalysis.winnowFingerprints(spark, scratch).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3))))
      .toMap
    for ((id, text) <- Seq(1L -> "a b c d e f", 2L -> d2, 3L -> d3)) {
      val f = fps(text)
      val nGrams = text.split(" ").length - 2
      assert(out(id) == ((nGrams, f.size, f.sum)),
        s"doc $id: ${out(id)} vs ($nGrams, ${f.size}, ${f.sum})")
    }
    assert(out(4L) == ((0, 0, 0L)) && out(5L) == ((0, 0, 0L)))
    // the winnowing guarantee: a shared substring of >= w+k-1 = 6 tokens
    // forces a shared selected fingerprint between the two documents
    assert((fps(d2) & fps(d3)).nonEmpty, "guarantee violated")
    // the pair join surfaces exactly the pairs the reference fp sets
    // share (minShared=1 so the single guaranteed fingerprint suffices)
    val texts = Map(1L -> "a b c d e f", 2L -> d2, 3L -> d3)
    val wantPairs = (for {
      (i, ti) <- texts; (j, tj) <- texts if i < j
      shared = (fps(ti) & fps(tj)).size if shared >= 1
    } yield (i, j, shared.toLong)).toSet
    val pairsDf = TextAnalysis.winnowPairs(spark, scratch, minShared = 1)
    val gotPairs = pairsDf
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotPairs == wantPairs, s"got=$gotPairs want=$wantPairs")
    // the pair join must stay an equi-join on the fingerprint: this
    // replaces the ScaleSpec sweep for this gate (its localCheckpoint
    // truncates the sweep-visible plan at the checkpointed RDD, and the
    // joins are exactly the part downstream of it — the upstream
    // fingerprinting is all narrow array expressions)
    val plan = pairsDf.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(800))
  }

  test("winnow pairs cover the LSH near-dup pairs on the corpus") {
    // near-dups at jaccard >= 0.8 necessarily share token runs of >= 6
    // (edits dense enough to break every run would destroy far more than
    // 20% of the 3-gram shingles) — so the substring-level candidate set
    // must contain every whole-document near-dup pair
    val lsh = TextDedup.minhashLshPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val winnow = TextAnalysis.winnowPairs(spark, dir, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.nonEmpty)
    assert((lsh -- winnow).isEmpty,
      s"near-dup pairs missing from winnow candidates: ${lsh -- winnow}")
  }

  test("Okapi double-path BM25 matches a plain-Scala reference") {
    val scratch = graft.util.Scratch.dir("graft_bm25d").toString
    import spark.implicits._
    Seq((1L, "red red blue"), (2L, "red green"),
      (3L, "blue blue blue green"), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$scratch/documents.parquet")
    // N = 3 docs, T = 9 tokens, avgdl = 3; df(red) = df(blue) = 2
    def idf(df: Int, n: Int) = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    def tfc(tf: Int, dl: Int) =
      tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 3.0))
    val want = Map(
      1L -> (idf(2, 3) * tfc(2, 3) + idf(2, 3) * tfc(1, 3)),
      2L -> idf(2, 3) * tfc(1, 2),
      3L -> idf(2, 3) * tfc(3, 4))
    val out = TextAnalysis
      .bm25TopKOkapi(spark, scratch, queryTerms = Seq("red", "blue"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(out.map(_._1).toList == List(1L, 3L, 2L),
      s"okapi ranking: ${out.toList}")
    out.foreach { case (id, s, _) =>
      assert(math.abs(s - want(id)) < 1e-6, s"doc $id: $s vs ${want(id)}") }
    assert(out.find(_._1 == 1L).get._3 == 2L)
    // corpus: the double path must agree with the integer gate form on
    // what matters — the rare term's idf dominance (same assertion the
    // integer spec makes) and a large top-20 overlap between the two
    val okapi = TextAnalysis.bm25TopKOkapi(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val gate = TextAnalysis.bm25TopK(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert((okapi & gate).size >= 10,
      s"integer and double rankings diverged: ${okapi & gate}")
    val plan = TextAnalysis.bm25TopKOkapi(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
  }

  test("bm25 scorer survives corpus token counts near 2^63/44") {
    import spark.implicits._
    // a corpus token count that overflowed the r7/r8 cleared-fraction
    // form's 44·tf·t_total·SCALE numerator; the divided-out form's
    // intermediates stay bounded by 44·tf·SCALE and 18·dl·n_docs
    val tT = Long.MaxValue / 44 - 7
    val rows = Seq((200L, 3L, 500L, 1000000L, tT))
      .toDF("tf", "df", "dl", "n_docs", "t_total")
    val got = rows.select(TextAnalysis.bm25ScoreE6(1000000L).as("s"))
      .collect().head.getLong(0)
    val S = BigInt(1000000)
    def ref(tf: BigInt, df: BigInt, dl: BigInt, n: BigInt,
        t: BigInt): BigInt = {
      val idf = (2 * (n - df) + 1) * S / (2 * df + 1)
      val tfc = 44 * tf * S / (20 * tf + 6 + (18 * dl * n / t))
      idf * tfc / S
    }
    val want = ref(200, 3, 500, 1000000, BigInt(tT))
    assert(BigInt(got) == want && got > 0L, s"got=$got want=$want")
    // the old form cannot survive these operands — it throws under ANSI
    // (Spark 4 default) or silently wraps legacy; pin the hazard is real
    val oldVal = try Some(rows.select(expr(
        """((2 * (n_docs - df) + 1) * 1000000 DIV (2 * df + 1))
          | * (44 * tf * t_total * 1000000
          |    DIV (20 * t_total * tf + 6 * t_total + 18 * dl * n_docs))
          | DIV 1000000""".stripMargin).as("s"))
        .collect().head.getLong(0))
      catch { case _: Exception => None }
    assert(oldVal.forall(v => BigInt(v) != want),
      s"old cleared-fraction form unexpectedly correct: $oldVal")
  }

  test("bm25 parts gate: factors recombine to the gate scores") {
    // the micro-gate's per-(doc, term) factors must reproduce the
    // aggregate gate exactly: sum over terms of idf*tfc div SCALE = score
    val parts = TextAnalysis.bm25Parts(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("idf_e6") * r.getAs[Long]("tfc_e6") / 1000000L))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val top = TextAnalysis.bm25TopK(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(parts == top, s"parts=$parts top=$top")
  }

  test("passage MaxP: hand-computed chunk scores, tie to min chunk, topk") {
    val scratch = graft.util.Scratch.dir("graft_passage").toString
    import spark.implicits._
    // three 56-token docs -> two 32-token chunks each (stride 24):
    // chunk0 = tokens [0,32), chunk1 = [24,56). n_ch = 6, t_total = 192,
    // every dl = 32. Query "red": doc1 4 reds at [0,4) (chunk0 only);
    // doc2 2 reds at [30,32) (INSIDE BOTH chunks -> tf 2 twice, a tie);
    // doc3 6 reds at [50,56) (chunk1 only). df = 4 hit chunks.
    // idf_e6 = 5e6 div 9 = 555555
    // tfc_e6(tf) = 8448e6·tf div (3840·tf + 4608):
    //   tf=4 -> 1692307; tf=2 -> 1375000; tf=6 -> 1833333
    // s = idf·tfc div 1e6: tf4 -> 940169, tf2 -> 763888, tf6 -> 1018517
    def doc(reds: Set[Int]) =
      (0 until 56).map(i => if (reds(i)) "red" else "x").mkString(" ")
    Seq((1L, doc((0 until 4).toSet)), (2L, doc(Set(30, 31))),
      (3L, doc((50 until 56).toSet)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$scratch/documents.parquet")
    val out = TextAnalysis
      .passageTopK(spark, scratch, queryTerms = Seq("red"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(out.toList == List(
      (3L, 1L, 1018517L, 1L),   // best chunk is the SECOND passage
      (1L, 0L, 940169L, 1L),
      (2L, 0L, 763888L, 2L)),   // score tie across chunks -> chunk 0
      out.toList.toString)
    // MaxP vs whole-doc: doc3's reds sit in one passage; whole-doc BM25
    // at dl 56 ranks doc1 (tf 4) below doc3 (tf 6) too, but MaxP's margin
    // comes from chunk-local dl 32 — assert the concentrated passage wins
    // over the diluted one with MORE total matches elsewhere absent
    assert(out.head._1 == 3L && out.head._2 == 1L)
    // corpus: runs the gate shape end to end; top-k is a bounded heap
    val top = TextAnalysis.passageTopK(spark, "/root/testdata/sf0.001")
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    val rows = top.collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(3) >= 1L))
    // best_chunk_id is a real chunk of the doc (within its chunk range)
    val nChunks = TextAnalysis
      .chunkReport(spark, "/root/testdata/sf0.001")
      .groupBy(col("doc_id")).agg(max(col("chunk_id")).as("max_cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(r.getLong(1) <= nChunks(r.getLong(0))))
  }

  test("snippets: earliest term hit, clamped window, term always present") {
    val scratch = graft.util.Scratch.dir("graft_snip").toString
    import spark.implicits._
    Seq((1L, "red red blue"), (2L, "green red"),
      (3L, "blue blue blue green"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$scratch/documents.parquet")
    val out = TextAnalysis.snippets(spark, scratch,
        queryTerms = Seq("red", "blue"), k = 10, context = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    // doc1: red@1 (blue@3 later) -> left-clamped window "red red";
    // doc2: red@2 -> centered "green red" (right edge cut by doc end);
    // doc3: blue@1 -> "blue blue"
    assert(out == Set((1L, 1L, "red red"), (2L, 2L, "green red"),
      (3L, 1L, "blue blue")), out.toString)
    // corpus: every gate snippet contains a query term at a real position
    val q = Set("spark", "vector", "dup")
    TextAnalysis.snippets(spark, "/root/testdata/sf0.001").collect()
      .foreach { r =>
        assert(r.getLong(1) >= 1L)
        assert(r.getString(2).split(" ").exists(q), r.toString) }
  }

  test("PRF expansion: feedback terms from the bm25 top docs, query excluded") {
    val scratch = graft.util.Scratch.dir("graft_prf").toString
    import spark.implicits._
    // bm25 fixture ranking for query (red, blue): doc1 1425000 >
    // doc3 879999 > doc2 694736 (see the bm25 spec arithmetic); kFb=2
    // feeds back docs {1, 3}, whose non-query vocabulary is exactly
    // {green} (doc3, once) — doc2's "green" must NOT count
    Seq((1L, "red red blue"), (2L, "red green"),
      (3L, "blue blue blue green"), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$scratch/documents.parquet")
    val out = TextAnalysis.prfExpand(spark, scratch,
        queryTerms = Seq("red", "blue"), kFb = 2, kTerms = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toList == List(("green", 1L, 1L)), out.toList.toString)
    // corpus: expansion never re-proposes query terms; evidence is sane
    val top = TextAnalysis.prfExpand(spark, "/root/testdata/sf0.001")
    val rows = top.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val q = Set("spark", "vector", "dup")
    rows.foreach { case (t, tf, d) =>
      assert(!q(t), s"query term $t re-proposed")
      assert(tf >= d && d >= 1 && d <= 10, s"evidence broken for $t") }
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
  }

  test("RRF fusion: hand-computed ranks fuse both legs, single-leg docs kept") {
    val scratch = graft.util.Scratch.dir("graft_rrf").toString
    import spark.implicits._
    // lexical leg (query red, blue): doc4's null text is dropped; scores
    // rank 1 > 3 > 5 > 2 (bm25 fixture arithmetic, margins all > 25%)
    Seq((1L, "red red blue"), (2L, "red green"),
      (3L, "blue blue blue green"), (4L, null.asInstanceOf[String]),
      (5L, "red red red red"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$scratch/documents.parquet")
    // dense leg (query vec 0 = [1,0]): cosines 1:0.995 > 4:0.894 >
    // 3:0.707 > 2:0 — doc5 has no vector, doc4 no text: each leg
    // contributes a doc the other lacks, exercising the full outer join
    Seq((0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(1.0f, 1.0f)),
      (4L, Array(1.0f, 0.5f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$scratch/embeddings.parquet")
    // contributions 1e6 div (60+r): r1 16393, r2 16129, r3 15873, r4 15625
    val out = TextAnalysis.rrfFuse(spark, scratch,
        queryTerms = Seq("red", "blue"), k = 20, kOut = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(out.toList == List(
      (1L, 32786L, 1L, 1L), (3L, 32002L, 2L, 3L), (2L, 31250L, 4L, 4L),
      (4L, 16129L, -1L, 2L), (5L, 15873L, 3L, -1L)))
    // corpus gate: exactly kOut rows, scores positive and non-increasing
    val gate = TextAnalysis.rrfReport(spark, dir).collect()
    assert(gate.length == 10)
    val scores = gate.map(_.getLong(1))
    assert(scores.toSeq == scores.toSeq.sortBy(-(_: Long)))
    assert(scores.forall(_ > 0L))
  }

  test("chunking covers every token with the declared overlap") {
    import spark.implicits._
    val words = (1 to 75).map(i => s"w$i")
    val df = Seq((1L, words.mkString(" ")), (2L, "a b c")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkTokens(df, size = 32, overlap = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    // 75 tokens, stride 24 -> chunks at 0,24,48: sizes 32,32,27. The last
    // chunk id is ceil((75-32)/24) = 2 — a fourth chunk at 72 would be a
    // strict subset of chunk 2 (tokens 73-75 are already covered)
    assert(d1.map(_._3).toList == List(32L, 32L, 27L))
    assert(d1(0)._4.startsWith("w1 w2") && d1(1)._4.startsWith("w25"))
    // consecutive chunks share the declared 8-token overlap
    assert(d1(0)._4.split(" ").takeRight(8).toList ==
      d1(1)._4.split(" ").take(8).toList)
    // reassembly: stride-prefixes plus the final chunk equal the doc
    val reassembled: Array[String] =
      d1.dropRight(1).flatMap(_._4.split(" ").take(24)) ++ d1.last._4.split(" ")
    assert(reassembled.toList == words.toList)
    // a short doc yields one short chunk
    val d2 = out.filter(_._1 == 2L)
    assert(d2.length == 1 && d2.head._3 == 3L && d2.head._4 == "a b c")
  }

  test("polyhash matches a reference fold and stays in codegen") {
    import spark.implicits._
    val df = Seq("abc", "", "hello world").toDF("text")
    val got = df.select(poly_hash(col("text"))).collect().map(_.getLong(0))
    def ref(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % 1000000007L)
    assert(got.toSeq == Seq(ref("abc"), ref(""), ref("hello world")))
    // whole-stage codegen keeps the expression in a codegen stage (a local
    // Seq constant-folds to LocalTableScan, so assert over a file scan)
    val plan = TextAnalysis.fingerprints(spark, dir)
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Project") && plan.contains("polyhash"), plan)
  }

  test("quality ratios are bounded and langid predicts a declared language code") {
    val q = TextAnalysis.qualityScores(spark, dir)
    assert(q.filter(col("stopword_ratio") < 0 || col("stopword_ratio") > 1 ||
      col("distinct_ratio") <= 0 || col("distinct_ratio") > 1).count() == 0)
    val l = TextAnalysis.languageId(spark, dir)
    assert(l.filter(!col("pred_lang").isin("en", "de", "es", "fr")).count() == 0)
  }
}

class MultimodalSpec extends SparkSpec {
  val dir = "/root/testdata/sf0.001"

  test("binary plumbing: payload bytes survive, stub features are deterministic") {
    val feats = Multimodal.mediaFeatures(spark, dir)
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(feats.count() == n)
    assert(feats.filter(!col("ok")).count() == 0)
    assert(feats.filter(col("width") < 1 || col("width") > 640 ||
      col("height") < 1 || col("height") > 480).count() == 0)
    // checksum equals polyhash of the text (same fold over the same bytes)
    val joined = feats.join(
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").as("media_id"), poly_hash(col("text")).as("ph")),
      "media_id")
    assert(joined.filter(col("checksum") =!= col("ph")).count() == 0)
  }

  test("byte-budget repartition handles empty input (null sum) and sizes up") {
    import spark.implicits._
    val empty = Seq.empty[Multimodal.MediaRow].toDS()
    assert(Multimodal.repartitionByBytes(empty).count() == 0L)
    val big = Seq.tabulate(8)(i =>
      Multimodal.MediaRow(i.toLong, "image/png", Array.fill(1024)(i.toByte))).toDS()
    // 1 KiB budget → 8 KiB of payload needs > 1 partition
    assert(Multimodal.repartitionByBytes(big, targetBytesPerPartition = 1024)
      .rdd.getNumPartitions > 1)
  }

  test("corrupt (empty) payloads are flagged, not thrown") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "image/png", Array[Byte](1, 2, 3)),
      Multimodal.MediaRow(2L, "image/png", Array.empty[Byte])
    ).toDS()
    val out = Multimodal.extractFeatures(media).collect()
    assert(out.find(_.media_id == 1L).get.ok)
    assert(!out.find(_.media_id == 2L).get.ok)
  }

  test("ImageIoDecoder decodes real PNG bytes: true dims, exact pixels") {
    val feats = Multimodal.decodeReport(spark, dir).collect()
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(feats.length == n && feats.forall(_.getAs[Boolean]("ok")))
    feats.foreach { r =>
      val id = r.getAs[Long]("media_id")
      assert(r.getAs[Int]("width") == (id % 16 + 1).toInt)
      assert(r.getAs[Int]("height") == (id % 12 + 1).toInt)
      // replay the encode arithmetic: checksum must match the DECODED pixels
      val (w, h) = ((id % 16 + 1).toInt, (id % 12 + 1).toInt)
      var acc = 0L
      for (y <- 0 until h; x <- 0 until w)
        acc = (acc * 31L + (id * 1009L + x * 37L + y * 101L) % 16777216L) %
          1000000007L
      assert(r.getAs[Long]("checksum") == acc, s"pixel fold drift for $id")
    }
  }

  test("perceptual hash catches every planted near-dup image family") {
    val pairs = Multimodal.phashNearDup(spark, dir).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(r => r.getAs[Long]("id_a") < r.getAs[Long]("id_b")))
    assert(pairs.forall(r => r.getAs[Int]("dist") <= 3))
    assert(pairs.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .distinct.length == pairs.length)
    // the fixture plants 100 five-image families (base = id - id % 5); a
    // perceptual dedup pass must surface every family, and for almost all
    // of them the single-pixel blue perturbation keeps all C(5,2) = 10
    // member pairs within hamming 3 (a few tiny-image families lose pairs
    // when the perturbed pixel dominates the sampled grid)
    val within = pairs.filter(r =>
      r.getAs[Long]("id_a") / 5 == r.getAs[Long]("id_b") / 5)
    val byFamily = within.groupBy(_.getAs[Long]("id_a") / 5)
    assert(byFamily.size == 100, s"families detected: ${byFamily.size}")
    assert(byFamily.count(_._2.length == 10) >= 90,
      "most families must keep all 10 member pairs")
  }

  test("video temporal near-dup recovers every planted shifted-clip pair") {
    val rows = Multimodal.videoPhashNearDup(spark, dir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        ((r.getAs[Int]("shift"), r.getAs[Long]("n_matched")))).toMap
    // fixture: 4-clip families over one frame sequence, member `off`
    // recording window [off, off+4) — members o1 < o2 share 4-(o2-o1)
    // frames at shift o1-o2, so exactly the five pairs with overlap >= 2
    // survive per family, with EXACT shifts and match counts
    val docCount = spark.read.parquet(s"$dir/documents.parquet").count()
    val families = (0L until docCount by 4).filter(_ + 3 < docCount)
    families.foreach { base =>
      Seq((0, 1, 3L), (1, 2, 3L), (2, 3, 3L), (0, 2, 2L), (1, 3, 2L))
        .foreach { case (o1, o2, m) =>
          val got = rows.get((base + o1, base + o2))
          assert(got.contains((o1 - o2, m)),
            s"family $base pair ($o1,$o2): got $got, want (${o1 - o2}, $m)")
        }
      // the 1-frame overlap pair stays below the 2-match threshold
      assert(!rows.contains((base, base + 3)),
        s"family $base: pair (0,3) must not survive with 1 aligned frame")
    }
    // and nothing beyond the planted pairs (no cross-family noise at
    // this corpus size; band collisions are possible in principle but
    // the quadratic-mix fixture keeps them out of the 2-match band)
    assert(rows.size == families.size * 5,
      s"got ${rows.size} pairs, want ${families.size * 5}")
  }

  test("audio fingerprint catches every planted near-dup clip family") {
    val pairs = Multimodal.audioFpNearDup(spark, dir).collect()
    assert(pairs.forall(r => r.getAs[Long]("id_a") < r.getAs[Long]("id_b")))
    assert(pairs.forall(r => r.getAs[Int]("dist") <= 3))
    val within = pairs.filter(r =>
      r.getAs[Long]("id_a") / 5 == r.getAs[Long]("id_b") / 5)
    val byFamily = within.groupBy(_.getAs[Long]("id_a") / 5)
    assert(byFamily.size == 100, s"families detected: ${byFamily.size}")
    assert(byFamily.forall(_._2.length == 10),
      "every clip family keeps all 10 member pairs")
    // the busy-waveform fixture must also DISCRIMINATE: matches are the
    // planted families, not an everything-matches-everything degeneracy
    // (a slow-ramp waveform hashes every clip to 'top half set')
    assert(pairs.length < 3 * within.length,
      s"${pairs.length} pairs for ${within.length} planted — degenerate hash")
  }

  test("AudioFpDecoder sandboxes junk and honors the WavDecoder layout contract") {
    assert(!Multimodal.AudioFpDecoder.decode(
      Multimodal.MediaRow(1L, "audio/wav", "not riff".getBytes("UTF-8"))).ok)
    val clip = Multimodal.wavNearDupMediaFromDocuments(spark, dir)
      .filter(col("media_id") === 7L).collect().head
    val fp = Multimodal.AudioFpDecoder.decode(clip)
    assert(fp.ok && fp.n_samples == (5L % 96 + 8).toInt)
    assert(fp.hash_hi >= 0L && fp.hash_hi < (1L << 32) &&
      fp.hash_lo >= 0L && fp.hash_lo < (1L << 32))
  }

  test("PHashDecoder sandboxes non-image bytes; identical images hash equal") {
    val junk = Multimodal.PHashDecoder.decode(
      Multimodal.MediaRow(9L, "image/png", "not a png".getBytes("UTF-8")))
    assert(!junk.ok)
    // two decodes of the same payload agree bit for bit, and the halves
    // stay non-negative 32-bit (the banded join and the oracle rely on it)
    val img = Multimodal.pngNearDupMediaFromDocuments(spark, dir)
      .filter(col("media_id") === 7L).collect().head
    val a = Multimodal.PHashDecoder.decode(img)
    val b = Multimodal.PHashDecoder.decode(img)
    assert(a.ok && a == b)
    assert(a.hash_hi >= 0L && a.hash_hi < (1L << 32) &&
      a.hash_lo >= 0L && a.hash_lo < (1L << 32))
  }

  test("WavDecoder parses real RIFF bytes: true sample count, rate, fold") {
    val feats = Multimodal.audioReport(spark, dir).collect()
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(feats.length == n && feats.forall(_.getAs[Boolean]("ok")))
    feats.foreach { r =>
      val id = r.getAs[Long]("media_id")
      val ns = (id % 96 + 8).toInt
      assert(r.getAs[Int]("n_samples") == ns)
      assert(r.getAs[Int]("sample_rate") == 8000 &&
        r.getAs[Int]("channels") == 1)
      var acc = 0L
      for (i <- 0 until ns)
        acc = (acc * 31L + (id * 131L + i * 17L) % 65536L) % 1000000007L
      assert(r.getAs[Long]("checksum") == acc, s"sample fold drift for $id")
    }
  }

  test("WavDecoder sandboxes non-audio bytes as ok=false") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "audio/wav", "not riff".getBytes("UTF-8")),
      Multimodal.MediaRow(2L, "audio/wav", Array.empty[Byte])
    ).toDS()
    val out = media.mapPartitions(rows =>
      rows.map(Multimodal.WavDecoder.decode)).collect()
    assert(out.forall(!_.ok))
  }

  test("video pipeline demuxes the container and real-decodes every frame") {
    val frames = Multimodal.videoReport(spark, dir).collect()
    val ids = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    assert(frames.length == ids.map(id => (id % 3 + 2).toInt).sum)
    assert(frames.forall(_.getAs[Boolean]("ok")))
    frames.foreach { r =>
      val (id, f) = (r.getAs[Long]("media_id"), r.getAs[Int]("frame_idx"))
      assert(r.getAs[Int]("width") == ((id + f * 7) % 12 + 1).toInt)
      assert(r.getAs[Int]("height") == ((id + f * 5) % 8 + 1).toInt)
    }
  }

  test("empty/null video payloads emit one ok=false row, never vanish") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "video/x-motion-png", Array.empty[Byte]),
      Multimodal.MediaRow(2L, "video/x-motion-png", null)
    ).toDS()
    val out = Multimodal.decodeVideo(media).collect()
    assert(out.map(_.media_id).sorted.toSeq == Seq(1L, 2L))
    assert(out.forall(f => !f.ok && f.frame_idx == 0))
  }

  test("WavDecoder downgrades non-16-bit-LE-mono layouts to ok=false") {
    // a genuine 8-bit WAV parses fine in the JDK but violates the fold's
    // sample contract — it must come back ok=false, not a garbage checksum
    val fmt8 = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false)
    val pcm8 = Array.tabulate[Byte](16)(i => (i * 7).toByte)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm8), fmt8, 16L),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    val out = Multimodal.WavDecoder.decode(
      Multimodal.MediaRow(1L, "audio/wav", baos.toByteArray))
    assert(!out.ok, s"8-bit WAV must be rejected, got $out")
  }

  test("videoStats never counts sentinel rows as frames") {
    import spark.implicits._
    val frames = Seq(
      Multimodal.VideoFrameFeatures(1L, 0, 4, 3, 10L, ok = true),
      Multimodal.VideoFrameFeatures(1L, 1, 6, 2, 20L, ok = true),
      Multimodal.VideoFrameFeatures(1L, 2, 0, 0, 0L, ok = false), // severed
      Multimodal.VideoFrameFeatures(2L, 0, 0, 0, 0L, ok = false)  // empty
    ).toDS()
    val out = Multimodal.videoStatsOf(frames).collect()
      .map(r => r.getAs[Long]("media_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_frames") == 2 &&
      out(1L).getAs[Long]("total_pixels") == 24 &&
      out(1L).getAs[Int]("max_width") == 6 &&
      out(1L).getAs[Long]("checksum_sum") == 30 &&
      out(1L).getAs[Long]("n_corrupt") == 1)
    assert(out(2L).getAs[Long]("n_frames") == 0 &&
      out(2L).getAs[Long]("total_pixels") == 0 &&
      out(2L).getAs[Long]("n_corrupt") == 1,
      "all-corrupt media must report zero frames, not vanish or crash")
  }

  test("truncated video containers keep parsed frames and flag the tail") {
    import spark.implicits._
    val whole = Multimodal.videoMediaFromDocuments(spark, dir)
      .collect().head
    val cut = Multimodal.MediaRow(whole.media_id, whole.kind,
      whole.payload.dropRight(3)) // sever the last frame mid-bytes
    val out = Multimodal.decodeVideo(Seq(cut).toDS()).collect()
    assert(out.count(_.ok) == (whole.media_id % 3 + 2).toInt - 1,
      "all but the severed frame decode")
    assert(out.count(!_.ok) == 1, "severed tail flagged, not thrown")
  }

  test("ImageIoDecoder sandboxes non-image bytes as ok=false") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "image/png",
        "definitely not a png".getBytes("UTF-8")),
      Multimodal.MediaRow(2L, "image/png", Array.empty[Byte])
    ).toDS()
    val out = Multimodal.extractFeaturesWith(media)(
      Multimodal.ImageIoDecoder.decode).collect()
    assert(out.forall(!_.ok))
  }
}

class ProfileSpec extends SparkSpec {

  test("profile reports count, nulls, distincts, min/max per column") {
    import spark.implicits._
    val df = Seq((1L, Some("a")), (2L, None), (3L, Some("c")), (3L, Some("a")))
      .toDF("id", "s")
    val rows = graft.ext.profile.Profile.profile(df, Seq("id", "s")).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))
      .toMap
    assert(rows("id") == ((4L, 0L, 3L, "1", "3")))
    assert(rows("s") == ((4L, 1L, 2L, "a", "c")))
  }

  test("tableDiff classifies keys; null payload flips count as changed") {
    import spark.implicits._
    import graft.ext.profile.Quality
    val a = Seq((1L, Some("x")), (2L, Some("y")), (3L, None),
      (4L, Some("z"))).toDF("k", "p")
    val b = Seq((1L, Some("x")), (2L, None), (3L, None),
      (5L, Some("w"))).toDF("k", "p")
    val out = Quality.tableDiff(a, b, Seq("k"), Seq("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // 2: value->null is a CHANGE (null-safe compare), 3: null==null is
    // unchanged, 4 removed, 5 added
    assert(out == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "unchanged", 4L -> "removed", 5L -> "added"))
  }

  test("partition checksums are partitioning-invariant; n catches xor's blind spot") {
    import spark.implicits._
    import graft.ext.profile.Quality
    val df = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
      .toDF("id", "k", "v")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    val base = canon(Quality.partitionChecksums(df, Seq("k"), Seq("id", "v")))
    // repartitioning / reordering cannot perturb the checksum
    assert(canon(Quality.partitionChecksums(
      df.repartition(7).sortWithinPartitions(desc("v")),
      Seq("k"), Seq("id", "v"))) == base)
    // xor's blind spot: an identical row PAIR cancels to the same xor —
    // the count is what catches it (the documented contract)
    val dup = df.unionAll(df.filter($"id" === 1L))
      .unionAll(df.filter($"id" === 1L))
    val dupd = canon(Quality.partitionChecksums(dup, Seq("k"), Seq("id", "v")))
    val aBase = base.find(_._1 == "a").get
    val aDup = dupd.find(_._1 == "a").get
    assert(aDup._3 == aBase._3 && aDup._2 == aBase._2 + 2)
  }

  test("quality checks count violations per constraint incl. null edges") {
    import spark.implicits._
    import graft.ext.profile.Quality._
    // id 4 has a null enum + out-of-range value; id 5 has a null FK;
    // (3, x) repeats so unique fails; struct-unique must still count the
    // (4, null)-field tuple as a value rather than dropping it
    val df = Seq(
      (Some(1L), Some("A"), Some(0.5)),
      (Some(2L), Some("R"), Some(1.0)),
      (Some(3L), Some("A"), Some(0.0)),
      (Some(3L), Some("A"), Some(0.7)),
      (Some(4L), None, Some(9.9)),
      (None, Some("N"), None)
    ).toDF("id", "flag", "v")
    val ref = Seq(1L, 2L, 3L).toDF("rid")
    val out = validate(df, Seq(
      NotNull("id"), Unique(Seq("id", "flag")), InSet("flag", Seq("A", "R", "N")),
      Between("v", 0.0, 1.0), MinRows(10L),
      SubsetOf("id", ref, "rid", "ref")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(out("not_null(id)") == ((1L, false)))
    // 6 rows, 5 distinct (id,flag) tuples — the (4,null) tuple counts
    assert(out("unique(id,flag)") == ((1L, false)))
    assert(out("in_set(flag)") == ((1L, false)))   // null flag violates
    assert(out("between(v,0.0,1.0)") == ((2L, false))) // 9.9 and null
    assert(out("min_rows(10)") == ((4L, false)))
    // id=4 not in ref + null id never matches = 2 violations
    assert(out("subset_of(id,ref.rid)") == ((2L, false)))
    // a clean slice passes everything
    val clean = validate(df.filter($"id" <= 2), Seq(
      NotNull("id"), Unique(Seq("id")), MinRows(1L),
      SubsetOf("id", ref, "rid", "ref"))).collect()
    assert(clean.forall(_.getBoolean(2)))
    assert(clean.forall(_.getLong(1) == 0L))
  }
}

class KmvSketchSpec extends SparkSpec {
  import graft.functions.KmvSketch.kmv_sketch

  test("below k the sketch is exact (kth null, nd = distinct count)") {
    import spark.implicits._
    val df = (1 to 50).map(i => s"u${i % 20}").toDF("v")
    val r = df.agg(kmv_sketch(col("v"), 256).as("s"))
      .select(col("s.nd"), col("s.kth")).collect().head
    assert(r.getInt(0) == 20 && r.isNullAt(1))
  }

  test("kth minimum matches a reference computation and survives repartition") {
    import spark.implicits._
    val vals = (1 to 5000).map(i => s"item$i")
    val k = 64
    val md = java.security.MessageDigest.getInstance("MD5")
    val expected = vals.map(v =>
        graft.functions.SimHash64.md5Low64(md, v.getBytes("UTF-8")))
      .distinct.sortWith((a, b) => java.lang.Long.compareUnsigned(a, b) < 0)
      .apply(k - 1)
    for (parts <- Seq(1, 7)) {
      val r = vals.toDF("v").repartition(parts)
        .agg(kmv_sketch(col("v"), k).as("s"))
        .select(col("s.nd"), col("s.kth")).collect().head
      assert(r.getInt(0) == k)
      assert(r.getLong(1) == expected, s"parts=$parts")
    }
  }

  test("duplicates do not perturb the sketch; estimate is in a sane band") {
    import spark.implicits._
    val once = (1 to 2000).map(i => s"d$i").toDF("v")
    val dups = ((1 to 2000) ++ (1 to 2000)).map(i => s"d$i").toDF("v")
    val k = 128
    val a = once.agg(kmv_sketch(col("v"), k)).collect().head.getStruct(0)
    val b = dups.agg(kmv_sketch(col("v"), k)).collect().head.getStruct(0)
    assert(a == b)
    val kth = a.getLong(1)
    val unsignedKth = new java.math.BigDecimal(
      java.lang.Long.toUnsignedString(kth)).doubleValue()
    val est = (k - 1).toDouble * math.pow(2, 64) / unsignedKth
    assert(est > 1000 && est < 4000, s"estimate $est far from 2000")
  }
}

class FreqItemsSpec extends SparkSpec {
  import graft.functions.FreqItems.freq_items
  import org.apache.spark.sql.Row

  test("exact regime equals groupBy counts and is partitioning-invariant") {
    import spark.implicits._
    val df = Seq.tabulate(3000)(i => (i % 3, (i * 7L) % 40)).toDF("g", "item")
    def run(parts: Int): Map[Int, (Long, List[(Long, Long)])] =
      df.repartition(parts)
        .groupBy("g").agg(freq_items(col("item"), 64).as("sk"))
        .select(col("g"), col("sk.err"), col("sk.items"))
        .collect()
        .map(r => r.getInt(0) -> (r.getLong(1),
          r.getSeq[Row](2).map(x => (x.getLong(0), x.getLong(1))).toList))
        .toMap
    val a = run(1)
    assert(a == run(13)) // merge path (13 partials) = single-buffer path
    val exact = df.groupBy("g", "item").count().collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    a.foreach { case (g, (err, items)) =>
      assert(err == 0L)
      assert(items.size == exact.keys.count(_._1 == g))
      items.foreach { case (item, c) => assert(exact((g, item)) == c) }
      // sorted (count desc, item asc) so prefixes are deterministic top-k
      assert(items == items.sortBy { case (item, c) => (-c, item) })
    }
  }

  test("lossy regime: MG bounds hold and a guaranteed heavy hitter survives") {
    import spark.implicits._
    val k = 8
    // item 999 carries 40% of the stream; the rest are near-singletons
    val data = Seq.tabulate(10000)(i =>
      if (i % 5 < 2) 999L else 1000L + i)
    val row = data.map(Tuple1(_)).toDF("item").repartition(7)
      .agg(freq_items(col("item"), k).as("sk"))
      .select(col("sk.err"), col("sk.items")).collect().head
    val err = row.getLong(0)
    val items = row.getSeq[Row](1)
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(items.size <= k)
    assert(err > 0 && err <= data.size / (k + 1))
    assert(items.contains(999L)) // freq 40% > n/(k+1): must survive
    items.foreach { case (item, c) =>
      val t = data.count(_ == item).toLong
      assert(c <= t && t <= c + err, s"bounds violated for $item")
    }
  }

  test("plans as ObjectHashAggregate with map-side partials") {
    import spark.implicits._
    val df = Seq.tabulate(100)(i => (i % 2, i.toLong)).toDF("g", "item")
    val plan = df.groupBy("g").agg(freq_items(col("item"), 16))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(800))
    assert(plan.contains("partial_freq_items_sketch"), plan.take(800))
  }
}

class FuzzyJoinSpec extends SparkSpec {
  import graft.ext.link.FuzzyJoin

  test("deletion neighborhood catches sub/insert/delete at distance 1") {
    import spark.implicits._
    // 1-"abc": sub->2-"abd", insert->3-"abcd", delete->4-"ab";
    // 2-"abd" vs 3-"abcd" (insert c) and 4-"ab" (delete d) are also 1;
    // 3 vs 4 is distance 2; 5-"xyz" matches nothing
    val recs = Seq((1L, "abc"), (2L, "abd"), (3L, "abcd"), (4L, "ab"),
      (5L, "xyz"), (6L, null.asInstanceOf[String])).toDF("id", "name")
    val got = FuzzyJoin.nearKeyPairs(recs, "id", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    assert(got == Set((1L, 2L, 1), (1L, 3L, 1), (1L, 4L, 1),
      (2L, 3L, 1), (2L, 4L, 1)), got.toString)
  }

  test("FastSS candidates lose nothing vs the exhaustive join") {
    val c = spark.read
      .parquet("/root/testdata/sf0.001/customer.parquet")
      .filter(pmod(col("c_custkey"), lit(5L)) === 0L)
      .select(col("c_custkey"), col("c_name"))
    val naive = c.as("a").crossJoin(c.as("b"))
      .filter(col("a.c_custkey") < col("b.c_custkey") &&
        levenshtein(col("a.c_name"), col("b.c_name")) <= 1)
      .select(col("a.c_custkey"), col("b.c_custkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fast = FuzzyJoin.customerNameDups(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast == naive, s"FastSS ${fast.size} vs naive ${naive.size}")
    assert(naive.nonEmpty, "fixture has no distance-1 neighbors to prove")
    // linear candidate shape: no CartesianProduct in the FastSS plan
    val plan = FuzzyJoin.customerNameDups(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(800))
  }

  test("depth-2 neighborhood: two-edit pairs found, naive-equivalent") {
    import spark.implicits._
    // two substitutions ("abcdef"~"axcxef"), sub+delete ("abcdef"~"axcde"),
    // two inserts ("abcdef"~"abQcdeRf"); "zzzzzz" is 6 edits from all
    val recs = Seq((1L, "abcdef"), (2L, "axcxef"), (3L, "axcde"),
      (4L, "abQcdeRf"), (5L, "zzzzzz")).toDF("id", "name")
    val got = FuzzyJoin.nearKeyPairs(recs, "id", "name", maxDist = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got((1L, 2L)) == 2 && got((1L, 3L)) == 2 && got((1L, 4L)) == 2)
    assert(!got.keySet.exists { case (a, b) => a == 5L || b == 5L })
    // completeness vs naive lev <= 2 on real names (the gate's slice)
    val c = spark.read
      .parquet("/root/testdata/sf0.01/customer.parquet")
      .filter(pmod(col("c_custkey"), lit(40L)) === 0L)
      .select(col("c_custkey"), col("c_name"))
    val naive = c.as("a").crossJoin(c.as("b"))
      .filter(col("a.c_custkey") < col("b.c_custkey") &&
        levenshtein(col("a.c_name"), col("b.c_name")) <= 2)
      .count()
    val fast = FuzzyJoin.customerNameDups2(spark, "/root/testdata/sf0.01")
      .count()
    assert(fast == naive && naive > 0, s"FastSS $fast vs naive $naive")
  }

  test("long keys: variants are never truncated (1200-char insert pair)") {
    import spark.implicits._
    // regression: a fixed suffix cap (999) silently truncated deletion
    // variants of long keys, losing genuine distance-1 pairs — an
    // insertion near the FRONT of a 1200-char string only matches via
    // the full-length deletion variant
    val base = "ab" + ("x" * 1198)
    val inserted = "a" + "Q" + base.substring(1) // insert at position 2
    val recs = Seq((1L, base), (2L, inserted)).toDF("id", "name")
    val got = FuzzyJoin.nearKeyPairs(recs, "id", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toList == List((1L, 2L, 1)), got.toList.toString)
  }

  test("entity resolution: transitive linking, singletons unreported") {
    import spark.implicits._
    // chain 1-"abc" ~ 2-"abd" ~ 3-"abdd" (1~3 is distance 2: entity only
    // via transitivity); isolated pair 10-"pqr" ~ 11-"pqs"; singleton 20
    val recs = Seq((1L, "abc"), (2L, "abd"), (3L, "abdd"),
      (10L, "pqr"), (11L, "pqs"), (20L, "zzz")).toDF("id", "name")
    val got = FuzzyJoin.entities(recs, "id", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got == Set((1L, 3L, 6L), (10L, 2L, 21L)), got.toString)
  }
}

class CmsSketchSpec extends SparkSpec {
  import graft.functions.CmsSketch.cms_sketch

  test("grid row sums equal the input count; merge is repartition-stable") {
    import spark.implicits._
    val depth = 4; val width = 256
    val vals = (1 to 3000).map(i => s"k${i % 97}")
    val one = vals.toDF("v")
      .agg(cms_sketch(col("v"), depth, width)).collect().head.getSeq[Long](0)
    // every row of the grid counts every input exactly once
    (0 until depth).foreach { r =>
      assert(one.slice(r * width, (r + 1) * width).sum == 3000L, s"row $r")
    }
    // partials merge associatively: any partitioning, same grid
    val seven = vals.toDF("v").repartition(7)
      .agg(cms_sketch(col("v"), depth, width)).collect().head.getSeq[Long](0)
    assert(one == seven)
  }

  test("grid cells match a reference build; estimates never undercount") {
    import spark.implicits._
    val depth = 4; val width = 256
    val vals = (1 to 2000).map(i => s"x${i % 331}")
    // reference grid from the same md5-byte row hashes, built in plain Scala
    val md = java.security.MessageDigest.getInstance("MD5")
    val ref = new Array[Long](depth * width)
    vals.foreach { v =>
      val h = graft.functions.SimHash64.md5Low64(md, v.getBytes("UTF-8"))
      (0 until depth).foreach { r =>
        ref(r * width + (((h >>> (8 * r)) & 0xffL) % width).toInt) += 1L }
    }
    val got = vals.toDF("v")
      .agg(cms_sketch(col("v"), depth, width)).collect().head.getSeq[Long](0)
    assert(got == ref.toSeq)
    // point estimates: min over rows >= true count for every key
    vals.distinct.foreach { v =>
      val h = graft.functions.SimHash64.md5Low64(md, v.getBytes("UTF-8"))
      val est = (0 until depth).map(r =>
        ref(r * width + (((h >>> (8 * r)) & 0xffL) % width).toInt)).min
      assert(est >= vals.count(_ == v).toLong, v)
    }
  }

  test("q27 gate: estimates bound exact counts; aggregate plans partials") {
    val out = graft.queries.Analytics
      .q27CmsFreq(spark, "/root/testdata/sf0.001")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(800))
    assert(plan.contains("partial_cms_sketch"), plan.take(800))
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"CMS undercounted station ${r.get(0)}") }
  }

  test("rejects bad geometry and non-string input") {
    import spark.implicits._
    val df = Seq("a").toDF("v")
    intercept[IllegalArgumentException] {
      df.agg(cms_sketch(col("v"), 9, 256)).collect()
    }
    intercept[IllegalArgumentException] {
      df.agg(cms_sketch(col("v"), 4, 100)).collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1L).toDF("v").agg(cms_sketch(col("v"), 4, 256)).collect()
    }
  }
}

class GraphOpsSpec extends SparkSpec {
  import graft.ext.graph.GraphOps

  test("pagerank fixed point: a symmetric 2-cycle keeps rank at SCALE") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    // teleport 150000 + 85% of 1e6 = 1e6 exactly: the recurrence's fixed
    // point, so ANY iteration count must return SCALE for both nodes
    for (iters <- Seq(1, 4)) {
      val pr = GraphOps.pagerank(edges, iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(pr == Map(1L -> 1000000L, 2L -> 1000000L), s"iters=$iters")
    }
  }

  test("pagerank: a star center out-ranks its leaves") {
    import spark.implicits._
    val leaves = (2L to 9L)
    val edges = (leaves.map(l => (1L, l)) ++ leaves.map(l => (l, 1L)))
      .toDF("src", "dst")
    val pr = GraphOps.pagerank(edges, 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(leaves.forall(l => pr(1L) > pr(l)))
    // leaves are symmetric: identical rank
    assert(leaves.map(pr).toSet.size == 1)
  }

  test("pagerank result is invariant to checkpoint cadence") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (3L, 2L),
      (2L, 1L)).toDF("src", "dst")
    def run(every: Int) = GraphOps.pagerank(edges, 6, checkpointEvery = every)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(run(1) == run(100))
  }

  /** Brute-force per-node triangle counts: enumerate all id-ordered
    * vertex triples with all three edges present.
    */
  private def bruteTriangles(und: Set[(Long, Long)]): Map[Long, Long] = {
    val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val counts = scala.collection.mutable.Map[Long, Long]()
    for {
      i <- nodes.indices; j <- (i + 1) until nodes.size
      k <- (j + 1) until nodes.size
      (x, y, z) = (nodes(i), nodes(j), nodes(k))
      if und((x, y)) && und((y, z)) && und((x, z))
    } Seq(x, y, z).foreach(v => counts(v) = counts.getOrElse(v, 0L) + 1L)
    counts.toMap
  }

  test("triangleCounts: planted triangle + hub wedge that must NOT count") {
    import spark.implicits._
    // K3 on {1,2,3}; node 4 is a hub touching 1 and 2 (an open wedge),
    // node 5 dangles off 3 — hub wedges and pendant edges contribute 0
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L),
      (3L, 5L))
    val got = GraphOps.triangleCounts(und.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // {1,2,4} IS a triangle too (edges 1-2, 1-4, 2-4)
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
  }

  test("triangleCounts == brute force on random graphs (incl. skewed)") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    for (trial <- 0 until 5) {
      val n = 12 + trial * 3
      // dense-ish random graph plus a deliberate hub (node 0 wired to
      // everything) so the orientation's skew handling is exercised
      val base = for {
        a <- 0L until n; b <- (a + 1) until n
        if rnd.nextInt(100) < 25 || a == 0L
      } yield (a, b)
      val got = GraphOps.triangleCounts(base.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == bruteTriangles(base.toSet), s"trial=$trial")
    }
  }

  test("bfsLevels == brute force; unreachable nodes absent") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    for (trial <- 0 until 4) {
      val n = 14 + trial * 4
      val und = (for {
        a <- 0L until n; b <- (a + 1) until n
        if rnd.nextInt(100) < 12
      } yield (a, b)) :+ (((n - 2).toLong, (n - 1).toLong))
      val adj = scala.collection.mutable.Map[Long, List[Long]]()
        .withDefaultValue(Nil)
      und.foreach { case (a, b) =>
        adj(a) = b :: adj(a); adj(b) = a :: adj(b) }
      val src = und.map(_._1).min
      // plain BFS reference
      val want = scala.collection.mutable.Map(src -> 0L)
      var cur = List(src); var lvl = 0L
      while (cur.nonEmpty) {
        lvl += 1
        val next = cur.flatMap(adj).distinct.filterNot(want.contains)
        next.foreach(v => want(v) = lvl)
        cur = next
      }
      val got = GraphOps.bfsLevels(und.toDF("a", "b"), src)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want.toMap, s"trial=$trial")
    }
  }

  test("kCore == brute-force peeling; empty core is empty, not an error") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    for ((k, trial) <- Seq((3, 0), (4, 1), (5, 2))) {
      val n = 16 + trial * 4
      val und = for {
        a <- 0L until n; b <- (a + 1) until n
        if rnd.nextInt(100) < 30
      } yield (a, b)
      var e = und.toSet
      var stable = false
      while (!stable) {
        val deg = e.toSeq.flatMap(p => Seq(p._1, p._2))
          .groupBy(identity).map { case (v, g) => v -> g.size }
        val keep = deg.filter(_._2 >= k).keySet
        val ne = e.filter(p => keep(p._1) && keep(p._2))
        if (ne == e) stable = true else e = ne
      }
      val want = e.toSeq.flatMap(p => Seq(p._1, p._2))
        .groupBy(identity).map { case (v, g) => v -> g.size.toLong }
      val got = GraphOps.kCore(und.toDF("a", "b"), k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"k=$k trial=$trial")
    }
    // a graph with no k-core yields an empty frame
    val sparse = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    assert(GraphOps.kCore(sparse, 3).count() == 0)
  }

  test("triangleCounts counts each triangle once despite degree ties") {
    import spark.implicits._
    // C4 with one chord: all-tied degrees on the cycle break by id
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L))
    val got = GraphOps.triangleCounts(und.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }
}

class MarkupSpec extends SparkSpec {
  import graft.ext.text.Markup

  private def ex(html: String): String = {
    import spark.implicits._
    Seq(html).toDF("h").select(Markup.extractMain(col("h"))).head.getString(0)
  }

  test("script/style/comment content vanishes, even with a bare < inside") {
    assert(ex("<body><script>if(1<2){x()}</script><p>keep</p>" +
      "<style>a{b:c}</style><!-- secret --></body>") == "keep")
  }

  test("article wins over main wins over chrome-stripped body") {
    val page = "<body><nav>no</nav><main>m</main>" +
      "<article>a</article><footer>no</footer></body>"
    assert(ex(page) == "a")
    assert(ex("<body><nav>no</nav><main>m</main><aside>no</aside></body>")
      == "m")
    assert(ex("<body><header>no</header><p>fallback text</p>" +
      "<footer>no</footer></body>") == "fallback text")
  }

  test("entity decode is ordered: &amp;lt; stays literal &lt;") {
    assert(ex("<body><p>a &amp;lt; b &lt;c&gt; &nbsp; d</p></body>")
      == "a &lt; b <c> d")
  }

  test("no body tag: whole input is the fallback region") {
    assert(ex("<nav>no</nav><p>bare</p>") == "bare")
    assert(ex("plain words only") == "plain words only")
  }

  test("whitespace collapses across stripped tag boundaries") {
    assert(ex("<body><p>a</p>\n\n<p>b</p>\t<br/>c</body>") == "a b c")
  }

  test("extraction is a pure projection: no exchange in the plan") {
    import spark.implicits._
    val df = Seq((1L, "t")).toDF("doc_id", "text")
      .select(Markup.extractMain(Markup.wrapSiteA(col("doc_id"),
        col("text"))))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }
}
