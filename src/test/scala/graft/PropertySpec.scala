package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.PolyHash.poly_hash

/** Property tests over generated inputs (seeded ScalaCheck Gens, driven
  * manually — no scalatest/scalacheck bridge in the dependency set).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("polyhash(expression) == reference fold for arbitrary unicode strings") {
    def ref(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % 1000000007L)
    val strs = samples(Gen.asciiPrintableStr, 60) ++
      samples(Gen.listOf(Gen.choose(32, 0x10FFFF)).map(
        _.filterNot(c => c >= 0xD800 && c <= 0xDFFF)
         .map(Character.toChars).map(String.valueOf).mkString), 40)
    val got = strs.toDF("text").select(poly_hash(col("text"))).collect()
      .map(_.getLong(0)).toSeq
    assert(got == strs.map(ref))
  }

  test("shingle_array == the declarative HOF chain on arbitrary token arrays") {
    val toks = samples(Gen.listOf(Gen.oneOf(
      "a", "b", "c", "spark", "x y", "", "δ", "tok1", "tok2",
      null.asInstanceOf[String])), 100)
    for (n <- Seq(1, 2, 3, 5)) {
      val df = toks.map(t => Tuple1(t)).toDF("t")
      val hof = df.select(
        when(size(col("t")) >= n,
          array_distinct(transform(
            sequence(lit(0), size(col("t")) - n),
            i => concat_ws(" ", slice(col("t"), i + 1, lit(n))))))
          .otherwise(array().cast("array<string>")).as("sh"))
        .collect().map(_.getSeq[String](0).toList)
      val fast = df.select(
        graft.functions.ShingleArray.shingle_array(col("t"), n).as("sh"))
        .collect().map(_.getSeq[String](0).toList)
      assert(fast.toSeq == hof.toSeq, s"mismatch at n=$n")
      // the multiplicity form: every occurrence in order, exactly
      // max(0, len - n + 1) of them, and distinct-of-all == the set form
      val all = df.select(
        graft.functions.ShingleArray.shingle_array_all(col("t"), n).as("sh"))
        .collect().map(_.getSeq[String](0).toList)
      val lens = df.select(size(col("t"))).collect().map(_.getInt(0))
      all.zip(lens).foreach { case (sh, len) =>
        assert(sh.length == math.max(0, len - n + 1),
          s"occurrence count wrong at n=$n: $sh")
      }
      assert(all.map(_.distinct).toSeq == fast.toSeq,
        s"distinct-of-all != set form at n=$n")
    }
  }

  test("wire json roundtrip: to_json then parseWire is the identity") {
    val msgs = graft.gen.StationSource.messages(spark, 5, 50)
    val json = graft.gen.StationSource.messagesAsJson(spark, 5, 50)
    val back = graft.core.Normalize.parseWire(json.select("value"))
    assert(back.count() == msgs.count())
    assert(back.exceptAll(msgs).count() == 0)
    assert(msgs.exceptAll(back).count() == 0)
  }

  test("dedup is idempotent and replay-invariant for arbitrary replication") {
    val archive = graft.core.Normalize.toArchive(
      graft.gen.StationSource.messages(spark, 4, 40))
    samples(Gen.choose(2, 4), 3).foreach { k =>
      val replayed = (1 to k).map(_ => archive).reduce(_ union _)
      assert(graft.core.Dedup.exactReplays(replayed).count() == archive.count())
      assert(graft.core.Dedup.deterministic(replayed).count() == archive.count())
    }
  }

  test("latest-per-key is invariant to input order") {
    val archive = graft.core.Normalize.toArchive(
      graft.gen.StationSource.messages(spark, 6, 60))
    val a = graft.core.LatestState.latest(archive)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val shuffled = graft.core.LatestState.latest(
      archive.orderBy(rand(7L)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(a == shuffled)
  }

  test("merge/cdc algebra: empty feeds are identity, disjoint deltas are union") {
    import graft.lake.Archive
    val base = samples(Gen.choose(1L, 40L), 60).distinct
      .map(k => (k, s"v$k")).toDF("k", "s")
    val n = base.count()
    // empty delta/feed: the snapshot is unchanged
    val emptyDelta = Seq.empty[(Long, String)].toDF("k", "s")
    assert(Archive.mergeUpsert(base, emptyDelta, Seq("k")).count() == n)
    val emptyFeed = Seq.empty[(Long, String, Long, String)]
      .toDF("k", "s", "version", "op")
    assert(Archive.cdcApply(base, emptyFeed, Seq("k"), "version", "op")
      .count() == n)
    // disjoint delta (keys > 100): merge == plain union
    val disjoint = samples(Gen.choose(101L, 140L), 30).distinct
      .map(k => (k, s"d$k")).toDF("k", "s")
    val merged = Archive.mergeUpsert(base, disjoint, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    val union = base.unionByName(disjoint)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(merged.sameElements(union))
    // cdc with every key deleted: empty snapshot
    val killAll = base.select(col("k"), col("s"),
      lit(1L).as("version"), lit("D").as("op"))
    assert(Archive.cdcApply(base, killAll, Seq("k"), "version", "op")
      .count() == 0)
  }

  test("skew ladder CASE chain equals floor(log2) for all counts up to 2^21") {
    // the operator deliberately avoids libm log2; this proves the integer
    // ladder IS floor(log2(cnt)) capped at 21, across every boundary
    val counts = samples(Gen.choose(1L, (1L << 21) + 7), 200) ++
      (0 to 21).map(b => 1L << b) ++ (1 to 21).map(b => (1L << b) - 1)
    val df = counts.zipWithIndex.map { case (c, i) => (i.toLong, c) }
      .toDF("key", "reps")
    // build a frame where key i appears reps_i times, then run skewReport
    val expanded = df.select(col("key"),
      explode(expr("sequence(1, reps)")).as("x"))
    val rep = graft.ext.profile.Profile.skewReport(expanded, "key").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(3))).toMap
    def refBucket(c: Long): Int =
      math.min(21, (63 - java.lang.Long.numberOfLeadingZeros(c)))
    val expect = counts.groupBy(refBucket).map { case (b, cs) =>
      b -> (cs.size.toLong, cs.max) }
    assert(rep == expect, s"got $rep\nexpect $expect")
  }

  test("wire source partition slices reassemble the whole frame set exactly") {
    // the station-range split must partition the survivors: the union of
    // per-partition reads equals a single-partition read, bit for bit
    def readAll(parts: Int): Seq[(String, String)] = {
      val df = spark.readStream
        .format(classOf[graft.sources.WireSourceProvider].getName)
        .option("stations", 13).option("perStation", 9)
        .option("ticksPerBatch", 9).option("numPartitions", parts)
        .load()
      val name = s"wire_prop_$parts"
      val q = df.selectExpr("CAST(key AS STRING) AS k",
          "CAST(value AS STRING) AS v")
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try { q.processAllAvailable()
        spark.table(name).collect().map(r => (r.getString(0), r.getString(1)))
          .toSeq.sorted
      } finally { q.stop(); spark.catalog.dropTempView(name) }
    }
    val one = readAll(1)
    assert(one.nonEmpty)
    assert(readAll(5) == one)
    assert(readAll(13) == one)
  }

  test("sequence packing conserves chunks and bounds overflow for random corpora") {
    val docs = samples(for {
      n <- Gen.choose(0, 120)
      ws <- Gen.listOfN(n, Gen.identifier.map(_.take(4)))
    } yield ws.mkString(" "), 30).zipWithIndex
      .map { case (t, i) => (i.toLong, if (t.trim.isEmpty) "x" else t) }
    val df = docs.toDF("doc_id", "text").withColumn("source", lit("s"))
    val chunks = graft.ext.text.TextAnalysis.chunkTokens(df)
    val total = chunks.agg(sum(col("n_chunk_tokens"))).collect()
      .head.getLong(0)
    // packSequences reads documents.parquet via dir; use the Of-shape by
    // writing a scratch table
    val dir = tmpDir("pack_prop")
    df.select("doc_id", "source", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val seqs = graft.ext.corpus.Corpus.packSequences(spark, dir, seqLen = 48L)
      .collect()
    assert(seqs.map(_.getAs[Long]("seq_tokens")).sum == total)
    seqs.foreach { r =>
      val ov = r.getAs[Long]("overflow_tokens")
      assert(ov >= 0 && ov < graft.ext.text.TextAnalysis.ChunkSize)
      assert(r.getAs[Long]("seq_tokens") <= 48L + ov)
    }
  }

  test("as-of forward on a reversed timeline equals backward on the original") {
    import graft.operators.AsOfJoin
    // negate every timestamp: at-or-before on t is at-or-after on -t, so
    // backward(t) and forward(-t) must pick the SAME build rows (ties
    // excluded: tie-break order is direction-independent only for
    // distinct build timestamps, so the gen keeps them unique)
    val ts = samples(Gen.choose(1L, 100000L), 50).distinct
    val build = ts.zipWithIndex
      .map { case (t, i) => (1L, t, i.toLong) }
      .toDF("k", "t", "id")
      .select(col("k"), timestamp_seconds(col("t")).as("t"), col("id"))
    val probes = samples(Gen.choose(1L, 100000L), 30).distinct
      .map(p => (1L, p)).toDF("k", "pt")
      .select(col("k"), timestamp_seconds(col("pt")).as("pt"))
    val negBuild = build.select(col("k"),
      timestamp_seconds(-unix_timestamp(col("t"))).as("t"), col("id"))
    val negProbes = probes.select(col("k"),
      timestamp_seconds(-unix_timestamp(col("pt"))).as("pt"))
    def ids(df: org.apache.spark.sql.DataFrame,
        probeFrame: org.apache.spark.sql.DataFrame,
        forward: Boolean): Map[Long, Long] =
      AsOfJoin.asOf(probeFrame, df, Seq("k"), "pt", "t",
          buildTieBreak = Seq("id"), forward = forward)
        .select(abs(unix_timestamp(col("pt"))).as("pt"), col("matched.id"))
        .collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toMap
    val backward = ids(build, probes, forward = false)
    val forward = ids(negBuild, negProbes, forward = true)
    assert(backward.nonEmpty)
    assert(backward == forward)
  }

  test("simhash hamming distance is monotone in token overlap (statistically)") {
    import graft.ext.dedup.TextDedup.simhash
    val base = (1 to 40).map(i => s"tok$i")
    // replace m tokens: hamming should trend upward with m
    val rows = Seq(0, 5, 20, 40).map { m =>
      val mutated = base.zipWithIndex.map { case (t, i) =>
        if (i < m) s"other$i" else t }
      (m.toLong, mutated.mkString(" "))
    }
    val hs = (rows :+ (-1L, base.mkString(" ")))
      .toDF("m", "text")
      .select(col("m"), simhash(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val origin = hs(-1L)
    val dists = Seq(0, 5, 20, 40).map(m =>
      java.lang.Long.bitCount(origin ^ hs(m.toLong)))
    assert(dists.head == 0)
    assert(dists(1) < dists(3), s"dists=$dists")
  }

  test("FastSS fuzzy join == brute-force levenshtein at depths 1 and 2") {
    // small alphabet + short lengths makes distance-1/2 pairs dense, so
    // the completeness lemma is exercised on every edit mix (including
    // empty strings and equal strings under distinct keys)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val strs = samples(for {
      n <- Gen.choose(0, 8)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString, 80)
    val recs = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "name")
    for (k <- Seq(1, 2)) {
      val expected = (for {
        i <- strs.indices; j <- strs.indices if i < j
        d = lev(strs(i), strs(j)) if d <= k
      } yield (i.toLong, j.toLong, d)).toSet
      val got = graft.ext.link.FuzzyJoin
        .nearKeyPairs(recs, "id", "name", maxDist = k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
      assert(got == expected,
        s"k=$k: missing=${expected -- got} extra=${got -- expected}")
    }
  }

  test("variant_get agrees with from_json over random JSON and junk") {
    // random well-formed {"k": n} docs interleaved with junk shapes: the
    // two JSON front doors (from_json struct vs parse_json variant) must
    // produce identical extractions, and junk must null out, not throw
    val goodJson = Gen.choose(-1000000, 1000000).map(n => s"""{"k": $n}""")
    val junk = Gen.oneOf(
      """{"k": "str"}""", """{"k": null}""", """{"j": 5}""", "{broken",
      "", "[]", "null", """{"k": [1]}""", """{"k": {"x": 1}}""")
    val docs = samples(Gen.oneOf(goodJson, junk), 200).zipWithIndex
      .map { case (s, i) => (i.toLong, s) }
    val df = docs.toDF("id", "props")
    val viaStruct = df.select(col("id"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.IntegerType)))).as("p"))
      .select(col("id"), col("p.k").as("k")).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    val viaVariant = df.select(col("id"),
        expr("try_variant_get(try_parse_json(props), '$.k', 'int')").as("k"))
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(viaStruct == viaVariant,
      s"front doors disagree: ${viaStruct.collect {
        case (k, v) if viaVariant(k) != v => (k, v, viaVariant(k)) }}")
    // every good doc extracted; no exception reached this line for junk
    val good = docs.collect { case (i, s) if s.startsWith("""{"k": """) &&
      !s.contains("\"str\"") && !s.contains("null") && !s.contains("[") &&
      !s.contains("{\"x\"") => i }.toSet
    assert(good.forall(viaVariant(_).isDefined))
  }

  test("pivot/unpivot round trip conserves the long-form counts") {
    // the unpivot of the zero-filled pivot must equal the plain
    // groupBy count on the dense grid — checked on the corpus itself
    val dir = "/root/testdata/sf0.001"
    val long = graft.queries.Analytics.q14Unpivot(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val base = graft.util.EventTs.readEvents(spark, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("date"),
        col("event_type"))
      .count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // every real (date, type) count survives the round trip...
    base.foreach { case (k, n) =>
      assert(long.get(k).contains(n), s"$k: ${long.get(k)} vs $n") }
    // ...and the extra rows are exactly the zero fills of the dense grid
    assert(long.filterNot { case (k, _) => base.contains(k) }
      .values.forall(_ == 0L))
    val dates = base.keys.map(_._1).toSet
    assert(long.size == dates.size * 5)
  }

  test("cube equals the union of its four grouping sets") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.Analytics.q13Cube(spark, dir).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getInt(2)) -> (r.getLong(3), r.getDouble(4)))
      .toMap
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    def agg(gby: Seq[String]): Seq[((Option[String], Option[String]), (Long, Double))] = {
      val grouped = if (gby.isEmpty)
        li.agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("q"))
      else li.groupBy(gby.map(col): _*)
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("q"))
      grouped.collect().map { r =>
        val rf = if (gby.contains("l_returnflag"))
          Some(r.getAs[String]("l_returnflag")) else None
        val ls = if (gby.contains("l_linestatus"))
          Some(r.getAs[String]("l_linestatus")) else None
        (rf, ls) -> ((r.getAs[Long]("n"), r.getAs[Double]("q")))
      }.toSeq
    }
    val want =
      agg(Seq("l_returnflag", "l_linestatus")).map { case (k, v) => (k._1, k._2, 0) -> v } ++
      agg(Seq("l_returnflag")).map { case (k, v) => (k._1, None, 1) -> v } ++
      agg(Seq("l_linestatus")).map { case (k, v) => (None, k._2, 2) -> v } ++
      agg(Seq.empty).map { case (k, v) => (None, None, 3) -> v }
    assert(got.size == want.size)
    want.foreach { case (k, (n, q)) =>
      val (gn, gq) = got(k)
      assert(gn == n && gq == q, s"$k: got=($gn,$gq) want=($n,$q)")
    }
  }

  test("winnow_fp expression == the declarative HOF chain, all (k, w)") {
    // the fused codegen expression must stay bit-identical (values AND
    // first-occurrence order) to the three-lambda chain it replaced,
    // including null tokens (concatWs-skip semantics) and the short-doc
    // boundary windows
    val toks = samples(Gen.listOf(Gen.oneOf(
      "a", "bb", "c", "dd", "e", null.asInstanceOf[String])), 150)
    val df = toks.map(Tuple1(_)).toDF("t")
    for ((k, w) <- Seq((3, 4), (2, 3), (1, 2), (4, 1))) {
      val gh = df.select(col("t"),
        when(size(col("t")) < k, array().cast("array<long>"))
          .otherwise(transform(
            graft.functions.ShingleArray.shingle_array_all(col("t"), k),
            s => poly_hash(s))).as("gh"))
      val hof = gh.select(
        when(size(col("gh")) === 0, array().cast("array<long>"))
          .otherwise(array_distinct(transform(
            sequence(lit(1), greatest(lit(1), size(col("gh")) - (w - 1))),
            i => array_min(slice(col("gh"), i, lit(w)))))).as("fp"))
        .collect().map(_.getSeq[Long](0).toList).toSeq
      val fused = df.select(
        when(size(col("t")) < k, array().cast("array<long>"))
          .otherwise(graft.functions.WinnowFp.winnow_fp(col("t"), k, w))
          .as("fp"))
        .collect().map(_.getSeq[Long](0).toList).toSeq
      assert(fused == hof, s"divergence at k=$k w=$w: " +
        fused.zip(hof).zipWithIndex.collectFirst {
          case ((f, h), i) if f != h => s"row $i ${toks(i)}: $f vs $h" })
    }
  }

  test("unicode_normalize == java.text.Normalizer on adversarial strings") {
    import graft.functions.UnicodeNormalize.unicode_normalize
    // combining marks, Hangul jamo (compose to syllables under NFC),
    // compatibility ligatures (fold only under NFKC/NFKD), plus plain
    // ASCII and junk
    val atoms = Seq("a", "\u00e9", "e\u0301", "\u00c5", "A\u030A",
      "\uAC00", "\u1100\u1161", "\uFB01", "fi", " ", "\u00BD", "\u00DF")
    val doc = Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, Gen.oneOf(atoms)))
      .map(_.mkString)
    val strs = samples(doc, 120) ++ Seq("")
    for (form <- Seq("NFC", "NFD", "NFKC", "NFKD")) {
      val got = strs.toDF("s")
        .select(unicode_normalize(col("s"), form))
        .collect().map(_.getString(0)).toSeq
      val want = strs.map(s => java.text.Normalizer.normalize(s,
        java.text.Normalizer.Form.valueOf(form)))
      assert(got == want, s"form=$form")
      // idempotence: normalizing twice is a no-op
      val twice = got.map(s => java.text.Normalizer.normalize(s,
        java.text.Normalizer.Form.valueOf(form)))
      assert(twice == got, s"form=$form not idempotent")
    }
    // null passes through; bad form rejected at construction
    assert(Seq(Tuple1(null.asInstanceOf[String])).toDF("s")
      .select(unicode_normalize(col("s"))).collect()(0).isNullAt(0))
    intercept[IllegalArgumentException] {
      unicode_normalize(col("s"), "NFX")
    }
  }

  test("winnow_fp codegen compiles (no silent interpreted fallback)") {
    // the fused expression's whole point is the generated loop; if Janino
    // ever rejects the generated Java (e.g. the parameterized
    // LinkedHashSet + autoboxing), Spark silently falls back to
    // interpreted eval — correct but slow. Compiling the projection
    // directly turns that regression into a loud failure.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val expr = graft.functions.WinnowFp(
      BoundReference(0, ArrayType(StringType), nullable = true), 3, 4)
    val proj = GenerateMutableProjection.generate(Seq(expr))
    val toks = new GenericArrayData(
      "a b c d e f g h".split(" ")
        .map(UTF8String.fromString(_): AnyRef))
    val out = proj(InternalRow(toks)).getArray(0)
    val viaDf = Seq(Tuple1("a b c d e f g h".split(" ").toSeq)).toDF("t")
      .select(graft.functions.WinnowFp.winnow_fp(col("t"), 3, 4))
      .collect()(0).getSeq[Long](0)
    assert((0 until out.numElements()).map(out.getLong) == viaDf)
  }

  test("bpe_tokenize + unicode_normalize codegen compiles (no silent interpreted fallback)") {
    // same rationale as the winnow guard: both ship doGenCode paths
    // whose generated Java references plan objects (BpeCodec,
    // UnicodeNormalize$.MODULE$); a Janino rejection would silently
    // fall back to interpreted eval — correct results, unguarded
    // performance regression. Compiling the projections directly turns
    // that into a loud failure.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val bpe = graft.functions.BpeTokenize(
      BoundReference(0, StringType, nullable = true),
      graft.ext.text.TextAnalysis.BpeFixtureMerges)
    val bpeProj = GenerateMutableProjection.generate(Seq(bpe))
    val bpeOut = bpeProj(
      InternalRow(UTF8String.fromString("lower batch"))).getArray(0)
    val bpeViaDf = Seq("lower batch").toDF("s")
      .select(graft.functions.BpeTokenize.bpe_tokenize(col("s"),
        graft.ext.text.TextAnalysis.BpeFixtureMerges))
      .collect()(0).getSeq[String](0)
    assert((0 until bpeOut.numElements())
      .map(bpeOut.getUTF8String(_).toString) == bpeViaDf)
    val nfc = graft.functions.UnicodeNormalize(
      BoundReference(0, StringType, nullable = true), "NFC")
    val nfcProj = GenerateMutableProjection.generate(Seq(nfc))
    val composed = nfcProj(
      InternalRow(UTF8String.fromString("cafe\u0301"))).getUTF8String(0)
    assert(composed.toString == "caf\u00e9")
  }

  test("winnow fingerprints equal a plain-Scala reference on random corpora") {
    // random docs over a deliberately tiny vocabulary (dense gram
    // collisions, repeated grams within a doc, window ties) plus the
    // degenerate lengths around k and w — the fixture spec covers the
    // curated cases; this pins the selection rule on the adversarial ones
    val vocab = Gen.oneOf("a", "b", "c", "d")
    val doc = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, vocab))
      .map(_.mkString(" "))
    val texts = samples(doc, 120).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    def ph(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((a, b) =>
        (a * 31 + (b & 0xff)) % 1000000007L)
    def ref(text: String): (Int, Int, Long) = {
      val t = text.trim.split(" ")
      if (text.trim.isEmpty || t.length < 3) (0, 0, 0L)
      else {
        val gh = t.sliding(3).map(g => ph(g.mkString(" "))).toVector
        val fp = (1 to math.max(1, gh.length - 3))
          .map(i => gh.slice(i - 1, i + 3).min).toSet
        (gh.length, fp.size, fp.sum)
      }
    }
    val scratch = graft.util.Scratch.dir("graft_winnow_prop").toString
    texts.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$scratch/documents.parquet")
    val got = graft.ext.text.TextAnalysis.winnowFingerprints(spark, scratch)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3))))
      .toMap
    val want = texts.map { case (id, t) => id -> ref(t) }.toMap
    assert(got == want,
      s"mismatches: ${want.collect { case (k, v) if got(k) != v => (k, got(k), v) }}")
  }

  test("bm25 integer scorer equals a BigInt reference on random operands") {
    // operands spanning the documented envelope, including the
    // near-overflow corner (t_total to ~2^63/44) the round-9 rework
    // exists for; the BigInt reference is overflow-free by construction
    val gen = for {
      tf <- Gen.choose(1L, 5000L)
      dfv <- Gen.choose(1L, 1000000L)
      n <- Gen.choose(dfv, 2000000L)   // df <= n_docs
      dl <- Gen.choose(tf, 100000L)    // tf <= dl
      t <- Gen.choose(dl, Long.MaxValue / 44 - 1)  // t_total >= dl
    } yield (tf, dfv, dl, n, t)
    val rows = samples(gen, 150)
    val got = rows.toDF("tf", "df", "dl", "n_docs", "t_total")
      .select(graft.ext.text.TextAnalysis.bm25ScoreE6(1000000L).as("s"))
      .collect().map(_.getLong(0)).toSeq
    val S = BigInt(1000000)
    val want = rows.map { case (tf, dfv, dl, n, t) =>
      val idf = (2 * (BigInt(n) - dfv) + 1) * S / (2 * BigInt(dfv) + 1)
      val tfc = 44 * BigInt(tf) * S /
        (20 * BigInt(tf) + 6 + (18 * BigInt(dl) * n / t))
      idf * tfc / S
    }
    assert(got.map(BigInt(_)) == want)
    assert(got.forall(_ >= 0L), "scorer produced a negative score")
  }

  test("training shuffle equals a plain-Scala md5 reference computation") {
    import graft.ext.corpus.Corpus
    val dir = "/root/testdata/sf0.001"
    val ids = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    val md = java.security.MessageDigest.getInstance("MD5")
    // round-9 draw contract: md5 hex chars 1-12 (= bytes 0-5) assign the
    // shard, chars 13-24 (= bytes 6-11) the within-shard order — 48-bit
    // values, sign-safe in every engine's 64-bit integer type
    def draws(id: Long): (Int, Long) = {
      val d = md.digest(id.toString.getBytes("UTF-8"))
      def be(off: Int): java.math.BigInteger =
        new java.math.BigInteger(1, d.slice(off, off + 6))
      (be(0).mod(java.math.BigInteger.valueOf(8)).intValue,
        be(6).mod(java.math.BigInteger.valueOf(1L << 40)).longValue)
    }
    val ref = ids.map(id => (id, draws(id)))
      .groupBy(_._2._1)
      .map { case (shard, members) =>
        val ordered = members.sortBy { case (id, (_, draw)) => (draw, id) }
        val orderSum = ordered.zipWithIndex
          .map { case ((id, _), pos) => (pos + 1).toLong * id }.sum
        shard -> (members.length.toLong, members.map(_._1).sum, orderSum)
      }
    val got = Corpus.trainingShuffle(spark, dir).collect()
      .map(r => r.getAs[Int]("shard") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("sum_ids"),
          r.getAs[Long]("order_sum"))))
      .toMap
    assert(got == ref, s"got=$got ref=$ref")
    // the per-doc dump gate exposes the same two draws row-by-row
    val dumped = Corpus.trainingShuffleDraws(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getLong(2)))).toMap
    val wantDump = ids.filter(_ < 100L).map(id => id -> draws(id)).toMap
    assert(dumped == wantDump, s"draw dump mismatch")
  }

  test("dynamic-gap session_window == reference interval union on random events") {
    // the q37 oracle's algebra claim, stressed on random inputs with
    // duplicate timestamps and interleaved gap classes on a minute
    // grid — where exact window-end adjacency (impossible in the
    // jittered SF corpora) actually occurs. Spark MERGES an event
    // landing exactly on a session end, so the reference rule is
    // strictly "new session iff ts > running max of previous ends";
    // this test caught the >= form as a real off-by-boundary bug in
    // both session oracles
    for (round <- 0 until 3) {
      val rnd = new scala.util.Random(910 + round)
      val base = java.sql.Timestamp.valueOf("2024-02-01 00:00:00").getTime
      val rows = (0 until 60).map { _ =>
        val u = 1L + rnd.nextInt(3)
        val ts = base + rnd.nextInt(180) * 60000L // minute grid, dup-prone
        val long = rnd.nextBoolean()
        (u, new java.sql.Timestamp(ts), if (long) "L" else "S")
      }
      val df = rows.toDF("user_id", "ts", "cls")
      val got = df.groupBy(
          session_window(col("ts"),
            when(col("cls") === "L", "30 minutes")
              .otherwise("10 minutes")).as("w"),
          col("user_id"))
        .agg(count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getLong(1),
          r.getStruct(0).getTimestamp(0).getTime, r.getLong(2)))
        .sorted.toSeq
      // reference: per user, sort by ts, union [ts, ts+gap) intervals
      val want = rows.groupBy(_._1).toSeq.flatMap { case (u, rs) =>
        val evs = rs.map(r => (r._2.getTime,
          if (r._3 == "L") 1800000L else 600000L)).sortBy(_._1)
        val sessions = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        var start = -1L; var end = -1L; var n = 0L
        evs.foreach { case (t, g) =>
          if (start < 0 || t > end) {
            if (start >= 0) sessions += ((start, n))
            start = t; end = t + g; n = 1
          } else { end = math.max(end, t + g); n += 1 }
        }
        if (start >= 0) sessions += ((start, n))
        sessions.map { case (s, cnt) => (u, s, cnt) }
      }.sorted
      assert(got == want, s"round $round")
    }
  }

  test("hotKeySplitJoin == plain join for random skew and thresholds") {
    import graft.operators.Scale
    for (round <- 0 until 3) {
      val rnd = new scala.util.Random(777 + round)
      // zipf-ish skew: key k appears ~ max(1, 40/k) times
      val fact = (1 to 20).flatMap { k =>
        (0 until math.max(1, 40 / k)).map(i => (k.toLong, k * 100L + i))
      }.toDF("k", "fv")
      // dim with some missing keys (join must drop them on both paths)
      val dim = (1 to 20).filter(_ % 3 != 0)
        .map(k => (k.toLong, s"d$k")).toDF("k", "dv")
      def canon(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
          .sorted.toSeq
      val want = canon(fact.join(dim, "k"))
      for (_ <- 0 until 3) {
        val t = 1L + rnd.nextInt(45)
        assert(canon(Scale.hotKeySplitJoin(fact, dim, "k", t)) == want,
          s"round $round threshold $t")
      }
    }
  }

  test("snapshot lifecycle: latest content survives random append/rewrite/vacuum") {
    import graft.lake.Snapshots
    for (round <- 0 until 2) {
      val table = tmpDir(s"snap_prop_$round")
      val content = scala.collection.mutable.ArrayBuffer[(Long, String)]()
      var nextId = 0L
      val rnd = new scala.util.Random(4242 + round)
      val ops = Seq.fill(7)(rnd.nextInt(3))
      var appended = false
      ops.foreach { op =>
        op match {
          case 0 =>
            val rows = (0 until 1 + rnd.nextInt(4)).map { _ =>
              nextId += 1; (nextId, s"v$nextId")
            }
            content ++= rows
            Snapshots.append(rows.toDF("id", "v"), table)
            appended = true
          case 1 if appended =>
            Snapshots.rewrite(spark, table)
          case 2 if appended =>
            Snapshots.vacuum(table, Snapshots.latestVersion(table))
          case _ => () // rewrite/vacuum before any append: no-op
        }
        // THE invariant: whatever the op mix, the latest version reads
        // back exactly the accumulated content
        if (appended) {
          val got = Snapshots.read(spark, table)
            .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
          assert(got == content.sorted.toSeq,
            s"round $round after ops $ops: ${got.size} vs ${content.size}")
        }
      }
      // and after a final rewrite+full vacuum, still intact
      if (appended) {
        Snapshots.rewrite(spark, table)
        Snapshots.vacuum(table, Snapshots.latestVersion(table))
        val got = Snapshots.read(spark, table)
          .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
        assert(got == content.sorted.toSeq)
      }
    }
  }

  test("ppjoin == exhaustive jaccard join for random small-vocab corpora") {
    // prefix filtering's losslessness rests on the prefix-filtering
    // THEOREM (+ the rounding-slack prefix sizing) — random corpora over
    // a tiny vocabulary force dense shingle collisions, duplicate docs,
    // and thresholds landing on rounding edges, which is exactly where a
    // sizing bug would surface
    import graft.ext.dedup.TextDedup
    val vocab = Vector("a", "b", "c", "d", "e")
    val docGen = Gen.choose(3, 18).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    for ((t, round) <- Seq((0.5, 0), (0.7, 1), (0.8, 2), (0.9, 3))) {
      val texts = (0 until 40).flatMap(i =>
        docGen.apply(Gen.Parameters.default, Seed(1000L * round + i)))
      val df = texts.zipWithIndex
        .map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
      def canon(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .toSet
      val want = canon(TextDedup.ngramJaccardPairsOf(df, t))
      val got = canon(TextDedup.ppjoinPairsOf(df, t))
      assert(got == want,
        s"t=$t: missing=${want -- got} extra=${got -- want}")
    }
  }

  test("ExactSubstr == naive reference on random low-entropy corpora") {
    // tiny alphabet forces genuine cross-doc repeated spans; the naive
    // reference recomputes selection + coverage + reassembly from first
    // principles (hot = k-gram in >= 2 distinct docs, token kept iff no
    // hot start covers it)
    val k = 3
    def naive(docs: Seq[(Long, String)]): Map[Long, (Int, Int, String)] = {
      val toks = docs.map { case (id, t) =>
        id -> (if (t == null) Array.empty[String]
               else t.trim.split(" ", -1)) }.toMap
      val grams = toks.toSeq.flatMap { case (id, ws) =>
        (0 to ws.length - k).map(i => (ws.slice(i, i + k).mkString(" "), id, i)) }
      val hot = grams.groupBy(_._1).filter(_._2.map(_._2).distinct.size >= 2)
        .keySet
      docs.map { case (id, _) =>
        val ws = toks(id)
        val bad = (0 to ws.length - k)
          .filter(i => hot(ws.slice(i, i + k).mkString(" "))).toSet
        val kept = ws.zipWithIndex.collect {
          case (w, j) if !bad.exists(s => j >= s && j < s + k) => w }
        id -> ((if (ws.isEmpty) 0 else ws.length, kept.length,
          kept.mkString(" ")))
      }.toMap
    }
    val word = Gen.oneOf("a", "b", "c")
    val doc = Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    (0 until 6).foreach { round =>
      val texts = samples(doc, 10).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      val scratch = graft.util.Scratch.dir(s"graft_substr_prop$round").toString
      texts.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$scratch/documents.parquet")
      val got = graft.ext.dedup.TextDedup
        .removeRepeatedSubstrings(spark, scratch, k = k)
        .collect().map(r => r.getLong(0) ->
          ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
      assert(got == naive(texts), s"round $round: $texts")
    }
  }

  test("AsOfJoinExec == union+window asOf on random keyed timelines") {
    import graft.operators.AsOfJoin
    val row = for {
      key <- Gen.choose(1L, 4L)
      ts <- Gen.choose(0L, 40L)
      id <- Gen.choose(0L, 1000L)
    } yield (key, ts, id)
    (0 until 5).foreach { round =>
      val buildRows = samples(row, 40).distinct
      val probeRows = samples(row.map(r => (r._1, r._2)), 25).distinct
      val build = buildRows.toDF("bk", "bt", "id")
        .select(col("bk"), timestamp_seconds(col("bt")).as("bt"), col("id"))
      val probe = probeRows.toDF("k", "pt")
        .select(col("k"), timestamp_seconds(col("pt")).as("pt"))
      def canon(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
        (r.getLong(0), r.getTimestamp(1).getTime,
          if (r.isNullAt(2)) -1L else r.getLong(2)) }.toSet
      val viaExec = canon(AsOfJoin.asOfExec(probe, build, Seq("k"),
          Seq("bk"), "pt", "bt", buildTie = Seq("id"))
        .select(col("k"), col("pt"), col("id")).collect())
      val viaWindow = canon(AsOfJoin.asOf(probe, build.toDF("k", "pt2", "id")
          .withColumnRenamed("pt2", "bt2")
          .select(col("k"), col("bt2"), col("id")),
          Seq("k"), "pt", "bt2", buildTieBreak = Seq("id"))
        .select(col("k"), col("pt"), col("matched.id")).collect())
      assert(viaExec == viaWindow, s"round $round")
      // strict and tolerance modes agree with the rewrite too
      val strictExec = canon(AsOfJoin.asOfExec(probe, build, Seq("k"),
          Seq("bk"), "pt", "bt", buildTie = Seq("id"), strict = true)
        .select(col("k"), col("pt"), col("id")).collect())
      val strictWindow = canon(AsOfJoin.asOf(probe,
          build.select(col("bk").as("k"), col("bt").as("bt2"), col("id")),
          Seq("k"), "pt", "bt2", buildTieBreak = Seq("id"), strict = true)
        .select(col("k"), col("pt"), col("matched.id")).collect())
      assert(strictExec == strictWindow, s"strict round $round")
      val tolExec = canon(AsOfJoin.asOfExec(probe, build, Seq("k"),
          Seq("bk"), "pt", "bt", buildTie = Seq("id"),
          toleranceSeconds = Some(7L))
        .select(col("k"), col("pt"), col("id")).collect())
      val tolWindow = canon(AsOfJoin.asOf(probe,
          build.select(col("bk").as("k"), col("bt").as("bt2"), col("id")),
          Seq("k"), "pt", "bt2", buildTieBreak = Seq("id"),
          toleranceSeconds = Some(7L))
        .select(col("k"), col("pt"), col("matched.id")).collect())
      assert(tolExec == tolWindow, s"tolerance round $round")
      // forward (and forward+strict+tolerance) agree with the rewrite:
      // the exec's ascending merge must settle on the EARLIEST
      // at-or-after row with the largest tie-break, same as the
      // descending-window formulation
      for ((st, tol) <- Seq((false, None), (true, None),
          (false, Some(7L)), (true, Some(7L)))) {
        val fwdExec = canon(AsOfJoin.asOfExec(probe, build, Seq("k"),
            Seq("bk"), "pt", "bt", buildTie = Seq("id"), strict = st,
            toleranceSeconds = tol, forward = true)
          .select(col("k"), col("pt"), col("id")).collect())
        val fwdWindow = canon(AsOfJoin.asOf(probe,
            build.select(col("bk").as("k"), col("bt").as("bt2"), col("id")),
            Seq("k"), "pt", "bt2", buildTieBreak = Seq("id"), strict = st,
            toleranceSeconds = tol, forward = true)
          .select(col("k"), col("pt"), col("matched.id")).collect())
        assert(fwdExec == fwdWindow,
          s"forward round $round strict=$st tol=$tol")
      }
    }
  }
}
