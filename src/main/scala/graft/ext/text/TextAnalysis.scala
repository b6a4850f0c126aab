package graft.ext.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.PolyHash.poly_hash

/** Text-analysis operators for the training-data pipeline: token counting,
  * quality scoring, language ID, document fingerprinting. All are narrow
  * per-row projections over codegen'd built-ins (split/filter/transform/
  * regexp) plus the custom [[graft.functions.PolyHash]] expression — no
  * shuffles, no UDFs; at 100 TB these run at scan speed.
  */
object TextAnalysis {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  def tokens(text: Column): Column = split(trim(text), " ")

  /** BPE-ish lexer token count: words, digit runs, and individual
    * punctuation, via one regexp pass (same pattern as the DuckDB oracle).
    */
  val LexerPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

  /** Token counting: whitespace tokens + lexer tokens per document. */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      size(tokens(col("text"))).as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit(LexerPattern), lit(0)))
        .as("n_lexer_tokens"))

  /** Model-based quality classification — the fastText-shaped filter
    * every pretraining pipeline runs after the heuristic scores: hash
    * each token into one of `nBuckets` feature buckets
    * (`poly_hash(token) mod nBuckets` — the hashing trick), look up the
    * bucket's weight, and keep the document when the summed score clears
    * a per-token threshold (`raw_score·4 > n_tokens`, i.e. mean weight
    * > 0.25 — integer arithmetic end to end, no FP drift). The weight
    * table here is a fixed integer formula standing in for trained
    * weights (`w(b) = ((b·37 + 11) mod 21) − 10` ∈ [−10, 10]); the
    * production path broadcasts a trained `Array[Int]` — same plan
    * shape, a literal array lookup inside codegen either way. Null-text
    * docs surface as (0 tokens, score 0, keep = false), never vanish.
    * Narrow projection, no shuffle: runs at scan speed at 100 TB like
    * every other operator in this file.
    */
  def classifyQuality(spark: SparkSession, dir: String,
      nBuckets: Int = 64): DataFrame = {
    // explicit null guard rather than leaning on size(null)'s
    // ANSI-dependent value (null under ANSI, -1 legacy — the latter
    // would flip keep to true for null docs)
    val t = tokens(col("text"))
    docs(spark, dir).select(
      col("doc_id"),
      when(col("text").isNull, lit(0)).otherwise(size(t)).as("n_tokens"),
      coalesce(classifierScore(col("text"), nBuckets), lit(0L))
        .as("raw_score"))
      .withColumn("keep",
        classifierKeep(col("raw_score"), col("n_tokens")))
  }

  /** The classifier's summed-weight column alone (null for null text) —
    * lets composed pipelines ([[graft.ext.corpus.Corpus.pipelineReport]])
    * apply the model filter inline without a join.
    */
  def classifierScore(text: Column, nBuckets: Int = 64): Column = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    aggregate(
      transform(tokens(text), tok =>
        ((poly_hash(tok) % nBuckets) * 37 + 11) % 21 - 10),
      lit(0L), (acc, v) => acc + v)
  }

  /** The classifier's keep rule — ONE definition of the threshold
    * (mean weight > 0.25, i.e. score·4 > tokens) shared by
    * [[classifyQuality]] and the composed funnel, so the two sites can
    * never drift.
    */
  def classifierKeep(score: Column, nTokens: Column): Column =
    score * 4 > nTokens

  /** Quality scoring: length, token stats, stopword ratio, uppercase/punct
    * ratios, distinct-token ratio — the usual pretraining-filter features.
    * Ratios rounded to 4 for cross-engine hash stability.
    */
  def qualityScores(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
    val t = tokens(col("text"))
    val nTok = size(t)
    docs(spark, dir).select(
      col("doc_id"),
      length(col("text")).as("n_chars_actual"),
      nTok.as("n_tokens"),
      round(size(filter(t, x => x.isin(stop: _*))).cast("double") / nTok, 4)
        .as("stopword_ratio"),
      round(size(array_distinct(t)).cast("double") / nTok, 4)
        .as("distinct_ratio"),
      // empty-text guard: length(text) = 0 would IEEE-divide to NaN
      // (doubles don't throw under ANSI), and NaN rendering/hashing is
      // the kind of cross-engine edge the integer-exact gates avoid —
      // define both ratios as 0.0 for empty documents (oracle matches)
      round(when(length(col("text")) > 0,
        size(regexp_extract_all(col("text"), lit("[^a-zA-Z0-9\\s]"), lit(0)))
          .cast("double") / length(col("text"))).otherwise(0.0), 4)
        .as("punct_ratio"),
      round(when(length(col("text")) > 0,
        length(regexp_replace(col("text"), "[^ ]", "")).cast("double")
          / length(col("text"))).otherwise(0.0), 4).as("space_ratio"))
  }

  /** The fixture blocklist/topic dictionary for [[dictTagReport]]:
    * single words, multi-word phrases (matches straddle token
    * boundaries), and a deliberate prefix ("windo") plus an entry
    * embedded in others ("row") so overlap semantics are exercised.
    * One definition shared with the oracle generator.
    */
  val TagDict: Seq[String] = Seq("spark", "stream", "merge sort",
    "table part", "row", "agg", "fast merge", "value table", "batch",
    "windo")

  /** Dictionary tagging over the corpus — per keyword, how many
    * documents mention it and how many times in total (ALL occurrences,
    * overlapping included). ONE Aho–Corasick pass per document
    * ([[graft.functions.DictTagCounts]]) regardless of dictionary size,
    * then a k-group rollup: the scan is the only corpus-sized work and
    * the shuffle carries k×partitions partial counters.
    */
  def dictTagReport(spark: SparkSession, dir: String): DataFrame = {
    val counts = docs(spark, dir).select(
      graft.functions.DictTagCounts.dict_tag_counts(
        coalesce(col("text"), lit("")), TagDict).as("c"))
    counts.select(posexplode(col("c")).as(Seq("ki", "n")))
      .groupBy(col("ki"))
      .agg(count(when(col("n") > 0, lit(1))).as("n_docs"),
        sum(col("n")).cast("long").as("n_hits"))
      .select(element_at(typedLit(TagDict), col("ki") + 1).as("keyword"),
        col("n_docs"), col("n_hits"))
  }

  /** Language ID by marker-token counting: score each candidate language by
    * occurrences of its high-frequency function words, predict the argmax
    * (ties broken by language code). A classic n-gram/stopword heuristic —
    * no model download, deterministic, embarrassingly parallel.
    */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "nicht", "mit"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "un", "es"),
    "fr" -> Seq("le", "la", "les", "et", "des", "un", "une", "est"))

  def languageId(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(lower(col("text")))
    def score(lang: String): Column =
      size(filter(t, x =>
        LangMarkers(lang).map(m => x === m).reduce(_ || _)))
    val scored = docs(spark, dir).select(
      col("doc_id"), col("lang").as("declared_lang"),
      score("en").as("n_en"), score("de").as("n_de"),
      score("es").as("n_es"), score("fr").as("n_fr"))
    // argmax with deterministic tie-break on language code order de<en<es<fr
    scored.withColumn("pred_lang",
      when(col("n_de") >= greatest(col("n_en"), col("n_es"), col("n_fr")), "de")
        .when(col("n_en") >= greatest(col("n_es"), col("n_fr")), "en")
        .when(col("n_es") >= col("n_fr"), "es")
        .otherwise("fr"))
  }

  /** PII redaction patterns, kept to the Java-regex ∩ RE2 common subset
    * (explicit `[0-9]` classes, no backreferences, no lookaround) so the
    * exact same pattern strings run under Spark (java.util.regex) and any
    * RE2-based oracle engine.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+[0-9]{1,3}[ -][0-9]{3}[ -][0-9]{3,4}(?:-[0-9]{4})?"
  val Ipv4Pattern = "\\b[0-9]{1,3}(?:\\.[0-9]{1,3}){3}\\b"

  /** PII scrubbing: replace emails, phone numbers, and IPv4 addresses with
    * typed placeholder tokens, and count each category (counted before
    * replacement). Narrow per-row regexp passes — scan-speed at 100 TB; the
    * three sequential `regexp_replace`es cannot interact because emails
    * contain no spaces and phones are anchored on a leading `+`.
    */
  def redactPii(df: DataFrame, text: Column): DataFrame =
    df.select(
      col("doc_id"),
      size(regexp_extract_all(text, lit(EmailPattern), lit(0))).as("n_emails"),
      size(regexp_extract_all(text, lit(PhonePattern), lit(0))).as("n_phones"),
      size(regexp_extract_all(text, lit(Ipv4Pattern), lit(0))).as("n_ips"),
      regexp_replace(regexp_replace(regexp_replace(text,
        EmailPattern, "<EMAIL>"),
        PhonePattern, "<PHONE>"),
        Ipv4Pattern, "<IP>").as("redacted"))

  /** Gated redaction report. The synthetic corpus contains no PII, so the
    * query plants deterministic contact strings on a doc_id schedule (the
    * oracle plants the identical strings) — the operator under test is the
    * generic [[redactPii]]; the fixture only gives the regexes matches AND
    * non-matches to prove on. Output hashes the redacted text (md5) to keep
    * the gate row narrow.
    */
  def redactionReport(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val email = concat(lit(" contact user"), id, lit("@mail.example.com ok"))
    val phone = concat(lit(" call +44 555 "), lit(1000) + id % 9000)
    val ip = concat(lit(" from 10."), id % 256, lit(".0."), (id * 7) % 256)
    val planted = concat(col("text"),
      when(id % 3 === 0, email).otherwise(lit("")),
      when(id % 5 === 0, phone).otherwise(lit("")),
      when(id % 7 === 0, ip).otherwise(lit("")))
    redactPii(docs(spark, dir).withColumn("aug", planted), col("aug"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
        md5(col("redacted")).as("redacted_md5"))
  }

  /** Repetition signals (Gopher-style quality filters): duplicate-token and
    * duplicate-n-gram ratios per document. High ratios flag boilerplate,
    * keyword stuffing, and degenerate generations. Distinct n-gram counts
    * come from the codegen'd [[graft.functions.ShingleArray]]; everything is
    * a narrow per-row projection.
    */
  def repetitionSignals(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val nTok = size(t)
    def dupRatio(n: Int): Column = {
      val total = nTok - (n - 1)
      val distinctN = size(graft.functions.ShingleArray.shingle_array(t, n))
      when(total > lit(0),
        round(lit(1.0) - distinctN.cast("double") / total.cast("double"), 4))
        .otherwise(lit(0.0))
    }
    docs(spark, dir).select(
      col("doc_id"),
      nTok.as("n_tokens"),
      size(array_distinct(t)).as("n_distinct_tokens"),
      round(lit(1.0) - size(array_distinct(t)).cast("double")
        / nTok.cast("double"), 4).as("token_dup_ratio"),
      dupRatio(2).as("dup2_ratio"),
      dupRatio(3).as("dup3_ratio"))
  }

  /** Fixed-size token chunking with overlap — the context-window /
    * retrieval prep step: chunk `c` covers tokens `[c*stride, c*stride +
    * size)` with `stride = size - overlap`, so consecutive chunks share
    * `overlap` tokens and every token is covered; the last chunk may be
    * short. The last chunk id is `max(0, ceil((n - size) / stride))` —
    * the first chunk whose window reaches token n — NOT
    * `floor((n-1)/stride)`: that form emits a trailing chunk that is a
    * strict subset of its predecessor whenever `(n-1) mod stride <
    * overlap` (~overlap/stride of doc lengths), duplicating
    * training/retrieval text for nothing. A narrow per-row explode (no
    * shuffle — chunk count rides the generator); at 100 TB this is
    * scan-speed corpus reshaping.
    */
  /** Default chunk geometry — shared with the corpus-prep funnel's chunk
    * accounting so the two can never drift apart (the DuckDB oracles spell
    * out the derived stride 24 = 32 - 8 as literals).
    */
  val ChunkSize = 32
  val ChunkOverlap = 8

  def chunkTokens(df: DataFrame, size: Int = ChunkSize,
      overlap: Int = ChunkOverlap): DataFrame = {
    require(overlap >= 0 && overlap < size, s"need 0 <= overlap < size")
    val stride = size - overlap
    df.withColumn("t", tokens(col("text")))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0),
          greatest(lit(0),
            floor((org.apache.spark.sql.functions.size(col("t"))
              - size + stride - 1) / lit(stride))).cast("int")))
          .as("chunk_id"))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        least(lit(size),
          org.apache.spark.sql.functions.size(col("t")) - col("chunk_id") * stride)
          .cast("long").as("n_chunk_tokens"),
        concat_ws(" ", slice(col("t"), col("chunk_id") * stride + 1, lit(size)))
          .as("chunk_text"))
  }

  /** Gated chunking report: md5 of each chunk keeps the gate row narrow
    * while hash-pinning the exact chunk content.
    */
  def chunkReport(spark: SparkSession, dir: String): DataFrame =
    chunkTokens(docs(spark, dir))
      .select(col("doc_id"), col("chunk_id"), col("n_chunk_tokens"),
        md5(col("chunk_text")).as("chunk_hash"))

  /** Document fingerprinting with the custom codegen'd PolyHash expression —
    * content-addressable id for exact-dup detection and incremental reindex.
    */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      poly_hash(col("text")).as("fingerprint"),
      poly_hash(lower(regexp_replace(col("text"), "\\s+", " ")))
        .as("normalized_fingerprint"))

  /** Gate for the SQL registration surface: the same fingerprint query
    * every other gate runs through the Column API, expressed as
    * `spark.sql` text against a temp view using the REGISTERED custom
    * function (`polyhash`) — proving the [[graft.plans.GraftExtensions]]
    * function path end-to-end through the driver's oracle, not just in a spec. The
    * view is dropped after resolution (the resolved plan owns the scan).
    */
  def sqlSurfaceReport(spark: SparkSession, dir: String): DataFrame = {
    val view = "graft_sql_docs_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    docs(spark, dir).createOrReplaceTempView(view)
    try spark.sql(
      s"""SELECT doc_id, polyhash(text) AS fp,
         |  polyhash(lower(text)) AS fp_lower
         |FROM $view""".stripMargin)
    finally spark.catalog.dropTempView(view)
  }

  /** Distributed inverted index: term → sorted posting list of doc ids —
    * the search-index build the reference delegates to Elasticsearch
    * (SURVEY §3.2), as a first-class batch operator. explode → distinct →
    * groupBy(term): the shuffle carries (term, doc_id) pairs once, and
    * `sort_array(collect_set)` makes the posting arrays deterministic.
    * Posting lists are capped at `maxPostings` ids (df and the full list
    * length are kept alongside): an UNCAPPED list for a stopword term is
    * a single multi-GB row at 100 TB — the classic inverted-index hot-key
    * — and every real engine stores such terms as skip-list blocks, not
    * one array. Queries against a capped index must treat over-cap terms
    * (`df > size(postings)`) as match-everything CANDIDATES and verify
    * them against the corpus — [[termLookup]] implements exactly that,
    * taking the corpus frame for the verify step when any queried term is
    * capped.
    */
  def invertedIndex(df: DataFrame, maxPostings: Int = 1000): DataFrame =
    df.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .distinct()
      // rows are (doc_id, term)-distinct already, so count(*) IS
      // count(DISTINCT doc_id) — the plain count skips Spark's
      // distinct-aggregate planning on the corpus-sized shuffle (the
      // same equivalence duplicatedSpans documents)
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        slice(sort_array(collect_set(col("doc_id"))), 1, maxPostings)
          .as("postings"))

  /** Gate entry for [[invertedIndex]]: document frequency + the first 20
    * posting ids per term, for terms appearing in ≥ 3 documents (bounds
    * the gate's row count without touching the operator's generality).
    */
  def invertedIndexReport(spark: SparkSession, dir: String): DataFrame =
    invertedIndex(docs(spark, dir), maxPostings = 20)
      .filter(col("df") >= 3)
      .select(col("term"), col("df"),
        concat_ws(",", col("postings")).as("postings_csv"))

  /** Conjunctive (AND) term lookup through the inverted index: intersect
    * the terms' posting lists — |terms| index point lookups + an
    * id-intersection, never an unselective corpus scan.
    *
    * Capped terms (`df > size(postings)` — the index truncated their
    * posting list) carry no usable posting set, so they are treated as
    * match-everything candidates: the intersection runs over the UNCAPPED
    * terms only, and capped terms are then verified exactly against the
    * candidate documents' own token sets via `corpus`. The verify join is
    * driven by the candidate id set (∝ the selective terms' intersection,
    * not the corpus), so a stopword-capped term never costs a full scan
    * unless every queried term is capped — the same degradation a real
    * search engine hits when a query is all stopwords. Calling with a
    * capped queried term but no corpus frame is refused rather than
    * silently under-returning. The per-term cap check collects ≤ |terms|
    * index rows to the driver — bounded by the query, not the data.
    */
  def termLookup(index: DataFrame, rawTerms: Seq[String],
      corpus: Option[DataFrame] = None): DataFrame = {
    require(rawTerms.nonEmpty, "termLookup needs at least one term")
    // dedup the query: a repeated term would inflate the required hit
    // count past what any document can reach (AND of a term with itself
    // is the term)
    val terms = rawTerms.distinct
    val rows = index.filter(col("term").isin(terms: _*))
      .select(col("term"), (col("df") > size(col("postings"))).as("capped"))
      .collect()
    val present = rows.map(_.getString(0)).toSet
    val spark = index.sparkSession
    import spark.implicits._
    // a term absent from the index appears in no document: AND of anything
    // with it is empty
    if (!terms.forall(present)) return Seq.empty[Long].toDF("doc_id")
    val (cappedTerms, exactTerms) =
      terms.partition(t => rows.exists(r => r.getString(0) == t && r.getBoolean(1)))
    require(cappedTerms.isEmpty || corpus.isDefined,
      s"terms ${cappedTerms.mkString(", ")} exceed the index's posting cap; " +
        "pass the corpus frame so they can be verified exactly")
    val candidates =
      if (exactTerms.isEmpty)
        // all queried terms capped: every doc is a candidate (the honest
        // all-stopword degradation — one corpus scan, flagged by the
        // require above having demanded the corpus)
        corpus.get.select(col("doc_id"))
      else
        index.filter(col("term").isin(exactTerms: _*))
          .select(explode(col("postings")).as("doc_id"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
          .filter(col("n_hit") === exactTerms.length)
          .select(col("doc_id"))
    if (cappedTerms.isEmpty) candidates
    else
      // exact verify of capped terms on candidate docs only; the join is
      // candidate-driven so AQE broadcasts the (small) id set
      candidates.join(corpus.get, "doc_id")
        .filter(cappedTerms.map(t =>
          array_contains(tokens(col("text")), t)).reduce(_ && _))
        .select(col("doc_id"))
  }

  /** Gate entry for [[termLookup]]: docs containing BOTH "merge" and
    * "window", answered through a CAPPED [[invertedIndex]] (cap 100) with
    * the corpus frame supplied, so the gate exercises the capped-term
    * exact-verify path whenever either term's df exceeds the cap at the
    * gate's scale factor; the oracle answers the same question with a
    * direct corpus scan.
    */
  def termLookupReport(spark: SparkSession, dir: String): DataFrame =
    termLookup(invertedIndex(docs(spark, dir), maxPostings = 100),
      Seq("merge", "window"), corpus = Some(docs(spark, dir)))

  /** Perplexity-style LM quality filter (the third classic pretraining
    * filter next to heuristics and the model classifier): train a bigram
    * language model with stupid backoff (Brants et al. 2007) on a clean
    * reference slice — here the `refLang` documents — and score every
    * document by its per-bigram model affinity. Classic usage: CCNet /
    * Gopher keep the low-perplexity tail against a Wikipedia-trained LM.
    *
    * Cross-engine portability drives the arithmetic: log-probabilities
    * need libm `log` (NOT correctly rounded, so not oracle-stable), so
    * each bigram scores an integer-scaled probability instead —
    * `b·SCALE div u_prev` when the bigram was seen, else the backoff
    * `u_cur·SCALE div (2·T)` (α = 0.5, the one exactly-representable
    * backoff weight) — and a document's `lm_score` is the overflow-free
    * integer SUM of its bigram scores (order-independent, unlike a float
    * fold). `avg_e6 = lm_score div n_bigrams` is the mean scaled bigram
    * probability; `keep` selects docs whose mean clears `minAvgE6`.
    *
    * Scale shape: model training is two hash aggregates over the
    * reference slice (counts, map-side partial); scoring is one bigram
    * explode joined against the model + two unigram lookups, then a
    * per-doc re-aggregate. The model tables are count-bounded by the
    * reference vocabulary — at 100 TB the reference slice is a curated
    * sample and the joins broadcast; at test SF AQE picks the broadcast
    * automatically. Null-text and <2-token docs surface with
    * `n_bigrams = 0, keep = false`, never vanish.
    */
  def lmScores(spark: SparkSession, dir: String, refLang: String = "en",
      minAvgE6: Long = 34000L): DataFrame = {
    val Scale = 1000000L
    val base = docs(spark, dir).select(col("doc_id"), col("lang"),
      when(col("text").isNull, lit(null)).otherwise(tokens(col("text")))
        .as("t"))
    val withT = base.filter(col("t").isNotNull)
    val refToks = withT.filter(col("lang") === refLang)
      .select(explode(col("t")).as("w"))
    val uni = refToks.groupBy(col("w")).agg(count(lit(1)).as("u"))
    val tot = uni.agg(sum(col("u")).as("t_total"))
    val refBi = withT.filter(col("lang") === refLang)
      .select(explode(
        graft.functions.ShingleArray.shingle_array_all(col("t"), 2))
        .as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("b"))
    val docBi = withT.select(col("doc_id"), explode(
      graft.functions.ShingleArray.shingle_array_all(col("t"), 2)).as("bg"))
      .select(col("doc_id"), col("bg"),
        split_part(col("bg"), lit(" "), lit(1)).as("prev"),
        split_part(col("bg"), lit(" "), lit(2)).as("cur"))
    val scored = docBi
      .join(refBi, Seq("bg"), "left")
      .join(uni.select(col("w").as("prev"), col("u").as("u_prev")),
        Seq("prev"), "left")
      .join(uni.select(col("w").as("cur"), col("u").as("u_cur")),
        Seq("cur"), "left")
      .crossJoin(tot)
      .select(col("doc_id"),
        when(col("b").isNotNull, expr(s"b * $Scale DIV u_prev"))
          .when(col("u_cur").isNotNull,
            expr(s"u_cur * $Scale DIV (2 * t_total)"))
          .otherwise(lit(0L)).as("s"))
    val perDoc = scored.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_bigrams"), sum(col("s")).as("lm_score"))
    base.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lm_score"), lit(0L)).as("lm_score"))
      .withColumn("avg_e6",
        when(col("n_bigrams") > 0, expr("lm_score DIV n_bigrams"))
          .otherwise(lit(0L)))
      .withColumn("keep", col("n_bigrams") > 0 && col("avg_e6") >= minAvgE6)
  }

  /** BM25 top-k retrieval — the ranked-retrieval step a RAG / curation
    * pipeline runs on top of the inverted index ([[invertedIndex]] gives
    * the boolean candidates, this ranks them). Okapi BM25 with k1 = 1.2,
    * b = 0.75, OR semantics over the query terms.
    *
    * Cross-engine portability drives the arithmetic (same policy as
    * [[lmScores]]): the idf log needs libm `log`, which is not correctly
    * rounded and therefore not oracle-stable, so the gate form scores with
    * exact integer rationals instead —
    *   idf_e6  = (2·(N − df) + 1)·SCALE div (2·df + 1)
    *     (the Robertson–Sparck-Jones odds (N − df + ½)/(df + ½) with the
    *      log dropped: PER-TERM ranking order is identical since the log
    *      is monotone — but a document's score SUMS terms, and a sum of
    *      linear odds is NOT ranking-equivalent to a sum of log-odds, so
    *      MULTI-term rankings can diverge from true Okapi BM25, with rare
    *      terms overweighted linearly (df=1 in N=10k contributes odds
    *      ~6666 where the log contributes ~8.8). This is a deliberate
    *      BM25-LIKE integer scorer chosen for oracle stability, not BM25
    *      fidelity),
    *   tfc_e6  = 44·tf·SCALE div (20·tf + 6 + (18·dl·N div T))
    *     (tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)) with k1 = 6/5,
    *      b = 3/4, avgdl = T/N, cleared to one integer fraction and T
    *      then DIVIDED OUT of numerator and denominator — the rounds-7/8
    *      form kept T in both (44·tf·T·SCALE div (20·T·tf + 6·T +
    *      18·dl·N)), whose numerator silently wraps Long once tf·T
    *      exceeds ~2.1e11 (a 1e9-token corpus at tf ≈ 200) while the
    *      DuckDB oracle's HUGEINT stays exact, so a large-enough corpus
    *      diverges the two engines value-first, ranking-later. The
    *      divided-out form's intermediates are 44·tf·SCALE (≤ 4.4e7·dl)
    *      and 18·dl·N (Long-safe to N ~ 5e13 docs at dl 1e4) — corpus
    *      token count T no longer bounds anything. The inner
    *      `18·dl·N div T` floor makes this a slightly different
    *      fixed-point approximation than the cleared fraction (the length
    *      normalizer quantizes to 1/18ths of avgdl); both engines compute
    *      the identical value because the inner div is the same
    *      non-negative floor on both sides. Remaining Long bound: the
    *      idf·tfc product, ≤ (2N+1)·SCALE·2.2·SCALE ⇒ Long-safe to
    *      N ≈ 2e6 collection units; gate corpora sit far under it, and
    *      production at larger N swaps the linear-odds idf for the
    *      log-double path below anyway),
    * and a doc's score is Σ idf_e6·tfc_e6 div SCALE over its matched
    * terms — overflow-free at gate scale and bit-identical in DuckDB
    * (floor division — DuckDB's `//` — and truncation — Spark's DIV —
    * coincide because every operand here is non-negative; keep any
    * formula change non-negative or the two engines round differently).
    * Production retrieval that needs true BM25 swaps the idf `expr` line
    * for `log((N - df + 0.5)/(df + 0.5))` doubles (or a fixed-point
    * integer log approximation if oracle stability must be kept); the
    * ranking machinery is unchanged.
    *
    * Scale shape: the explode is FILTERED to the query terms before any
    * aggregation, so tf/df shuffles carry only rows for docs matching ≥ 1
    * query term (∝ result candidates, not the corpus); df and the corpus
    * stats broadcast (both are ≤ |query| + 1 rows); the top-k is
    * orderBy + limit, which Spark plans as TakeOrderedAndProject — a
    * per-partition heap + driver merge of k·partitions rows, never a
    * global sort.
    */
  /** The integer-rational BM25-like per-(unit, term) score — ONE site
    * for the formula both [[bm25TopK]] (units = documents) and
    * [[passageTopK]] (units = chunks) apply; the input frame must carry
    * `tf`, `df`, `dl`, `n_docs` (collection unit count), `t_total`.
    * Splitting or editing this expression in only one caller is exactly
    * the drift the shared definition exists to prevent — keep every
    * operand non-negative (see [[bm25TopK]]'s scaladoc for why).
    */
  // The two factor expressions composed by the score, kept as SQL
  // strings so the score can recombine them with integer DIV (Column's
  // `/` would widen to double): the x_rag_bm25_parts diagnostic gate
  // decomposes the SAME strings the score multiplies, so gate and
  // diagnosis cannot drift apart the way re-declared copies could.
  private def bm25IdfSql(Scale: Long): String =
    s"(2 * (n_docs - df) + 1) * $Scale DIV (2 * df + 1)"

  private def bm25TfcSql(Scale: Long): String =
    s"44 * tf * $Scale DIV (20 * tf + 6 + (18 * dl * n_docs DIV t_total))"

  private[graft] def bm25IdfE6(Scale: Long): Column = expr(bm25IdfSql(Scale))

  private[graft] def bm25TfcE6(Scale: Long): Column = expr(bm25TfcSql(Scale))

  private[graft] def bm25ScoreE6(Scale: Long): Column =
    expr(s"(${bm25IdfSql(Scale)}) * (${bm25TfcSql(Scale)}) DIV $Scale")

  /** The per-(unit, term) scoring-operand frame every BM25 surface
    * scores over — `doc_id, term, tf, df, dl, n_docs, t_total` — built
    * in ONE place for [[bm25TopK]], [[bm25Parts]], and
    * [[bm25TopKOkapi]] (filtered explode → broadcast df → dl join →
    * broadcast 1-row stats).
    */
  private def bm25Operands(spark: SparkSession, dir: String,
      terms: Seq[String]): DataFrame = {
    // ONE tokenize pass over the corpus, not four: tf, df, dl and the
    // collection stats each re-inline the tokenize subtree (the tf
    // explode twice — its aggregate and the df re-aggregate plan
    // different exchanges, so ReuseExchange never merges them; measured
    // 4 corpus scans / 2 corpus-wide Generates per call in the committed
    // plans/r15/x_rag_bm25_before.txt). Materialize the narrow per-doc
    // frame once (localCheckpoint, the substrSpans/minhashLshPairsOf
    // pattern): doc length plus ONLY the query-term occurrences —
    // ~16 B + matched terms per doc, corpus-size-independent per row,
    // vs re-reading and re-splitting every document per consumer at
    // 100 TB. localCheckpoint is eager and executor-local (rebuilt per
    // session, lost on executor failure — acceptable for a per-query
    // scratch artifact; a serving deployment persists the postings
    // table instead, which is the x_index_postings path).
    val base = docs(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), size(col("t")).cast("long").as("dl"),
        filter(col("t"), tok => tok.isInCollection(terms)).as("tq"))
      .localCheckpoint(true)
    val dl = base.select(col("doc_id"), col("dl"))
    val stats = base.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("t_total"))
    // filter-then-explode ≡ the previous explode-then-filter (same
    // multiset of (doc_id, term) survivors; split() never yields null
    // tokens), but the explode now runs over the pinned matched-term
    // arrays instead of every token of every document
    val tf = base.select(col("doc_id"), explode(col("tq")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfT), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
  }

  /** Component dump behind the `x_rag_bm25_parts` micro-gate: for each
    * (doc, term) of the top-`k` documents, every operand and both factor
    * values of [[bm25ScoreE6]] — `tf, df, dl, n_docs, t_total, idf_e6,
    * tfc_e6`, via the SAME [[bm25IdfE6]]/[[bm25TfcE6]] expressions the
    * score multiplies. The round-8 driver hash-rejected
    * `x_rag_bm25`/`x_rag_passage` while the full local chain passed at
    * all three SFs; this gate exists so a remote red names WHICH operand
    * or factor the two environments disagree on instead of one opaque
    * summed score. Cost: the shared operand subtree evaluates twice
    * (once under the top-k, once under the dump — Spark shares no
    * subplan across sinks without materialization), so the gate costs
    * ~2× one scoring pass over the term-matching rows; at 0.96 s solo
    * that is accepted rather than paying a checkpoint.
    */
  def bm25Parts(spark: SparkSession, dir: String,
      queryTerms: Seq[String] = Seq("spark", "vector", "dup"),
      k: Int = 20): DataFrame = {
    val Scale = 1000000L
    val operands = bm25Operands(spark, dir, queryTerms.distinct)
    val top = operands
      .select(col("doc_id"), bm25ScoreE6(Scale).as("s"))
      .groupBy(col("doc_id")).agg(sum(col("s")).as("bm25_e6"))
      .orderBy(col("bm25_e6").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"))
    operands.join(broadcast(top), "doc_id")
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("dl"),
        col("n_docs"), col("t_total"),
        bm25IdfE6(Scale).as("idf_e6"), bm25TfcE6(Scale).as("tfc_e6"))
  }

  def bm25TopK(spark: SparkSession, dir: String,
      queryTerms: Seq[String] = Seq("spark", "vector", "dup"),
      k: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK needs at least one query term")
    val Scale = 1000000L
    bm25Operands(spark, dir, queryTerms.distinct)
      .select(col("doc_id"), bm25ScoreE6(Scale).as("s"))
      .groupBy(col("doc_id"))
      .agg(sum(col("s")).as("bm25_e6"), count(lit(1)).as("n_terms_hit"))
      .orderBy(col("bm25_e6").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Gate entry for [[bm25TopK]]: top 20 docs for a query mixing two
    * dense terms with the one rare term in the synthetic vocabulary
    * ("dup", df ≈ 5% of docs), so the idf weighting visibly reorders the
    * result against raw tf.
    */
  def bm25Report(spark: SparkSession, dir: String): DataFrame =
    bm25TopK(spark, dir)

  /** PRODUCTION-path BM25: true Okapi scoring in doubles — the form the
    * gate scorer's scaladoc defers to past its integer bounds. Same plan
    * as [[bm25TopK]] (filtered explode → broadcast df/stats →
    * TakeOrderedAndProject); only the arithmetic differs:
    *   idf = ln((N − df + 0.5)/(df + 0.5) + 1)   (Lucene's +1 form, so
    *         idf stays positive even when df > N/2 — a raw RSJ log goes
    *         negative there and a matching doc could rank below a
    *         non-matching one),
    *   tfc = tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)),  k1 1.2, b 0.75.
    * No overflow at ANY corpus size (doubles), no oracle: libm `log` is
    * not correctly rounded, so cross-engine bit-equality cannot be
    * promised — this path is spec-tested against a plain-Scala reference
    * and rank-compared to the integer gate form instead. The per-doc
    * score is summed in a FIXED order — collect the ≤ |query| per-term
    * contributions, `sort_array` by term, fold left — because FP
    * addition does not commute at the last bit and Spark guarantees no
    * partial/merge order across shuffle partitions; with the order
    * pinned, the 6-dp rounding can never flap across runs on a sum whose
    * low bits straddle a rounding boundary. O(|query|) state per doc —
    * the same bound the plain sum has.
    */
  def bm25TopKOkapi(spark: SparkSession, dir: String,
      queryTerms: Seq[String] = Seq("spark", "vector", "dup"),
      k: Int = 20, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopKOkapi needs at least one query term")
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val avgdl = col("t_total").cast("double") / col("n_docs")
    val tfc = (col("tf") * (k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))
    bm25Operands(spark, dir, queryTerms.distinct)
      .select(col("doc_id"), col("term"), (idf * tfc).as("s"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("term"), col("s"))))
        .as("contrib"))
      .select(col("doc_id"),
        round(aggregate(col("contrib"), lit(0.0),
          (acc, x) => acc + x.getField("s")), 6).as("bm25"),
        size(col("contrib")).cast("long").as("n_terms_hit"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003,
    * "Winnowing: Local Algorithms for Document Fingerprinting" — the
    * MOSS algorithm): the guarantee-bearing fingerprint SELECTION that
    * the flat [[graft.functions.PolyHash]] document checksum and the
    * MinHash sketches don't give — pick the MINIMUM k-gram hash in every
    * window of `w` consecutive k-grams, so any shared substring of at
    * least w + k − 1 tokens between two documents is guaranteed to share
    * at least one selected fingerprint (local, position-robust substring
    * dedup/plagiarism detection; MinHash only bounds whole-document
    * resemblance). Selected minima are deduplicated per document and
    * summarized as a count + an order-free sum (each hash < 2^30 by
    * PolyHash's modulus, so the sum is Long-exact to ~8e9 fingerprints
    * per document — far past any real document).
    *
    * Documents with fewer than w k-grams get one window covering all of
    * them (one fingerprint; standard boundary choice), and docs shorter
    * than k tokens surface with zero counts rather than vanishing.
    *
    * Scale shape: entirely narrow per-row array expressions riding the
    * scan (shingle → codegen'd PolyHash per gram → windowed array_min →
    * array_distinct → aggregate) — zero shuffles, zero joins; the
    * follow-on candidate join (who shares a fingerprint?) is the same
    * banded equi-join shape as the LSH path and reuses its machinery.
    * Every step is integer-exact, so the DuckDB oracle replays it
    * verbatim.
    *
    * This frame — (doc_id, n_grams, fp: array<long>) — is the ONE site
    * for the selection rule, consumed by both [[winnowFingerprints]]
    * (the summary gate) and [[winnowPairs]] (whose guarantee only holds
    * if the pair join uses EXACTLY the gate's fingerprints).
    */
  private def winnowSets(spark: SparkSession, dir: String,
      k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be positive: k=$k w=$w")
    // ONE codegen'd expression for gram-hash → windowed minima →
    // distinct (graft.functions.WinnowFp; a PropertySpec parity test
    // pins it bit-identical to the three-lambda declarative chain it
    // replaced — transform(shingle_array_all)/transform(array_min ∘
    // slice)/array_distinct — which Spark evaluates interpreted)
    docs(spark, dir)
      .select(col("doc_id"),
        when(col("text").isNull, lit(null)).otherwise(tokens(col("text")))
          .as("t"))
      .select(col("doc_id"),
        when(col("t").isNull || size(col("t")) < k, lit(0))
          .otherwise(size(col("t")) - (k - 1)).as("n_grams"),
        when(col("t").isNull || size(col("t")) < k,
          array().cast("array<long>"))
          .otherwise(graft.functions.WinnowFp.winnow_fp(col("t"), k, w))
          .as("fp"))
  }

  /** Per-document summary of [[winnowSets]]'s selection (the
    * `x_text_winnow` gate): gram count, fingerprint count, and the
    * order-free fingerprint sum — see winnowSets' scaladoc for the
    * algorithm, its w+k−1 shared-substring guarantee, and the scale
    * shape.
    */
  def winnowFingerprints(spark: SparkSession, dir: String,
      k: Int = 3, w: Int = 4): DataFrame =
    winnowSets(spark, dir, k, w)
      .select(col("doc_id"), col("n_grams"),
        size(col("fp")).as("n_fingerprints"),
        aggregate(col("fp"), lit(0L), (a, x) => a + x).as("fp_sum"))

  /** Substring-level near-dup candidates: document pairs sharing at
    * least `minShared` selected winnowing fingerprints — the candidate
    * join [[winnowFingerprints]]'s scaladoc promises. By the winnowing
    * guarantee, any pair sharing a run of ≥ w + k − 1 tokens through a
    * sub-`maxDf` fingerprint appears here; MinHash/LSH would need the
    * whole documents to resemble each other.
    *
    * Scale shape: the same defense stack as the LSH band join —
    * fingerprints are df-capped (`maxDf`) BEFORE the self-join, so
    * boilerplate grams every document contains (the quadratic hot
    * buckets) are dropped by a count aggregate instead of exploding the
    * join, and the shuffle carries only 16-byte (fingerprint, doc_id)
    * rows, never text. The df cap is the standard stop-gram trade: a
    * substring shared by MORE than maxDf documents is boilerplate by
    * definition and belongs to the [[graft.ext.dedup.TextDedup
    * .duplicatedSpans]] report, not the pair list.
    *
    * `idCap` bounds the gate to the CONTIGUOUS block `doc_id < idCap`
    * (a min/max-prunable scan predicate) rather than a mod-slice: the
    * planted near-dups live at adjacent ids, so a mod-slice keeps the
    * docs but destroys the pairs (0 result rows at sf0.01), while a
    * block keeps the local duplicate structure intact. The cap exists
    * because the synthetic corpus's small vocabulary makes low-df
    * trigram collisions dense (12.6 s uncapped at sf0.1 vs ~1 s at
    * 512 docs), while a real Zipfian corpus concentrates collisions in
    * the df-capped head. The uncapped form is spec-exercised at
    * sf0.001 (reference equality + LSH coverage).
    */
  def winnowPairs(spark: SparkSession, dir: String,
      k: Int = 3, w: Int = 4, minShared: Int = 2,
      maxDf: Int = 32, idCap: Long = Long.MaxValue): DataFrame = {
    require(minShared >= 1 && maxDf >= 2 && idCap >= 1,
      s"bad params: minShared=$minShared maxDf=$maxDf idCap=$idCap")
    val sets = winnowSets(spark, dir, k, w)
      .filter(col("doc_id") < idCap)
    // materialize the (fingerprint, doc_id) table once: it feeds the df
    // aggregate AND both self-join sides, and the fingerprinting subtree
    // (nested array transforms over every gram) is the expensive part —
    // same reuse pattern as TextDedup.minhashLshPairsOf
    val fp = sets.select(col("doc_id"), explode(col("fp")).as("f"))
      .localCheckpoint(true)
    val rare = fp.groupBy(col("f"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2 && col("n_docs") <= maxDf)
      .select(col("f"))
    val keyed = fp.join(rare, "f")
    keyed.select(col("f"), col("doc_id").as("d1"))
      .join(keyed.select(col("f"), col("doc_id").as("d2")), "f")
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Passage-level retrieval with MaxP document aggregation (Dai &
    * Callan 2019, "Deeper Text Understanding for IR with Contextual
    * Neural Language Modeling"): long documents dilute whole-document
    * BM25 (one on-topic passage drowns in off-topic length), so the
    * retrieval units are the [[chunkTokens]] passages — each chunk
    * scored with the SAME integer-rational BM25-like formula as
    * [[bm25TopK]], with the collection stats (N, total length, df)
    * computed over CHUNKS — and a document scores as its BEST chunk
    * (MaxP). Ties on the max pick the smallest chunk_id; `n_chunks_hit`
    * counts the doc's chunks matching ≥ 1 query term. The arithmetic
    * portability contract (non-negative floor/truncate coincidence,
    * t_total divided out of the tf fraction so corpus token count bounds
    * nothing, Long-safe to ~2e6 collection units via the idf·tfc
    * product) is [[bm25TopK]]'s, unchanged.
    *
    * Scale shape: chunking is a narrow per-row explode riding the scan;
    * the tf explode is FILTERED to query terms before aggregating, so
    * data-sized shuffles key on (doc_id, chunk_id) and carry only
    * matching-term rows; df/stats broadcast; MaxP is one more partial
    * aggregate over the per-chunk scores (chunks of a doc need no
    * co-location beyond the hash shuffle); top-k plans as
    * TakeOrderedAndProject.
    */
  def passageTopK(spark: SparkSession, dir: String,
      queryTerms: Seq[String] = Seq("spark", "vector", "dup"),
      k: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty, "passageTopK needs at least one query term")
    val Scale = 1000000L
    val terms = queryTerms.distinct
    // ONE chunking+tokenize pass, not three: stats, tf and the dl join
    // each re-inline the chunk explode (12 Generate nodes in the
    // committed plans/r15/x_rag_passage_before.txt). Same narrow pin as
    // [[bm25Operands]]: chunk length plus only the query-term
    // occurrences, materialized once — filter-then-explode ≡ the
    // previous explode-then-filter per chunk.
    val ch = chunkTokens(docs(spark, dir).filter(col("text").isNotNull))
      .select(col("doc_id"), col("chunk_id"),
        col("n_chunk_tokens").as("dl"),
        filter(tokens(col("chunk_text")),
          tok => tok.isInCollection(terms)).as("tq"))
      .localCheckpoint(true)
    val stats = ch.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("t_total"))
    val tf = ch
      .select(col("doc_id"), col("chunk_id"), explode(col("tq")).as("term"))
      .groupBy(col("doc_id"), col("chunk_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfT), "term")
      .join(ch.select(col("doc_id"), col("chunk_id"), col("dl")),
        Seq("doc_id", "chunk_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("chunk_id"), bm25ScoreE6(Scale).as("s"))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(sum(col("s")).as("chunk_e6"))
      // MaxP: max (score, -chunk_id) struct = best score, min chunk on tie
      .groupBy(col("doc_id"))
      .agg(max(struct(col("chunk_e6"), (-col("chunk_id")).as("nc"))).as("m"),
        count(lit(1)).as("n_chunks_hit"))
      .select(col("doc_id"), (-col("m.nc")).as("best_chunk_id"),
        col("m.chunk_e6").as("passage_e6"), col("n_chunks_hit"))
      .orderBy(col("passage_e6").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Snippet extraction for retrieval results — the presentation step a
    * serving stack runs on its top-k: for each [[bm25TopK]] hit, find
    * the FIRST occurrence of any query term (earliest position across
    * terms — `least` over per-term positions, absent terms null) and cut
    * the ±`context`-token window around it. Pure narrow projection over
    * k broadcast doc_ids after the retrieval — the corpus is touched
    * only by the scan that joins the top-k, and the window arithmetic
    * (1-based positions, clamped left edge, length cut at the array end
    * by slice semantics on both engines) is integer-exact.
    */
  def snippets(spark: SparkSession, dir: String,
      queryTerms: Seq[String] = Seq("spark", "vector", "dup"),
      k: Int = 20, context: Int = 5): DataFrame = {
    require(context >= 0, s"context must be non-negative: $context")
    val terms = queryTerms.distinct
    val top = bm25TopK(spark, dir, queryTerms, k).select(col("doc_id"))
    val firstPos = least(terms.map(tm =>
      when(array_position(col("t"), lit(tm)) === 0L, lit(null))
        .otherwise(array_position(col("t"), lit(tm)))): _*)
    val start = greatest(lit(1L), col("first_pos") - context)
    docs(spark, dir).join(broadcast(top), "doc_id")
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("first_pos", firstPos)
      .select(col("doc_id"), col("first_pos"),
        concat_ws(" ", slice(col("t"), start.cast("int"),
          (col("first_pos") + context - start + 1).cast("int")))
          .as("snippet"))
  }

  /** Hybrid retrieval via reciprocal-rank fusion — the standard way a RAG
    * stack combines its lexical ([[bm25TopK]]) and dense
    * ([[graft.ext.sim.Similarity.bruteForceTopK]]) retrievers: each list
    * contributes `1/(kRrf + rank)` per document (Cormack et al.'s RRF,
    * kRrf = 60), summed across lists, missing-from-a-list contributing 0.
    * Ranks — not scores — are fused, so the two retrievers' incomparable
    * score scales never need calibration; the integer form
    * `SCALE div (kRrf + rank)` keeps the gate bit-identical in DuckDB
    * (all operands positive — same floor/truncate-coincidence contract as
    * [[bm25TopK]]).
    *
    * The document and embedding tables share one id space (vec_id i IS
    * doc_id i in the corpus contract), so fusion joins directly on id.
    *
    * Scale shape: both inputs are top-k lists (TakeOrderedAndProject —
    * per-partition heaps, k rows out), so every post-retrieval operator
    * here — the rank windows, the full-outer join, the final sort — runs
    * on 2k rows REGARDLESS of corpus size; the unpartitioned windows are
    * deliberate (k rows, not the corpus). At 100 TB the cost is the two
    * retrievals; fusion is O(k).
    */
  def rrfFuse(spark: SparkSession, dir: String,
      queryTerms: Seq[String] = Seq("spark", "vector", "dup"),
      queryVecId: Long = 0L, k: Int = 20, kOut: Int = 10,
      kRrf: Int = 60): DataFrame = {
    val Scale = 1000000L
    val lex = bm25TopK(spark, dir, queryTerms, k)
      .select(col("doc_id"), row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("bm25_e6").desc, col("doc_id").asc))
        .cast("long").as("r_lex"))
    val dense = graft.ext.sim.Similarity
      .bruteForceTopK(spark, dir, queryVecId, k)
      .select(col("vec_id").as("doc_id"), row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("score").desc, col("vec_id").asc))
        .cast("long").as("r_dense"))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (coalesce(expr(s"$Scale DIV ($kRrf + r_lex)"), lit(0L)) +
          coalesce(expr(s"$Scale DIV ($kRrf + r_dense)"), lit(0L)))
          .as("rrf_e6"),
        col("r_lex"), col("r_dense"))
      .orderBy(col("rrf_e6").desc, col("doc_id").asc)
      .limit(kOut)
  }

  /** Gate entry for [[rrfFuse]]: fuse the default BM25 query's top 20
    * with vec 0's dense top 20, report the fused top 10.
    */
  def rrfReport(spark: SparkSession, dir: String): DataFrame =
    rrfFuse(spark, dir)

  /** Pseudo-relevance-feedback query expansion (RM1-style / Rocchio's
    * positive term: Lavrenko & Croft 2001, Rocchio 1971): assume the
    * first-pass BM25 top-`kFb` documents are relevant, rank the terms
    * they contain (minus the query's own terms) by total feedback
    * frequency, and emit the top `kTerms` as expansion candidates with
    * their evidence — `fb_tf` (occurrences across feedback docs) and
    * `fb_docs` (how many feedback docs contain the term). Ties break
    * lexicographically. Counts, not probability ratios, keep the gate
    * integer-exact; a production RM3 interpolation reweights these same
    * counts.
    *
    * Scale shape: the first pass is [[bm25TopK]]'s plan; the feedback
    * join touches `kFb` doc_ids (broadcast by size), so the expansion
    * explode runs over kFb documents — constant work after the
    * retrieval, like [[rrfFuse]]'s O(k) fusion and
    * [[graft.ext.sim.Similarity.mmrRerank]]'s k² re-rank. Top-terms is
    * TakeOrderedAndProject.
    */
  def prfExpand(spark: SparkSession, dir: String,
      queryTerms: Seq[String] = Seq("spark", "vector", "dup"),
      kFb: Int = 10, kTerms: Int = 10): DataFrame = {
    val fb = bm25TopK(spark, dir, queryTerms, kFb).select(col("doc_id"))
    docs(spark, dir).join(broadcast(fb), "doc_id")
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(!col("term").isin(queryTerms.distinct: _*))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("fb_tf"),
        countDistinct(col("doc_id")).as("fb_docs"))
      .orderBy(col("fb_tf").desc, col("term").asc)
      .limit(kTerms)
  }

  /** Fixture BPE merge table: 40 merges trained offline with the textbook
    * procedure (character symbols; each step merges the corpus-frequency-
    * maximal adjacent pair, lexicographic tie-break) over the documents
    * fixture's word-frequency table at sf0.01. Deterministic and
    * hardcoded — the gate and its DuckDB oracle replay the SAME sequence
    * (the oracle SQL's rank map is generated from this Seq, never
    * hand-copied). A production pipeline swaps in its tokenizer's
    * released merge list; everything downstream is rank-driven and
    * vocab-agnostic.
    */
  val BpeFixtureMerges: Seq[(String, String)] = Seq(
    "e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r", "s" -> "t",
    "m" -> "er", "a" -> "t", "l" -> "u", "a" -> "r", "p" -> "ar",
    "j" -> "o", "jo" -> "in", "a" -> "s", "as" -> "h", "h" -> "ash",
    "r" -> "ow", "at" -> "c", "atc" -> "h", "b" -> "atch", "a" -> "n",
    "c" -> "an", "s" -> "can", "c" -> "o", "c" -> "u", "co" -> "lu",
    "colu" -> "m", "colum" -> "n", "cu" -> "st", "cust" -> "o",
    "custo" -> "mer", "f" -> "i", "fi" -> "l", "fil" -> "t",
    "filt" -> "er", "a" -> "l", "al" -> "l", "m" -> "all", "s" -> "mall",
    "g" -> "e", "l" -> "ow")

  /** BPE tokens of `text` under the fixture vocabulary — one codegen'd
    * pass via [[graft.functions.BpeTokenize]].
    */
  def bpeTokens(text: Column): Column =
    graft.functions.BpeTokenize.bpe_tokenize(text, BpeFixtureMerges)

  /** Gated Unicode NFC normalization
    * ([[graft.functions.UnicodeNormalize]]): each document is augmented
    * with a DECOMPOSED suffix (`e`+U+0301 and `A`+U+030A — canonically
    * equivalent to `é`/`Å` but byte-distinct), so the gate exercises
    * real composition on every row instead of passing ASCII through.
    * Emits code-point lengths before/after (each suffix loses exactly 2
    * points under NFC) and the md5 of the normalized text — md5 runs
    * over UTF-8 bytes identically in both engines, so a single
    * mis-composed code point anywhere reds the row. Null text
    * participates as '' rather than vanishing.
    */
  def nfcReport(spark: SparkSession, dir: String): DataFrame = {
    // explicit escapes ('e'+COMBINING ACUTE, 'A'+COMBINING RING): a raw
    // decomposed literal here would invite silent editor/NFC mangling
    val aug = concat(coalesce(col("text"), lit("")),
      lit(" cafe\u0301 A\u030A"))
    val norm = graft.functions.UnicodeNormalize.unicode_normalize(aug)
    docs(spark, dir).select(col("doc_id"),
      length(aug).as("n_raw"),
      length(norm).as("n_nfc"),
      md5(norm.cast("binary")).as("nfc_md5"))
  }

  /** Distributed BPE TRAINING — the textbook procedure (Sennrich et al.
    * 2016) as a Spark job: ONE data-sized pass aggregates the corpus to
    * its word-frequency table; the merge loop then iterates on that
    * aggregated vocabulary alone (count adjacent symbol pairs weighted by
    * word frequency, merge the count-maximal pair everywhere,
    * lexicographic `(left, right)` tie-break for determinism). This is
    * how production tokenizers train at corpus scale: the corpus is
    * touched once, and every iteration's job runs over |vocab| rows —
    * ~10⁶–10⁷ for real corpora — so 30k merges of GPT-class vocabs are
    * 30k small jobs over a table that fits in one executor, not 30k
    * corpus scans. Pair application inside each step is a pure
    * `aggregate` HOF (left-to-right non-overlapping fold), so no UDF
    * serialization anywhere.
    *
    * Deliberately NOT driver-gated: the merge sequence is a function of
    * corpus word frequencies, which differ per SF (verified: sf0.001/
    * 0.01/0.1 diverge at merge 2), so a fixture-literal oracle would pin
    * the gate to one SF. Spec-proven instead (the [[bm25TopKOkapi]]
    * precedent): training at sf0.01 must reproduce [[BpeFixtureMerges]]
    * EXACTLY (the fixture was trained offline by an independent
    * implementation), and on random corpora it must equal a plain-Scala
    * reference trainer.
    */
  def bpeTrain(spark: SparkSession, dir: String,
      nMerges: Int = 40): Seq[(String, String)] = {
    val wordFreq = docs(spark, dir)
      .filter(col("text").isNotNull && trim(col("text")) =!= "")
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    bpeTrainOnVocab(wordFreq, nMerges)
  }

  /** The merge loop over an explicit `(w, freq)` vocabulary table — the
    * artifact a production ingest persists once per corpus snapshot and
    * trains from repeatedly.
    */
  def bpeTrainOnVocab(wordFreq: DataFrame,
      nMerges: Int): Seq[(String, String)] = {
    // split-to-chars keeps limit=-1 semantics (a trailing empty string),
    // so drop empties explicitly
    var vocab = wordFreq
      .select(filter(split(col("w"), ""), x => x =!= "").as("syms"),
        col("freq"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ListBuffer[(String, String)]()
    var exhausted = false
    while (merges.size < nMerges && !exhausted) {
      val best = vocab
        .select(col("freq"), explode(arrays_zip(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1))).as("p"))
        .select(col("p.0").as("l"), col("p.1").as("r"), col("freq"))
        .groupBy(col("l"), col("r")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val l = best(0).getString(0)
        val r = best(0).getString(1)
        merges += ((l, r))
        // merge ALL occurrences left-to-right, non-overlapping: fold each
        // symbol onto the output, joining it with the previous symbol
        // when they form (l, r) — the merged token differs from l (r is
        // non-empty), so a just-merged position can never be reused as
        // the left half of an overlapping match
        val merged = aggregate(col("syms"),
          array().cast("array<string>"),
          (out, x) => when(
            size(out) > 0 && element_at(out, -1) === lit(l) && x === lit(r),
            concat(slice(out, lit(1), size(out) - 1), array(lit(l + r))))
            .otherwise(concat(out, array(x))))
        vocab = vocab.select(merged.as("syms"), col("freq"))
          .localCheckpoint(true)
      }
    }
    merges.toList
  }

  /** The AUGMENTED word stream the 500-merge gates run on, as one text
    * column: the document's whitespace words followed by every
    * adjacent-word concatenation (`w_i || w_{i+1}`), space-joined. The
    * raw fixture corpus has 31 distinct words — BPE exhausts at 89
    * merges — so this deterministic augmentation (the `x_text_nfc`
    * trick) is what gives [[BpeFixture500]] a realism-sized stream to
    * bite on; the oracle replays it verbatim in DuckDB. Null/blank in,
    * empty out.
    */
  def bpeAugmentedText(text: Column): Column = {
    val w = filter(split(trim(text), "\\s+"), x => x =!= "")
    val pairs = when(size(w) >= 2,
      transform(sequence(lit(1), size(w) - 1),
        i => concat(element_at(w, i), element_at(w, i + 1))))
      .otherwise(array().cast("array<string>"))
    when(text.isNull, lit(""))
      .otherwise(array_join(concat(w, pairs), " "))
  }

  /** BPE tokens of the augmented stream under the frozen 500-merge
    * sf0.1-trained vocabulary — the realism-sized twin of [[bpeTokens]];
    * still ONE codegen'd zero-shuffle pass. Uses the imperative
    * augmented encode (`bpe_tokenize_augmented`): token-identical to
    * `bpe_tokenize(bpeAugmentedText(text))` (a spec pins the equality)
    * but one regex split per row instead of the HOF chain's
    * O(words²) re-evaluation of the word array — the difference between
    * ~10 s and scan speed over the sf0.1 documents. Null maps to an
    * empty token array, matching the declarative form's
    * `when(isNull, "")`.
    */
  def bpeTokens500(text: Column): Column =
    graft.functions.BpeTokenize.bpe_tokenize_augmented(
      coalesce(text, lit("")), BpeFixture500.Merges)

  /** Distributed trainer over the augmented stream — the job that
    * produced (and in [[BpeSpec]] must reproduce) [[BpeFixture500]]:
    * same one-pass word-frequency aggregation as [[bpeTrain]], with the
    * adjacent-concatenation words unioned in.
    */
  def bpeTrainAugmented(spark: SparkSession, dir: String,
      nMerges: Int): Seq[(String, String)] =
    bpeTrainOnVocab(augmentedWordFreq(spark, dir), nMerges)

  /** The augmented stream's `(w, freq)` table — the corpus-snapshot
    * artifact the 500-merge training runs from (and the one the spec
    * hands to the plain-Scala reference trainer).
    */
  def augmentedWordFreq(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .filter(col("text").isNotNull && trim(col("text")) =!= "")
      .select(explode(split(bpeAugmentedText(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** Real-tokenizer token accounting — what [[tokenCounts]]'s whitespace
    * split stands in for: per document, the BPE token count, distinct-
    * token count, and the first 8 tokens (joined `|`, exercising token
    * IDENTITY and order, not just arithmetic) — over the augmented
    * stream under the 500-merge sf0.1-trained [[BpeFixture500]].
    * Null/blank text surfaces as zero counts with an empty preview,
    * never vanishes. Narrow per-row projection — scan speed at 100 TB.
    */
  def bpeReport(spark: SparkSession, dir: String): DataFrame = {
    val toks = when(col("text").isNull, array().cast("array<string>"))
      .otherwise(bpeTokens500(col("text")))
    docs(spark, dir).select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        size(col("toks")).as("n_bpe_tokens"),
        size(array_distinct(col("toks"))).as("n_bpe_distinct"),
        array_join(slice(col("toks"), 1, 8), "|").as("bpe_preview"))
  }
}
