package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Everything graft adds to a session — its optimizer rules, the as-of
  * planner strategy, and the SQL functions (`polyhash`, `simhash64`,
  * `minhash_sig`, ...) and `as_of` table function — injected through
  * Spark's one extension point:
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  * }}}
  * [[graft.GraftSession.harnessSession]] sets exactly that, and cluster
  * configs name the same class.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.optimizerRules.foreach(r => e.injectOptimizerRule(_ => r))
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    GraftExtensions.sqlFunctions.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), builder))
    }
    GraftExtensions.sqlTableFunctions.foreach { case (name, builder) =>
      e.injectTableFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.operators", name), builder))
    }
  }
}

object GraftExtensions {

  /** The optimizer rules, in injection order: the top-1 rule first, so
    * `rn <= 1` takes the cheaper min_by/max_by plan and the top-k rule
    * only sees k >= 2.
    */
  val optimizerRules: Seq[Rule[LogicalPlan]] =
    Seq(TopOnePerKeyRewrite, TopKPerKeyRewrite, RangeJoinRewrite)

  /** (name, builder) for every SQL-exposed custom expression. */
  private[graft] val sqlFunctions: Seq[(String,
      Seq[Expression] => Expression)] = Seq(
    "polyhash" -> (exprs => graft.functions.PolyHash(exprs.head)),
    "simhash64" -> (exprs => graft.functions.SimHash64(exprs.head)),
    "minhash_sig" -> (exprs => {
      val k = exprs(1).eval(null).asInstanceOf[Number].intValue
      graft.functions.MinHashSig(exprs.head, k)
    }),
    "shingle_array" -> (exprs => {
      val n = exprs(1).eval(null).asInstanceOf[Number].intValue
      graft.functions.ShingleArray(exprs.head, n)
    }),
    "kmv_sketch" -> (exprs => {
      val k = exprs(1).eval(null).asInstanceOf[Number].intValue
      graft.functions.KmvSketch(exprs.head, k)
    }),
    "freq_items" -> (exprs => {
      val k = exprs(1).eval(null).asInstanceOf[Number].intValue
      graft.functions.FreqItemsSketch(exprs.head, k)
    }),
    "bloom_agg" -> (exprs => {
      val bits = exprs(1).eval(null).asInstanceOf[Number].intValue
      val hashes = if (exprs.length > 2)
        exprs(2).eval(null).asInstanceOf[Number].intValue else 5
      graft.functions.BloomFilterAgg(exprs.head, bits, hashes)
    }),
    "zorder_code" -> (exprs => {
      val bits = exprs(2).eval(null).asInstanceOf[Number].intValue
      graft.functions.ZOrderCode(exprs.head, exprs(1), bits)
    }),
    // n-ary form: zorder_code_n(c1, ..., cn, bitsPer)
    "zorder_code_n" -> (exprs => {
      val bits = exprs.last.eval(null).asInstanceOf[Number].intValue
      graft.functions.ZOrderCodeN(exprs.init, bits)
    }),
    "winnow_fp" -> (exprs => {
      val k = exprs(1).eval(null).asInstanceOf[Number].intValue
      val w = exprs(2).eval(null).asInstanceOf[Number].intValue
      graft.functions.WinnowFp(exprs.head, k, w)
    }),
    // SQL surface uses the fixture vocab (the gate path); programmatic
    // callers pass their own merge table through BpeTokenize directly
    "bpe_tokenize" -> (exprs => graft.functions.BpeTokenize(exprs.head,
      graft.ext.text.TextAnalysis.BpeFixtureMerges)),
    "unicode_normalize" -> (exprs => {
      val form = if (exprs.length > 1)
        exprs(1).eval(null).toString else "NFC"
      graft.functions.UnicodeNormalize(exprs.head, form)
    }),
    // SQL surface uses the fixture dictionary (the gate path);
    // programmatic callers pass their own dict through DictTagCounts
    "dict_tag_counts" -> (exprs => graft.functions.DictTagCounts(exprs.head,
      graft.ext.text.TextAnalysis.TagDict)))

  /** (name, builder) for every SQL-exposed TABLE function.
    *
    * `as_of(probe_view, build_view, probe_keys, build_keys, probe_ts,
    * build_ts[, build_tie[, mode[, tolerance_seconds]]])` — the SQL
    * surface for the point-in-time join ([[graft.operators.AsOfJoin]]):
    * view names and column lists arrive as string literals (keys/tie as
    * comma-separated lists; `mode` any of '', 'strict', 'forward',
    * 'strict,forward'), the builder resolves the views in the ACTIVE
    * session's catalog and returns the analyzed
    * [[graft.plans.AsOfJoinNode]] plan — so `SELECT * FROM as_of(...)`
    * plans through the same custom merge-scan exec as the Scala API,
    * one exchange + one sort per side.
    */
  private[graft] val sqlTableFunctions: Seq[(String,
      Seq[Expression] => LogicalPlan)] = Seq(
    "as_of" -> (exprs => {
      def arg(i: Int): String = {
        val e = exprs(i)
        require(e.foldable,
          s"as_of argument ${i + 1} must be a literal, got $e")
        Option(e.eval(null)).map(_.toString).getOrElse("")
      }
      require(exprs.length >= 6 && exprs.length <= 9,
        "as_of(probe_view, build_view, probe_keys, build_keys, probe_ts," +
          " build_ts[, build_tie[, mode[, tolerance_seconds]]]) takes 6-9" +
          s" arguments, got ${exprs.length}")
      def csv(s: String): Seq[String] =
        s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val spark = SparkSession.active
      val mode = if (exprs.length > 7) arg(7).toLowerCase else ""
      require(csv(mode).forall(Seq("strict", "forward").contains),
        s"as_of mode must be '', 'strict', 'forward' or 'strict,forward'," +
          s" got '$mode'")
      val tol = if (exprs.length > 8)
        Some(exprs(8).eval(null).asInstanceOf[Number].longValue) else None
      graft.operators.AsOfJoin.asOfExec(
          spark.table(arg(0)), spark.table(arg(1)),
          csv(arg(2)), csv(arg(3)), arg(4), arg(5),
          buildTie = if (exprs.length > 6) csv(arg(6)) else Nil,
          strict = mode.contains("strict"),
          toleranceSeconds = tol,
          forward = mode.contains("forward"))
        .queryExecution.analyzed
    }))
}
