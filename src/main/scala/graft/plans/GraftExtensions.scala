package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The engine's `SparkSessionExtensions` installer (SURVEY §7.3's
  * "custom Catalyst pieces" hook): registers native expressions under
  * SQL-callable names. [[graft.Session.builder]] installs it on every
  * session the engine builds, and library code calls these functions
  * with no fallback: on a session built without it, the analyzer
  * rejects the first call with an unresolved-routine error that names
  * the function. A session built elsewhere installs it with
  * `withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  *
  * `topk_pairs(score, id, k)` keeps each group's k best distinct
  * (score, id) pairs: repeated pairs collapse into one entry, so ids
  * must be unique within a group for it to match the `row_number`
  * window form ([[TopKPairsAgg]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Shared integer-literal reader for function parameters: INTEGRAL
    * literals only — `Number.intValue` on a decimal/double would
    * silently truncate (`word_ngrams(text, 2.9)` → bigrams), turning a
    * meaningless call into a plausible wrong answer instead of the
    * promised analysis error. */
  private def intLit(e: Expression, fn: String, what: String): Int = e match {
    case x if x.foldable => x.eval() match {
      case n @ (_: java.lang.Integer | _: java.lang.Long |
                _: java.lang.Short | _: java.lang.Byte) =>
        val v = n.asInstanceOf[java.lang.Number].longValue()
        require(v >= Int.MinValue && v <= Int.MaxValue,
          s"$fn: $what out of int range: $v")
        v.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be an integer literal, got $other")
    }
    case _ => throw new IllegalArgumentException(
      s"$fn: $what must be a literal, not a column")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "cosine_sim takes exactly 2 arguments")
        CosineSim(args.head, args(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("kmv_sketch"),
      new ExpressionInfo(classOf[KmvSketchAgg].getName, "kmv_sketch"),
      (args: Seq[Expression]) => args match {
        case Seq(child) => KmvSketchAgg(child).toAggregateExpression()
        case Seq(child, kExpr) =>
          KmvSketchAgg(child, intLit(kExpr, "kmv_sketch", "k"))
            .toAggregateExpression()
        case _ => throw new IllegalArgumentException(
          "kmv_sketch takes 1 or 2 arguments: kmv_sketch(col[, k])")
      }))
    ext.injectFunction((
      new FunctionIdentifier("cms_sketch"),
      new ExpressionInfo(classOf[CmsSketchAgg].getName, "cms_sketch"),
      (args: Seq[Expression]) => args match {
        case Seq(child) => CmsSketchAgg(child).toAggregateExpression()
        case Seq(child, d, w) =>
          CmsSketchAgg(child, intLit(d, "cms_sketch", "depth"),
            intLit(w, "cms_sketch", "width")).toAggregateExpression()
        case _ => throw new IllegalArgumentException(
          "cms_sketch takes 1 or 3 arguments: cms_sketch(col[, depth, width])")
      }))
    ext.injectFunction((
      new FunctionIdentifier("cms_estimate"),
      new ExpressionInfo(classOf[CmsEstimate].getName, "cms_estimate"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "cms_estimate takes exactly 2 arguments")
        CmsEstimate(args.head, args(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[WordNgrams].getName, "word_ngrams"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "word_ngrams takes exactly 2 arguments: word_ngrams(text, n)")
        WordNgrams(args.head, intLit(args(1), "word_ngrams", "n"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("qsample_sketch"),
      new ExpressionInfo(classOf[QSampleSketchAgg].getName, "qsample_sketch"),
      (args: Seq[Expression]) => args match {
        case Seq(id, value) => QSampleSketchAgg(id, value).toAggregateExpression()
        case Seq(id, value, kExpr) =>
          QSampleSketchAgg(id, value, intLit(kExpr, "qsample_sketch", "k"))
            .toAggregateExpression()
        case _ => throw new IllegalArgumentException(
          "qsample_sketch takes 2 or 3 arguments: qsample_sketch(id, value[, k])")
      }))
    ext.injectFunction((
      new FunctionIdentifier("qsample_merge"),
      new ExpressionInfo(classOf[QSampleMergeAgg].getName, "qsample_merge"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "qsample_merge takes exactly 1 argument")
        QSampleMergeAgg(args.head).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("qsample_quantile"),
      new ExpressionInfo(classOf[QSampleQuantile].getName, "qsample_quantile"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "qsample_quantile takes exactly 2 arguments")
        QSampleQuantile(args.head, args(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("kmv_card"),
      new ExpressionInfo(classOf[KmvCardinality].getName, "kmv_card"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "kmv_card takes exactly 1 argument")
        KmvCardinality(args.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("kmv_intersect"),
      new ExpressionInfo(classOf[KmvIntersect].getName, "kmv_intersect"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "kmv_intersect takes exactly 2 arguments")
        KmvIntersect(args.head, args(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_sketch"),
      new ExpressionInfo(classOf[BloomSketchAgg].getName, "bloom_sketch"),
      (args: Seq[Expression]) => args match {
        case Seq(child) => BloomSketchAgg(child).toAggregateExpression()
        case Seq(child, bits, k) =>
          BloomSketchAgg(child, intLit(bits, "bloom_sketch", "numBits"),
            intLit(k, "bloom_sketch", "numHashes")).toAggregateExpression()
        case _ => throw new IllegalArgumentException(
          "bloom_sketch takes 1 or 3 arguments: bloom_sketch(col[, numBits, numHashes])")
      }))
    ext.injectFunction((
      new FunctionIdentifier("topk_pairs"),
      new ExpressionInfo(classOf[TopKPairsAgg].getName, "topk_pairs"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "topk_pairs takes exactly 3 arguments: topk_pairs(score, id, k)")
        TopKPairsAgg(args.head, args(1), intLit(args(2), "topk_pairs", "k"))
          .toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(classOf[BloomContains].getName, "bloom_contains"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "bloom_contains takes exactly 2 arguments")
        BloomContains(args.head, args(1))
      }))
  }
}
