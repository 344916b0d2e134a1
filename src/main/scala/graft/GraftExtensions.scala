package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CosineSim, DotProduct, JaroWinkler, MgHeavyHitters, PolyHash, SimHash64, TopKAgg, WordNgrams}

/** SparkSessionExtensions entry point: registers the engine's native
  * Catalyst expressions under SQL names, so `spark.sql("SELECT
  * graft_cosine(a, b) ...")` works alongside the Column API
  * (`VectorFunctions`). Activate with:
  *
  * {{{
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)
  *     // or: .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  */
object GraftExtensions {

  /** The one function table both registration paths read:
    * (SQL name, usage, builder).
    */
  private val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_cosine", "graft_cosine(a, b) - cosine similarity of two float/double arrays",
      args => CosineSim(args(0), args(1))),
    ("graft_dot", "graft_dot(a, b) - dot product of two float/double arrays",
      args => DotProduct(args(0), args(1))),
    ("graft_simhash64", "graft_simhash64(tokens) - 64-bit SimHash of a string array",
      args => SimHash64(args.head)),
    ("graft_jaro_winkler", "graft_jaro_winkler(a, b) - Jaro-Winkler similarity of two strings",
      args => JaroWinkler(args(0), args(1))),
    ("graft_topk",
      "graft_topk(ord, payload, k) - top-k (ord, payload) pairs per group, partial-aggregated",
      args => TopKAgg(args(0), args(1), args(2)).toAggregateExpression()),
    ("graft_heavy_hitters",
      "graft_heavy_hitters(item, k) - Misra-Gries candidate summary, partial-aggregated",
      args => MgHeavyHitters(args(0), args(1)).toAggregateExpression()),
    ("graft_shingles", "graft_shingles(text, k) - distinct word k-shingles, single pass",
      args => WordNgrams(args(0), args(1), distinct = true)),
    ("graft_ngrams", "graft_ngrams(text, k) - word n-grams with duplicates, single pass",
      args => WordNgrams(args(0), args(1), distinct = false)),
    ("graft_polyhash", "graft_polyhash(s) - polynomial codepoint hash mod 1e9+7",
      args => PolyHash(args.head)))

  /** Register the same functions on an ALREADY-RUNNING session (extensions
    * only apply at session build time).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, _, builder) =>
      registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, usage, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
        builder))
    }
}
