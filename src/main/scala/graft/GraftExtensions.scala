package graft

import graft.functions.{Digamma, DotProduct, LogAdd, LogGammaExpr, SimHash60, Trigamma, WordNgrams}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StringType}

/**
 * SQL surface for the library's custom Catalyst expressions: register via
 * `spark.sql.extensions=graft.GraftExtensions` on a new session, or
 * `GraftExtensions.register(spark)` on an existing one. After that
 * `spark.sql("SELECT digamma(x) ...")` uses the same codegen'd kernels as
 * the DataFrame facade (graft.functions.gfunctions).
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
  }
}

object GraftExtensions {

  private def unary(name: String, f: Expression => Expression)
      : (String, ExpressionInfo, Seq[Expression] => Expression) =
    (name, new ExpressionInfo(classOf[GraftExtensions].getName, name),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"$name expects exactly 1 argument")
        f(Cast(args.head, DoubleType))
      })

  private def binary(name: String, f: (Expression, Expression) => Expression)
      : (String, ExpressionInfo, Seq[Expression] => Expression) =
    (name, new ExpressionInfo(classOf[GraftExtensions].getName, name),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"$name expects exactly 2 arguments")
        f(Cast(args(0), DoubleType), Cast(args(1), DoubleType))
      })

  private def binaryVec(name: String, f: (Expression, Expression) => Expression)
      : (String, ExpressionInfo, Seq[Expression] => Expression) =
    (name, new ExpressionInfo(classOf[GraftExtensions].getName, name),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"$name expects exactly 2 arguments")
        f(Cast(args(0), ArrayType(DoubleType)), Cast(args(1), ArrayType(DoubleType)))
      })

  /** text + foldable gram size n, e.g. `word_ngrams(text, 3)` */
  private def textNgrams(name: String, wholeTextFallback: Boolean)
      : (String, ExpressionInfo, Seq[Expression] => Expression) =
    (name, new ExpressionInfo(classOf[GraftExtensions].getName, name),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"$name expects exactly 2 arguments")
        require(args(1).foldable, s"$name: n must be a literal")
        val n = Cast(args(1), IntegerType).eval().asInstanceOf[Int]
        WordNgrams(Cast(args(0), StringType), n, wholeTextFallback)
      })

  /** (name, info, builder) for every registered SQL function. */
  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    unary("digamma", Digamma),
    unary("trigamma", Trigamma),
    unary("lgamma", LogGammaExpr),
    binary("log_add", LogAdd),
    binaryVec("vec_dot", DotProduct),
    textNgrams("word_ngrams", wholeTextFallback = false),
    textNgrams("shingles", wholeTextFallback = true),
    ("simhash60", new ExpressionInfo(classOf[GraftExtensions].getName, "simhash60"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "simhash60 expects exactly 1 argument")
        SimHash60(Cast(args.head, ArrayType(StringType)))
      }),
    ("nfc_normalize", new ExpressionInfo(classOf[GraftExtensions].getName, "nfc_normalize"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "nfc_normalize expects exactly 1 argument")
        graft.functions.NfcNormalize(Cast(args.head, StringType))
      }),
    ("fold_accents", new ExpressionInfo(classOf[GraftExtensions].getName, "fold_accents"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "fold_accents expects exactly 1 argument")
        graft.functions.FoldAccents(Cast(args.head, StringType))
      }),
    ("porter_stem", new ExpressionInfo(classOf[GraftExtensions].getName, "porter_stem"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "porter_stem expects exactly 1 argument")
        graft.functions.PorterStem(Cast(args.head, StringType))
      }),
    ("jaro_winkler", new ExpressionInfo(classOf[GraftExtensions].getName, "jaro_winkler"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "jaro_winkler expects exactly 2 arguments")
        graft.functions.JaroWinkler(Cast(args(0), StringType), Cast(args(1), StringType))
      }),
    ("lcs_len", new ExpressionInfo(classOf[GraftExtensions].getName, "lcs_len"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "lcs_len expects exactly 2 arguments")
        graft.functions.LcsLen(Cast(args(0), ArrayType(StringType)),
          Cast(args(1), ArrayType(StringType)))
      }),
    // aggregate: the analyzer wraps the raw AggregateFunction like any
    // built-in (sum/avg), so GROUP BY ... logsumexp(x) just works
    ("logsumexp", new ExpressionInfo(classOf[GraftExtensions].getName, "logsumexp"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "logsumexp expects exactly 1 argument")
        graft.functions.LogSumExpDecl(Cast(args.head, DoubleType))
      }))

  /** Register into an already-built session (extensions only run at
    * construction time). */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, info, builder) =>
      org.apache.spark.sql.graftshim.shim.registerFunction(spark, name, info, builder)
    }
}
