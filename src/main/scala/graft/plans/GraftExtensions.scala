package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.execution.SparkStrategy

/** Registers graft's native kernel expressions as SQL functions, so
  * `spark.sql("SELECT minhash_signature(text, 3, 64) ...")` works for
  * SQL-first users, and graft's planner strategies
  * ([[GroupedTopKStrategy]], [[GatherSmallSortStrategy]]).
  *
  * Entry points:
  * - cluster config: `spark.sql.extensions=graft.plans.GraftExtensions`
  *   (functions and strategies)
  * - runtime: `GraftExtensions.register(spark)` (functions) and
  *   `GraftExtensions.install(spark)` (strategies) on an existing
  *   session; `Sources.readParquet` and `TopK.topKPerGroup` call
  *   `install`
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._
  override def apply(ext: SparkSessionExtensions): Unit = {
    functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
  }
}

object GraftExtensions {
  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  private[plans] val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("minhash_signature",
      new ExpressionInfo(classOf[MinHashSignatureExpr].getName, "minhash_signature"),
      (es: Seq[Expression]) => es match {
        case Seq(t) => MinHashSignatureExpr(t, 3, 64)
        case Seq(t, w, p) => MinHashSignatureExpr(t, intArg(w, "w"), intArg(p, "numPerm"))
        case _ => throw new IllegalArgumentException("minhash_signature(text[, w, numPerm])")
      }),
    ("shingle_hashes",
      new ExpressionInfo(classOf[ShingleHashesExpr].getName, "shingle_hashes"),
      (es: Seq[Expression]) => es match {
        case Seq(t) => ShingleHashesExpr(t, 3)
        case Seq(t, w) => ShingleHashesExpr(t, intArg(w, "w"))
        case _ => throw new IllegalArgumentException("shingle_hashes(text[, w])")
      }),
    ("simhash",
      new ExpressionInfo(classOf[SimHashExpr].getName, "simhash"),
      (es: Seq[Expression]) => SimHashExpr(es.head)),
    ("lang_id",
      new ExpressionInfo(classOf[LangIdExpr].getName, "lang_id"),
      (es: Seq[Expression]) => LangIdExpr(es.head)),
    ("fix_mojibake",
      new ExpressionInfo(classOf[FixMojibakeExpr].getName, "fix_mojibake"),
      (es: Seq[Expression]) => FixMojibakeExpr(es.head)),
    ("shingle_strings",
      new ExpressionInfo(classOf[ShingleStringsExpr].getName, "shingle_strings"),
      (es: Seq[Expression]) => es match {
        case Seq(t) => ShingleStringsExpr(t, 3)
        case Seq(t, w) => ShingleStringsExpr(t, intArg(w, "w"))
        case _ => throw new IllegalArgumentException("shingle_strings(text[, w])")
      }),
    ("cosine_sim",
      new ExpressionInfo(classOf[CosineSimExpr].getName, "cosine_sim"),
      (es: Seq[Expression]) => CosineSimExpr(es(0), es(1))),
    ("dot_product",
      new ExpressionInfo(classOf[DotProductExpr].getName, "dot_product"),
      (es: Seq[Expression]) => DotProductExpr(es(0), es(1))),
    ("l2_distance",
      new ExpressionInfo(classOf[L2DistanceExpr].getName, "l2_distance"),
      (es: Seq[Expression]) => L2DistanceExpr(es(0), es(1))),
    // zorder_key(v0, v1, ..., bits): Morton-interleave pre-bucketed
    // non-negative ints — the SQL spelling of ZOrder.interleave (the
    // builder composes the same shift/mask tree from catalyst
    // built-ins, so it stays codegen'd end to end)
    ("zorder_key",
      new ExpressionInfo(classOf[GraftExtensions].getName, "zorder_key"),
      (es: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.{
          BitwiseAnd, BitwiseOr, Cast, ShiftLeft, ShiftRight}
        import org.apache.spark.sql.types.{IntegerType, LongType}
        require(es.size >= 2, "zorder_key(v0[, v1, ...], bits)")
        val bits = intArg(es.last, "bits")
        val cols = es.init
        val n = cols.size
        require(bits >= 1 && n * bits <= 63,
          s"zorder_key: n*bits must be in 1..63 (got $n*$bits)")
        val terms = for { (c, i) <- cols.zipWithIndex; j <- 0 until bits }
          yield ShiftLeft(
            BitwiseAnd(ShiftRight(Cast(c, LongType), Literal(j, IntegerType)),
              Literal(1L)),
            Literal(j * n + (n - 1 - i), IntegerType))
        terms.reduce[Expression](BitwiseOr(_, _))
      }),
    // hilbert_key(v0, v1, ..., bits): Hilbert index of pre-bucketed
    // non-negative ints — the SQL spelling of Hilbert.hilbertValue
    // (array-wrap then the codegen kernel expression)
    ("hilbert_key",
      new ExpressionInfo(classOf[HilbertIndexExpr].getName, "hilbert_key"),
      (es: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.{Cast, CreateArray}
        import org.apache.spark.sql.types.LongType
        require(es.size >= 2, "hilbert_key(v0[, v1, ...], bits)")
        val bits = intArg(es.last, "bits")
        val cols = es.init
        require(bits >= 1 && cols.size * bits <= 63,
          s"hilbert_key: n*bits must be in 1..63 (got ${cols.size}*$bits)")
        HilbertIndexExpr(CreateArray(cols.map(Cast(_, LongType))), bits)
      }))

  private[plans] val strategies: Seq[SparkStrategy] =
    Seq(GroupedTopKStrategy, GatherSmallSortStrategy)

  /** Appends graft's planner strategies to the session's
    * `experimental.extraStrategies`; idempotent, so every graft entry
    * point may call it. */
  def install(spark: SparkSession): Unit = {
    val exp = spark.experimental
    if (!strategies.forall(exp.extraStrategies.contains)) exp.synchronized {
      exp.extraStrategies =
        exp.extraStrategies ++ strategies.filterNot(exp.extraStrategies.contains)
    }
  }

  /** Runtime registration into an existing session's function registry. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(name), info, builder)
    }
}
