package graft.engine

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{FloatVecDot, HyperplaneSketch, MinHashSig, RollingWinnow, SimHash60}

/** Registration of the engine's native expressions as SQL functions, so
  * `SELECT vec_dot(a, b)` / `minhash_sig(hv, 128)` /
  * `hyperplane_sketch(e, 64, 6, 32)` / `rolling_winnow(text, 8, 4)`
  * work from pure SQL.
  * Deploy via `spark.sql.extensions=graft.engine.GraftExtensions`, or call
  * [[GraftExtensions.register]] on a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // r20: materialize the child of every range-sort exchange so the
    // global-sort sampling pass stops re-executing the query's final
    // stage (see [[SortSampleCut]]).
    ext.injectQueryStagePrepRule(_ => SortSampleCut)
  }
}

object GraftExtensions {

  private def arity(name: String, sig: String, n: Int)(
      children: Seq[Expression]): Unit =
    if (children.length != n) throw new IllegalArgumentException(
      s"$name: expected $n arguments — $name($sig) — got ${children.length}")

  /** Plan-time int parameter of a registered function — the constructor
    * args custom expressions take as Scala Ints, so they must be SQL
    * literals.
    */
  private def intLit(fn: String, what: String)(e: Expression): Int =
    e match {
      case Literal(v, _) => v.toString.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be a literal, got $other")
    }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "vec_dot"),
      (children: Seq[Expression]) => {
        arity("vec_dot", "a, b", 2)(children)
        FloatVecDot(children(0), children(1))
      }),
    (new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (children: Seq[Expression]) => {
        arity("minhash_sig", "hashedShingles, numHashes", 2)(children)
        MinHashSig(children.head,
          intLit("minhash_sig", "numHashes")(children(1)))
      }),
    (new FunctionIdentifier("hyperplane_sketch"),
      new ExpressionInfo(classOf[HyperplaneSketch].getName, "hyperplane_sketch"),
      (children: Seq[Expression]) => {
        arity("hyperplane_sketch", "vec, dim, nbits, tables", 4)(children)
        val p = intLit("hyperplane_sketch", _: String)(_: Expression)
        HyperplaneSketch(children.head,
          p("dim", children(1)), p("nbits", children(2)),
          p("tables", children(3)))
      }),
    (new FunctionIdentifier("simhash60"),
      new ExpressionInfo(classOf[SimHash60].getName, "simhash60"),
      (children: Seq[Expression]) => {
        arity("simhash60", "hashes", 1)(children)
        SimHash60(children.head)
      }),
    (new FunctionIdentifier("rolling_winnow"),
      new ExpressionInfo(classOf[RollingWinnow].getName, "rolling_winnow"),
      (children: Seq[Expression]) => {
        arity("rolling_winnow", "text, k, w", 3)(children)
        RollingWinnow(children.head,
          intLit("rolling_winnow", "k")(children(1)),
          intLit("rolling_winnow", "w")(children(2)))
      }))

  /** Register on an already-built session (tests, notebooks). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(id, info, builder)
    }
}
