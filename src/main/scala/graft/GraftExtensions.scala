package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftshim.ArgErrors

import graft.functions.{CosineSimExpr, HyperplaneBucketExpr, NativeFn, TextFunctions}
import graft.stages.CnpScrubber

/** SQL surface for the native expressions: usable either as a session
  * extension (`spark.sql.extensions=graft.GraftExtensions`) or by calling
  * [[GraftFunctions.registerAll]] on an existing session. All functions are
  * codegen-capable Catalyst expressions (no UDF boxing).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftFunctions {
  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "")

  /** Splits the arguments of a SQL call to `name` into its `children`
    * leading expressions and the values of its trailing int constants
    * `intParams`. A wrong argument count, a non-foldable constant, or one
    * that is not a non-null int fails analysis naming the function.
    */
  private def args(name: String, children: Int, intParams: Seq[String],
      es: Seq[Expression]): (Seq[Expression], Seq[Int]) = {
    if (es.length != children + intParams.length)
      throw ArgErrors.wrongNumArgs(name, children + intParams.length,
        es.length)
    val ints = es.drop(children).zip(intParams).map { case (e, param) =>
      if (!e.foldable) throw ArgErrors.nonFoldable(name, param)
      e.eval() match {
        case i: Int => i
        case _ => throw ArgErrors.notAnInt(name, param, e)
      }
    }
    (es.take(children), ints)
  }

  /** A declared function: the first argument is the child, the rest are
    * its int literals.
    */
  private def native(fn: NativeFn, usage: String) =
    (fn.name, info(fn.name, usage), (es: Seq[Expression]) => {
      val (Seq(child), ints) = args(fn.name, 1, fn.intArgs.map(_._1), es)
      fn.expr(child, ints)
    })

  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    native(CnpScrubber.ScrubCnp,
      "replaces checksum-valid Romanian CNPs with <CNP>"),
    native(CnpScrubber.CountCnp, "counts checksum-valid Romanian CNPs"),
    native(TextFunctions.DocFingerprint,
      "reflow-stable rolling-hash fingerprint of text"),
    native(TextFunctions.SimHash64, "64-bit SimHash of a token array"),
    native(TextFunctions.ShingleHashes,
      "hashes of word n-gram shingles (n literal)"),
    native(TextFunctions.MinHashSignature,
      "k-minhash signature of shingle hashes (k literal)"),
    ("cosine_sim",
      info("cosine_sim", "exact cosine similarity of two array<double>"),
      (es: Seq[Expression]) => {
        val (Seq(a, b), _) = args("cosine_sim", 2, Nil, es)
        CosineSimExpr(a, b)
      }),
    ("hyperplane_bucket",
      info("hyperplane_bucket",
        "sign-bit hyperplane LSH bucket of array<double> (planes, dim literals)"),
      (es: Seq[Expression]) => {
        val (Seq(emb), Seq(planes, dim)) =
          args("hyperplane_bucket", 1, Seq("planes", "dim"), es)
        HyperplaneBucketExpr(emb, planes, dim)
      })
  )

  /** Registers [[all]], the functions the extension injects, on an
    * already-running session.
    */
  def registerAll(spark: SparkSession): Unit =
    all.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}
