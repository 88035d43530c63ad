package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import org.apache.spark.sql.graftbridge.Bridge

import graft.functions.{AsciiClassCount, Fns, Format12g, MinHashSigs, PyTitleCase,
  SimHash60, VecDot, WinnowFingerprints, WordSetCount, WsTokenCount}

/** SQL-surface registration of the engine's custom expressions (and of
  * `replace_first`, a composition of built-ins), for
  * cluster deployment via `spark.sql.extensions=graft.GraftExtensions`
  * (every session built on the cluster gets the functions; no per-session
  * registration code). [[graft.LocalSession]] installs it on every
  * session the mains and tests build.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // whole-plan rewrite: point-in-interval joins → binned equi-joins
    // (see graft.plans.BinnedRangeJoin) — runs after the main optimizer
    // batches, before physical planning picks a join strategy
    ext.injectOptimizerRule(_ => graft.plans.BinnedRangeJoin)
    // equi-join keys wrapped in an injective integral->string cast hash
    // the raw integrals instead (the reference's astype(str) join habit)
    ext.injectOptimizerRule(_ => graft.plans.UnwrapCastKeyJoin)
    ext.injectFunction((
      new FunctionIdentifier("replace_first"),
      new ExpressionInfo(Fns.getClass.getName, "replace_first"),
      (exprs: Seq[Expression]) => Bridge.expressionTree(Fns.replaceFirst(
        Bridge.column(exprs(0)), Bridge.column(exprs(1)), Bridge.column(exprs(2))))))
    ext.injectFunction((
      new FunctionIdentifier("format_12g"),
      new ExpressionInfo(classOf[Format12g].getName, "format_12g"),
      (exprs: Seq[Expression]) => Format12g(exprs.head)))
    ext.injectFunction((
      new FunctionIdentifier("simhash60"),
      new ExpressionInfo(classOf[SimHash60].getName, "simhash60"),
      (exprs: Seq[Expression]) => SimHash60(exprs(0), intLit(exprs(1), "simhash60 seed"))))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[MinHashSigs].getName, "minhash_sigs"),
      (exprs: Seq[Expression]) => MinHashSigs(exprs(0), intLit(exprs(1), "minhash_sigs k"))))
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (exprs: Seq[Expression]) => VecDot(exprs(0), exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("ws_token_count"),
      new ExpressionInfo(classOf[WsTokenCount].getName, "ws_token_count"),
      (exprs: Seq[Expression]) => WsTokenCount(exprs.head)))
    ext.injectFunction((
      new FunctionIdentifier("ascii_class_count"),
      new ExpressionInfo(classOf[AsciiClassCount].getName, "ascii_class_count"),
      (exprs: Seq[Expression]) =>
        AsciiClassCount(exprs(0), intLit(exprs(1), "ascii_class_count mode"))))
    ext.injectFunction((
      new FunctionIdentifier("word_set_count"),
      new ExpressionInfo(classOf[WordSetCount].getName, "word_set_count"),
      (exprs: Seq[Expression]) => WordSetCount(exprs(0), strLits(exprs.drop(1)))))
    ext.injectFunction((
      new FunctionIdentifier("py_title"),
      new ExpressionInfo(classOf[PyTitleCase].getName, "py_title"),
      (exprs: Seq[Expression]) => PyTitleCase(exprs.head)))
    ext.injectFunction((
      new FunctionIdentifier("winnow_fingerprints"),
      new ExpressionInfo(classOf[WinnowFingerprints].getName, "winnow_fingerprints"),
      (exprs: Seq[Expression]) => WinnowFingerprints(exprs.head)))
  }

  private def strLits(es: Seq[Expression]): Seq[String] = es.map {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: org.apache.spark.unsafe.types.UTF8String, _) =>
      v.toString
    case other => throw new IllegalArgumentException(
      s"word_set_count words must be string literals, got $other")
  }
}
