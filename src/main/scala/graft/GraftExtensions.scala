package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{ChunkDecode, ChunkEncode, ChunkencFloatHistDecode, ChunkencHistDecode, ChunkencHistEncode, DotProduct, MinHashSignature, NgramShingles, SimHashFingerprint}

/** Session extension registering graft's native expressions as SQL
  * functions, so `spark.sql("SELECT graft_dot(a, b) ...")`,
  * `graft_shingles(text, 4[, true])`,
  * `graft_minhash_signature(shingles, 32)` and
  * `graft_simhash(tokens)` work.
  *
  * Wire-up: `spark.sql.extensions=graft.GraftExtensions` at session
  * build, or [[GraftFunctions.register]] on a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => RegexSetMatchRewrite)
  }
}

/** The reference's set-match constraint optimization
  * (search/constraint.go:73: a regex that is an alternation of
  * literals becomes an IN-list constraint) as a Catalyst OPTIMIZER
  * RULE, so it fires for raw SQL too — `WHERE label rlike
  * '\\A(?:click|view)\\z'` plans as `label IN ('click','view')`,
  * which reaches the Parquet scan's PushedFilters (dictionary/bloom
  * pruning), where an RLike never pushes down.
  *
  * Only HARD-anchored patterns (`\A(?:…)\z` — the exact shape
  * [[graft.tsdb.Matcher.re2ToJava]] emits) rewrite: `^…$` is NOT
  * equivalent, because Java's `$` also matches before a trailing
  * newline, so `^(?:a)$` accepts "a\n" where an IN-list would not.
  * Alternatives are the same literal charset the Matcher fast path
  * accepts; empty alternatives ("a|") keep their `""` member.
  * Null semantics agree (both yield null for null input). Runs in
  * the operator-optimization batch, i.e. before datasource pushdown.
  */
object RegexSetMatchRewrite
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{In, Literal, RLike}
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.types.StringType

  private val SetPattern =
    """\\A\(\?:([A-Za-z0-9_ |\-]*)\)\\z""".r

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case rl @ RLike(left, Literal(p, StringType)) if p != null =>
        p.toString match {
          case SetPattern(alts) =>
            In(left,
              alts.split("\\|", -1).toSeq.distinct.map(Literal(_)))
          case _ => rl
        }
    }
}

object GraftFunctions {
  private[graft] val dotProduct: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "graft_dot takes exactly 2 arguments")
      DotProduct(children.head, children(1))
    })

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case _ => throw new IllegalArgumentException(s"$what must be an int literal")
  }

  private def boolLit(e: Expression, what: String): Boolean = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Boolean, _) => v
    case _ => throw new IllegalArgumentException(s"$what must be a boolean literal")
  }

  private[graft] val shingles: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_shingles"),
    new ExpressionInfo(classOf[NgramShingles].getName, "graft_shingles"),
    (children: Seq[Expression]) => {
      require(children.length == 2 || children.length == 3,
        "graft_shingles(text, n[, distinct]) takes 2 or 3 arguments")
      NgramShingles(children.head, intLit(children(1), "n"),
        if (children.length == 3) boolLit(children(2), "distinct") else false)
    })

  private[graft] val minhashSignature: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_minhash_signature"),
    new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash_signature"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        "graft_minhash_signature(shingles, k) takes exactly 2 arguments")
      MinHashSignature(children.head, intLit(children(1), "k"))
    })

  private[graft] val simhash: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_simhash"),
    new ExpressionInfo(classOf[SimHashFingerprint].getName, "graft_simhash"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "graft_simhash(tokens) takes exactly 1 argument")
      SimHashFingerprint(children.head)
    })

  private[graft] val chunkEncode: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_chunk_encode"),
    new ExpressionInfo(classOf[ChunkEncode].getName, "graft_chunk_encode"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        "graft_chunk_encode(samples, samplesPerChunk) takes exactly 2 arguments")
      ChunkEncode(children.head, intLit(children(1), "samplesPerChunk"))
    })

  private[graft] val chunkDecode: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_chunk_decode"),
    new ExpressionInfo(classOf[ChunkDecode].getName, "graft_chunk_decode"),
    (children: Seq[Expression]) => {
      require(children.length == 3,
        "graft_chunk_decode(blob, mint, maxt) takes exactly 3 arguments")
      ChunkDecode(children.head, children(1), children(2))
    })

  /** `graft_hist_chunk_encode` and `graft_float_hist_chunk_encode`:
    * one [[ChunkencHistEncode]], the family from the samples' type. */
  private def histChunkEncode(name: String): (FunctionIdentifier,
      ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier(name),
    new ExpressionInfo(classOf[ChunkencHistEncode].getName, name),
    (children: Seq[Expression]) => {
      require(children.length == 3,
        s"$name(samples, schema, samplesPerChunk) takes exactly 3 arguments")
      ChunkencHistEncode(children.head, intLit(children(1), "schema"),
        intLit(children(2), "samplesPerChunk"))
    })

  private def histChunkDecode(name: String, cls: Class[_],
      decode: (Expression, Expression, Expression) => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier(name),
    new ExpressionInfo(cls.getName, name),
    (children: Seq[Expression]) => {
      require(children.length == 3,
        s"$name(blob, mint, maxt) takes exactly 3 arguments")
      decode(children.head, children(1), children(2))
    })

  private[graft] val all =
    Seq(dotProduct, shingles, minhashSignature, simhash, chunkEncode,
      chunkDecode, histChunkEncode("graft_hist_chunk_encode"),
      histChunkDecode("graft_hist_chunk_decode", classOf[ChunkencHistDecode],
        ChunkencHistDecode(_, _, _)),
      histChunkEncode("graft_float_hist_chunk_encode"),
      histChunkDecode("graft_float_hist_chunk_decode",
        classOf[ChunkencFloatHistDecode], ChunkencFloatHistDecode(_, _, _)))

  /** Register on an already-built session. */
  def register(spark: SparkSession): Unit = {
    all.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
  }
}
