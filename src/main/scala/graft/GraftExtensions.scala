package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.expr.{BytesPack, DotProduct, JaroWinkler, MinHashSignature, PcmFrameRms, PcmPack, PositionalShingleHashes, Pretokens, RgbLumaHist, RgbLumaSum, RgbMotion, RgbResizeNearest, ShingleHashes, SortedIntersect, Tokens}

/** SparkSessionExtensions injector: registers graft's native
  * expressions as SQL functions, so they're usable from `spark.sql`
  * and `selectExpr` (and by any SQL-speaking client of a session built
  * with `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`). The functions and
  * their signatures are listed in [[GraftExtensions.functions]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // Physical planning + optimizer rules for graft's native logical
    // operators (plans/AsOfJoinPlan.scala, plans/AsOfJoinRules.scala).
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    graft.plans.AsOfJoinRules.all.foreach(r => ext.injectOptimizerRule(_ => r))
  }
}

object GraftExtensions {

  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** One SQL function per native expression. Each call checks its
    * arity and integer-literal arguments and fails with the signature.
    */
  val functions: Seq[FunctionDescription] = Seq(
    fn("graft_dot_product", classOf[DotProduct], "array<double>", "array<double>")(
      a => DotProduct(a(0), a(1))),
    fn("graft_minhash", classOf[MinHashSignature], "array<string>", "numHashes")(
      a => MinHashSignature(a(0), a.int(1))),
    fn("graft_jaro_winkler", classOf[JaroWinkler], "string", "string")(
      a => JaroWinkler(a(0), a(1))),
    fn("graft_tokens", classOf[Tokens], "string")(a => Tokens(a(0))),
    // sorted set of shingle hashes
    fn("graft_shingle_hashes", classOf[ShingleHashes], "string", "n")(
      a => ShingleHashes(a(0), a.int(1))),
    fn("graft_pretokens", classOf[Pretokens], "string")(a => Pretokens(a(0))),
    fn("graft_positional_shingle_hashes", classOf[PositionalShingleHashes], "string", "n")(
      a => PositionalShingleHashes(a(0), a.int(1))),
    fn("graft_sorted_intersect", classOf[SortedIntersect], "array<bigint>", "array<bigint>")(
      a => SortedIntersect(a(0), a(1))),
    fn("graft_pcm_pack", classOf[PcmPack], "array<bigint>")(a => PcmPack(a(0))),
    fn("graft_pcm_frame_rms", classOf[PcmFrameRms], "binary", "frameSize")(
      a => PcmFrameRms(a(0), a.int(1))),
    fn("graft_bytes_pack", classOf[BytesPack], "array<bigint>")(a => BytesPack(a(0))),
    fn("graft_rgb_luma_hist", classOf[RgbLumaHist], "binary", "bins")(
      a => RgbLumaHist(a(0), a.int(1))),
    fn("graft_rgb_luma_sum", classOf[RgbLumaSum], "binary")(a => RgbLumaSum(a(0))),
    fn("graft_rgb_resize", classOf[RgbResizeNearest], "binary", "w1", "h1", "w2", "h2")(
      a => RgbResizeNearest(a(0), a.int(1), a.int(2), a.int(3), a.int(4))),
    fn("graft_rgb_motion", classOf[RgbMotion], "binary", "frameBytes")(
      a => RgbMotion(a(0), a.int(1))))

  /** A call's arguments; [[int]] reads an integer-literal one. */
  private final class Args(
      name: String, params: Seq[String], children: Seq[Expression]) {
    def apply(i: Int): Expression = children(i)
    def int(i: Int): Int = children(i) match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$name ${params(i)} must be an integer literal, got $other")
    }
  }

  /** Registers `name` for `cls`; a call must pass one argument per
    * entry of `params`, else it fails with "`name` takes (`params`)".
    */
  private def fn(name: String, cls: Class[_ <: Expression], params: String*)(
      build: Args => Expression): FunctionDescription =
    (new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (children: Seq[Expression]) => {
        require(children.length == params.length, params.mkString(s"$name takes (", ", ", ")"))
        build(new Args(name, params, children))
      })

  /** Register on an already-built session (tests, shells). Sessions
    * built with `spark.sql.extensions=graft.GraftExtensions` get this
    * automatically.
    */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
