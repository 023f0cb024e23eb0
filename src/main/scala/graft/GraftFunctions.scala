package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.call_function

import graft.audit.{ArrayBucket, ArrayFloorSearch}
import graft.text.{MinHashSig, WordShingles}
import graft.vector.{CosineSimilarity, Deflate6, Dot612, FromScaled18, FromScaledN, FromScaledSplit, L2Squared, ScaleVec612, ToScaled18, ToScaledN, VecSumDec}

/** The engine's native Catalyst expressions, by SQL name, and their
  * Column-API forms. [[GraftSession.prepare]] registers them in a session.
  */
object GraftFunctions {

  type Builder = Seq[Expression] => Expression

  val descriptions: Seq[(String, Builder)] = Seq(
    ("graft_cosine",
      ((exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))): Builder),
    ("graft_shingles",
      ((exprs: Seq[Expression]) => {
        // validate here: builder failures surface as raw internal
        // exceptions at resolution, so name the function and the rule
        if (exprs.length != 2)
          throw new IllegalArgumentException(
            s"graft_shingles expects (array<string>, n), got ${exprs.length} arguments")
        if (!exprs(1).foldable)
          throw new IllegalArgumentException(
            "graft_shingles: n must be a literal integer")
        WordShingles(exprs(0), exprs(1).eval() match {
          case i: java.lang.Integer => i.intValue
          case l: java.lang.Long if l == l.intValue.toLong => l.intValue
          case other => throw new IllegalArgumentException(
            s"graft_shingles: n must be a literal integer, got $other")
        })
      }): Builder),
    ("graft_minhash_sig",
      ((exprs: Seq[Expression]) => MinHashSig(exprs(0))): Builder),
    ("graft_floor_search",
      ((exprs: Seq[Expression]) => ArrayFloorSearch(exprs(0), exprs(1))): Builder),
    ("graft_l2sq",
      ((exprs: Seq[Expression]) => L2Squared(exprs(0), exprs(1))): Builder),
    ("graft_array_bucket",
      ((exprs: Seq[Expression]) => ArrayBucket(exprs(0), exprs(1))): Builder),
    ("graft_vec_sum",
      ((exprs: Seq[Expression]) => VecSumDec(exprs(0))): Builder),
    ("graft_dot612",
      ((exprs: Seq[Expression]) => Dot612(exprs(0), exprs(1))): Builder),
    ("graft_scalevec612",
      ((exprs: Seq[Expression]) => ScaleVec612(exprs(0), exprs(1))): Builder),
    ("graft_deflate6",
      ((exprs: Seq[Expression]) => Deflate6(exprs(0), exprs(1), exprs(2))): Builder),
    ("graft_to_scaled18",
      ((exprs: Seq[Expression]) => ToScaled18(exprs(0))): Builder),
    ("graft_from_scaled18",
      ((exprs: Seq[Expression]) => FromScaled18(exprs(0))): Builder),
    ("graft_to_scaled2",
      ((exprs: Seq[Expression]) => ToScaledN(exprs(0), 2)): Builder),
    ("graft_from_scaled2",
      ((exprs: Seq[Expression]) => FromScaledN(exprs(0), 2)): Builder),
    ("graft_viterbi",
      ((exprs: Seq[Expression]) => graft.text.ViterbiSegment(exprs(0), exprs(1))): Builder),
    ("graft_from_scaled4_split",
      ((exprs: Seq[Expression]) => FromScaledSplit(exprs(0), exprs(1), 4)): Builder),
    ("graft_gram_stats",
      ((exprs: Seq[Expression]) => {
        if (exprs.length != 2)
          throw new IllegalArgumentException(
            s"graft_gram_stats expects (array<string>, n), got ${exprs.length} arguments")
        if (!exprs(1).foldable)
          throw new IllegalArgumentException(
            "graft_gram_stats: n must be a literal integer")
        graft.text.GramStats(exprs(0), exprs(1).eval() match {
          case i: java.lang.Integer => i.intValue
          case l: java.lang.Long if l == l.intValue.toLong => l.intValue
          case other => throw new IllegalArgumentException(
            s"graft_gram_stats: n must be a literal integer, got $other")
        })
      }): Builder))

  /** Column-API form of the native cosine expression. */
  def graftCosine(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)

  /** Column-API form of the native sorted-array floor search. */
  def graftFloorSearch(sorted: Column, v: Column): Column =
    call_function("graft_floor_search", sorted, v)

  /** Column-API form of the native squared-L2 distance. */
  def graftL2sq(a: Column, b: Column): Column =
    call_function("graft_l2sq", a, b)

  /** Column-API form of the native sorted-array range-bucket assigner. */
  def graftArrayBucket(boundaries: Column, v: Column): Column =
    call_function("graft_array_bucket", boundaries, v)

  /** Column-API forms of the scale-18 fixed-point lane (see
    * [[graft.vector.ToScaled18]]): double → unscaled long of
    * CAST(x AS DECIMAL(38,18)), and its exact inverse to DOUBLE. */
  def graftToScaled18(x: Column): Column = call_function("graft_to_scaled18", x)
  def graftFromScaled18(l: Column): Column = call_function("graft_from_scaled18", l)
}
