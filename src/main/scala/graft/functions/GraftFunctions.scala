package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.{BooleanType, IntegerType}

/** The single table of graft's custom Catalyst expressions as SQL
  * function builders, injected into every session by
  * [[graft.GraftExtensionsProvider]].
  */
object GraftFunctions {

  private def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  private def boolLit(e: Expression, fn: String, arg: String): Boolean = e match {
    case Literal(v: Boolean, BooleanType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be a boolean literal, got $other")
  }

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "jaro_winkler" -> (exprs => JaroWinkler(exprs(0), exprs(1))),
    "poly_hash" -> (exprs => PolyHash(exprs.head)),
    "vec_dot" -> (exprs => VecDot(exprs(0), exprs(1))),
    "simhash_bits" -> (exprs => SimHashBits(exprs.head)),
    "sorted_intersect_size" ->
      (exprs => SortedIntersectSize(exprs(0), exprs(1))),
    "abs_diff_sum" -> (exprs => AbsDiffSum(exprs(0), exprs(1))),
    "word_shingles" -> (exprs =>
      WordShingles(exprs(0), intLit(exprs(1), "word_shingles", "n"))),
    "minhash_sig" -> (exprs =>
      MinHashSig(exprs(0), intLit(exprs(1), "minhash_sig", "k"))),
    // window_digests(toks, w [, distinct = false])
    "window_digests" -> (exprs => WindowDigests(exprs(0),
      intLit(exprs(1), "window_digests", "w"),
      exprs.lift(2).exists(boolLit(_, "window_digests", "distinct")))),
    "char_class_counts" -> (exprs => CharClassCounts(exprs.head)),
    "ahash_bands" -> (exprs =>
      AHashBands(exprs(0), intLit(exprs(1), "ahash_bands", "capChars"))),
    "pgm_ahash_bands" -> (exprs => PgmAHashBands(exprs.head))
  )
}
