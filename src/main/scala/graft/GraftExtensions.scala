package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{BoundedLevenshtein, DeflateLength, DotProduct, HashedShingles, MinHashSignatures, RepetitionStats, SigAgreement, SimHash60, SortedIntersectCount}

/** Session extensions for the engine's native expressions — wire with
  * `spark.sql.extensions=graft.GraftExtensions` (or pass an instance to
  * the session builder's `withExtensions`) and the functions become first-
  * class SQL, usable from `spark.sql(...)` alongside the builtins. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.registrations.foreach(ext.injectFunction)
}

object GraftExtensions {
  type Builder = Seq[Expression] => Expression

  /** (SQL name, expression class, builder) of every native function. A
    * `k` argument must be a foldable int literal. */
  private val functions: Seq[(String, Class[_ <: Expression], Builder)] = Seq(
    // (array<double>, array<double>) -> double
    ("graft_dot", classOf[DotProduct], e => DotProduct(e.head, e(1))),
    // array<long> -> array<long>
    ("graft_minhash_sig", classOf[MinHashSignatures], e => MinHashSignatures(e.head)),
    // array<string> -> long
    ("graft_simhash60", classOf[SimHash60], e => SimHash60(e.head)),
    // array<string> -> struct
    ("graft_repetition_stats", classOf[RepetitionStats], e => RepetitionStats(e.head)),
    // (string, k) -> array<long>
    ("graft_hashed_shingles", classOf[HashedShingles],
      e => HashedShingles(e.head, e(1).eval().asInstanceOf[Int])),
    // (array<long>, array<long>) -> int
    ("graft_sig_agreement", classOf[SigAgreement], e => SigAgreement(e.head, e(1))),
    // (array<long>, array<long>) -> int; inputs must honor its
    // sorted-distinct contract
    ("graft_sorted_intersect_count", classOf[SortedIntersectCount],
      e => SortedIntersectCount(e.head, e(1))),
    // string -> long
    ("graft_deflate_len", classOf[DeflateLength], e => DeflateLength(e.head)),
    // (string, string, k) -> int
    ("graft_lev_bounded", classOf[BoundedLevenshtein],
      e => BoundedLevenshtein(e.head, e(1), e(2).eval().asInstanceOf[Int])))

  /** The table in the form `injectFunction` and the function registry
    * take. */
  val registrations: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] =
    functions.map { case (name, cls, build) =>
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)
    }
}
