package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Set-similarity scores over array columns as plain Column expressions.
  * The hashing kernels themselves (MinHash and SimHash signatures, LSH band
  * keys) are codegen'd expressions in [[graft.plans.NativeExpressions]].
  */
object Hashing {

  /** Estimated Jaccard similarity from two MinHash signatures: fraction of
    * matching slots.
    */
  def minHashJaccard(sigA: Column, sigB: Column): Column =
    size(filter(zip_with(sigA, sigB, (a, b) => a === b), x => x)).cast("double") /
      greatest(size(sigA), lit(1))

  /** Exact Jaccard similarity of two (distinct-element) array columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni > 0, inter / uni).otherwise(lit(0.0))
  }
}
