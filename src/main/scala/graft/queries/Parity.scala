package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One-job multiset equality for the parity certificates (r16, r15
  * verdict #5): the streaming parities used to certify served ≡ one-shot
  * with `count() == count() && a.exceptAll(b).isEmpty &&
  * b.exceptAll(a).isEmpty` — up to four small jobs per certificate, ~10
  * sites across the suite. Tag each side ±1, aggregate per row VALUE,
  * and assert every net multiplicity is zero — exactly the same
  * predicate (both exceptAll sides empty ⟺ equal multiplicity per
  * value ⟺ net zero everywhere; the count check was already implied),
  * in ONE aggregation job.
  *
  * Same comparison semantics as the set operators it replaces: grouping
  * and exceptAll both use null-safe equality with normalized NaN/-0.0,
  * and neither supports map-typed columns.
  *
  * Also the one recall-floor certificate every approximate-retrieval
  * query emits ([[recallAtLeast]]).
  */
private[queries] object Parity {

  /** True iff `a` and `b` are equal as multisets. Columns are matched by
    * NAME (b is re-projected to a's column list — a missing column fails
    * loudly at analysis, like a schema drift should).
    */
  def multisetEqual(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.toSeq
    a.select(cols.map(col): _*).withColumn("__tag", lit(1L))
      .unionByName(b.select(cols.map(col): _*).withColumn("__tag", lit(-1L)))
      .groupBy(cols.map(col): _*)
      .agg(sum(col("__tag")).as("__net"))
      .filter(col("__net") =!= 0L)
      .isEmpty
  }

  /** The recall certificate over a reference frame left-joined to the
    * served rows, which carry `hit` = 1: true on every row iff the share
    * of reference rows that were served is at least `floor`.
    */
  def recallAtLeast(floor: Double): Column = {
    val all = Window.partitionBy(lit(1))
    (sum(coalesce(col("hit"), lit(0))).over(all).cast("double")
      / count(lit(1)).over(all)) >= floor
  }
}
