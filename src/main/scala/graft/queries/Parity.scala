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
  * query emits ([[recallAtLeast]]), and the whole ANN recall certificate
  * built on it ([[recallCertificate]]).
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

  /** The `keys` of the served rows, each carrying `hit` = 1: the right
    * side of a reference's left join for [[recallAtLeast]]. The keys must
    * be unique, or a reference row joins more than once.
    */
  def hits(served: DataFrame, keys: String*): DataFrame =
    served.select(keys.map(col) :+ lit(1).as("hit"): _*)

  /** The ANN recall certificate: the exact `reference` rows (`query_id,
    * rank, neighbor_id, cos`) with `ok` = [[recallAtLeast]]`(floor)` over
    * the served `(query_id, neighbor_id)` pairs, AND `alsoOk` (a lifecycle
    * check folded into the recall column), then one constant column per
    * `extras` certificate, ordered by `(query_id, rank)`.
    */
  def recallCertificate(reference: DataFrame, served: DataFrame, ok: String,
      floor: Double, alsoOk: Boolean = true)(extras: (String, Boolean)*): DataFrame = {
    // materialized here: the distinct side is unique on the join keys, so a
    // consumer reading no certificate column (a count) would otherwise
    // prune the join, and with it the served probe, from its plan
    val hit = hits(served, "query_id", "neighbor_id").distinct().localCheckpoint(true)
    reference.join(hit, Seq("query_id", "neighbor_id"), "left")
      .select(Seq(col("query_id"), col("rank"), col("neighbor_id"), col("cos"),
        (recallAtLeast(floor) && lit(alsoOk)).as(ok))
        ++ extras.map { case (name, v) => lit(v).as(name) }: _*)
      .orderBy("query_id", "rank")
  }
}
