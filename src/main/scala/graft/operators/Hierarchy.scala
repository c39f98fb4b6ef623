package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Hierarchy flattening: a (node, parent) edge list — org charts, BOM
  * trees, category taxonomies — resolved to (node, root, depth) without a
  * recursive CTE.
  *
  * Pointer doubling: each node keeps a pointer to some ancestor plus the
  * hop count to it; one self-join per round composes node→anc with
  * anc→anc(anc), so the distance covered DOUBLES every round. A depth-d
  * hierarchy resolves in ceil(log2 d) joins instead of the d joins of
  * naive per-level recursion — at 100 TB that is the difference between
  * ~5 shuffles and ~40 for a deep taxonomy. Roots self-point with depth 0
  * and are the natural fixpoint of the doubling step; convergence is
  * detected by the total-depth aggregate going stationary (depths only
  * ever grow), one cheap action per round, no change-detection join.
  */
object Hierarchy {

  /** Flatten `edges` (one row per node; `parentCol` NULL marks a root) to
    * one row per node: (node, root, depth). A parent id that never appears
    * as a node is treated as if the child were a root-child (the dangling
    * pointer freezes rather than dropping the subtree). A cycle never
    * converges and fails loudly at `maxIter`.
    */
  def flatten(
      edges: DataFrame,
      nodeCol: String = "node",
      parentCol: String = "parent",
      maxIter: Int = 40): DataFrame = {
    var state = edges.select(
        col(nodeCol).cast("long").as("node"),
        coalesce(col(parentCol).cast("long"), col(nodeCol).cast("long")).as("anc"),
        when(col(parentCol).isNull, 0L).otherwise(1L).as("depth"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // doubles as the action materializing each round's persist; depths
    // only grow, so an unchanged sum is the fixpoint (sum over zero rows
    // reads as converged, not NPE).
    def depthSum(df: DataFrame): Long =
      df.agg(coalesce(sum("depth"), lit(0L))).head.getLong(0)

    var prev = depthSum(state)
    var iter = 0
    var converged = state.isEmpty
    while (!converged && iter < maxIter) {
      val hop = state.select(
        col("node").as("j_node"), col("anc").as("j_anc"), col("depth").as("j_depth"))
      val next = state.join(hop, state("anc") === hop("j_node"), "left")
        .select(
          col("node"),
          coalesce(col("j_anc"), col("anc")).as("anc"),
          (col("depth") + coalesce(col("j_depth"), lit(0L))).as("depth"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val cur = depthSum(next)
      // deterministic release of the superseded round, not GC-time.
      state.unpersist()
      converged = cur == prev
      prev = cur
      state = next
      iter += 1
    }
    if (!converged) {
      state.unpersist()
      throw new IllegalArgumentException(
        s"requirement failed: Hierarchy.flatten did not converge within " +
          s"maxIter=$maxIter rounds — the edge list has a cycle or a depth " +
          s"beyond 2^$maxIter; raise maxIter only for the latter")
    }
    // truncate per-round lineage; the survivor is one small frame.
    val out = state.select(col("node"), col("anc").as("root"), col("depth"))
      .localCheckpoint(true)
    state.unpersist()
    out
  }
}
