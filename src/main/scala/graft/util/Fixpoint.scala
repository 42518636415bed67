package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The iteration primitive of the graph loops (connected components,
  * PageRank, label propagation, Bradley–Terry), which hold only their
  * per-round algebra. The one checkpoint rule: a state handed to the
  * next round is a lazy `localCheckpoint(false)`, and the last round's
  * state is not checkpointed. A lazy checkpoint cuts the plan at once,
  * so a step that reads its state twice keeps a flat plan, and the
  * first job that reads the state (the changed-count, or the
  * consumer's action) writes its blocks, so it adds no job. */
object Fixpoint {

  /** The undirected closure of `edges` as `(src, dst)`: both
    * directions, self-loops kept, deduplicated, materialized once
    * (DISK_ONLY: every round reads it; it is the loop's largest).
    * Each row of `edges` is read once: the reverse edge comes from the
    * same row, not from a second scan. */
  def closure(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    require(edges.columns.contains(srcCol) && edges.columns.contains(dstCol),
      s"edges must carry '$srcCol'/'$dstCol' columns " +
        s"(got ${edges.columns.mkString(", ")})")
    val (s, d) = (col(srcCol), col(dstCol))
    edges.select(explode(array(
        struct(s.as("src"), d.as("dst")), struct(d.as("src"), s.as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
      .distinct()
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
  }

  /** [[closure]] without self-loops. */
  def symmetricEdges(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    closure(edges, srcCol, dstCol).filter(col("src") =!= col("dst"))

  /** `rounds` applications of `step` to `init`. Runs no job. */
  def iterate(init: DataFrame, rounds: Int)(
      step: DataFrame => DataFrame): DataFrame =
    (1 to rounds).foldLeft(init) { (state, i) =>
      val next = step(state)
      if (i < rounds) next.localCheckpoint(false) else next
    }

  /** Apply `step` until no row changes. `step` returns the next state
    * and a predicate over it, true on the rows that changed. Returns
    * the first state in which none did; throws when `maxIter` rounds
    * do not get there. */
  def untilStable(init: DataFrame, maxIter: Int, what: String)(
      step: DataFrame => (DataFrame, Column)): DataFrame = {
    var state = init
    var changed = 1L
    var round = 0
    while (changed > 0L) {
      if (round >= maxIter)
        throw new IllegalStateException(
          s"$what did not converge in maxIter = $maxIter rounds — raise maxIter")
      val (next, moved) = step(state)
      state = next.localCheckpoint(false)
      changed = state.agg(coalesce(sum(when(moved, 1L)), lit(0L)))
        .first().getLong(0)
      round += 1
    }
    state
  }
}
