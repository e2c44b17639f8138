package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted PageRank in exact integer fixed-point arithmetic — the
  * canonical iterative-join workload (Page et al. 1999; Pregel/GraphX
  * territory), expressed as plain relational iteration so Catalyst
  * plans every step and ANY engine can replay it bit-for-bit:
  *
  *   r₀(v)   = ⌊1e12 / N⌋
  *   rₖ₊₁(v) = ⌊15e12 / (100·N)⌋ + ⌊85 · Σ_{u→v} c(u,v) / 100⌋
  *   c(u,v)  = ⌊rₖ(u) · w(u,v) / W(u)⌋      (W(u) = Σ out-weights)
  *
  * Every division is a floor over positive longs, so there is no float
  * anywhere and the fixed-point trajectory is identical on any cluster
  * layout (and in the DuckDB oracle). Dangling-node mass (nodes with
  * no out-edges) is dropped rather than redistributed — the documented
  * variant; ranks then sum to ≤ 1e12.
  *
  * Scale shape: each iteration is ONE shuffled equi-join of the edge
  * list against the ≤N-row rank table plus one map-side-combined
  * groupBy on dst — the textbook distributed PageRank step. N and the
  * out-weight table stay distributed (crossJoin of a 1-row aggregate;
  * no driver collect). Iterations unroll into the plan; for deep
  * iteration counts checkpoint every ~10 rounds to cut lineage.
  */
object PageRank {

  private val E12 = 1000000000000L

  /** Rank every node of the weighted edge list `edges` (columns
    * `src: string, dst: string, w: long`) after `iters` damped
    * iterations. Output: `v`, `rank_e12`.
    */
  def ranks(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    // Materialize the EDGE LIST once (guide §5 / §3.3): the unrolled
    // relational iteration otherwise re-embeds the full edge derivation
    // (for the q76 gate, a 4-way lineitem join) once per reference per
    // round — a 488-Exchange, 6000-line physical plan at 5 iterations
    // whose optimizer time dominates and whose stage-retry
    // recomputation amplification is the real 100 TB risk. Only the
    // edge frame is checkpointed eagerly: per-round rank checkpoints
    // were measured SLOWER at fixture scale (each eager materialization
    // costs ~8 broadcast/AQE-stage jobs that one reused-exchange job
    // tree avoids), so ranks stay lazy and are truncated every
    // `CheckpointEvery` rounds — free at shallow iteration counts, a
    // bounded-plan guarantee for deep ones (the Pregel cadence).
    val e = Dedup.checkpoint(
      edges.select(col("src"), col("dst"), col("w").cast("long").as("w")))
    val nodes = e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct()
    val nn = nodes.agg(count(lit(1)).as("n"))
    val outw = e.groupBy("src").agg(sum("w").as("ow"))
    var r = nodes.crossJoin(nn)
      .select(col("v"), expr(s"$E12 div n").as("r"))
    for (i <- 1 to iters) {
      val contrib = e.join(r.withColumnRenamed("v", "src"), "src")
        .join(outw, "src")
        .select(col("dst").as("v"), expr("(r * w) div ow").as("c"))
        .groupBy("v").agg(sum("c").as("m"))
      r = nodes.crossJoin(nn).join(contrib, Seq("v"), "left")
        .select(col("v"),
          (expr(s"(15 * $E12) div (100 * n)")
            + expr("(85 * coalesce(m, 0L)) div 100")).as("r"))
      if (i % CheckpointEvery == 0 && i < iters) r = Dedup.checkpoint(r)
    }
    r.select(col("v"), col("r").as("rank_e12"))
  }

  /** Lineage-truncation cadence for deep iteration counts: the rank
    * table is materialized every this-many rounds so the unrolled plan
    * stays bounded without paying a per-round checkpoint job.
    */
  private val CheckpointEvery = 10
}
