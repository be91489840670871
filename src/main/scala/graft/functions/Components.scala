package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by iterative min-label propagation — the dedup
  * end-game: near-dup PAIRS become CLUSTERS, and each cluster elects a
  * canonical representative (its minimum id) so a pipeline can keep exactly
  * one member.
  *
  * Each iteration is one shuffle (edges ⋈ labels → per-vertex neighbor min);
  * iteration count is the component diameter, which for near-dup clusters
  * (dense, clique-like) is 1-3. The driver-side convergence loop is the
  * standard Pregel shape; at 100 TB each iteration stays a single
  * well-partitioned join keyed by vertex id. */
object Components {

  /** Label tables at or below this vertex count are broadcast into the
    * per-iteration joins. A (long, long) row is ~16 bytes, so the cap is
    * ~80 MB of broadcast — the same decision AQE would make from stats,
    * which it CANNOT make here because every label frame is a checkpointed
    * LogicalRDD with unknown size (defaultSizeInBytes = huge), so without
    * the explicit hint each iteration sort-merge-joins the full edge frame
    * against a table of a few thousand rows (measured 4.0 s of q133's
    * 5.3 s at sf0.1). Above the cap the shuffle path stands — at
    * billion-vertex scale broadcasting labels is exactly wrong. */
  private val BroadcastLabelCap = 5000000L

  /** vertices: (id) — one row per vertex; edges: (src, dst) undirected
    * pairs. Returns (id, rep) with rep = min id in the component.
    *
    * UNDECLARED ("phantom") edge endpoints: the label joins confine a
    * phantom id to round 0's raw neighbor-min, where it can LOWER a
    * declared neighbor's label — and that label then spreads through the
    * component via declared edges — but a phantom never BRIDGES two
    * declared vertices (rounds ≥1 drop phantom edges on the label join, and
    * the convergence certificate only inspects declared-declared edges).
    * EdgeCaseSpec and ComponentsSpec pin this rule. */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
      maxIter: Int = 20): DataFrame = {
    // Materialize the (possibly expensive) edge pipeline ONCE — the loop
    // re-reads it every iteration.
    val und = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .cache()
    // try/finally: Bench and the other drivers catch per-query exceptions
    // and keep going, so a throwing round must not leave the cached edge
    // frame in the block manager for the rest of the JVM.
    try labelLoop(vertices, und, maxIter)
    finally und.unpersist()
  }

  /** The min-label rounds over the cached undirected edge frame `und`. */
  private def labelLoop(vertices: DataFrame, und: DataFrame,
      maxIter: Int): DataFrame = {
    und.count()
    // localCheckpoint per iteration truncates lineage AND the logical plan —
    // without it every iteration nests the previous plan and analysis time
    // grows exponentially (the classic iterative-DataFrame trap). Lazy
    // (pinned): the count() below is the materializing action — the eager
    // form paid a separate job first (round-9 job-count shave).
    var labels = graft.SessionCache.lazyLocalCheckpoint("cc-labels-init")(
      vertices.select(col("id"), col("id").as("rep")))
    // One count decides the join strategy for the whole loop: the label
    // table's row count is invariant (one row per vertex, every round).
    val small = labels.count() <= BroadcastLabelCap
    def side(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // Round 0 reads identity labels (rep ≡ id), so its neighbor-min needs
      // no label join at all: min(rep(dst)) ≡ min(dst). One broadcast join
      // fewer in the round-0 plan — driver plan construction is this loop's
      // measured bound (actions are ~0.1 s), so every join dropped from a
      // round's plan is wall time.
      val nbrMin = (if (i == 0)
          und.groupBy(col("src").as("id2")).agg(min(col("dst")).as("nbr_rep"))
        else
          und.join(side(labels.withColumnRenamed("id", "dst2")),
              und("dst") === col("dst2"))
            .groupBy(col("src").as("id2"))
            .agg(min(col("rep")).as("nbr_rep")))
      // Checkpoint before the self-join below — step1 feeds BOTH sides of
      // the pointer jump, and without materialization the neighbor-min
      // join/aggregate subtree would execute twice per iteration. Lazy
      // (pinned): the round's action below materializes it and both
      // pointer-jump sides read the persisted blocks (the MinHash
      // banded-frame pattern) — one job per iteration where the eager form
      // paid two. Round-9 measurement honesty: this did NOT move the q133
      // loop's wall time (still ~3.4 s at sf0.1) — the actions are ~0.1 s
      // each and the loop is bound by per-iteration plan construction on
      // the driver (~0.5 s × 4 rounds), which fewer jobs don't touch. Kept
      // because fewer jobs is strictly less scheduler work at any scale.
      val step1 = graft.SessionCache.lazyLocalCheckpoint(s"cc-step1-$i")(
        labels.join(nbrMin, labels("id") === col("id2"), "left")
          .select(col("id"), col("rep").as("old_rep"),
            least(col("rep"), coalesce(col("nbr_rep"), col("rep"))).as("rep")))
      // Pointer jumping: rep <- rep(rep). Labels are always vertex ids, so
      // each round also contracts label chains by one hop — convergence goes
      // from O(diameter) to O(log diameter) shuffle rounds, the difference
      // that matters when a 100 TB graph has long thin components.
      val reps = step1.select(col("id").as("rid"), col("rep").as("rrep"))
      val step0 = step1.join(side(reps), step1("rep") === col("rid"), "left")
        .select(step1("id"), step1("old_rep"),
          coalesce(col("rrep"), step1("rep")).as("rep"))
      // Lazy, not eager: the FIRST consumer is the round's action below,
      // which both materializes the checkpoint and truncates
      // lineage — one Spark job where the eager form paid two
      // (materialize, then count). Routed through the pinned helper so
      // the truncated plan's SQLMetric accumulators stay strongly
      // reachable (the r4 weak-ref accumulator race — SessionCache.pin).
      val step = graft.SessionCache.lazyLocalCheckpoint(s"cc-step-$i")(step0)
      // Convergence certificate (round-10, VERDICT r9 #3): a labeling is a
      // fixpoint iff no edge joins two different reps. viol == 0 on the NEW
      // labels implies every component's labels are constant (any violating
      // edge (u,v) with rep(u) > rep(v) forces nbrMin(u) < rep(u), so no
      // violations ⇒ no next-round change; and component-constant labels
      // satisfy rep(rep) = rep, so the jump is a no-op too). The loop
      // therefore exits in the round that REACHES the fixpoint instead of
      // running one more full round just to observe no label change — 3
      // rounds instead of 4 on the sf0.1 dedup graph — at the cost of two
      // broadcast joins against the cached edge frame inside the round's
      // one action, which also materializes `step`. Round 0 skips the
      // certificate: a freshly-seeded labeling is never a fixpoint on a
      // non-trivial graph (and on an edge-free graph round 0's no-change
      // exit fires), so paying the certificate's edge scan there was pure
      // waste — measured ~0.4 s of the round-0 action.
      converged =
        if (i == 0) step.filter(col("rep") =!= col("old_rep")).count() == 0L
        else {
          val lab = step.select(col("id"), col("rep"))
          und
            .join(side(lab.select(col("id").as("sid"), col("rep").as("srep"))),
              und("src") === col("sid"))
            .join(side(lab.select(col("id").as("did"), col("rep").as("drep"))),
              und("dst") === col("did"))
            .filter(col("srep") =!= col("drep"))
            .count() == 0L
        }
      // The action has materialized `step`, so the previous labels and this
      // round's step1 are read by no later plan: drop their blocks.
      graft.SessionCache.releaseCheckpoint(labels)
      graft.SessionCache.releaseCheckpoint(step1)
      labels = step.select("id", "rep")
      i += 1
    }
    if (!converged)
      System.err.println(s"[components] WARNING: stopped at maxIter=$maxIter " +
        "without convergence — labels are PARTIAL (components may be split). " +
        "Raise maxIter for graphs with diameter beyond ~2^maxIter.")
    labels
  }
}
