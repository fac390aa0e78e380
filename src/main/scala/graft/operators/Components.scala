package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared distributed connected-components machinery: alternating
  * large-star/small-star contraction (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC 2014).
  *
  * The complement to [[Dedup]]'s min-label `propagate`: propagation
  * does one hop per materialized round, which is right for the
  * shallow star/clique components dup graphs produce, but a
  * DEEP-CHAIN component (mirror rings, redirect chains, block-matrix
  * band graphs) costs O(diameter) rounds. Contraction converges in
  * O(log² n) rounds on ANY diameter, and every aggregation is a
  * map-side-combined `groupBy().min()` — no per-node neighborhood
  * ever collects into one row, so a power-law hub costs the same as
  * a leaf. Used by [[Graph.gCc]] and the backbone labeling;
  * [[graft.GraphSpec]] pins star ≡ union-find and the round bound on
  * a 255-node chain (propagation's worst case).
  */
object Components {

  /** Default round-limit safety net, overridable via the session conf
    * `graft.cc.maxRounds`. Measured rounds grow as ≈log₂(n)+1 on
    * chains (256-node: 9, 1024: 11, 8192: 14 — GraphSpec); the PROVEN
    * bound is only O(log² n) (Kiveris et al. 2014, thm 3), so a
    * pathological-but-valid graph could legitimately need more than
    * any fixed constant — hence the conf escape hatch rather than a
    * hard cap. Hitting the limit throws (a not-yet-fixpoint labeling
    * must never be emitted); the message names the conf. */
  val MaxRounds = 64

  /** Component labels for an undirected pair set. Input columns
    * `(a, b)` of any one orderable type; output one `(node, comp)`
    * row per distinct ENDPOINT (callers owning isolated nodes attach
    * them with a left join + coalesce-to-self), comp = the component
    * minimum — the same labeling contract as `propagate`, so the two
    * algorithms are interchangeable and spec-comparable. Per round:
    *
    *  - large-star: each node u computes m = min(Γ(u) ∪ {u}) (a
    *    grouped min over the symmetric edge list) and every strictly
    *    LARGER neighbor v re-links to m — emitted canonically as
    *    (m, v) since m ≤ u < v;
    *  - small-star: each node b computes m = min of its SMALLER
    *    neighbors (grouped min over the (a < b) orientation) and all
    *    of them, plus b itself, link to m.
    *
    * Both steps preserve connectivity and monotonically shrink the
    * potential Σ rank, so the pair set reaches a fixpoint — checked
    * by set equality against the previous round (count move, then a
    * one-direction `exceptAll` only when the count stalls — both
    * frames are distinct sets, so equal counts + empty difference ⟺
    * equality), which proves the fixpoint since each round is a pure
    * function of the set; lineage is cut per round (localCheckpoint,
    * the `propagate` discipline). At the fixpoint the pairs form
    * stars centered at each component's minimum. */
  def starLabels(pairs: DataFrame): DataFrame = starLabelsRounds(pairs)._1

  /** [[starLabels]] plus the number of contraction rounds taken —
    * for specs that pin the O(log) round bound. */
  private[graft] def starLabelsRounds(pairsIn: DataFrame): (DataFrame, Int) = {
    // ONE eager materialization of the caller's lineage (which may be
    // an expensive candidate+verify pipeline): both the node set and
    // the working pair set derive from this checkpointed frame —
    // separate lazy checkpoints would each re-execute the input.
    // Self-loops survive canonicalization so a node with only
    // self-edges still gets its singleton label.
    val canon = pairsIn
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .localCheckpoint()
    val nodes = canon.select(col("a").as("node"))
      .unionByName(canon.select(col("b").as("node")))
      .distinct()
    var pairs = canon
      .filter(col("a") =!= col("b"))
      .distinct().localCheckpoint(false)
    val maxRounds = graft.core.Confs.intConf(
      pairsIn.sparkSession, "graft.cc.maxRounds", MaxRounds)
    // ONE alternating large-star/small-star contraction round, LAZY
    // (no checkpoint): the caller decides where to materialize.
    def contract(p: DataFrame): DataFrame = {
      val sym = p.select(col("a").as("u"), col("b").as("v"))
        .unionByName(p.select(col("b").as("u"), col("a").as("v")))
      // large-star: min over each symmetric neighborhood (and self),
      // larger neighbors re-link to it. m ≤ u < v ⇒ (m, v) canonical.
      val lsMin = sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      // (m, v) is never a self-pair here: m ≤ u and v > u force m < v.
      // Deliberately NOT checkpointed: both consumers below (ssMin and
      // the ss join) contain the identical ls subtree ending in this
      // distinct's exchange, which ReuseExchange dedupes inside the one
      // materialization job — a checkpoint here cost one extra job per
      // round for no recompute saving (per-round wall at gate scale is
      // fixed job overhead, not data).
      val ls = sym.join(lsMin, "u").filter(col("v") > col("u"))
        .select(col("m").as("a"), col("v").as("b"))
        .distinct()
      // small-star on the (a < b) orientation: b's smaller neighbors
      // and b itself re-link to b's min smaller neighbor.
      val ssMin = ls.groupBy("b").agg(min(col("a")).as("m"))
      ls.join(ssMin, "b")
        .select(col("m"), col("a").as("v"))
        .unionByName(ssMin.select(col("m"), col("b").as("v")))
        .filter(col("m") =!= col("v"))
        .select(col("m").as("a"), col("v").as("b"))
        .distinct()
    }
    var rounds = 0
    var prevCount = pairs.count()
    var changed = true
    // ONE contraction round per materialization/fixpoint check.
    // Batching TWO rounds per count was tried for round 11 (halve the
    // driver round-trips — the obvious loop-overhead lever) and
    // measured SLOWER both ways at gate scale: a raw
    // contract(contract(pairs)) plan re-executes round 1 ~4× inside
    // the one job (sym references its input twice and ls twice more;
    // g_cc 3.3 → 5.9 s), and lazily checkpointing the inner round
    // still lost (g_cc 3.1 → 5.4 s ONLY-subset medians) — each job
    // then carries two rounds of exchanges through AQE's per-stage
    // re-optimization plus concurrent-stage duplicate computes of the
    // not-yet-persisted inner blocks, which costs more than the one
    // count() round-trip it saves. Kept single-round; the fixpoint
    // check below already runs in the checkpoint's own job.
    while (changed) {
      rounds += 1
      if (rounds > maxRounds) throw new IllegalStateException(
        s"star contraction not converged after $maxRounds rounds " +
          "(raise graft.cc.maxRounds if the graph is legitimately this deep)")
      val ss = contract(pairs).localCheckpoint(false)
      // Fixpoint check in as few jobs as the round allows: both sets
      // are distinct, so equal counts + empty one-direction exceptAll
      // ⟺ set equality. The ss.count() doubles as the checkpoint
      // materialization job; the (more expensive) exceptAll join runs
      // only on rounds where the count stopped moving — typically just
      // the final confirming round.
      val ssCount = ss.count()
      changed = ssCount != prevCount || !ss.exceptAll(pairs).isEmpty
      prevCount = ssCount
      pairs = ss
    }
    // Fixpoint pairs are stars (root, child); defensive grouped min
    // keeps the labeling single-valued even mid-refactor. The result
    // is CHECKPOINTED: callers join it back onto their node sets and
    // must get stored blocks, not a recompute recipe — the
    // propagate() contract.
    val roots = pairs.groupBy(col("b").as("node"))
      .agg(min(col("a")).as("root"))
    val lbl = nodes.join(roots, Seq("node"), "left")
      .select(col("node"), coalesce(col("root"), col("node")).as("comp"))
      .localCheckpoint(false)
    (lbl, rounds)
  }
}
