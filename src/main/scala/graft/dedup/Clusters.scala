package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Failpoints, Metrics, ScopedStorage}

/** Connected components over a near-duplicate pair graph — the step that
  * turns pairwise dedup output (a ~ b, b ~ c) into whole duplicate CLUSTERS
  * (keep one of {a, b, c}), without which transitive duplicates survive
  * pairwise removal.
  *
  * Algorithm: distributed min-label propagation WITH pointer jumping
  * (Shiloach–Vishkin shortcutting). Every node starts labeled with its own
  * id; each round every node adopts the minimum label among itself and its
  * neighbors, and then jumps: label(u) ← label(label(u)). The jump chases
  * the label tree one hop per round, roughly halving every node's distance
  * to its component's minimum, so convergence is O(log diameter) rounds
  * instead of O(diameter) — the same diameter-squaring effect as the
  * large-star/small-star rewrite (Kiveris et al., "Connected Components in
  * MapReduce and Beyond"), with one self-equi-join per round instead of the
  * two star phases. A 1000-node path graph converges in ~11 rounds
  * (asserted by OperatorsSpec); dedup-shaped graphs (short diameter by
  * construction) converge in 2-3.
  *
  * At a fixed point adjacent nodes must hold equal labels (each is ≤ the
  * other under the neighbor-min update), so each component is uniformly
  * labeled — and labels only ever take node-id values within the component,
  * bounded below by the component minimum, which labels itself — hence the
  * fixed point is exactly the minimum member id: a canonical, deterministic
  * cluster id, jump or no jump (the jump only accelerates).
  *
  * Each round is two equi-joins (neighbor labels, then the jump) plus one
  * min-aggregation — but the neighbor phase is DELTA-DRIVEN: only labels
  * that changed last round (the frontier) are joined to the edge list, the
  * Pregel vote-to-halt discipline. Label propagation is monotone (labels
  * only decrease), so a label needs to be offered to a node's neighbors
  * exactly once — the round after it was adopted; re-offering stable labels
  * every round is pure waste. Round 1's frontier is every node, so the
  * first rounds pay the full O(E) join; once the bulk of the graph has
  * converged the frontier collapses and the per-round join input is the
  * few still-active edges — AQE broadcasts the shrunken frontier and
  * candidate frames, so the full label state stops riding exchanges
  * entirely. At a fixed point the frontier is EMPTY, which doubles as the
  * exact convergence test (changed-row count = 0; one tiny aggregate, the
  * single action that materializes each round).
  *
  * The doubled edge list — the big static side of the neighbor join — is
  * persisted pre-partitioned and pre-sorted on the join key, so the
  * per-round sort-merge join pays no exchange and no sort on it; only the
  * evolving (node, label) frames ride exchanges. The neighbor phase is
  * shuffle-partitioned by node id — a hot 100M-member cluster stays spread
  * across the cluster there (unlike a groupBy-component formulation). The
  * jump routes through the distinct probed labels rather than a label-keyed
  * self-join, so a converged giant component's hot label is collapsed by
  * map-side partial aggregation before any exchange, and only NON-ROOT
  * parents (label(label) ≠ label — the chains the jump still has to
  * flatten) enter the parent map, which therefore shrinks to EMPTY at
  * convergence and is broadcast-sized long before — see the in-loop comment
  * for the regime analysis. Per round the state frame is lazily
  * localCheckpoint()ed — iterative plans otherwise stack the full lineage
  * (Catalyst re-optimizes a 2^rounds tree). Checkpoint blocks
  * of superseded rounds are freed deterministically as soon as the next
  * round materializes (the catalog cache manager never tracks checkpoint
  * RDDs), so a k-round run holds two label copies in executor storage,
  * not k+1. On a real cluster with an HDFS checkpoint dir, `checkpoint()`
  * adds executor-loss resilience.
  */
object Clusters {

  /** Cluster assignment for every node in `pairs` (columns (id_a, id_b), one
    * undirected edge per row): returns (id, cluster) where cluster = the
    * minimum id reachable from the node. Nodes absent from `pairs`
    * (singletons) are absent from the output — union them back with
    * cluster = id if the caller wants total coverage.
    *
    * `maxRounds` is a convergence assertion, not a result truncator: by
    * default the run FAILS if the fixed point is not reached — with
    * shortcutting, ~2·log₂(n) rounds bound any graph, so exhaustion means
    * something is structurally wrong and silent truncation would quietly
    * under-dedup. The failure is diagnosable, not a bare abort: the error
    * carries the count of still-unstable nodes (label ≠ the label's own
    * label — i.e. chains the jump has not yet flattened) and a bounded
    * sample of their ids, so a 30-round 100 TB run that dies names the
    * offending region of the graph instead of discarding all its work.
    *
    * `returnPartial = true` is the documented escape hatch: on exhaustion
    * the CURRENT labels are returned instead of throwing. Intermediate
    * labels only ever take ids of reachable nodes, so a partial result can
    * SPLIT a true component into several provisional clusters but can
    * never merge two distinct components — for dedup that errs toward
    * keeping extra near-duplicates, never toward dropping a unique
    * document.
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 30,
      returnPartial: Boolean = false): DataFrame = {
    // Double the edge list in ONE pass with explode, not a self-union: the
    // union's two branches are separate Catalyst subtrees, so it would
    // evaluate the caller's (possibly expensive — a whole LSH pipeline)
    // pair upstream twice; the historical fix materialized the pair list
    // to a localCheckpoint first, which cost a full extra write+read of
    // the pair frame (measured ~40% of the ×64 leg's setup). explode keeps
    // ONE lineage through a single scan — the upstream runs once, straight
    // into the doubling projection, with no intermediate materialization.
    // Null endpoints break silently, not loudly: null never equi-joins, so
    // a (null, v) edge from an upstream left join would leave v a singleton
    // AND leak an (id=null, cluster=null) row into the labels — drop such
    // edges at the door (the PageRank entry filters identically).
    //
    // The doubled edge list is the BIG static side of every round's join —
    // persist it hash-partitioned AND sorted on the join key so each
    // round's sort-merge join reuses the layout outright: zero exchanges
    // and zero sorts on this side per round (at 64× sf0.1 that is ~77M
    // rows NOT re-shuffled ~10 times). persist, not localCheckpoint,
    // because a checkpoint under AQE records UnknownPartitioning and
    // every round would re-shuffle; the partition count is pinned so AQE
    // cannot coalesce the layout into one later joins cannot reuse. The
    // trade: no AQE skew-split on this static side — safe here because
    // the pair generators feeding CC cap per-bucket fan-out, bounding any
    // node's degree by design.
    val nPart = pairs.sparkSession.sessionState.conf.numShufflePartitions
    val edges = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .repartition(nPart, col("src"))
      .sortWithinPartitions(col("src"))
      .persist()
    val sc = pairs.sparkSession.sparkContext
    val call = Metrics.nextCall()
    // Checkpoints not yet freed. However the call ends (converged, out of
    // rounds, a task failure, a cancelled job group), the edge cache goes and
    // these go to the gate-scoped registry, as clearCache() cannot see them.
    val live = scala.collection.mutable.ListBuffer[DataFrame]()
    try {
      val nEdges = edges.count() // materialize the cache once, up front.

      var state = edges.select(col("src").as("id")).distinct()
        .withColumn("cluster", col("id"))
        .localCheckpoint()
      live += state
      var labels = state.select(col("id"), col("cluster"))
      // The frontier: labels adopted last round and not yet offered to their
      // neighbors. Round 1 offers everything (every label is new); later
      // rounds offer only the changed rows — a projection of the state
      // checkpoint, never a separate materialization.
      var frontier = state.select(col("id").as("src"), col("cluster"))

      var round = 0
      // Emptiness falls out of the materialization count already paid above
      // — a separate isEmpty would schedule one more job per call.
      var converged = nEdges == 0L
      while (!converged && round < maxRounds) {
        round += 1
        Metrics.tagged(sc, Metrics.roundTag(call, round)) {
          // Neighbor phase over ACTIVE edges only: the static cached edge side
          // pays no exchange/sort (see above); the frontier side shrinks to
          // broadcast size as the graph converges, so a late round's join
          // touches only the edges incident to still-moving labels. ROUND 1 is
          // special-cased algebraically: its frontier is the identity labeling
          // (label(u) = u = the edge's own src column), so joining it in would
          // only re-derive a column the edges already carry — the full-graph
          // round that dominates wall time (×64 profile: 44 s of a 185 s leg,
          // with the frontier exchange + probe of the whole persisted edge
          // list) collapses to one aggregation over the pre-partitioned edges.
          val cand = (if (round == 1) edges.select(col("dst"), col("src").as("cluster"))
            else edges.join(frontier, "src"))
            .groupBy(col("dst").as("id"))
            .agg(min(col("cluster")).as("__nbr"))
          // Probe the JOINED per-round shape (round ≥ 2): round 1's algebraic
          // specialization has no frontier join, so it is not the plan whose
          // static-side exchange placement the spec pins.
          if (round > 1) graft.core.PlanProbe.offer("cc_neighbor", cand)
          // Merge phase: LEFT join — only nodes adjacent to the frontier have a
          // candidate; everyone else keeps their label. `__old` is carried so
          // the round's change set falls out of the same frame with no extra
          // join against the previous state. Lazily checkpointed because the
          // jump below consumes it TWICE (probe side and parent-map source) —
          // Catalyst would re-evaluate the join subtree per side; the
          // checkpoint shares one materialization.
          val stepped = labels.join(cand, Seq("id"), "left")
            .select(col("id"), col("cluster").as("__old"),
              least(col("cluster"), coalesce(col("__nbr"), col("cluster")))
                .as("cluster"))
            .localCheckpoint(false)
          live += stepped
          // Pointer jump: label(u) ← label(label(u)). Every label value is a
          // node id of the same component (labels start as ids and only adopt
          // other members' labels); the parent's label is ≤ its own id by
          // monotonicity, so least() is just defensive clarity.
          //
          // Skew shape: a naive self-join keyed by label would funnel a
          // converged giant component's rows (all sharing one label) into ONE
          // shuffle partition. Instead the jump goes through the DISTINCT
          // probed labels: the distinct's partial aggregation collapses the
          // hot label map-side before any exchange, and only NON-ROOT parents
          // (__pp ≠ cluster — chains the jump still has to flatten) survive
          // into the parent map. Both its join keys are unique — no skew — and
          // it SHRINKS TO EMPTY exactly as components converge, i.e. precisely
          // when a hot label could exist. By then it is a frame AQE
          // broadcasts, so the skewed probe never shuffles on the hot key; in
          // the in-between regime (many labels, sort-merge chosen) labels are
          // still diverse and AQE's skew-join split remains the backstop.
          val parentOf = stepped.select(col("cluster")).distinct()
            .join(stepped.select(col("id").as("cluster"), col("cluster").as("__pp")),
              Seq("cluster"))
            .filter(col("__pp") =!= col("cluster"))
          val jumped = stepped.join(parentOf, Seq("cluster"), "left")
            .select(col("id"), col("__old"),
              least(col("cluster"), coalesce(col("__pp"), col("cluster")))
                .as("cluster"))
            .select(col("id"), col("cluster"),
              (col("cluster") =!= col("__old")).as("__chg"))
          // Lazy checkpoint: the changed-row count below is the single action
          // that materializes this round's state — two jobs per round would
          // double the scheduling constant of every round. Zero changed rows
          // IS the fixed point: monotone labels mean every change strictly
          // decreases a label, and an empty change set means every label has
          // been offered to all neighbors and held.
          val prev = state
          state = jumped.localCheckpoint(false)
          live += state
          val nChanged = state.filter(col("__chg")).count()
          Failpoints.check("cc.round")
          // This round's state is now materialized into its own checkpoint
          // (lineage truncated), so the previous round's state and this
          // round's intermediate `stepped` can never be read again — free both
          // so a k-round run holds TWO label-frame copies in executor storage,
          // not k+1 (at 10^9 nodes × 10 rounds the difference is the whole
          // storage pool).
          ScopedStorage.freeCheckpoint(prev)
          ScopedStorage.freeCheckpoint(stepped)
          live --= Seq(prev, stepped)
          labels = state.select(col("id"), col("cluster"))
          frontier = state.filter(col("__chg"))
            .select(col("id").as("src"), col("cluster"))
          converged = nChanged == 0L
        }
      }
      if (!converged && !returnPartial) {
        // Diagnose before dying: at a fixed point adjacent nodes hold equal
        // labels, so the edges whose endpoints still disagree are exactly the
        // unfinished merges. Two id-partitioned joins + a count — cheap
        // relative to the rounds already run — and the sample names the
        // region of the graph that stalled.
        val unstable = edges
          .join(labels.select(col("id").as("src"), col("cluster").as("__ls")), "src")
          .join(labels.select(col("id").as("dst"), col("cluster").as("__ld")), "dst")
          .filter(col("__ls") =!= col("__ld") && col("src") < col("dst"))
        val nUnstable = unstable.count()
        val sample = unstable.select(col("src"), col("dst")).limit(5).collect()
          .map(r => s"(${r.get(0)}, ${r.get(1)})").mkString(", ")
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxRounds rounds: " +
            s"$nUnstable edge(s) still span two provisional clusters " +
            s"(sample: $sample). Pass returnPartial = true to accept a " +
            "provisional (possibly split, never over-merged) clustering " +
            "instead.")
      }
      labels
    } finally {
      edges.unpersist(blocking = false)
      live.foreach(ScopedStorage.registerCheckpoint)
    }
  }

  /** Pairwise near-dup output → one surviving id per duplicate cluster: the
    * cluster's canonical (minimum) id. Singleton docs never enter `pairs`
    * and are implicitly survivors.
    */
  def survivors(pairs: DataFrame): DataFrame =
    connectedComponents(pairs).select(col("cluster").as("id")).distinct()
}
