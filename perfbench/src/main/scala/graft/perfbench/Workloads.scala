package graft.perfbench

/** The workloads and the gate-family → module map.
  *
  * A workload is a fixed, ordered list of gates from `SparkEntry.queries`
  * plus the inputs they read. Gates run one at a time, in list order, once
  * per pass.
  */
object Workloads {
  /** `perRow`: gates whose output on ×k replicated inputs is k times their
    * ×1 output, rows and id-projected witness alike (per-document
    * operators). Other gates are checked only for agreement across passes
    * and runs.
    */
  final case class Workload(name: String, gates: Seq[String],
      perRow: Set[String] = Set.empty, warmPasses: Int = 1)

  val MinPasses = 2
  val SecondsPerPass = 5

  /** Measured passes of a run given `--seconds`: one per [[SecondsPerPass]]
    * (about one pass of either workload on a quiet host), never fewer than
    * [[MinPasses]]. A count, not a deadline: every run with the same
    * `--seconds` measures the same passes whatever the host's load.
    */
  def measuredPasses(w: Workload, seconds: Int): Int =
    if (w.gates.isEmpty) 0 else math.max(MinPasses, seconds / SecondsPerPass)

  /** dbt models over the shipped sf0.1 tables (one split each). Four
    * cheap reads (quality, operators, relational, similarity), where the
    * fixed per-gate cost (Catalyst, code generation, job scheduling)
    * dominates; two that write beside their reads (a MERGE and a typed seed
    * load: table commits and catalog calls), so a change that speeds reads
    * but costs writes shows; and one bounded stream (micro-batches with
    * checkpoint commits into a memory sink), the cheapest `stream_*` gate.
    * One unmeasured warm pass after the cold one: in it the JIT is still
    * compiling much of what the cold pass ran.
    */
  val modelsSf01: Workload = Workload("models_sf01", Seq(
    "aud_star", "evt_funnel", "q04_filter_project", "sim_knn_brute",
    "inc_merge", "seed_types", "stream_quality_filter"))

  /** Per-row text kernels and content dedup over documents replicated
    * across several splits: task CPU and shuffle dominate. Three warm
    * passes: after one, the per-row kernels still ran up to a third slower
    * in some runs than in others, as the JIT had not yet settled.
    */
  val corpusAmplified: Workload = Workload("corpus_amplified",
    Seq("dd_exact", "txt_langid", "txt_quality"),
    perRow = Set("txt_langid", "txt_quality"), warmPasses = 3)

  val all: Seq[Workload] = Seq(modelsSf01, corpusAmplified)

  def byName(name: String): Option[Workload] = all.find(_.name == name)

  /** Gate family → repo module. The first matching rule wins. */
  val moduleRules: Seq[(String, String)] = Seq(
    "pipe_neardup_clusters" -> "dedup", "pipe_normalize_dedup" -> "dedup",
    "pipe_dedup_ledger" -> "dedup", "dd_" -> "dedup",
    "pipe_quality_cut" -> "text", "txt_" -> "text",
    "sim_" -> "similarity",
    "evt_" -> "operators", "graph_" -> "operators",
    "dq_" -> "quality", "aud_" -> "quality", "gov_" -> "quality",
    "src_" -> "quality", "lf_" -> "quality",
    "stream_" -> "streaming",
    "inc_" -> "materialize", "mat_" -> "materialize", "snap_" -> "materialize",
    "rel_compact" -> "materialize", "rel_zorder" -> "materialize",
    "rel_partition_evolution" -> "materialize", "rel_vacuum" -> "materialize",
    "cat_" -> "materialize", "seed_" -> "materialize",
    "pipe_dbt_lifecycle" -> "materialize",
    "q" -> "queries.relational", "rel_ops" -> "queries.relational",
    "agg_" -> "queries.relational")

  /** Module → the per-layer metric of its gate time. */
  val moduleMetrics: Seq[(String, String)] = Seq("text" -> "text.gate_s",
    "dedup" -> "dedup.gate_s", "similarity" -> "similarity.gate_s",
    "operators" -> "operators.gate_s", "quality" -> "quality.gate_s",
    "materialize" -> "materialize.gate_s", "streaming" -> "streaming.gate_s",
    "queries.relational" -> "queries.relational_gate_s")

  val modules: Seq[String] = moduleMetrics.map(_._1)

  def moduleOf(gate: String): String = moduleRules
    .collectFirst { case (p, m) if gate == p || gate.startsWith(p) => m }
    .getOrElse("other")
}
