package perfbench

/** The committed query lists of the `queries` workload: `analystShort`
  * and `dedupHeavy` on the base dataset, `dedupScaled` on its key-shifted
  * clone.
  */
object QueryLists {
  /** Short analyst queries, each well under a second on the base dataset,
    * spread across the relational, event, statistics, text and as-of
    * operators. Their time is driver-side plan construction, the per-job
    * floor and eager checkpoints; shuffle volume is negligible.
    */
  val analystShort: Seq[String] = Seq(
    // operators.Relational
    "q_filter_project", "q_pricing_summary", "q_did_orders", "q_fisher_index",
    // operators.Events
    "q_user_sessions", "q_rolling_active_users",
    // operators.Stats
    "q_kendall_tau", "q_chi_square",
    // operators.TextOps
    "q_keyword_search",
    // operators.AsOf
    "q_asof_join")

  /** Dedup on the base dataset: the `Sessions.inParallel` composite. */
  val dedupHeavy: Seq[String] = Seq("q_dedup_best")

  /** The salted banded self-join (with its BandSignatures codegen kernel)
    * on the key-shifted clone, where near-duplicate clusters grow with the
    * copy count, so more pairs are emitted per input row.
    */
  val dedupScaled: Seq[String] = Seq("q_hashed_tf_neardup")
}
