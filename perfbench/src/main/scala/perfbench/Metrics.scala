package perfbench

/** The metrics the benchmark reports, by name. BENCHMARK.json declares
  * the same names (MetricsSpec keeps the two in step); the `moves` text
  * of a layer metric records which end-to-end metric, on which workload,
  * a change to that layer is expected to move. */
object Metrics {
  final case class Def(name: String, unit: String, better: String,
      moves: String = "")

  val EndToEnd: Seq[Def] = Seq(
    Def("setup_s", "s", "lower"),
    Def("op_p50_s", "s", "lower"),
    Def("space_amp", "ratio", "lower"))

  private val Night = "op_p50_s on nightly_increment"
  private val Model = s"$Night; nothing on corpus_store"
  private val Append = "op_p50_s (its append share) on corpus_store"
  private val Delete = "op_p50_s (its delete share) on corpus_store"

  private def verb(v: String, moves: String): Seq[Def] = Seq(
    Def(s"operators.${v}_s", "s", "lower", moves),
    Def(s"operators.${v}_jobs", "count", "lower", moves),
    Def(s"operators.${v}_tasks", "count", "lower", moves),
    Def(s"operators.${v}_shuffle_mb", "MB", "lower", moves),
    Def(s"operators.${v}_gap_share", "share", "lower", moves),
    Def(s"operators.${v}_slot_util", "share", "higher", moves),
    Def(s"operators.${v}_written_mb", "MB", "lower", moves))

  val PerLayer: Seq[Def] = Seq(
    Def("model.run_s", "s", "lower", Model),
    Def("model.run_jobs", "count", "lower", Model),
    Def("model.run_tasks", "count", "lower", Model),
    Def("model.run_gap_share", "share", "lower", Model),
    Def("model.run_slot_util", "share", "higher", Model),
    Def("model.run_written_mb", "MB", "lower", Model),
    Def("model.node_busy_s", "s", "lower", Model),
    Def("model.tests_s", "s", "lower", Model),
    Def("model.tests_jobs", "count", "lower", Model),
    Def("model.tests_scan_mb", "MB", "lower", Model),
    Def("core.ingest_s", "s", "lower", s"$Night only"),
    Def("core.ingest_jobs", "count", "lower", s"$Night only"),
    Def("core.ingest_rows_per_s", "1/s", "higher", s"$Night only"),
    Def("operators.build_s", "s", "lower", "setup_s on corpus_store"),
    Def("operators.build_jobs", "count", "lower", "setup_s on corpus_store")) ++
    verb("append", Append) ++ verb("delete", Delete) ++ Seq(
    Def("operators.delete_family_docs", "count", "lower",
      s"$Delete and space_amp, read with operators.delete_written_mb"),
    Def("functions.word_shingles_ns_row", "ns", "lower",
      "op_p50_s and setup_s on corpus_store; nothing elsewhere"),
    Def("functions.minhash_sig_ns_row", "ns", "lower",
      "op_p50_s and setup_s on corpus_store; nothing elsewhere"),
    Def("functions.fingerprint_ns_row", "ns", "lower",
      "op_p50_s and setup_s on corpus_store; nothing elsewhere"),
    Def("functions.dot_product_ns_row", "ns", "lower",
      "op_p50_s and setup_s on corpus_store; nothing elsewhere"),
    Def("disk.files", "count", "lower",
      s"space_amp on every workload; $Night through small-file reads"),
    Def("cache_peak_mb", "MB", "lower",
      "setup_s and op_p50_s on corpus_store (the engine's blocks only)"),
    Def("trace.op_p50_s", "s", "lower",
      "none: op_p50_s of the traced run; minus the untraced op_p50_s of " +
        "the same seed it is the tracing overhead"),
    Def("trace.op_unspanned_share", "share", "lower",
      "none: share of an op's wall time outside every layer span; when it " +
        "grows, the layer metrics miss that much of op_p50_s"))
}
