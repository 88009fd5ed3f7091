package perfbench

/** The benchmark's workloads: each is a fixed list of registered queries.
  * The seed only shuffles their order within a timed pass. Every query here has
  * its expected result hash in `expected.json`, computed from the DuckDB
  * oracle over the same fixtures.
  *
  * The queries were chosen from longer candidate lists by a traced run of
  * every candidate on the sf0.01 fixtures (the figures are in README.md);
  * the rest of each family stays in the registry and in `graft.Bench`. */
object Workloads {
  val all: Map[String, Seq[String]] = Map(
    // Construction-bound: 89-96% of each query's time is inside
    // QueryDef.fn. Luby's MIS, the graph loop that starts most jobs (86
    // eager checkpoint and probe jobs over tiny frames), and a stateful
    // streaming harness that drains AvailableNow micro-batches to parquet
    // plus offset, commit and state-store files.
    "loops" -> Seq(
      "x262_luby_mis",
      "x319_stream_dynamic_gap"),
    // Action-bound: the final action is 85-93% of each query's time, over
    // scans, shuffles, a banded join, sketches and the native topk_pairs
    // aggregate. At this size the cores are mostly idle during it
    // (exec.util 0.13-0.20): per-stage cost, not CPU, dominates.
    "scan" -> Seq(
      "q31_approx_sketches",
      "x84_prf_expansion",
      "x62_interval_overlap",
      "x86_maxsim_topk"))

  def queries(name: String): Seq[String] =
    all.getOrElse(name, throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.keys.toSeq.sorted.mkString(", ")})"))
}
