package perfbench

/** Every per-layer metric a traced run prints, on every workload; a
  * metric a workload does not exercise reads 0. `run.py` checks the
  * names against `BENCHMARK.json`.
  */
object Layers {
  /** Layer spans, each with a self time and its job group's counters. */
  val spans: Seq[String] = Seq(
    "sources.scan", "dataset.split", "ops.reshape", "ops.clean", "dataset.balance",
    "dataset.summary", "queries.construct", "queries.exec")

  val names: Seq[String] =
    spans.flatMap(s => s"$s.self_s" +: Tracer.spanCounters(s, Counters.zero).map(_._1)) ++
      Tracer.execMetrics(Counters.zero, 1, 0, 1).map(_._1) ++
      Seq("core.session_s", "core.storage_held_mb", "core.peak_rss_mb",
        "core.peak_heap_mb", "sources.npz_encode_mb_s", "sources.npz_decode_mb_s", "ops.cc_kernel_mpx_s",
        "ops.relabel_kernel_mpx_s", "queries.construct_jobs") ++
      QueryInventory.registry.map { case (obj, _) => s"queries.$obj.wall_s" } ++
      Tracer.streamMetrics(Nil, 1).map(_._1) :+
      "trace.overhead_s"

  def unit(name: String): String = name match {
    case n if n.endsWith("_mb_s") => "MB/s"
    case n if n.endsWith("_mpx_s") => "Mpx/s"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_share") => "ratio"
    case _ => "count"
  }
}
