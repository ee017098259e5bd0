package graft.perfbench

/** The per-layer metrics a traced run reports, for every workload: a
  * layer the workload does not exercise reads 0. Layers are named after
  * the program's modules. Counts are totals over the traced operations;
  * `self_s` and ratios are means per traced operation. Spill stays 0 at
  * these input sizes, so only the `spark` total carries it. */
object PerLayer {
  private def of(layer: String, ms: String*) = ms.map(m => s"$layer.$m")
  private val work = Seq("jobs", "stages", "tasks", "shuffle_bytes")

  val names: Seq[String] =
    of("warc.source", "self_s", "records_out", "jobs", "tasks") ++
    of("warc.Pipeline", "self_s", "records_in", "records_out", "dropped", "oversize_stubbed") ++
    of("warc.AvroSink", "self_s", "records_out", "output_bytes") ++
    of("text", Seq("self_s", "records_in", "records_out") ++ work: _*) ++
    of("dedup", Seq("self_s", "records_out", "candidates", "useful_ratio") ++ work: _*) ++
    of("dedup.cc", Seq("self_s", "records_in", "records_out") ++ work: _*) ++
    of("pipeline", Seq("self_s", "records_out", "output_bytes") ++ work: _*) ++
    of("dedup.IncrementalDedup", Seq("self_s", "records_in", "records_out", "candidates",
      "useful_ratio", "admitted_ratio", "output_bytes") ++ work: _*) ++
    of("analytics.StoreLifecycle", Seq("self_s", "compactions", "bytes_rewritten") ++ work: _*) ++
    of("streaming.StreamStoreIngest", "self_s", "records_in", "jobs", "tasks", "output_bytes") ++
    of("sim.AnnStore", Seq("self_s", "records_in", "scan_fraction") ++ work: _*) ++
    of("spark", Seq("self_s", "gc_s", "jobs_per_op", "spill_bytes") ++ work: _*) ++
    of("trace", "overhead_s", "ops")

  def isPerOp(k: String): Boolean =
    k.endsWith("self_s") || k.endsWith("_ratio") || k.endsWith("scan_fraction")

  def unit(k: String): String =
    if (k.endsWith("_s")) "s"
    else if (k.endsWith("bytes") || k.endsWith("bytes_rewritten")) "bytes"
    else if (isPerOp(k)) "ratio"
    else "count"
}
