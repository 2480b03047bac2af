package graft.perfbench

/** A workload: the entries one pass runs and the dataset they read.
  * Why each workload exists, and why it holds these entries, is in
  * README.md. */
final case class Workload(name: String, dataset: String, entries: Seq[String])

object Workloads {
  val all: Seq[Workload] = Seq(
    // the cheapest query of each of the ten inventory families (warm
    // time at sf0.1 on 4 cores), so that the per-query floor of
    // planning, job launch and single-task stages dominates
    Workload("contract_sf0.1", "sf0.1", Seq(
      "qf8_json_extract", "qa5_sparsity_buckets", "qj6_cross_join", "qw5_ntile",
      "qt4_hash_sample", "qu1_union_all", "qv2_dot_topk", "ql2_exact_dedup", "qs6_funnel",
      "qx17_posexplode")),
    // the cheapest engine entry for each driver-side layer: metastore
    // DDL on a glog table, glog commits with changefeed reads, the glog
    // manifest's column statistics, a streaming micro-batch pipeline,
    // and a pipeline operator and a compiled expression kernel
    Workload("engine_sf0.1", "sf0.1", Seq(
      "eng_dsv2_ts_stats", "eng_changefeed_small_delta", "eng_dsv2_colstats",
      "eng_stream_cdc_small_delta", "eng_skyline", "eng_mlp_forward")))

  def apply(name: String): Workload =
    all.find(_.name == name).getOrElse(sys.error(s"unknown workload $name"))
}
