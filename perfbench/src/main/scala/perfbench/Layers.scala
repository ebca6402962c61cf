package perfbench

import scala.collection.mutable

/** The per-layer metrics of a traced run. Every workload reports every
  * name; a layer the workload does not exercise reads 0 (the mapping of
  * metrics to layers and workloads is in the README).
  */
object Layers {

  val units: Seq[(String, String)] = Seq(
    "sources.latest_offset_s" -> "s",
    "sources.get_batch_s" -> "s",
    "ingest.strict_scan_s" -> "s",
    "temporal.epoch_label_s" -> "s",
    "ingest.epoch_scan_s" -> "s",
    "ingest.epochs_per_trigger" -> "count",
    "state.refresh_merge_s" -> "s",
    "state.changes_checkpoint_s" -> "s",
    "graph.cascade_s" -> "s",
    "streaming.partial_read_s" -> "s",
    "streaming.store_write_s" -> "s",
    "streaming.driver_gap_s" -> "s",
    "streaming.engine_s" -> "s",
    "streaming.store_bytes_written" -> "B",
    "streaming.buckets_written" -> "count",
    "decode.events_per_s" -> "1/s",
    "spark.jobs_per_trigger" -> "count",
    "spark.stages_per_trigger" -> "count",
    "spark.tasks_per_trigger" -> "count",
    "spark.task_cpu_s" -> "s",
    "spark.cpu_util" -> "share",
    "spark.shuffle_bytes" -> "B",
    "spark.spill_bytes" -> "B",
    "streaming.lookup_resolve_s" -> "s",
    "streaming.lookup_buckets_loaded" -> "count",
    "graph.endpoint_s" -> "s",
    "spark.jobs_per_lookup" -> "count",
    "streaming.cdc_diff_s" -> "s",
    "streaming.cdc_rows" -> "count",
    "sources.scan_plan_s" -> "s",
    "sources.scan_exec_s" -> "s",
    "trace.cpu_p50_s" -> "s",
    "trace.latency_p50_s" -> "s",
    "host.cpu_probe_pre_s" -> "s",
    "host.cpu_probe_post_s" -> "s",
    "host.steal_share" -> "share",
    "host.contaminated" -> "flag")

  def zero(): Main.Metrics =
    mutable.LinkedHashMap(units.map { case (k, u) => k -> (0.0, u) }: _*)

  private val StateCheckpoint = "fold:epoch(\\d+)-state-checkpoint".r
  private val ChangesCheckpoint = "fold:epoch\\d+-changes-checkpoint".r

  /** Epoch number of a `fold:epoch<N>-state-checkpoint` job: odd epochs
    * are refresh merges, even epochs the expire cascade.
    */
  def stateCheckpointEpoch(desc: String): Option[Int] = desc match {
    case StateCheckpoint(n) => Some(n.toInt)
    case _ => None
  }

  def isChangesCheckpoint(desc: String): Boolean = ChangesCheckpoint.matches(desc)

  /** Engine-wide counts per unit of work (a trigger, or a read request):
    * medians over the units of their jobs' counts, task CPU, CPU use as a
    * share of the unit's wall time times cores, shuffle and spill bytes.
    */
  def spark(m: Main.Metrics, units: Seq[(Seq[Trace.Job], Double)], cores: Int): Unit = {
    def per(f: ((Seq[Trace.Job], Double)) => Double): Double = Main.median(units.map(f))
    def set(k: String, v: Double) = m(k) = (v, m(k)._2)
    set("spark.jobs_per_trigger", per(_._1.size.toDouble))
    set("spark.stages_per_trigger", per(_._1.map(_.stages).sum.toDouble))
    set("spark.tasks_per_trigger", per(_._1.map(_.tasks).sum.toDouble))
    set("spark.task_cpu_s", per(_._1.map(_.cpuNs).sum / 1e9))
    set("spark.cpu_util", per { case (js, wall) => js.map(_.cpuNs).sum / 1e9 / (wall * cores) })
    set("spark.shuffle_bytes", per(_._1.map(_.shuffleBytes).sum.toDouble))
    set("spark.spill_bytes", per(_._1.map(_.spillBytes).sum.toDouble))
  }
}
