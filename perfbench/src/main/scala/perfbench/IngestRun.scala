package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.ingest.Pipeline
import graft.streaming.{StateStore, StreamIngest}

/** The ingest workload: `graft-replay` -> `StreamIngest` -> `StateStore`,
  * one closed-loop client. Set-up writes the warm-up batch, starts the
  * query and waits for it to commit. Each timed trigger is admitted by
  * appending one batch to the log after the previous version committed;
  * its latency runs from admission to the committed micro-batch's
  * progress event.
  */
final class IngestRun(spark: SparkSession, a: Main.Args, w: Main.Ingest,
    tally: Main.Tally, trace: Option[Trace]) {
  import IngestRun.Trig
  import Main._

  private val batch = w.shape.batch
  private val progress = new Progress
  spark.streams.addListener(progress)

  private final class Live(val dir: Path, val gen: LogGen.Gen, val query: StreamingQuery) {
    def log: Path = dir.resolve("log.jsonl")
    def state: Path = dir.resolve("state")
  }

  private def setUp(dir: Path): Live = {
    deleteTree(dir)
    Files.createDirectories(dir)
    val gen = new LogGen.Gen(a.seed, w.shape)
    writeLines(dir.resolve("log.jsonl"), gen.nextBatch().toSeq, append = false)
    val q = StreamIngest.start(
      StreamIngest.replaySource(spark, dir.resolve("log.jsonl").toString, Some(batch.toLong)),
      dir.resolve("state").toString, dir.resolve("checkpoint").toString)
    progress.watch(q)
    progress.await(0L)
    new Live(dir, gen, q)
  }

  def run(): (Metrics, Metrics) = {
    val t0 = System.nanoTime()
    val live = setUp(a.work.resolve("ingest"))
    val setupS = secsSince(t0)

    val trigs = mutable.ArrayBuffer.empty[Trig]
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var next = 1L
    var running = true
    var storeBytes = 0L
    while (running && System.nanoTime() < deadline) {
      val lines = live.gen.nextBatch()
      writeLines(live.log, lines, append = true)
      val t0 = System.nanoTime()
      val c0 = processCpuS()
      tally.attempt(s"trigger $next")(progress.await(next)) match {
        case Some(p) =>
          val lat = secsSince(t0)
          val (bytes, buckets) =
            if (trace.isDefined) du(live.state.resolve(s"v$next")) else (0L, 0)
          trigs += Trig(next, lat, processCpuS() - c0, p, bytes, buckets)
          // space is sampled at a fixed point, two committed batches in,
          // so it does not depend on how many triggers fit the window
          if (next == 1) storeBytes = du(live.state)._1
          next += 1
        case None => running = false
      }
    }
    live.query.stop()
    tally.attempt("query ended without error")(live.query.exception.foreach(e => throw e))

    // the log now holds exactly the committed batches
    val tc = System.nanoTime()
    val lastV = next - 1
    val events = (lastV + 1) * batch
    val state = live.state.toString
    tally.check(s"v$lastV is the latest committed version")(
      StateStore.latestCommitted(spark, state).contains(lastV))
    tally.attempt("final version equals Pipeline.replay of the log") {
      val actual = StateStore.read(spark, state, lastV)
      val expected = Pipeline.replay(spark, logFrame(spark, live.log))
      val bad = differing(tables(actual).zip(tables(expected)).map { case ((n, x), (_, y)) =>
        (n, x, y) })
      require(bad.isEmpty, s"tables differ: ${bad.mkString(", ")}")
      tally.attempt("Pipeline.assertNoDuplicates")(Pipeline.assertNoDuplicates(actual))
    }

    val checkS = secsSince(tc)
    val lat = trigs.map(_.latencyS).toSeq
    val cpu = trigs.map(_.cpuS).toSeq
    println(f"[perfbench] ${w.name}: setup $setupS%.3f s; ${trigs.size} timed triggers x $batch " +
      f"events; trigger latency p50 ${median(lat)}%.3f s, cpu p50 ${median(cpu)}%.3f s " +
      s"(n=${lat.size}: ${trigs.map(t => f"${t.latencyS}%.2f/${t.cpuS}%.2f").mkString(" ")}); " +
      f"$events events committed; checks $checkS%.1f s")

    val e2e: Metrics = mutable.LinkedHashMap(
      "setup_s" -> (setupS, "s"),
      "cpu_p50_s" -> (median(cpu), "s"),
      "store_bytes_per_event" -> (storeBytes.toDouble / (2 * batch), "B"))

    val layers = Layers.zero()
    trace.foreach { t =>
      val jobs = t.finished.groupBy(_.batchId)
      def js(tr: Trig) = jobs.getOrElse(tr.batchId, Nil)
      def per(f: Trig => Double): Double = median(trigs.map(f).toSeq)
      def dur(tr: Trig, k: String): Double =
        Option(tr.p.durationMs.get(k)).map(_.doubleValue / 1000).getOrElse(0.0)
      def tagS(tr: Trig)(pred: String => Boolean): Double =
        Trace.coveredMs(js(tr).filter(j => pred(j.desc))) / 1000.0
      def set(k: String, v: Double) = layers(k) = (v, layers(k)._2)

      set("sources.latest_offset_s", per(dur(_, "latestOffset")))
      set("sources.get_batch_s", per(dur(_, "getBatch")))
      set("ingest.strict_scan_s", per(tagS(_)(_ == "fold:strict-scan")))
      set("temporal.epoch_label_s", per(tagS(_)(_ == "fold:epoch-label")))
      set("ingest.epoch_scan_s", per(tagS(_)(_ == "fold:epoch-scan")))
      set("state.changes_checkpoint_s", per(tagS(_)(Layers.isChangesCheckpoint)))
      set("streaming.partial_read_s", per(tagS(_)(_ == "fold:partial-read")))
      set("streaming.store_write_s", per(tagS(_)(_ == "fold:store-write")))
      set("ingest.epochs_per_trigger", per(tr =>
        js(tr).flatMap(j => Layers.stateCheckpointEpoch(j.desc)).distinct.size.toDouble))
      set("state.refresh_merge_s",
        per(tagS(_)(d => Layers.stateCheckpointEpoch(d).exists(_ % 2 == 1))))
      set("graph.cascade_s",
        per(tagS(_)(d => Layers.stateCheckpointEpoch(d).exists(_ % 2 == 0))))
      set("streaming.driver_gap_s",
        per(tr => dur(tr, "addBatch") - Trace.coveredMs(js(tr)) / 1000.0))
      set("streaming.engine_s", per(tr => dur(tr, "triggerExecution") - dur(tr, "addBatch")))
      set("streaming.store_bytes_written", per(_.bytes.toDouble))
      set("streaming.buckets_written", per(_.buckets.toDouble))
      Layers.spark(layers, trigs.map(tr => (js(tr), dur(tr, "triggerExecution"))).toSeq, a.cpus)
      set("decode.events_per_s", decodeRate(spark, live.log, events))
      set("trace.cpu_p50_s", e2e("cpu_p50_s")._1)
      set("trace.latency_p50_s", median(lat))
    }
    spark.streams.removeListener(progress)
    (e2e, layers)
  }
}

object IngestRun {
  /** One timed trigger: admission-to-commit latency, the CPU time it took
    * ([[Main.processCpuS]]), the engine's progress record, and (traced
    * runs) the bytes and buckets its version wrote.
    */
  final case class Trig(batchId: Long, latencyS: Double, cpuS: Double,
      p: StreamingQueryProgress, bytes: Long, buckets: Int)
}
