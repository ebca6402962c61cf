package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.decode.Decode
import graft.schema.Schemas

/** One benchmark run: one workload, one seed, a fixed timed window.
  *
  * Usage: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> [--trace-out <file>]`. The last stdout line
  * is the JSON result; the lines before it report sample counts and the
  * contamination probe.
  */
object Main {

  sealed trait Workload { def name: String; def shape: LogGen.Shape }

  /** Closed-loop ingest. Set-up commits one warm-up trigger; then each
    * timed trigger is admitted (one batch appended to the log) only once
    * the previous one has committed its version.
    */
  final case class Ingest(name: String, shape: LogGen.Shape) extends Workload

  /** Reads over a store of `versions` committed versions, all retained,
    * so CDC can poll at lags 1..versions-1.
    */
  final case class Readback(name: String, shape: LogGen.Shape, versions: Int,
      idsPerLookup: Int) extends Workload

  val workloads: Seq[Workload] = Seq(
    Ingest("ingest-small", LogGen.Shape(pool = 5000, teams = 40, batch = 500)),
    Readback("readback",
      LogGen.Shape(pool = 10000, teams = 40, batch = 500, twoOwnerShare = 0.2, dupShare = 0.05),
      versions = 2, idsPerLookup = 4))

  /** The shape of an `ingest-churn` workload: exactly two tombstone runs
    * per batch (five fold epochs), two-team assets, re-creates and
    * redeliveries. Not run: one such trigger takes longer than a whole run
    * may (see README); the generator test pins it.
    */
  val churnShape: LogGen.Shape =
    LogGen.Shape(pool = 100000, teams = 200, batch = 10000, tombRuns = 2, tombRunLen = 50,
      twoOwnerShare = 0.2, dupShare = 0.05, recreateShare = 0.02)

  final case class Args(workload: Workload, seed: Long, seconds: Int, trace: Boolean,
      work: Path, traceOut: Option[Path], cpus: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = workloads.find(_.name == need("workload")).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload '${need("workload")}' (one of ${workloads.map(_.name).mkString(", ")})"))
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")), m.get("trace-out").map(Paths.get(_)),
      m.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
  }

  /** Outcome counters: every timed operation and every correctness check
    * is one attempt; a thrown error or a mismatch is one failure.
    */
  final class Tally {
    var attempted, failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    def attempt[A](what: String)(f: => A): Option[A] = {
      attempted += 1
      try Some(f) catch {
        case NonFatal(e) =>
          failed += 1
          errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
          None
      }
    }
    def check(what: String)(ok: => Boolean): Unit =
      if (!attempt(what)(ok).getOrElse(true)) {
        failed += 1
        errors += s"$what: mismatch"
      }
  }

  /** Metric name -> (value, unit). */
  type Metrics = mutable.LinkedHashMap[String, (Double, String)]

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"perfbench: ${e.getMessage}")
        sys.exit(2)
    }
    Files.createDirectories(a.work)
    val spark = graft.GraftSession.local(a.cpus)
      .appName("perfbench")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val uptimeS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    println(f"[perfbench] session ready $uptimeS%.2f s after JVM start")
    val trace = if (a.trace) Some(new Trace) else None
    trace.foreach(spark.sparkContext.addSparkListener(_))
    val tally = new Tally
    val probePre = cpuProbe(a.cpus)
    val statPre = cpuStat()
    val (e2e, layers) = a.workload match {
      case w: Ingest => new IngestRun(spark, a, w, tally, trace).run()
      case w: Readback => new ReadbackRun(spark, a, w, tally, trace).run()
    }
    val statPost = cpuStat()
    val probePost = cpuProbe(a.cpus)
    // CPU time the hypervisor gave to other guests while this run wanted it
    val steal = (statPost._1 - statPre._1).toDouble / math.max(1L, statPost._2 - statPre._2)
    val contaminated = steal > 0.05 ||
      math.max(probePre, probePost) / math.min(probePre, probePost) > 1.25
    println(f"[perfbench] contamination: cpu probe pre=$probePre%.4f s post=$probePost%.4f s, " +
      f"steal=${steal * 100}%.1f%%; contaminated=$contaminated")
    layers("host.cpu_probe_pre_s") = (probePre, "s")
    layers("host.cpu_probe_post_s") = (probePost, "s")
    layers("host.steal_share") = (steal, "share")
    layers("host.contaminated") = (if (contaminated) 1.0 else 0.0, "flag")
    e2e("peak_rss_mb") = (peakRssMb(), "MB")
    tally.errors.foreach(e => println(s"[perfbench] FAILED $e"))
    trace.foreach { t =>
      spark.sparkContext.removeSparkListener(t)
      a.traceOut.foreach(Trace.write(_, t.finished))
    }
    val out = if (a.trace) layers else e2e
    // an end-to-end metric without samples fails the run; a layer the
    // workload did not exercise reads 0
    if (!a.trace) for ((k, (v, _)) <- out if v.isNaN || v.isInfinite)
      tally.check(s"metric $k has samples")(false)
    val metrics = out.map { case (k, (v, u)) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) "0" else v.toString}, "unit": "$u"}"""
    }.mkString(", ")
    spark.stop()
    println(s"""{"correct": ${tally.failed == 0}, "attempted": ${math.max(tally.attempted, 1)}, """ +
      s""""failed": ${tally.failed}, "metrics": {$metrics}}""")
    sys.exit(0)
  }

  /** Fixed compute loop on every core at once (the idea of `graft.Bench`'s
    * CPU probe): a host whose cores are shared with other work shows as a
    * slower probe, so a run can flag itself instead of reading as a
    * regression. Median of three.
    */
  def cpuProbe(cores: Int): Double = {
    def loop(): Unit = {
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42) System.err.println("")
    }
    def once(): Double = {
      val t0 = System.nanoTime()
      val ts = Seq.fill(cores)(new Thread(() => loop()))
      ts.foreach(_.start())
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    Seq(once(), once(), once()).sorted.apply(1)
  }

  /** (steal, total) jiffies of all CPUs, from /proc/stat. */
  def cpuStat(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1)
      .take(8).map(_.toLong)
    (f(7), f.sum)
  }

  /** CPU seconds the JVM has used so far, less what its JIT compiler
    * threads used: the program's own work (GC included), without the
    * warm-up compilation that still trails a short run. `/proc/self/stat`
    * counts every thread, live or exited; the compiler threads live as
    * long as the JVM (`run.py` passes `-XX:-UseDynamicNumberOfCompilerThreads`),
    * so subtracting theirs is exact to the clock tick.
    */
  def processCpuS(): Double = {
    // (name, utime + stime ticks) of one /proc stat line
    def parse(stat: String): (String, Long) = {
      val close = stat.lastIndexOf(')')
      val f = stat.substring(close + 2).split(" ")
      (stat.substring(stat.indexOf('(') + 1, close), f(11).toLong + f(12).toLong)
    }
    val all = parse(Files.readString(Paths.get("/proc/self/stat")))._2
    val tasks = Files.list(Paths.get("/proc/self/task"))
    val jit = try tasks.iterator().asScala.map { t =>
      try parse(Files.readString(t.resolve("stat")))
      catch { case _: java.io.IOException => ("", 0L) } // the thread just ended
    }.collect { case (n, ticks) if n.startsWith("C1 Compiler") || n.startsWith("C2 Compiler") =>
      ticks
    }.sum finally tasks.close()
    (all - jit) / 100.0
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  // --- shared helpers ------------------------------------------------------

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (NaN when there are no samples). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }

  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Write `lines` as the log, or append them to it. An append replaces
    * the file atomically with a complete copy: the replay source counts and
    * reads lines while the benchmark writes, and must never see a
    * partially written line.
    */
  def writeLines(log: Path, lines: Seq[String], append: Boolean): Unit = {
    val tmp = log.resolveSibling(log.getFileName.toString + ".tmp")
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      Files.newOutputStream(tmp), java.nio.charset.StandardCharsets.UTF_8), 1 << 16)
    try {
      if (append) {
        val old = Files.lines(log)
        try old.forEach { l => out.write(l); out.write('\n') } finally old.close()
      }
      lines.foreach { l => out.write(l); out.write('\n') }
    } finally out.close()
    Files.move(tmp, log, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** The whole log as the envelope frame `(key, value, metadata, offset)`
    * that `StreamIngest.replaySource` produces per micro-batch.
    */
  def logFrame(spark: SparkSession, log: Path): DataFrame =
    spark.read.format("graft-replay").option("path", log.toString).load()
      .select(from_json(col("value"), Schemas.envelopeSchema).as("env"), col("offset"))
      .select(col("env.key").as("key"), col("env.value").as("value"),
        col("env.metadata").as("metadata"), col("offset"))

  /** Row-multiset equality of each (name, x, y) pair, all pairs in one
    * Spark job: every row becomes (pair, its JSON text) with weight +1 in
    * `x` and -1 in `y`, and no (pair, row) may keep a non-zero weight.
    * Returns the names of the pairs that differ.
    */
  def differing(pairs: Seq[(String, DataFrame, DataFrame)]): Seq[String] = {
    val rows = pairs.zipWithIndex.flatMap { case ((_, x, y), i) =>
      val cols = x.columns.toSeq
      Seq(x -> 1L, y -> -1L).map { case (df, w) =>
        df.select(lit(i).as("pair"), to_json(struct(cols.map(col): _*)).as("row"),
          lit(w).as("w"))
      }
    }.reduce(_ unionByName _)
    val bad = rows.groupBy("pair", "row").agg(sum("w").as("w")).filter(col("w") =!= 0L)
      .limit(6).collect()
    bad.foreach(r => println(s"[perfbench]   ${pairs(r.getInt(0))._1} differs: " +
      s"${r.getString(1)} (count difference ${r.getLong(2)})"))
    bad.map(r => pairs(r.getInt(0))._1).distinct.toSeq
  }

  def tables(st: graft.graph.GraphOps.State): Seq[(String, DataFrame)] =
    Seq("assets" -> st.assets, "teams" -> st.teams, "owns" -> st.owns, "parent_of" -> st.parentOf)

  /** Bytes and `pt=` bucket directories under `dir`. */
  def du(dir: Path): (Long, Int) =
    if (!Files.exists(dir)) (0L, 0)
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.foldLeft((0L, 0)) { case ((b, n), p) =>
        if (Files.isRegularFile(p)) (b + Files.size(p), n)
        else if (p.getFileName.toString.startsWith("pt=")) (b, n + 1)
        else (b, n)
      } finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
      finally s.close()
    }

  /** Standalone decode throughput over a log: events per second of
    * `Decode.decode` with every payload parsed. Median of three passes
    * after one warm pass.
    */
  def decodeRate(spark: SparkSession, log: Path, events: Long): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      Decode.decode(logFrame(spark, log))
        .agg(sum(when(col("valid"), 1L).otherwise(0L)), sum(hash(col("payload"))))
        .collect()
      events / secsSince(t0)
    }
    once()
    median(Seq(once(), once(), once()))
  }
}

/** Streaming progress of one query, handed from the listener bus to the
  * benchmark thread.
  */
final class Progress extends StreamingQueryListener {
  private val q = new LinkedBlockingQueue[Either[String, StreamingQueryProgress]]()
  @volatile var queryId: java.util.UUID = _

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.id == queryId && e.progress.numInputRows > 0) q.put(Right(e.progress))
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    if (e.id == queryId && e.exception.isDefined) q.put(Left(e.exception.get.take(400)))

  def watch(query: StreamingQuery): Unit = { q.clear(); queryId = query.id }

  /** Block until micro-batch `batchId` has committed. */
  def await(batchId: Long, timeoutS: Long = 150): StreamingQueryProgress = {
    val until = System.nanoTime() + timeoutS * 1000000000L
    while (true) {
      q.poll(math.max(1L, until - System.nanoTime()), TimeUnit.NANOSECONDS) match {
        case null =>
          throw new IllegalStateException(s"batch $batchId did not commit in $timeoutS s")
        case Left(err) => throw new IllegalStateException(s"query failed: $err")
        case Right(p) if p.batchId == batchId => return p
        case Right(_) => ()
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
