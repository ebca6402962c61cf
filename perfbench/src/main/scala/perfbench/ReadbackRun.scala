package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.Inventory
import graft.ingest.Pipeline
import graft.sources.StoreCatalog
import graft.streaming.{StateStore, StreamIngest}

/** The read-only workload. Set-up commits `versions` batches with
  * `StreamIngest.applyBatch`, retaining every version, and sends one
  * untimed request of each kind; then one closed-loop client sends an
  * 8:1:1 mix of point lookups, CDC polls and catalog SQL, each after the
  * previous one returned.
  */
final class ReadbackRun(spark: SparkSession, a: Main.Args, w: Main.Readback,
    tally: Main.Tally, trace: Option[Trace]) {
  import Main._
  import ReadbackRun._

  private val batch = w.shape.batch
  private val baseEpochSecs = 1704067200L
  private val catalog = "graftstore"

  private def setUp(dir: Path): (LogGen.Gen, Path) = {
    deleteTree(dir)
    Files.createDirectories(dir)
    val gen = new LogGen.Gen(a.seed, w.shape)
    val log = dir.resolve("log.jsonl")
    writeLines(log, (1 to w.versions).flatMap(_ => gen.nextBatch()), append = false)
    val env = logFrame(spark, log)
    for (v <- 0 until w.versions)
      StreamIngest.applyBatch(
        env.filter(col("offset") >= v.toLong * batch && col("offset") < (v + 1L) * batch),
        v, dir.resolve("state").toString, Pipeline.Config(), baseEpochSecs,
        keepVersions = w.versions)
    (gen, dir)
  }

  def run(): (Metrics, Metrics) = {
    val t0 = System.nanoTime()
    val (gen, dir) = setUp(a.work.resolve("readback"))
    val state = dir.resolve("state").toString
    val latest = (w.versions - 1).toLong
    spark.conf.set(s"spark.sql.catalog.$catalog", classOf[StoreCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catalog.path", state)
    val seen = gen.assetsSeen.toIndexedSeq
    val rnd = new SplittableRandom(a.seed * 0x9E3779B97F4A7C15L + 1)
    def lookupIds() = Iterator.continually(seen(rnd.nextInt(seen.size))).distinct
      .take(w.idsPerLookup).toSeq
    // one untimed lookup, so timed lookups run warm code
    lookup(state, lookupIds())
    val setupS = secsSince(t0)
    // the 8:1:1 mix as a fixed cycle of ten requests, so every run sends
    // the same sequence of kinds; the seed picks keys and versions
    val plan = Iterator.continually("LLLCLLLLSL").flatten

    val ops = mutable.ArrayBuffer.empty[Op]
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    while (System.nanoTime() < deadline) {
      val op = plan.next() match {
        case 'L' =>
          tally.attempt("lookup")(lookup(state, lookupIds()))
        case 'C' =>
          val since = latest - (1 + rnd.nextInt(w.versions - 1))
          tally.attempt("cdc")(cdc(state, since))
        case _ =>
          val v = latest - rnd.nextInt(w.versions)
          val t = LogGen.assetType(rnd.nextInt(3))
          tally.attempt("scan")(scan(v, t))
      }
      op.foreach(ops += _)
    }

    val checked = verify(state, latest, ops.collect { case l: Lookup => l }.headOption,
      LogGen.assetType(rnd.nextInt(3)))

    val lookups = ops.collect { case l: Lookup => l }.toSeq
    // CDC polls and scans: the timed ones plus the one each the checks send
    val cdcs = (ops ++ checked).collect { case c: Cdc => c }.toSeq
    val scans = (ops ++ checked).collect { case s: Scan => s }.toSeq
    val lookupS = lookups.map(_.secs)
    val lookupCpu = lookups.map(_.cpuS)
    def p50(xs: Seq[Op]) =
      f"${median(xs.map(_.secs))}%.3f s wall, ${median(xs.map(_.cpuS))}%.3f s cpu"
    println(f"[perfbench] ${w.name}: setup $setupS%.3f s; lookup p50 ${p50(lookups)} " +
      f"(n=${lookups.size}, wall p90 ${quantile(lookupS, 0.9)}%.3f s); " +
      s"cdc p50 ${p50(cdcs)} (n=${cdcs.size}); scan p50 ${p50(scans)} (n=${scans.size})")

    val (storeBytes, _) = du(dir.resolve("state"))
    val e2e: Metrics = mutable.LinkedHashMap(
      "setup_s" -> (setupS, "s"),
      "cpu_p50_s" -> (median(lookupCpu), "s"),
      "store_bytes_per_event" -> (storeBytes.toDouble / (w.versions.toLong * batch), "B"))

    val layers = Layers.zero()
    trace.foreach { t =>
      val jobs = t.finished
      def js(o: Op) = jobs.filter(j => j.startMs >= o.t0Ms && j.startMs <= o.t1Ms)
      def set(k: String, v: Double) = layers(k) = (v, layers(k)._2)
      set("streaming.lookup_resolve_s", median(lookups.map(_.resolveS)))
      set("streaming.lookup_buckets_loaded", median(lookups.map(_.buckets.toDouble)))
      set("graph.endpoint_s", median(lookups.map(_.endpointS)))
      set("spark.jobs_per_lookup", median(lookups.map(js(_).size.toDouble)))
      set("streaming.cdc_diff_s", median(cdcs.map(_.diffS)))
      set("streaming.cdc_rows", median(cdcs.map(_.rows.toDouble)))
      set("sources.scan_plan_s", median(scans.map(_.planS)))
      set("sources.scan_exec_s", median(scans.map(_.execS)))
      Layers.spark(layers, ops.toSeq.map(o => (js(o), o.secs)), a.cpus)
      set("decode.events_per_s",
        decodeRate(spark, dir.resolve("log.jsonl"), w.versions.toLong * batch))
      set("trace.cpu_p50_s", e2e("cpu_p50_s")._1)
      set("trace.latency_p50_s", median(lookupS))
    }
    (e2e, layers)
  }

  private def lookup(state: String, ids: Seq[Int]): Lookup = {
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val c0 = processCpuS()
    val p = Inventory.lookup(spark, state, assetIds = ids.map(LogGen.assetId)).getOrElse(
      throw new IllegalStateException("no committed version"))
    val resolveS = secsSince(t0)
    val t1 = System.nanoTime()
    val st = p.state
    val aids = ids.map(LogGen.assetId)
    val counts = Seq(
      ids.map(i => Inventory.assets(st, Some(LogGen.assetType(i)), Some(LogGen.identifier(i))))
        .reduce(_ union _).count(),
      aids.map(Inventory.owners(st, _)).reduce(_ union _).count(),
      aids.map(Inventory.parents(st, _)).reduce(_ union _).count(),
      aids.map(Inventory.children(st, _)).reduce(_ union _).count())
    Lookup(ids, counts, resolveS, secsSince(t1), p.loaded.values.map(_.size).sum,
      t0Ms, System.currentTimeMillis(), secsSince(t0), processCpuS() - c0)
  }

  private def cdc(state: String, since: Long): Cdc = {
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val c0 = processCpuS()
    val (to, diffs) = Inventory.changesSince(spark, state, since).getOrElse(
      throw new IllegalStateException(s"nothing committed after v$since"))
    val t1 = System.nanoTime()
    val rows = diffs.map(_.changed.count()).sum
    Cdc(since, to, rows, secsSince(t1), t0Ms, System.currentTimeMillis(), secsSince(t0),
      processCpuS() - c0)
  }

  private def ownersSql: String =
    s"SELECT team_id, count(*) AS n FROM $catalog.owns WHERE end_time IS NULL GROUP BY team_id"

  private def assetsAtSql(v: Long, t: String): String =
    s"SELECT count(*) FROM $catalog.assets VERSION AS OF $v WHERE type = '$t'"

  private def scan(v: Long, t: String): Scan = {
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val c0 = processCpuS()
    var planS, execS = 0.0
    def run(sql: String): Array[Row] = {
      val p0 = System.nanoTime()
      val df = spark.sql(sql)
      df.queryExecution.executedPlan
      planS += secsSince(p0)
      val e0 = System.nanoTime()
      val rows = df.collect()
      execS += secsSince(e0)
      rows
    }
    val owners = run(ownersSql).toSeq
    val assetsAt = run(assetsAtSql(v, t)).head.getLong(0)
    Scan(v, t, owners, assetsAt, planS, execS, t0Ms, System.currentTimeMillis(), secsSince(t0),
      processCpuS() - c0)
  }

  /** The correctness checks, outside the timed window: a timed lookup
    * against a filtered full `StateStore.read` of the same version, and
    * one CDC poll and one scan, sent here, against the set difference of
    * the two full versions and the same query over full reads. Returns
    * the CDC and scan requests it sent.
    */
  private def verify(state: String, latest: Long, sample: Option[Lookup],
      assetType: String): Seq[Op] = {
    val full = StateStore.read(spark, state, latest)
    for (l <- sample) {
      val aids = l.ids.map(LogGen.assetId)
      val expected = byIds(full, aids)
      tally.check(s"lookup counts of ${aids.mkString(",")}")(
        expected.map(_.count()) == l.counts)
      tally.attempt(s"lookup rows of ${aids.mkString(",")}") {
        val p = Inventory.lookup(spark, state, assetIds = aids).get
        require(p.version == latest, s"lookup resolved v${p.version}, expected v$latest")
        val bad = differing(Seq("assets", "owns", "parents", "children")
          .lazyZip(byIds(p.state, aids)).lazyZip(expected).toSeq)
        require(bad.isEmpty, s"endpoints differ: ${bad.mkString(", ")}")
      }
    }
    val c = tally.attempt(s"cdc since v${latest - 1}") {
      val c = cdc(state, latest - 1)
      val (_, diffs) = Inventory.changesSince(spark, state, c.since).get
      val older = StateStore.read(spark, state, c.since)
      val newer = StateStore.read(spark, state, c.to)
      val expected = tables(newer).zip(tables(older)).map { case ((n, y), (_, x)) =>
        n -> y.exceptAll(x).withColumn("change", lit("added"))
          .unionByName(x.exceptAll(y).withColumn("change", lit("removed")))
      }.toMap
      val bad = differing(diffs.map(d => (d.table, d.changed, expected(d.table))))
      require(bad.isEmpty, s"tables differ: ${bad.mkString(", ")}")
      c
    }
    val s = tally.attempt(s"scan at v${latest - 1}")(scan(latest - 1, assetType))
    for (s <- s) {
      tally.check("scan owners per team")(
        s.owners.map(r => (r.getString(0), r.getLong(1))).toSet ==
          full.owns.filter(col("end_time").isNull).groupBy("team_id").count().collect()
            .map(r => (r.getString(0), r.getLong(1))).toSet)
      tally.check(s"scan assets at v${s.version}")(s.assetsAt ==
        StateStore.read(spark, state, s.version).assets
          .filter(col("type") === s.assetType).count())
    }
    c.toSeq ++ s.toSeq
  }

  /** The four endpoint frames of a lookup: assets, owner edges, in-edges
    * and out-edges of `ids`.
    */
  private def byIds(st: graft.graph.GraphOps.State, ids: Seq[String]): Seq[DataFrame] = Seq(
    st.assets.filter(col("id").isin(ids: _*)),
    st.owns.filter(col("asset_id").isin(ids: _*)),
    st.parentOf.filter(col("child_id").isin(ids: _*)),
    st.parentOf.filter(col("parent_id").isin(ids: _*)))
}

object ReadbackRun {
  /** One timed request, with its wall-clock span for job attribution. */
  sealed trait Op { def t0Ms: Long; def t1Ms: Long; def secs: Double; def cpuS: Double }
  final case class Lookup(ids: Seq[Int], counts: Seq[Long], resolveS: Double,
      endpointS: Double, buckets: Int, t0Ms: Long, t1Ms: Long, secs: Double, cpuS: Double)
    extends Op
  final case class Cdc(since: Long, to: Long, rows: Long, diffS: Double,
      t0Ms: Long, t1Ms: Long, secs: Double, cpuS: Double) extends Op
  final case class Scan(version: Long, assetType: String, owners: Seq[Row],
      assetsAt: Long, planS: Double, execS: Double, t0Ms: Long, t1Ms: Long, secs: Double,
      cpuS: Double) extends Op
}
