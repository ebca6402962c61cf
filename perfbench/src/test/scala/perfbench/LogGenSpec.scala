package perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.decode.Decode

/** Pins the generator the benchmark's workloads are built from: seeded
  * logs are byte-identical, every batch has exactly its shape's tombstone
  * runs, every envelope decodes valid, and every tombstone ends an
  * ownership that is live at that point of the log.
  */
class LogGenSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = graft.GraftSession.local(2).appName("perfbench-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val batches = 3

  private def log(seed: Long, shape: LogGen.Shape): Seq[String] = {
    val gen = new LogGen.Gen(seed, shape)
    (1 to batches).flatMap(_ => gen.nextBatch())
  }

  private val shapes = Main.workloads.map(w => w.name -> w.shape) :+ ("churn" -> Main.churnShape)

  for ((name, shape) <- shapes) {

    test(s"$name: the same seed gives a byte-identical log") {
      assert(log(7, shape) == log(7, shape))
      assert(log(7, shape) != log(8, shape))
    }

    test(s"$name: each batch holds exactly ${shape.tombRuns} tombstone runs " +
        s"of ${shape.tombRunLen}") {
      for (b <- log(7, shape).grouped(shape.batch)) {
        assert(b.size == shape.batch)
        val tomb = b.map(_.contains("\"value\":null"))
        val runs = tomb.indices.filter(i => tomb(i) && (i == 0 || !tomb(i - 1)))
          .map(i => (i, tomb.drop(i).takeWhile(identity).size))
        assert(runs == LogGen.runStarts(shape).map(_ -> shape.tombRunLen))
        assert(!tomb.head && !tomb.last)
      }
    }

    test(s"$name: every envelope decodes valid, and tombstones end live ownerships") {
      val dir = Files.createTempDirectory("perfbench-loggen")
      val path = dir.resolve("log.jsonl")
      Main.writeLines(path, log(11, shape), append = false)
      val rows = Decode.decode(Main.logFrame(spark, path))
        .select(col("offset"), col("valid"), col("is_nil"), col("team_id"),
          col("payload.Team.Id").as("owner"), col("asset_type"), col("identifier"))
        .orderBy(col("offset")).collect()
      assert(rows.length == batches * shape.batch)
      assert(rows.forall(_.getBoolean(1)), "an envelope decoded invalid")
      val live = mutable.Set.empty[(String, String, String)]
      for (r <- rows) {
        val nil = r.getBoolean(2)
        val own = (if (nil) r.getString(3) else r.getString(4), r.getString(5), r.getString(6))
        if (nil) assert(live.remove(own), s"tombstone at offset ${r.getLong(0)} hits no live ownership")
        else live += own
      }
      Main.deleteTree(dir)
    }
  }
}
