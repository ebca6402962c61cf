package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded envelope-log generator. The same seed and shape give the same
  * bytes; the program under test only ever sees the written log lines.
  *
  * A log is a sequence of batches of exactly `batch` lines, one per
  * trigger (the benchmark sets `maxOffsetsPerTrigger = batch`). Each
  * batch holds exactly `tombRuns` runs of `tombRunLen` consecutive
  * tombstones at fixed, evenly spaced positions, never at either end, so
  * every batch folds in exactly `2 * tombRuns + 1` epochs. Every other
  * line is a refresh.
  *
  * The generator tracks which (asset, team) ownerships are live, so each
  * tombstone expires an ownership some earlier refresh created and no
  * tombstone has ended since.
  */
object LogGen {

  final case class Shape(
      pool: Int,
      teams: Int,
      batch: Int,
      tombRuns: Int = 0,
      tombRunLen: Int = 0,
      /** share of refreshes that carry an AWS-account annotation */
      awsShare: Double = 0.25,
      /** share of pool assets owned by two teams */
      twoOwnerShare: Double = 0.0,
      /** share of refreshes that redeliver an earlier line verbatim */
      dupShare: Double = 0.0,
      /** share of refreshes that re-create a recently tombstoned ownership */
      recreateShare: Double = 0.0) {
    require(tombRuns * tombRunLen < batch / 2, "tombstones must leave room for refreshes")
  }

  /** First line of each tombstone run inside a batch. */
  def runStarts(s: Shape): Seq[Int] =
    (1 to s.tombRuns).map(r => r * s.batch / (s.tombRuns + 1))

  private val types = Array("Hostname", "IP", "DomainName")

  /** AWS accounts the annotations draw from: asset `i` names account `i % 200`. */
  private val awsAccounts = 200

  def assetType(i: Int): String = types(i % types.length)

  def identifier(i: Int): String = i % types.length match {
    case 0 => s"host$i.example.com"
    case 1 => s"10.${(i >> 16) & 255}.${(i >> 8) & 255}.${i & 255}"
    case _ => s"d$i.example.org"
  }

  /** The store's asset id for pool asset `i` (`Upserts.assetId`). */
  def assetId(i: Int): String = s"${assetType(i)}/${identifier(i)}"

  def teamId(t: Int): String = f"t$t%03d"

  private def primaryOwner(s: Shape, i: Int): Int = i % s.teams

  private def secondOwner(s: Shape, i: Int): Option[Int] = {
    // a fixed per-asset hash decides membership, independent of the seed
    val h = ((i.toLong * 0x9E3779B97F4A7C15L) >>> 40) / (1L << 24).toDouble
    if (h < s.twoOwnerShare) Some((i * 7 + 3) % s.teams).filter(_ != primaryOwner(s, i))
    else None
  }

  private def metadata(i: Int): String =
    s"""[{"key":"version","value":"0.1.2"},{"key":"type","value":"${assetType(i)}"},""" +
      s"""{"key":"identifier","value":"${identifier(i)}"}]"""

  private def refreshLine(s: Shape, i: Int, t: Int, aws: Option[Int]): String = {
    val ann = aws.fold("[]")(a =>
      s"""[{\\"Key\\":\\"discovery/aws/account\\",\\"Value\\":\\"${100000000000L + a}\\"}]""")
    val payload =
      s"""{\\"Id\\":\\"as$i\\",\\"Team\\":{\\"Id\\":\\"${teamId(t)}\\",\\"Name\\":\\"Team $t\\",""" +
        s"""\\"Description\\":\\"\\",\\"Tag\\":\\"\\"},\\"Alias\\":\\"\\",""" +
        s"""\\"Rolfp\\":\\"R:0/O:1/L:0/F:1/P:0+S:1\\",\\"Scannable\\":true,""" +
        s"""\\"AssetType\\":\\"${assetType(i)}\\",\\"Identifier\\":\\"${identifier(i)}\\",""" +
        s"""\\"Annotations\\":$ann}"""
    s"""{"key":"${teamId(t)}/as$i","value":"$payload","metadata":${metadata(i)}}"""
  }

  private def tombstoneLine(i: Int, t: Int): String =
    s"""{"key":"${teamId(t)}/as$i","value":null,"metadata":${metadata(i)}}"""

  /** Stateful generator: call [[nextBatch]] once per trigger. */
  final class Gen(seed: Long, s: Shape) {
    private val rnd = new SplittableRandom(seed)
    // live ownerships as (asset << 16 | team), sampled uniformly in O(1)
    private val live = mutable.ArrayBuffer.empty[Long]
    private val livePos = mutable.HashMap.empty[Long, Int]
    private val ended = mutable.ArrayBuffer.empty[Long]
    private val seen = mutable.LinkedHashSet.empty[Int]

    private def pair(i: Int, t: Int): Long = (i.toLong << 16) | t

    private def activate(p: Long): Unit =
      if (!livePos.contains(p)) { livePos(p) = live.size; live += p }

    private def deactivate(p: Long): Unit = {
      val at = livePos.remove(p).get
      val last = live.remove(live.size - 1)
      if (at < live.size) { live(at) = last; livePos(last) = at }
    }

    /** Assets refreshed so far, in first-seen order. */
    def assetsSeen: Seq[Int] = seen.toSeq

    def nextBatch(): Array[String] = {
      val out = new Array[String](s.batch)
      val tombAt = runStarts(s).flatMap(a => a until a + s.tombRunLen).toSet
      // this batch's refreshes, as redelivery candidates
      val sent = mutable.ArrayBuffer.empty[(String, Long)]
      for (k <- 0 until s.batch) {
        if (tombAt(k)) {
          require(live.nonEmpty, "a tombstone run found no live ownership")
          val p = live(rnd.nextInt(live.size))
          deactivate(p)
          ended += p
          out(k) = tombstoneLine((p >>> 16).toInt, (p & 0xFFFF).toInt)
        } else if (sent.nonEmpty && rnd.nextDouble() < s.dupShare) {
          val (line, p) = sent(rnd.nextInt(sent.size))
          activate(p)
          out(k) = line
        } else {
          val (i, t) =
            if (ended.nonEmpty && rnd.nextDouble() < s.recreateShare) {
              val p = ended(rnd.nextInt(ended.size))
              ((p >>> 16).toInt, (p & 0xFFFF).toInt)
            } else {
              val i = rnd.nextInt(s.pool)
              val t = secondOwner(s, i) match {
                case Some(o) if rnd.nextBoolean() => o
                case _ => primaryOwner(s, i)
              }
              (i, t)
            }
          val aws = if (rnd.nextDouble() < s.awsShare) Some(i % awsAccounts) else None
          val line = refreshLine(s, i, t, aws)
          val p = pair(i, t)
          activate(p)
          seen += i
          sent += ((line, p))
          out(k) = line
        }
      }
      out
    }
  }
}
