package perfbench

import java.io.{ByteArrayOutputStream, File, FileOutputStream}
import java.util.SplittableRandom
import graft.codec.Framing
import graft.proto.Messages
import graft.proto.Messages._

/** Seeded input generators. Every input the program sees comes from here:
  * the same (seed, stream, index) always yields byte-identical output, and
  * generation never touches Spark, so it stays outside the timed region. */
object Gen {

  /** One independent, reproducible random stream per (seed, purpose, index). */
  def rng(seed: Long, stream: String, index: Long = 0L): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong * 31L ^ index)

  // ---------------------------------------------------------------- ingest

  val RewardsPrefix = "mobile_network_reward_shares_v1"
  /** 2023-11-14T22:13:20Z; each batch advances three hours, so batches roll
    * over day partitions every eight batches. */
  val BaseMs = 1700000000000L
  val BatchSpanMs: Long = 3L * 3600 * 1000

  /** Output table → rows a set of frames must produce. */
  type Counts = Map[String, Long]

  val RewardTables: Seq[String] = Seq(
    "mobile_gateway_rewards", "mobile_subscriber_rewards",
    "mobile_service_provider_rewards", "mobile_unallocated_rewards",
    "mobile_promotion_rewards", "mobile_radio_rewards",
    "mobile_reward_trust_scores", "mobile_reward_speedtests",
    "mobile_reward_covered_hexes")

  def addCounts(a: Counts, b: Counts): Counts =
    (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap

  private def bytes(r: SplittableRandom, n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    var i = 0
    while (i < n) { b(i) = r.nextInt(256).toByte; i += 1 }
    b
  }

  private def dec(r: SplittableRandom, scale: Int): Option[String] =
    Some(f"${r.nextInt(scale * 100) / 100.0}%.2f")

  /** One reward share: a mixed arm draw; radio arms carry 1–3 trust scores,
    * 0–2 speedtests and 1–4 covered hexes. Hotspot keys come from a
    * 2,000-key pool so keys repeat as they do in the real feed. */
  private def share(r: SplittableRandom, startSec: Long, keys: Array[Array[Byte]],
                    counts: scala.collection.mutable.Map[String, Long]): MobileRewardShare = {
    def bump(t: String, n: Long = 1L): Unit = counts(t) = counts.getOrElse(t, 0L) + n
    val key = keys(r.nextInt(keys.length))
    val p = r.nextInt(100)
    val arm: MobileArm =
      if (p < 35) {
        val trust = Seq.fill(1 + r.nextInt(3))(TrustScoreMsg(r.nextInt(500), dec(r, 1)))
        val sts = Seq.fill(r.nextInt(3))(RadioSpeedtestMsg(r.nextInt(100000000),
          r.nextInt(500000000), r.nextInt(200), startSec + r.nextInt(3600)))
        val hexes = Seq.fill(1 + r.nextInt(4))(CoveredHexMsg(
          0x8c2a100000000L + r.nextInt(1 << 30), dec(r, 400), dec(r, 100),
          r.nextInt(3), r.nextInt(3), r.nextInt(3), dec(r, 1), 1 + r.nextInt(3),
          dec(r, 1), r.nextInt(2), r.nextBoolean()))
        bump("mobile_radio_rewards"); bump("mobile_reward_trust_scores", trust.size)
        bump("mobile_reward_speedtests", sts.size)
        bump("mobile_reward_covered_hexes", hexes.size)
        RadioArm(key, dec(r, 5000), dec(r, 1000), dec(r, 5000), dec(r, 1000),
          r.nextLong(1L << 40), r.nextLong(1L << 36), startSec - r.nextInt(10000000),
          bytes(r, 16), dec(r, 1), dec(r, 1), r.nextInt(3), r.nextInt(3),
          Some(SpeedtestAvgMsg(r.nextInt(100000000), r.nextInt(500000000),
            r.nextInt(200), startSec)), trust, sts, hexes)
      } else if (p < 60) {
        bump("mobile_gateway_rewards")
        GatewayArm(key, r.nextLong(1L << 32), r.nextLong(1L << 40), r.nextInt(1000000))
      } else if (p < 75) {
        bump("mobile_subscriber_rewards")
        SubscriberArm(bytes(r, 16), r.nextLong(1L << 30), r.nextLong(1L << 30),
          if (r.nextBoolean()) "" else s"entity-${r.nextInt(5000)}")
      } else if (p < 83) {
        bump("mobile_service_provider_rewards")
        ServiceProviderArm(r.nextInt(2), r.nextLong(1L << 40), s"sp-${r.nextInt(50)}")
      } else if (p < 91) {
        bump("mobile_unallocated_rewards")
        UnallocatedArm(r.nextInt(5), r.nextLong(1L << 40))
      } else {
        bump("mobile_promotion_rewards")
        PromotionArm(s"promo-${r.nextInt(200)}", r.nextLong(1L << 30), r.nextLong(1L << 30))
      }
    MobileRewardShare(startSec, startSec + 86400, arm)
  }

  /** File timestamp (epoch ms) of file `f` of ingest batch `b`. */
  def rewardFileMs(batch: Int, file: Int): Long = BaseMs + batch * BatchSpanMs + file * 1000L

  /** Upper bound (inclusive) that selects exactly batch `b`'s files. */
  def rewardBatchEndMs(batch: Int, filesPerBatch: Int): Long = rewardFileMs(batch, filesPerBatch - 1)

  /** Gzipped length-delimited frames of one reward file, with the rows each
    * output table must receive from it. */
  def rewardFile(seed: Long, batch: Int, file: Int, frames: Int): (Array[Byte], Counts) = {
    val r = rng(seed, "rewards", batch * 1000L + file)
    val keys = {
      val k = rng(seed, "hotspots")
      Array.fill(2000)(bytes(k, 33))
    }
    val counts = scala.collection.mutable.Map.empty[String, Long]
    val startSec = rewardFileMs(batch, file) / 1000 - 86400
    val encoded = (0 until frames).map(_ =>
      Messages.MobileRewardShare.encode(share(r, startSec, keys, counts)))
    val out = new ByteArrayOutputStream()
    Framing.writeGzipFrames(out, encoded)
    (out.toByteArray, RewardTables.map(t => t -> counts.getOrElse(t, 0L)).toMap)
  }

  /** Write batch `b`'s files under `dir`; returns the paths and the
    * batch's expected per-table rows. */
  def writeRewardBatch(seed: Long, dir: File, batch: Int, files: Int,
                       frames: Int): (Seq[File], Counts) = {
    dir.mkdirs()
    val made = (0 until files).map { f =>
      val (gz, counts) = rewardFile(seed, batch, f, frames)
      val out = new File(dir, s"$RewardsPrefix.${rewardFileMs(batch, f)}.gz")
      val os = new FileOutputStream(out)
      try os.write(gz) finally os.close()
      (out, counts)
    }
    (made.map(_._1), made.map(_._2).foldLeft(Map.empty: Counts)(addCounts))
  }

  // ------------------------------------------------------- lookup / mutate

  /** A fact row: clustered `id`, day partition `dt`, high-cardinality
    * `user_id` (the bloom column), dimension key `cat`, integer `amount`
    * (exact sums in any order) and a short `note`. */
  case class Fact(id: Long, dt: String, user_id: Long, cat: Int, amount: Long, note: String)

  def dayOf(day: Int): String = f"2024-01-${1 + day}%02d"

  /** User id of fact `id`: a seeded scramble of the key (splitmix64). */
  def userOf(seed: Long, id: Long): Long = {
    var z = id * 0x9E3779B97F4A7C15L + seed
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) & Long.MaxValue
  }

  /** Rows [from, until) of the fact table, each a function of (seed, id);
    * day partitions are contiguous id ranges of `rowsPerDay`. */
  def facts(seed: Long, from: Long, until: Long, rowsPerDay: Long): Seq[Fact] =
    (from until until).map { id =>
      val r = rng(seed, "facts", id)
      Fact(id, dayOf((id / rowsPerDay).toInt), userOf(seed, id), r.nextInt(50),
        r.nextLong(1000000L), s"n${r.nextInt(100000)}")
    }

  case class Dim(cat: Int, label: String, region: String)

  def dims: Seq[Dim] = (0 until 50).map(c => Dim(c, s"label-${c % 17}", s"r${c % 5}"))

  // ----------------------------------------------------------------- dedup

  case class Doc(doc_id: Long, text: String)

  /** Batch `b` of `n` documents: random text over a 20k-token vocabulary
    * (no accidental overlap), plus `planted` near-duplicates, each a copy of
    * an earlier document with one or two token substitutions. Returns the
    * docs and the planted (original, copy) id pairs. `textOf` serves the
    * text of an earlier doc id. */
  def docBatch(seed: Long, b: Int, n: Int, plantedFrac: Double,
               textOf: Long => String): (Seq[Doc], Seq[(Long, Long)]) = {
    val r = rng(seed, "docs", b)
    val base = b.toLong * n
    val planted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val local = new Array[String](n)
    val docs = (0 until n).map { i =>
      val id = base + i
      val text =
        if (base + i > 0 && r.nextDouble() < plantedFrac) {
          val src = r.nextLong(base + i)
          val orig = if (src >= base) local((src - base).toInt) else textOf(src)
          val toks = orig.split(" ")
          (0 until 1 + r.nextInt(2)).foreach(_ => toks(r.nextInt(toks.length)) = s"z${r.nextInt(1000000)}")
          planted += ((src, id))
          toks.mkString(" ")
        } else Seq.fill(40 + r.nextInt(40))(s"w${r.nextInt(20000)}").mkString(" ")
      local(i) = text
      Doc(id, text)
    }
    (docs, planted.toSeq)
  }

  /** Exact Jaccard of two texts' 3-token shingle sets. */
  def shingleJaccard(a: String, b: String): Double = {
    def sh(s: String): Set[String] = {
      val t = s.split(" ")
      if (t.length < 3) Set(t.mkString(" ")) else t.sliding(3).map(_.mkString(" ")).toSet
    }
    val (x, y) = (sh(a), sh(b))
    val inter = x.count(y.contains)
    inter.toDouble / (x.size + y.size - inter)
  }
}
