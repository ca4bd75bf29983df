package perfbench

import java.io.ByteArrayInputStream
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.codec.Framing
import graft.proto.Messages
import graft.proto.Messages._

class GenSpec extends AnyFunSuite {

  test("the same seed gives byte-identical inputs; another seed gives others") {
    val (a, countsA) = Gen.rewardFile(7L, 3, 1, 200)
    val (b, countsB) = Gen.rewardFile(7L, 3, 1, 200)
    val (c, _) = Gen.rewardFile(8L, 3, 1, 200)
    assert(a.sameElements(b) && countsA == countsB)
    assert(!a.sameElements(c))

    assert(Gen.facts(7L, 0, 100, 50) == Gen.facts(7L, 0, 100, 50))
    assert(Gen.facts(7L, 0, 100, 50) != Gen.facts(8L, 0, 100, 50))
    // A row depends on its id only, not on how the range is cut.
    assert(Gen.facts(7L, 0, 100, 50) == Gen.facts(7L, 0, 40, 50) ++ Gen.facts(7L, 40, 100, 50))

    def docs(seed: Long) = Gen.docBatch(seed, 0, 80, 0.1, _ => sys.error("no earlier docs"))
    assert(docs(7L) == docs(7L))
    assert(docs(7L)._1 != docs(8L)._1)
  }

  test("a reward file's expected row counts match a decode of its frames") {
    val (gz, counts) = Gen.rewardFile(11L, 0, 0, 500)
    val shares = Framing.gzipFrames(new ByteArrayInputStream(gz))
      .map(Messages.MobileRewardShare.decode).toSeq
    assert(shares.size == 500)
    def arms(p: PartialFunction[MobileArm, Int]) = shares.map(_.reward).collect(p).sum
    assert(counts("mobile_gateway_rewards") == arms { case _: GatewayArm => 1 })
    assert(counts("mobile_radio_rewards") == arms { case _: RadioArm => 1 })
    assert(counts("mobile_reward_covered_hexes") ==
      arms { case r: RadioArm => r.coveredHexes.size })
    assert(counts("mobile_reward_trust_scores") ==
      arms { case r: RadioArm => r.locationTrustScores.size })
    assert(counts.values.sum > 500)
  }

  test("planted near-duplicates clear the Jaccard threshold, random docs do not") {
    val (docs, planted) = Gen.docBatch(5L, 0, 400, 0.1, _ => sys.error("no earlier docs"))
    val text = docs.map(d => d.doc_id -> d.text).toMap
    assert(planted.size > 20)
    assert(planted.forall { case (a, b) => Gen.shingleJaccard(text(a), text(b)) >= 0.6 })
    assert(Gen.shingleJaccard(docs(1).text, docs(2).text) < 0.1)
  }

  test("tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Workload.tail(xs) == ((90.0, 90.0, 100)))
    assert(Workload.tail(Seq(3.0, 1.0, 2.0)) == ((3.0, 100.0, 3)))
  }

  test("interval arithmetic: union, clip and difference") {
    val u = Iv.union(Seq(Iv(0, 2), Iv(1, 3), Iv(5, 6)))
    assert(u == Seq(Iv(0, 3), Iv(5, 6)))
    assert(Iv.total(Iv.minus(Seq(Iv(0, 10)), Seq(Iv(2, 3), Iv(5, 7)))) == 7.0)
    assert(Iv.clip(Seq(Iv(0, 10)), Iv(4, 12)) == Seq(Iv(4, 10)))
  }
}

/** A tiny run of every workload, traced and not, passes its oracles and
  * accounts for each op's wall time. */
class SmokeSpec extends AnyFunSuite {
  test("every workload passes its oracles at tiny scale") {
    val work = Files.createTempDirectory("perfbench-smoke").toFile
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    try Seq("mutate" -> false, "lookup" -> false, "ingest" -> true).foreach { case (w, trace) =>
      val out = Main.run(w, 3L, 0.0, trace, new java.io.File(work, w), Scale.tiny, cores)
      assert(out.failures.isEmpty, s"$w: ${out.failures}")
      assert(out.json.contains("\"failed\": 0"))
      if (trace) {
        assert(out.ledger.contains("\"self_sum_ms\""))
        assert(out.json.contains("\"spark.jobs\""))
      }
    } finally Main.deleteTree(work)
  }
}
