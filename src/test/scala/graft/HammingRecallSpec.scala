package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Eval, Multimodal}

/** Recall gate for the banded-Hamming near-dup tiers (pHash / audio
  * fingerprint), the way the ANN ladder has RecallSpec: candidates from
  * the shipped banding knobs (4 x 16-bit segments) measured with
  * [[Eval.pairMetricsMany]] against the EXACT Hamming-distance ground truth
  * (all-pairs XOR popcount — fine at fixture scale; at corpus scale the
  * banded plan is the point).
  *
  * The 4x16 banding is COMPLETE for maxDist <= 3 (pigeonhole: 3 bit
  * flips cannot touch all 4 segments), and the pair generators verify
  * true distance after the bucket join — so at the shipped knobs the
  * banded output must equal the exact truth EXACTLY: precision = recall
  * = 1. The third test pins the other half of the contract: knobs that
  * would lose recall (maxDist >= nBands — one flipped bit per band
  * escapes every bucket) are rejected by the operator itself, so the
  * recall loss is unrepresentable rather than merely unmeasured. */
class HammingRecallSpec extends SparkSpec {
  import spark.implicits._

  private def exactTruth(sig: org.apache.spark.sql.DataFrame, maxDist: Int) = {
    val a = sig.select(col("id").as("id_a"), col("sig").as("sa"))
    val b = sig.select(col("id").as("id_b"), col("sig").as("sb"))
    a.join(b, col("id_a") < col("id_b"))
      .filter(bit_count(col("sa").bitwiseXOR(col("sb"))) <= maxDist)
      .select("id_a", "id_b")
  }

  test("phash banding at shipped knobs: precision = recall = 1 vs exact Hamming truth") {
    val media = EntryFixtures.phashFixtureMedia(spark, "/root/testdata/sf0.001")
    val sig = media.select(col("id"), Multimodal.phash64(col("content")).as("sig"))
      .filter(col("sig").isNotNull)
    val truth = exactTruth(sig, 3)
    val cand = Dedup.hammingBandedPairs(sig, "sig", segBits = 16, nBands = 4, maxDist = 3)
    val m = Eval.pairMetricsMany(truth, Seq("phash_banded" -> cand)).collect().head
    assert(m.getAs[Long]("n_truth") > 0, "fixture must contain near-dup pairs")
    assert(m.getAs[Double]("recall") == 1.0,
      s"banded recall ${m.getAs[Double]("recall")} < 1 at maxDist<=3 — banding broke completeness")
    assert(m.getAs[Double]("precision") == 1.0,
      s"banded precision ${m.getAs[Double]("precision")} < 1 — verify-after-bucket filter leaked")
    Dedup.releaseCaches()
  }

  test("audio fp banding at shipped knobs: precision = recall = 1 vs exact Hamming truth") {
    def aud(seed: Int, n: Int): Array[Int] =
      Array.tabulate(n)(i => math.floorMod(seed * 2654435761L.toInt + i * 40503, 4001) - 2000)
    // 20 groups x 3 one-sample variants: near-dup families + singletons
    val rows = (0 until 60).map { i =>
      val g = i % 20
      val s = aud(g, 1296)
      if (i >= 20) s(100 + i / 20) = s(100 + i / 20) + (i / 20)
      (i.toLong, Multimodal.pcmWav(s))
    }
    val media = rows.toDF("id", "content")
    val sig = media.select(col("id"), Multimodal.audioFp64(col("content")).as("sig"))
      .filter(col("sig").isNotNull)
    val truth = exactTruth(sig, 3)
    val cand = Dedup.hammingBandedPairs(sig, "sig", segBits = 16, nBands = 4, maxDist = 3)
    val m = Eval.pairMetricsMany(truth, Seq("audiofp_banded" -> cand)).collect().head
    assert(m.getAs[Long]("n_truth") > 0, "audio fixture must contain near-dup pairs")
    assert(m.getAs[Double]("recall") == 1.0 && m.getAs[Double]("precision") == 1.0)
    Dedup.releaseCaches()
  }

  test("past the design distance the operator refuses the knobs — recall loss is unreachable") {
    // A distance-4 pair flipping one bit per 16-bit segment would agree
    // on no band and silently vanish from a 4-band bucket join. The
    // operator makes that configuration unrepresentable: maxDist must
    // stay below nBands (pigeonhole completeness), enforced at the API.
    val sigs = Seq((0L, 0L), (1L, (1L << 0) | (1L << 16) | (1L << 32) | (1L << 48)))
      .toDF("id", "sig")
    val e = intercept[IllegalArgumentException] {
      Dedup.hammingBandedPairs(sigs, "sig", segBits = 16, nBands = 4, maxDist = 4)
    }
    assert(e.getMessage.contains("only complete for dist <= 3"))
  }
}
