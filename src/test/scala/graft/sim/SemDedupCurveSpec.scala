package graft.sim

import java.nio.file.{Files, Paths}

import graft.SparkSuite

/** The SemDeDup drop-rate curve over (nlist, threshold) — r5 verdict #8:
  * measure the knobs next to ANN_CURVE.json rather than shipping them
  * untested. Pins the property the operator's semantics guarantee
  * (higher threshold → subset of drops → monotone non-increasing
  * drop_rate at fixed nlist) and that the sweep actually exercises the
  * knee (rates neither all-zero nor all-one), then records the grid to
  * target/SEMDEDUP_CURVE.json (the committed root copy ships it). */
class SemDedupCurveSpec extends SparkSuite {

  private val N = 20000L
  private val Dim = 32
  private val Nlists = Seq(64, 256)
  private val Thresholds = Seq(0.90, 0.95, 0.99)

  private lazy val curve: Seq[(Int, Double, Long, Long, Double)] = {
    import spark.implicits._
    // noise 0.45: same-cluster cosines straddle the 0.90–0.99 band, so
    // the threshold knob has something to decide (at low noise every
    // same-cluster pair clears 0.99 and all three rates collapse)
    val emb = Similarity.syntheticEmbeddings(spark, N, Dim, nClusters = 64,
      seed = 20260813L, noise = 0.45)
    Similarity.semDedupCurve(emb, Nlists, Thresholds)
      .as[(Int, Double, Long, Long, Double)].collect().toSeq
      .sortBy(t => (t._1, t._2))
  }

  test("drop rate is monotone non-increasing in threshold at fixed nlist") {
    for (nl <- Nlists) {
      val byT = curve.filter(_._1 == nl).sortBy(_._2)
      assert(byT.map(_._2) === Thresholds, s"grid incomplete for nlist=$nl")
      byT.sliding(2).foreach {
        case Seq(lo, hi) =>
          assert(hi._4 <= lo._4,
            s"nlist=$nl: threshold ${hi._2} dropped MORE (${hi._4}) " +
              s"than ${lo._2} (${lo._4})")
        case _ =>
      }
      // every grid point saw the full corpus
      assert(byT.forall(_._3 == N))
    }
  }

  test("the sweep exercises the knee: rates vary and stay inside (0, 1)") {
    assert(curve.map(_._5).distinct.size > 1, s"flat curve: $curve")
    assert(curve.forall(r => r._5 >= 0.0 && r._5 < 1.0))
    assert(curve.exists(_._5 > 0.0), s"nothing dropped anywhere: $curve")
  }

  test("curve is recorded to SEMDEDUP_CURVE.json") {
    val json = curve.map { case (nl, t, total, dropped, rate) =>
      f"""{"nlist":$nl,"threshold":$t%.2f,"n_total":$total,""" +
        f""""n_dropped":$dropped,"drop_rate":$rate%.4f}"""
    }.mkString("[\n", ",\n", "\n]\n")
    val out = Files.createDirectories(Paths.get("target")).resolve("SEMDEDUP_CURVE.json")
    Files.writeString(out, json)
    assert(Files.exists(out))
  }
}
