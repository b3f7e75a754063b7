package graft.sim

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.{avg, col}

import graft.SparkSuite

/** Inter-epoch distribution DRIFT — the regime where a one-pass arrival
  * fold can actually lose to offline re-training (r19 verdict item 1:
  * the stationary ANN_ONLINE_CURVE corpus saturates recall and measured
  * a 0.00 online-vs-offline delta everywhere, so its quality band could
  * only catch catastrophic breakage).
  *
  * Setup: [[Similarity.syntheticDriftEmbeddings]] — cluster centers
  * move linearly along fixed random directions across 4 arrival epochs;
  * nlist (64) > nClusters (16) so offline Lloyd can SEGMENT each
  * drifted cluster's path with several centroids, which a one-pass fold
  * seeded at epoch-0 positions structurally cannot re-fit; queries are
  * drawn from the FINAL epoch's distribution (the serve-time shape:
  * fresh queries against an index folded over the whole history).
  *
  * Measured variants per drift magnitude: offline Lloyd (3 rounds over
  * the full corpus), the plain cumulative online fold, and the decayed
  * fold ([[Similarity.IncrementalIvfState!.decay]] between epochs — the
  * mitigation). Curve is written to target/ANN_DRIFT_CURVE.json; the
  * committed root copy ships it.
  */
class DriftIvfSpec extends SparkSuite {

  test("drifting corpus: online fold loses to offline Lloyd; decay recovers (curve recorded)") {
    val n = 20000L
    val dim = 32
    val nClusters = 16
    val nlist = 64
    val nQ = 20
    val k = 10
    val epochs = 4
    val noise = 0.9
    val seed = 20260817L
    val drifts = Seq(0.0, 1.0, 3.0)
    val probes = Seq(1, 2, 4)

    val measured = drifts.map { drift =>
      val emb = Similarity.syntheticDriftEmbeddings(spark, n, dim, nClusters,
        seed, noise, epochs, drift, finalEpochQueries = nQ).cache()
      val truth = Similarity.bruteForceTopK(emb, nQ, k).cache()
      def recallOf(cents: Array[(Long, Array[Double])], np: Int): Double =
        Similarity.annRecall(truth,
            Similarity.ivfTopKWith(emb, cents, nQ, k, np))
          .agg(avg(col("recall"))).collect()(0).getDouble(0)
      val offline = Similarity.trainCentroids(emb, nlist, iters = 3)
      val online = Similarity.incrementalIvfCentroids(emb, nlist, epochs)
      val decayed = Similarity.incrementalIvfCentroidsDecayed(emb, nlist, epochs)
      val byProbe = probes.map { np =>
        val r = (recallOf(offline, np), recallOf(online, np), recallOf(decayed, np))
        info(f"drift=$drift%.1f nprobe=$np offline=${r._1}%.4f " +
          f"online=${r._2}%.4f decayed=${r._3}%.4f " +
          f"delta_online=${r._1 - r._2}%.4f delta_decayed=${r._1 - r._3}%.4f")
        np -> r
      }
      emb.unpersist(); truth.unpersist()
      drift -> byProbe
    }

    val pts = measured.flatMap { case (drift, byProbe) =>
      byProbe.map { case (np, (off, on, dec)) =>
        f"""{"drift":$drift%.1f,"nprobe":$np,"offline_lloyd3":$off%.4f,""" +
          f""""online_fold":$on%.4f,"decayed_fold":$dec%.4f,""" +
          f""""delta_online":${off - on}%.4f,"delta_decayed":${off - dec}%.4f}"""
      }
    }
    val out = Files.createDirectories(Paths.get("target")).resolve("ANN_DRIFT_CURVE.json")
    Files.writeString(out,
      s"""{"corpus_n":$n,"dim":$dim,"n_clusters":$nClusters,""" +
        s""""nlist":$nlist,"n_queries":$nQ,"k":$k,"epochs":$epochs,""" +
        s""""noise":$noise,"queries":"final_epoch_distribution",""" +
        s""""points":${pts.mkString("[\n  ", ",\n  ", "\n]")}}""" + "\n")

    val at = measured.toMap.map { case (d, ps) => d -> ps.toMap }
    // (1) The regime CAN fail — the r19 curve's defect: at drift 1.0,
    // nprobe 1 the one-pass fold measurably loses to offline Lloyd
    // (measured 0.955 vs 0.845 — an 0.11 recall gap). Every quantity
    // here is deterministic (seeded generator, exact folds), so the
    // floors are tight-but-safe versions of the measured values.
    val (off1, on1, dec1) = at(1.0)(1)
    assert(off1 - on1 >= 0.05,
      f"drift regime no longer stresses the fold: offline $off1%.4f vs " +
        f"online $on1%.4f — the quality band is measuring saturation again")
    // (2) The mitigation works where it should: under drift the decayed
    // fold recovers a real part of the gap at nprobe 1 (measured
    // 0.885 vs 0.845 at drift 1.0; 0.99 vs 0.955 at drift 3.0).
    assert(dec1 >= on1 + 0.02,
      f"decay no longer helps under drift: decayed $dec1%.4f vs plain $on1%.4f")
    val (off3, on3, dec3) = at(3.0)(1)
    assert(dec3 >= on3 && off3 - dec3 <= 0.03,
      f"decay stopped tracking strong drift: offline $off3%.4f plain " +
        f"$on3%.4f decayed $dec3%.4f")
    // (3) ...and costs only a bounded forgetting penalty where it
    // shouldn't be used: stationary corpus, nprobe 1 (measured 0.900
    // decayed vs 0.945 plain — the documented reason decay is an
    // explicit variant, not the default fold).
    val (_, on0, dec0) = at(0.0)(1)
    assert(dec0 >= on0 - 0.06,
      f"stationary decay penalty grew: decayed $dec0%.4f vs plain $on0%.4f")
    // (4) At nprobe 4 every variant saturates (recall >= 0.99) at every
    // drift — the crossover is a LOW-PROBE phenomenon: wider probing
    // buys back centroid-quality loss by scanning more lists.
    measured.foreach { case (d, ps) =>
      val (off, on, dec) = ps.toMap.apply(4)
      assert(off >= 0.99 && on >= 0.99 && dec >= 0.99,
        f"nprobe=4 no longer saturates at drift $d%.1f: $off%.4f/$on%.4f/$dec%.4f")
    }
  }
}
