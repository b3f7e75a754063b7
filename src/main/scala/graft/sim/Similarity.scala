package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`Array[Float]`, 64-dim in the testdata).
  *
  * All vector math is Catalyst expressions (`transform`/`zip_with`/
  * `aggregate`) — codegen-friendly, no UDF, no driver collect. Floats are
  * widened to double BEFORE any arithmetic and `aggregate` folds strictly
  * left-to-right, so the result is bit-identical to the same sequential
  * fold in the oracle engine.
  *
  * Scale path: brute force is O(Q·N) — fine for a bounded query set;
  * the LSH variant buckets by deterministic random-hyperplane signs so
  * each query only scans its bucket (expected N/2^planes candidates),
  * trading recall for a 2^planes fan-in reduction. At 100 TB the bucket
  * join is a shuffle on `bucket`, uniformly distributed by construction.
  */
object Similarity {

  /** Array[Float] → Array[Double], element-wise, before any arithmetic. */
  // r20: native widening kernel == transform(v, x => x.cast("double"))
  // (the transform ran one interpreted lambda per element at the base of
  // every ANN query's embedding projection — see ToDoubleArray)
  private def asDouble(v: Column): Column =
    graft.functions.GraftFunctions.toDoubleArray(v)

  /** Sequential left-to-right dot product of two double arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Sequential L2 norm. */
  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))

  /** Cosine similarity — the codegen'd `cosine_sim` expression, which
    * evaluates the same sequential folds as `dot(a,b)/(norm(a)*norm(b))`
    * (bit-identical; SimilaritySpec asserts it) without interpreting
    * three nested HOFs per candidate pair. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosineSim(a, b)

  /** Shared per-query top-k: rank by cosine desc with neighbor-id
    * tiebreak — ONE definition so brute/LSH/IVF can never diverge. */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
  }

  /** Brute-force cosine top-k: every query vector (vec_id < nQueries —
    * a deterministic stand-in for a user-provided query set) against the
    * whole corpus. The query side is tiny → broadcast; the corpus streams
    * through map-side with no shuffle until the final per-query top-k
    * (rank + filter, one shuffle on query_id). */
  def bruteForceTopK(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val queries = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("q"))
    val corpus = embeddings
      .select(col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("v"))
    val scored = corpus.join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q"), col("v")).as("cos_sim"))
    topK(scored, k)
  }

  /** Label-FILTERED vector search — the vector-db shape where a
    * metadata predicate constrains the candidate set ("nearest docs
    * with label ∈ L"). This is PRE-filtering: the corpus is filtered
    * BEFORE scoring, so the top-k is always k true in-filter neighbors
    * — post-filtering (search first, filter the hits) silently returns
    * fewer than k when the filter is selective, the classic filtered-ANN
    * correctness trap. The label predicate pushes down to the parquet
    * scan (asserted in PlanSpec), so at 100 TB a selective filter
    * reduces I/O, not just compute; the same pre-filter composes in
    * front of [[ivfTopK]] when approximate search is wanted. */
  def filteredTopK(embeddings: DataFrame, nQueries: Int, k: Int,
                   labels: Seq[Int]): DataFrame = {
    require(labels.nonEmpty, "filtered search needs a label set")
    val queries = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("q"))
    val corpus = embeddings.filter(col("label").isin(labels: _*))
      .select(col("vec_id").as("neighbor_id"), col("label"),
        asDouble(col("embedding")).as("v"))
    val scored = corpus
      .join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("label"),
        cosine(col("q"), col("v")).as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "label", "cos_sim", "rank")
  }

  /** ANN quality measurement: per-query recall of an approximate top-k
    * result against the brute-force ground truth ("measure, don't
    * guess" — recall is a first-class pipeline signal, not a guess).
    * Both inputs share the (query_id, neighbor_id, …, rank) shape. */
  def annRecall(groundTruth: DataFrame, approx: DataFrame): DataFrame = {
    val a = approx.select(col("query_id").as("a_qid"),
      col("neighbor_id").as("a_nid"))
    groundTruth.select(col("query_id"), col("neighbor_id"))
      .join(a, col("query_id") === col("a_qid") &&
        col("neighbor_id") === col("a_nid"), "left")
      .groupBy(col("query_id"))
      // divide by the PER-QUERY ground-truth size, not a constant k —
      // a small corpus can have fewer than k true neighbors
      .agg((count(col("a_nid")).cast("double") / count(lit(1))).as("recall"))
  }

  /** Deterministic ±1 hyperplane sign matrix, precomputed with a proper
    * 64-bit LCG (state evolves; bit 32 is taken — NOT the low bit of a
    * stateless mod-2^31 step, whose parity is a pure function of input
    * parity and makes every plane identical). The signs are embedded as
    * literals in both the Spark plan and the generated oracle SQL. */
  def planeSigns(planes: Int, dim: Int = 64): Array[Array[Double]] = {
    var s = 20260812L
    Array.fill(planes, dim) {
      s = s * 6364136223846793005L + 1442695040888963407L
      if (((s >>> 32) & 1L) == 0L) 1.0 else -1.0
    }
  }

  /** Random-hyperplane LSH bucket id (`planes` bits) of an embedding. */
  def lshBucket(v: Column, planes: Int): Column = {
    val signs = planeSigns(planes)
    (0 until planes).map { i =>
      val sv = array(signs(i).map(lit): _*)
      val proj = aggregate(zip_with(v, sv, (x, sg) => x * sg),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce[Column](_ + _)
  }

  /** Embedding-cosine near-duplicate pairs: bucket the corpus by
    * hyperplane signs, then score all pairs WITHIN each bucket with a
    * native per-group loop (`flatMapGroups`), keeping pairs with
    * cosine >= threshold.
    *
    * Why not a self-join + Column cosine: evaluated per CANDIDATE PAIR
    * (O(n²/2^planes) rows), Catalyst array expressions are the wrong
    * tool — the filter gets pushed into the join condition as one giant
    * expression (too big to JIT) and higher-order functions run
    * interpreted; measured 20+ s at sf0.1 vs 0.2 s for this typed loop
    * over primitive arrays. The per-vector work (cast, bucket) stays
    * in Catalyst where it belongs.
    *
    * Scale shape: one shuffle on the bucket id; parallelism and
    * per-bucket pair fan-out are both governed by `planes` (2^planes
    * buckets) — the same guard philosophy as Dedup.minhashLshPairs.
    * Near-identical vectors agree on every hyperplane sign, so recall
    * loss at high thresholds is minimal. Output ids ordered
    * (vec_a < vec_b); arithmetic is left-folded to match the oracle. */
  def embeddingNearDupPairs(embeddings: DataFrame, planes: Int,
                            threshold: Double, maxBucket: Int = 100000): DataFrame = {
    import embeddings.sparkSession.implicits._
    embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("bucket", lshBucket(col("v"), planes))
      .select(col("bucket"), col("vec_id"), col("v"))
      .as[(Long, Long, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        // maxBucket skew guard (mirrored in the oracle): a degenerate
        // bucket would otherwise buffer unboundedly and go quadratic
        val items = it.map(t => (t._2, t._3.toArray))
          .take(maxBucket + 1).toArray.sortBy(_._1)
        val n = if (items.length > maxBucket) 0 else items.length
        val norms = new Array[Double](n)
        var i = 0
        while (i < n) {
          val a = items(i)._2; var s = 0.0; var j = 0
          while (j < a.length) { s += a(j) * a(j); j += 1 }
          norms(i) = math.sqrt(s); i += 1
        }
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        i = 0
        while (i < n) {
          var k = i + 1
          while (k < n) {
            val a = items(i)._2; val c = items(k)._2
            var s = 0.0; var j = 0
            while (j < a.length) { s += a(j) * c(j); j += 1 }
            val cos = s / (norms(i) * norms(k))
            if (cos >= threshold) buf += ((items(i)._1, items(k)._1, cos))
            k += 1
          }
          i += 1
        }
        buf.iterator
      }.toDF("vec_a", "vec_b", "cos_sim")
  }

  /** IVF-style ANN (the scale path beside LSH): every vector is assigned
    * to its nearest of `nlist` centroid vectors (training-free seeding:
    * the first `nlist` corpus vectors serve as centroids — deterministic,
    * no iterative k-means, the standard cheap-init variant); queries
    * probe only their own list (nprobe=1). Centroids broadcast; the
    * assignment is one shuffle on vec_id; the probe join shuffles on the
    * list id whose cardinality (nlist) is a scale knob exactly like
    * `planes`. */
  /** The EXACT sequential fold `cosine` compiles to, as a JVM loop:
    * dot = (((0 + x₀y₀) + x₁y₁) + …), norms likewise — IEEE doubles are
    * deterministic, so this is bit-identical to both the Catalyst HOF
    * evaluation and the oracle's list_reduce. */
  private def cosineLocal(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def ivfTopK(embeddings: DataFrame, nQueries: Int, k: Int, nlist: Int,
              nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist, s"nprobe must be in [1, $nlist]")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val v = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    // The centroid table is tiny (nlist rows) and always driver-held in
    // IVF designs — collect it once and broadcast, so corpus list
    // assignment is a pure MAP-SIDE arg-max in a typed loop. The r2
    // formulation ranked via row_number() over an N×nlist join (a
    // sort-exchange of 16× the corpus); the first rewrite scored through
    // Catalyst HOFs, which run interpreted at ~1 s per million lambda
    // evaluations — a tight JVM loop over the broadcast array is the
    // right tool. Tie-break (csim DESC, cid ASC) matches the oracle's
    // rank-1 row; cosineLocal keeps the doubles bit-identical.
    val cents: Array[(Long, Array[Double])] = v.filter(col("vec_id") < nlist)
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    ivfSearch(v, cents, nQueries, k, nprobe)
  }

  /** IVF with LLOYD-TRAINED centroids: `iters` k-means rounds refine the
    * training-free seeds before the same search path. Per-dimension sums
    * run in DECIMAL (exact + associative), so the learned centroids are
    * bit-deterministic regardless of partial-aggregation order — the
    * property every other checked operator holds. Empty clusters keep
    * their previous centroid. Quality (not hash) is the contract here:
    * the oracle-checked deterministic variant stays `ivfTopK`. */
  def ivfTopKTrained(embeddings: DataFrame, nQueries: Int, k: Int, nlist: Int,
                     iters: Int = 3, nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist, s"nprobe must be in [1, $nlist]")
    val v = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    ivfSearch(v, trainCentroids(embeddings, nlist, iters), nQueries, k, nprobe)
  }

  /** `iters` rounds of Lloyd's algorithm over cosine similarity,
    * seeded by the first `nlist` vectors. Assignment is the same typed
    * broadcast arg-max as the search path; the mean step explodes to
    * (cid, dim, x) and sums in decimal — one shuffle per round, nlist×dim
    * rows collected. */
  def trainCentroids(embeddings: DataFrame, nlist: Int,
                     iters: Int): Array[(Long, Array[Double])] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val v = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    var cents = v.filter(col("vec_id") < nlist)
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(cents)
      val assigned = v.as[(Long, Array[Double])].map { case (_, vec) =>
        (bestCentroid(bc.value, vec), vec)
      }.toDF("cid", "v")
      val comp = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("cid"), col("i"))
        .agg(sum(col("x").cast("decimal(27,15)")).as("s"), count(lit(1)).as("n"))
        .collect()
      // the round's sums are collected — free the executors' copy now
      // rather than waiting for the ContextCleaner
      bc.destroy()
      val byCid = comp.groupBy(_.getLong(0))
      cents = cents.map { case (cid, prev) =>
        byCid.get(cid) match {
          case Some(rows) =>
            val arr = new Array[Double](prev.length)
            rows.foreach { r =>
              arr(r.getInt(1)) = r.getDecimal(2).doubleValue() / r.getLong(3)
            }
            (cid, arr)
          case None => (cid, prev)
        }
      }
    }
    cents
  }

  /** Arg-max centroid by (csim DESC, cid ASC) under the engines' TOTAL
    * order — NaN ranks above every double (a zero-norm vector yields NaN
    * cosines; both DuckDB's and Spark's DESC sorts put NaN first, so a
    * naive `>` that skips NaN would silently diverge) and -0.0 is
    * normalized to 0.0 like Spark's sort normalization. Shared by
    * assignment, training, and the oracle's rank-1 semantics. */
  private def bestCentroid(cents: Array[(Long, Array[Double])],
                           vec: Array[Double]): Long = {
    // Double.compare is the total order (NaN greatest); the -inf/MaxValue
    // seeds lose every comparison, so the first centroid always lands
    var bestC = Long.MaxValue; var bestS = Double.NegativeInfinity
    cents.foreach { case (cid, cv) =>
      val s = normTotal(cosineLocal(vec, cv))
      val cmp = java.lang.Double.compare(s, bestS)
      if (cmp > 0 || (cmp == 0 && cid < bestC)) { bestS = s; bestC = cid }
    }
    bestC
  }

  /** -0.0 → 0.0 (NaN passes through): the engines' sort-normalized view. */
  private def normTotal(s: Double): Double = if (s == 0.0) 0.0 else s

  /** Map-side corpus list assignment: (neighbor_id, v, list). */
  private def assignCorpus(v: DataFrame,
      bcCents: org.apache.spark.broadcast.Broadcast[Array[(Long, Array[Double])]]): DataFrame = {
    val spark = v.sparkSession
    import spark.implicits._
    v.as[(Long, Array[Double])].map { case (id, vec) =>
      (id, vec, bestCentroid(bcCents.value, vec))
    }.toDF("neighbor_id", "v", "list")
  }

  /** Query fan-out to the `nprobe` nearest lists: (query_id, q, list). */
  private def probeQueries(v: DataFrame,
      bcCents: org.apache.spark.broadcast.Broadcast[Array[(Long, Array[Double])]],
      nQueries: Int, nprobe: Int): DataFrame = {
    val spark = v.sparkSession
    import spark.implicits._
    v.filter(col("vec_id") < nQueries)
      .as[(Long, Array[Double])].flatMap { case (id, vec) =>
        // (csim DESC, cid ASC) under the total order: TotalOrdering ranks
        // NaN above every double, matching the oracle's DESC sort —
        // negating the similarity would send NaN to the BOTTOM instead
        bcCents.value.map { case (cid, cv) => (normTotal(cosineLocal(vec, cv)), cid) }
          .sortBy { case (s, cid) => (s, -cid) }(
            Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long).reverse)
          .take(nprobe)
          .map { case (_, cid) => (id, vec, cid) }
      }.toDF("query_id", "q", "list")
  }

  /** Probe join + score + per-query top-k over a pre-assigned corpus. */
  private def probeSearch(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val scored = corpus
      .join(broadcast(queries), Seq("list"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q"), col("v")).as("cos_sim"))
    topK(scored, k)
  }

  private def ivfSearch(v: DataFrame, cents: Array[(Long, Array[Double])],
                        nQueries: Int, k: Int, nprobe: Int): DataFrame = {
    val bcCents = v.sparkSession.sparkContext.broadcast(cents)
    probeSearch(assignCorpus(v, bcCents), probeQueries(v, bcCents, nQueries, nprobe), k)
  }

  /** [[filteredTopK]]'s pre-filter composed into the IVF path: the label
    * predicate constrains the corpus BEFORE list assignment, so only
    * surviving vectors are assigned and probed — the index never stores
    * out-of-filter candidates, and a selective filter shrinks the scan
    * AND every probe join. Queries come from the UNFILTERED set (a query
    * need not satisfy its own filter — "nearest label-L docs to this
    * doc" is the common case); centroid seeds also stay unfiltered so
    * the list geometry matches [[ivfTopK]]'s. Same pre-over-post recall
    * argument as the brute variant: every returned hit is in-filter, and
    * no list is cut short by post-hoc filtering. */
  def filteredIvfTopK(embeddings: DataFrame, nQueries: Int, k: Int,
                      nlist: Int, labels: Seq[Int],
                      nprobe: Int = 1): DataFrame = {
    require(labels.nonEmpty, "filtered search needs a label set")
    require(nprobe >= 1 && nprobe <= nlist, s"nprobe must be in [1, $nlist]")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val all = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val cents: Array[(Long, Array[Double])] = all.filter(col("vec_id") < nlist)
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val bcCents = spark.sparkContext.broadcast(cents)
    val corpus = embeddings.filter(col("label").isin(labels: _*))
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    probeSearch(assignCorpus(corpus, bcCents),
      probeQueries(all, bcCents, nQueries, nprobe), k)
  }

  /** nprobe SWEEP sharing ONE corpus list assignment: the assigned corpus
    * is `localCheckpoint`'d (materialized once, lineage truncated) and
    * probed at each grid point, so a P-point sweep costs one assignment
    * pass + P probe joins instead of P full chain rebuilds (the r4 bench
    * showed 17 exchanges for a 3-point sweep + ground truth; the
    * assignment is the dominant scan). Output = ivfTopK's shape plus an
    * `nprobe` grid column — per-point results are bit-identical to the
    * equivalent `ivfTopK(..., nprobe = p)` call (IvfSweepSpec asserts). */
  def ivfSweep(embeddings: DataFrame, nQueries: Int, k: Int, nlist: Int,
               probes: Seq[Int]): DataFrame = {
    require(probes.nonEmpty && probes.forall(p => p >= 1 && p <= nlist))
    val spark = embeddings.sparkSession
    import spark.implicits._
    val v = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val cents: Array[(Long, Array[Double])] = v.filter(col("vec_id") < nlist)
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val bcCents = spark.sparkContext.broadcast(cents)
    val corpus = assignCorpus(v, bcCents).localCheckpoint()
    probes.map { np =>
      probeSearch(corpus, probeQueries(v, bcCents, nQueries, np), k)
        .withColumn("nprobe", lit(np))
    }.reduce(_ unionByName _)
  }

  /** The nprobe accuracy/cost curve as ONE exploded-probe plan: instead
    * of P probe joins + P recall joins unioned ([[ivfSweep]] composed
    * with [[annRecall]] per point — 17 exchanges for a 3-point sweep),
    * every query fans out ONCE to its `probes.max` nearest lists tagged
    * with the probe RANK, the assigned corpus joins that fan-out once,
    * and the grid dimension is an `explode` over the already-scored
    * pairs — a candidate scored at probe rank r participates in every
    * grid point np ≥ r, which is exactly the candidate set
    * `probeSearch(nprobe = np)` would have scored (a corpus vector
    * lives in one list, so no pair is ever produced twice). One window
    * on (query_id, nprobe) ranks the whole grid together; ground truth
    * (≤ nQueries·k rows) left-joins the ≤ nQueries·k·P-row approx side
    * as a broadcast. Per-point rows are bit-identical to
    * `ivfTopK(..., nprobe = np)` — IvfSweepSpec asserts — so recalls
    * match the per-point composition exactly.
    *
    * Scale shape: the corpus is scanned and assigned ONCE regardless of
    * grid size; the explode multiplies only scored candidate pairs
    * (bounded by fan-out × list occupancy, itself bounded by the
    * nlist/nprobe knobs), never the corpus; and the only data-sized
    * shuffle is the single (query_id, nprobe) window exchange. Widening
    * the grid at 100 TB adds broadcast rows and candidate copies, not
    * corpus passes. */
  def recallSweep(embeddings: DataFrame, groundTruth: DataFrame,
                  nQueries: Int, k: Int, nlist: Int,
                  probes: Seq[Int]): DataFrame = {
    require(probes.nonEmpty && probes.forall(p => p >= 1 && p <= nlist))
    val spark = embeddings.sparkSession
    import spark.implicits._
    val v = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val cents: Array[(Long, Array[Double])] = v.filter(col("vec_id") < nlist)
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val bcCents = spark.sparkContext.broadcast(cents)
    val maxProbe = probes.max
    // probeQueries with the probe rank kept: (query_id, q, list, pr) —
    // same sort, same tie-break, rank = 1-based position in the take
    val queries = v.filter(col("vec_id") < nQueries)
      .as[(Long, Array[Double])].flatMap { case (id, vec) =>
        bcCents.value.map { case (cid, cv) => (normTotal(cosineLocal(vec, cv)), cid) }
          .sortBy { case (s, cid) => (s, -cid) }(
            Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long).reverse)
          .take(maxProbe)
          .zipWithIndex
          .map { case ((_, cid), i) => (id, vec, cid, i + 1) }
      }.toDF("query_id", "q", "list", "pr")
    val grid = array(probes.map(lit): _*)
    val scored = assignCorpus(v, bcCents)
      .join(broadcast(queries), Seq("list"))
      .filter(col("query_id") =!= col("neighbor_id"))
      // cosine computed ONCE per candidate pair, before the grid explode
      .select(col("query_id"), col("neighbor_id"), col("pr"),
        cosine(col("q"), col("v")).as("cos_sim"))
      .withColumn("nprobe", explode(grid))
      .filter(col("pr") <= col("nprobe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"), col("nprobe"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    val approx = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id").as("a_qid"), col("nprobe").as("a_np"),
        col("neighbor_id").as("a_nid"))
    // same recall semantics as [[annRecall]] (per-query ground-truth
    // denominator), grid-exploded on the tiny gt side
    groundTruth.select(col("query_id"), col("neighbor_id"))
      .withColumn("nprobe", explode(grid))
      .join(broadcast(approx),
        col("query_id") === col("a_qid") && col("nprobe") === col("a_np") &&
          col("neighbor_id") === col("a_nid"), "left")
      .groupBy(col("query_id"), col("nprobe"))
      .agg((count(col("a_nid")).cast("double") / count(lit(1))).as("recall"))
      .select("query_id", "nprobe", "recall")
  }

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023, public):
    * cluster the corpus by nearest centroid, then within each cluster
    * drop every vector that is ≥ `threshold` cosine-similar to an
    * earlier-id cluster member — near-duplicate *meanings* are pruned
    * even when the underlying text shares no n-grams (the case MinHash/
    * SimHash can never catch). Output is the full corpus as
    * (vec_id, cid, keep ∈ {0,1}) so the caller can audit the drop rate
    * per cluster rather than just receive the survivors.
    *
    * Scale shape — exactly the IVF layout: centroids are tiny and
    * broadcast, assignment is one map-side arg-max pass, and the pair
    * scan is confined WITHIN clusters (one shuffle on the cluster id,
    * expected cluster size N/nlist — `nlist` is the fan-in knob).
    * `maxCluster` caps a degenerate cluster (members kept, dedup skipped
    * — mirrored in the oracle), and the cap is enforced BEFORE the
    * grouping: cluster sizes come from one ≤nlist-row aggregate whose
    * result broadcast-joins back onto the assignment, oversized clusters
    * take a map-side keep=1 path that never enters the `groupByKey`, and
    * only the bounded remainder is grouped — so the per-task buffer is
    * ≤ maxCluster members by construction (a near-duplicate-rich corpus
    * at 100 TB produces exactly the degenerate clusters that would
    * otherwise OOM an executor, r5 verdict #3). The per-cluster loop
    * also early-exits on the first ≥-threshold earlier neighbor.
    * The drop rule is "any earlier-id member", not "any earlier KEPT
    * member": one pass, order-free, and SQL-expressible — a kept-chain
    * greedy would serialize the cluster scan for marginal extra recall.
    * Cosines are the same interleaved left-fold as [[cosineLocal]],
    * bit-identical to the oracle's list_reduce. */
  def semanticDedup(embeddings: DataFrame, nlist: Int, threshold: Double,
                    maxCluster: Int = 100000): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val v = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val cents: Array[(Long, Array[Double])] = v.filter(col("vec_id") < nlist)
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val bcCents = spark.sparkContext.broadcast(cents)
    val assigned = assignCorpus(v, bcCents)
      .select(col("list"), col("neighbor_id").as("vec_id"), col("v"))
    // ≤nlist-row size table, broadcast back onto the map-side assignment
    val sizes = assigned.groupBy(col("list")).agg(count(lit(1)).as("csz"))
    val sized = assigned.join(broadcast(sizes), Seq("list"))
    // oversized clusters bypass the grouping entirely: their contract is
    // keep=1/dedup-skipped, which needs no pair scan and no buffer
    val oversized = sized.filter(col("csz") > maxCluster)
      .select(col("vec_id"), col("list").as("cid"), lit(1).as("keep"))
    val bounded = sized.filter(col("csz") <= maxCluster)
      .select(col("list"), col("vec_id"), col("v"))
      .as[(Long, Long, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (cid, it) =>
        // buffer bounded by maxCluster — the > maxCluster rows were
        // routed around this operator above
        val items = it.map(t => (t._2, t._3.toArray)).toArray.sortBy(_._1)
        val n = items.length
        val out = new Array[(Long, Long, Int)](n)
        var i = 0
        while (i < n) {
          var dropped = false
          var j = 0
          while (j < i && !dropped) {
            if (cosineLocal(items(j)._2, items(i)._2) >= threshold) dropped = true
            j += 1
          }
          out(i) = (items(i)._1, cid, if (dropped) 0 else 1)
          i += 1
        }
        out.iterator
      }.toDF("vec_id", "cid", "keep")
    bounded.unionByName(oversized)
  }

  /** The measured drop-rate CURVE over the (nlist, threshold) grid —
    * SemDeDup's two knobs. A deployment tunes threshold against a
    * target dedup aggressiveness and nlist against cluster fan-in; this
    * sweep records what each setting actually drops on a clustered
    * corpus (written to SEMDEDUP_CURVE.json by SemDedupCurveSpec, next
    * to ANN_CURVE.json — the same ship-the-measurement rule). Driver
    * loop is over the ≤|nlists|·|thresholds| grid, never over data; the
    * input is checkpointed once so grid points share the materialized
    * corpus. At fixed nlist the drop set at a higher threshold is a
    * SUBSET of the drop set at a lower one (the drop predicate
    * `cos ≥ t` only tightens), so drop_rate is provably monotone
    * non-increasing in threshold — pinned in the spec. */
  def semDedupCurve(embeddings: DataFrame, nlists: Seq[Int],
                    thresholds: Seq[Double],
                    maxCluster: Int = 100000): DataFrame = {
    require(nlists.nonEmpty && thresholds.nonEmpty)
    val spark = embeddings.sparkSession
    import spark.implicits._
    val v = embeddings.localCheckpoint()
    val rows = for { nl <- nlists; t <- thresholds } yield {
      val r = semanticDedup(v, nl, t, maxCluster)
        .agg(count(lit(1)),
          sum(when(col("keep") === 0, 1L).otherwise(0L))).head()
      val total = r.getLong(0)
      val dropped = r.getLong(1)
      (nl, t, total, dropped, dropped.toDouble / total)
    }
    rows.toDF("nlist", "threshold", "n_total", "n_dropped", "drop_rate")
  }

  /** Deterministic clustered synthetic corpus for ANN knob sweeps at
    * sizes the checked-in testdata doesn't reach (sf0.1 tops out at 2 000
    * vectors — too small for a meaningful nlist=256 curve). Generation is
    * pure Catalyst (`spark.range` + `xxhash64` folds): distributed,
    * seed-stable across runs/partitionings, no driver materialization.
    * Each vector = its cluster's center (hash of `vec_id % nClusters`)
    * plus `noise`-scaled per-vector jitter, so IVF's cluster assumption
    * actually holds and the recall curve measures the knobs, not hash
    * soup. */
  def syntheticEmbeddings(spark: org.apache.spark.sql.SparkSession, n: Long,
                          dim: Int, nClusters: Int, seed: Long,
                          noise: Double = 0.15): DataFrame = {
    // uniform-ish in (-1, 1): signed xxhash64 remainder over a prime
    def u(salt: Column): Column =
      (xxhash64(lit(seed), salt) % 1000003L).cast("double") / 1000003.0
    spark.range(n).select(col("id").as("vec_id"))
      .withColumn("embedding", transform(sequence(lit(0), lit(dim - 1)), j =>
        (u(concat_ws("_", lit("c"), col("vec_id") % nClusters, j)) +
          lit(noise) * u(concat_ws("_", lit("v"), col("vec_id"), j))).cast("float")))
  }

  /** [[syntheticEmbeddings]] with inter-epoch distribution DRIFT — the
    * regime where a one-pass arrival fold can genuinely lose to offline
    * re-training (r19 verdict item 1; the stationary corpus saturates
    * recall and measures a 0.00 delta everywhere). Vectors arrive in
    * `epochs` contiguous vec_id blocks; each cluster's center moves
    * linearly along a fixed per-(cluster, dim) random direction, from
    * its base position at epoch 0 to base + `drift`·direction at the
    * final epoch. Same pure-Catalyst xxhash64 construction as the
    * stationary generator: distributed, seed-stable, no driver data.
    *
    * `finalEpochQueries` > 0 places that many leading vec_ids (the
    * query set every search entry point uses: vec_id < nQueries) at the
    * FINAL epoch's distribution — the serve-time shape, where queries
    * are drawn from the newest data while the index was folded over the
    * whole drifting history. Their fold epoch stays block 0 (they are
    * 20 of 20 000 corpus rows — negligible to the state), but their
    * true neighbors are final-epoch vectors, so recall measures how
    * well each index covers where the distribution ENDED. */
  def syntheticDriftEmbeddings(spark: org.apache.spark.sql.SparkSession,
                               n: Long, dim: Int, nClusters: Int, seed: Long,
                               noise: Double, epochs: Int, drift: Double,
                               finalEpochQueries: Int = 0): DataFrame = {
    require(epochs >= 2, "drift needs at least two epochs")
    def u(salt: Column): Column =
      (xxhash64(lit(seed), salt) % 1000003L).cast("double") / 1000003.0
    val span = math.ceil(n.toDouble / epochs).toLong
    spark.range(n).select(col("id").as("vec_id"))
      .withColumn("ep",
        when(col("vec_id") < finalEpochQueries, lit(epochs - 1))
          .otherwise(floor(col("vec_id") / span)).cast("double"))
      .withColumn("frac", col("ep") / lit((epochs - 1).toDouble))
      .withColumn("embedding", transform(sequence(lit(0), lit(dim - 1)), j =>
        (u(concat_ws("_", lit("c"), col("vec_id") % nClusters, j)) +
          col("frac") * lit(drift) *
            u(concat_ws("_", lit("d"), col("vec_id") % nClusters, j)) +
          lit(noise) * u(concat_ws("_", lit("v"), col("vec_id"), j)))
          .cast("float")))
      .drop("ep", "frac")
  }

  /** The measured recall/cost CURVE over the (nlist, nprobe) grid — the
    * two knobs an IVF deployment is actually tuned on. One brute-force
    * ground truth is shared by every grid point; per nlist, ONE corpus
    * list assignment is `localCheckpoint`'d and re-probed (same sharing
    * shape as [[ivfSweep]]). Cost is reported as `scored_pairs` (the
    * exact number of (query, candidate) cosines the probe join evaluated
    * — the dominant term at any scale) and `scan_frac` (that count over
    * the brute-force Q·(N−1)). Probes larger than the grid point's nlist
    * are skipped. Driver loop is over the ≤|nlists|·|probes| grid, never
    * over data. */
  def ivfCurve(embeddings: DataFrame, nQueries: Int, k: Int,
               nlists: Seq[Int], probes: Seq[Int]): DataFrame = {
    require(nlists.nonEmpty && probes.nonEmpty && probes.forall(_ >= 1))
    val spark = embeddings.sparkSession
    import spark.implicits._
    val v = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .localCheckpoint()
    val corpusN = v.count()
    val gt = bruteForceTopK(v.select(col("vec_id"), col("v").as("embedding")),
      nQueries, k).localCheckpoint()
    val rows = nlists.flatMap { nl =>
      val cents: Array[(Long, Array[Double])] = v.filter(col("vec_id") < nl)
        .as[(Long, Array[Double])].collect().sortBy(_._1)
      val bcCents = spark.sparkContext.broadcast(cents)
      val corpus = assignCorpus(v, bcCents).localCheckpoint()
      probes.filter(_ <= nl).map { np =>
        val scored = corpus
          .join(broadcast(probeQueries(v, bcCents, nQueries, np)), Seq("list"))
          .filter(col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            cosine(col("q"), col("v")).as("cos_sim"))
          .localCheckpoint()
        val cand = scored.count()
        val recall = annRecall(gt, topK(scored, k))
          .agg(avg(col("recall"))).as[Double].head()
        (nl, np, recall, cand,
          cand.toDouble / (nQueries.toDouble * (corpusN - 1)))
      }
    }
    rows.toDF("nlist", "nprobe", "mean_recall", "scored_pairs", "scan_frac")
  }

  /** Symmetric per-vector int8 quantization — the storage/bandwidth step
    * of an embedding pipeline (4× smaller than float32, 8× than the
    * double working form): qᵢ = round(xᵢ · 127 / max|x|), zero vectors
    * map to all-zero. Emitted EXPLODED as (vec_id, i, qv) scalar rows so
    * the oracle hash-compares engine-neutral integers rather than array
    * renderings. Map-side only — one projection, no shuffle; both
    * engines round half away from zero, and the scale arithmetic is
    * order-identical, so qv is exact. */
  def quantizeInt8(embeddings: DataFrame): DataFrame =
    explodedInt8(embeddings, Seq("vec_id"))

  /** Shared int8 projection: explode `embeddings.embedding` to
    * (carryCols..., i, qv) scalar rows under the [[quantizeInt8]]
    * formula — map-side only, reused by the centroid/confusion ops so
    * the quantizer cannot fork. */
  private def explodedInt8(embeddings: DataFrame,
                           carryCols: Seq[String]): DataFrame =
    // r20: the scale factor comes from the native AbsMax kernel
    // (== array_max(transform(v, abs)) over the cast array) and the
    // float→double widening moves AFTER the posexplode as a scalar
    // codegen cast — the two interpreted per-element HOF passes this
    // projection ran per vector are gone; x and qv are value-identical
    // (exact widening, same round(x·127/amax) expression).
    embeddings
      .select(carryCols.map(col) ++ Seq(
        graft.functions.GraftFunctions.absMax(col("embedding")).as("amax"),
        posexplode(col("embedding")).as(Seq("i", "xr"))): _*)
      .select(carryCols.map(col) ++ Seq(col("i").cast("int").as("i"),
        when(col("amax") > 0,
          round(col("xr").cast("double") * lit(127.0) / col("amax")))
          .otherwise(lit(0)).cast("int").as("qv")): _*)

  /** One (candidate, score-numerator, score-denominator) row for
    * [[RationalArgmax]]. `n >= 1` for every real row; `n == 0` is the
    * aggregator's empty-buffer sentinel (a count can never be 0 here —
    * a label's centroid exists only if it has vectors). */
  case class RationalCand(label: Int, score: Long, n: Long)

  /** Exact argmax over rational scores score/n without division: the
    * comparison is cross-multiplied in BigInt (score_a·n_b vs
    * score_b·n_a — exact at any magnitude, no decimal-width cliff),
    * ties to the smaller label. "Rational desc, then label asc" is a
    * TOTAL order, so the max is associative + commutative and Spark is
    * free to partial-aggregate map-side and merge in any order. */
  object RationalArgmax
      extends org.apache.spark.sql.expressions.Aggregator[
        RationalCand, RationalCand, Int] {
    private def best(a: RationalCand, b: RationalCand): RationalCand =
      if (a.n == 0L) b
      else if (b.n == 0L) a
      else {
        val cmp = (BigInt(b.score) * a.n).compare(BigInt(a.score) * b.n)
        if (cmp > 0 || (cmp == 0 && b.label < a.label)) b else a
      }
    override def zero: RationalCand = RationalCand(0, 0L, 0L)
    override def reduce(buf: RationalCand, in: RationalCand): RationalCand =
      best(buf, in)
    override def merge(b1: RationalCand, b2: RationalCand): RationalCand =
      best(b1, b2)
    override def finish(r: RationalCand): Int = r.label
    override def bufferEncoder: org.apache.spark.sql.Encoder[RationalCand] =
      org.apache.spark.sql.Encoders.product[RationalCand]
    override def outputEncoder: org.apache.spark.sql.Encoder[Int] =
      org.apache.spark.sql.Encoders.scalaInt
  }

  /** Per-label centroid ACCUMULATORS in the int8-quantized space:
    * (label, dim) → (Σ qv, n). Sums and counts stay integer — the
    * cross-engine-exact form; consumers divide when they need the mean
    * (and [[centroidConfusion]] never needs to: nearest-centroid
    * comparisons multiply through by the counts instead). The label
    * travels THROUGH the quantize projection rather than joining back
    * on vec_id — at corpus scale a (vec_id → label) join side is the
    * full vector count, not broadcastable. One shuffle on (label, dim),
    * partial-aggregated map-side; output is |labels|·dims rows. */
  def labelCentroidsQ(embeddings: DataFrame): DataFrame =
    explodedInt8(embeddings, Seq("label"))
      .groupBy(col("label"), col("i"))
      .agg(sum(col("qv")).as("sum_q"), count(lit(1)).as("n_vecs"))

  /** Nearest-centroid confusion matrix, integer-exact end to end AND
    * unbiased on imbalanced label sets: each vector's quantized form
    * scores against every label centroid by the dot product with the
    * centroid SUM Σᵢ qvᵢ·sum_qᵢ, and the argmax compares against the
    * true MEAN centroids — score_a/n_a vs score_b/n_b — via
    * count-cross-multiplied exact arithmetic (BigInt score_a·n_b vs
    * score_b·n_a: no division, no doubles, no cross-engine rounding
    * surface, and no bias toward populous labels — the r6 ADVICE defect
    * of the raw-sum argmax). Ties break to the smaller label. Output:
    * (true label, predicted label, n) — the clustering-quality audit
    * for an embedding space.
    *
    * Scale shape: the centroid table (|labels|·dims rows) broadcasts;
    * the per-vector fan-out is |labels| score partials aggregated in
    * ONE (vec_id, label) shuffle. The mean-argmax is
    * [[RationalArgmax]] — an exact-rational max is a total order, so
    * one O(|labels|) streaming aggregate per vector replaces the
    * |labels|²-comparison dominance self-join this op shipped with
    * (same answer, one exchange and no join machinery; partial
    * aggregation still combines map-side). The final crosstab is
    * label-domain-sized. */
  def centroidConfusion(embeddings: DataFrame): DataFrame = {
    // r20 restructure (guide §8: decide with small rows): the old shape
    // exploded every vector to dims scalar rows, joined the centroid
    // table per DIMENSION (fan-out |labels| → vecs·dims·labels rows),
    // shuffled that to per-(vec, label) scores, and argmaxed with a
    // typed aggregator — the pre-crosstab shuffle carried dims·labels×
    // the corpus row count. The centroid matrix is |labels|·dims longs
    // (KB at any scale), so the whole decision runs inside the scan:
    // fold the matrix to ONE row (label-ascending, sums dim-ordered),
    // broadcast it, and classify each vector with the native
    // CentroidArgmax kernel — quantization, integer dot products, and
    // the BigInt rational argmax bit-identical to the expression
    // pipeline (CentroidKernelSpec pins kernel == old formulation on
    // the gate corpus). Remaining shuffle: the |labels|² crosstab.
    val centroids = labelCentroidsQ(embeddings)
    val mat = centroids.groupBy(col("label").as("c_label"))
      .agg(max(col("n_vecs")).as("n_c"),
        transform(sort_array(collect_list(struct(col("i"), col("sum_q")))),
          s => s("sum_q")).as("sums"))
      .select(struct(col("c_label"), col("n_c"), col("sums")).as("c"))
      .agg(sort_array(collect_list(col("c"))).as("cents"))
    embeddings
      .crossJoin(broadcast(mat))
      .select(col("label"),
        graft.functions.GraftFunctions
          .centroidArgmax(col("embedding"), col("cents")).as("pred_label"))
      .groupBy(col("label"), col("pred_label"))
      .agg(count(lit(1)).as("n"))
  }

  /** LSH-bucketed ANN: queries only compare against corpus vectors in the
    * same hyperplane-sign bucket. Same output shape as brute force; lower
    * recall, 2^planes less work per query. */
  def lshTopK(embeddings: DataFrame, nQueries: Int, k: Int, planes: Int): DataFrame = {
    val withBucket = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("bucket", lshBucket(col("v"), planes))
    val queries = withBucket.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("q"), col("bucket"))
    val corpus = withBucket
      .select(col("vec_id").as("neighbor_id"), col("v"), col("bucket"))
    val scored = corpus.join(broadcast(queries), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q"), col("v")).as("cos_sim"))
    topK(scored, k)
  }

  /** Incremental (streaming-arrival) IVF centroid state: vectors arrive
    * in ordered epochs, each epoch is assigned to its nearest centroid
    * AS OF ARRIVAL (the index the stream had at that moment), and the
    * centroids are refreshed from the cumulative running means before
    * the next epoch — the online companion to [[trainCentroids]]'s
    * offline Lloyd rounds, and the centroid-refresh path a streaming
    * ingest needs (r17 verdict stretch item 8).
    *
    * Determinism contract, same as every checked operator: per-epoch
    * assignment is the shared [[bestCentroid]] total-order arg-max over
    * a broadcast centroid array (map-side typed loop); per-dimension
    * accumulation runs over the [[quantizeInt8]] projection in LONG
    * (exact + associative — the q_label_centroids pattern; a decimal
    * formulation diverged in the last bit because Spark's double→decimal
    * cast rounds HALF_UP where DuckDB's rounds HALF_EVEN). The running
    * state (cumulative per-dimension quantized sum + member count per
    * centroid) IS the query output, making the whole epoch fold
    * hash-checkable against an engine replaying the same folds.
    * Centroid refresh divides the long sum by the count once, on the
    * driver — the refreshed centroid lives at the int8 scale, which
    * cosine assignment is invariant to (per-centroid normalization), so
    * seed-scale and refreshed-scale centroids compare correctly.
    *
    * Scale shape: per-epoch work is one distributed map (assignment) +
    * one partial-aggregated shuffle of nlist×dim longs; driver state is
    * nlist×dim longs (|qv| ≤ 127, so even 10^12-member centroids stay
    * far from overflow). Epoch count is a bounded driver loop (arrival
    * windows), never a loop over data — at 100 TB each epoch is a
    * normal distributed pass and the index state stays KB-sized. */
  final class IncrementalIvfState private[sim] (
      nlist: Int, dim: Int,
      seeds: Array[(Long, Array[Double])]) {
    private val sums = Array.fill(nlist, dim)(0L)
    private val counts = new Array[Long](nlist)
    private var cents: Array[(Long, Array[Double])] = seeds

    /** Current centroids (refreshed after every [[update]]); a centroid
      * with no members yet keeps its seed. */
    def centroids: Array[(Long, Array[Double])] = cents

    /** Fold one arrival epoch into the state: distributed assignment
      * against the CURRENT centroids, int8-quantized long partial sums
      * (the exact [[quantizeInt8]] formula), driver merge, centroid
      * refresh. */
    def update(epoch: DataFrame): Unit = {
      val spark = epoch.sparkSession
      import spark.implicits._
      val bc = spark.sparkContext.broadcast(cents)
      // r20: float→double widening in the typed map (exact, same as the
      // old asDouble transform) and the scale factor from the native
      // AbsMax kernel — the two interpreted per-element HOF passes the
      // epoch projection ran are gone; qv is value-identical. The typed
      // extraction dispatches on the embedding's element type (the gate
      // corpus is float; synthetic spec frames may carry double).
      val isFloat = epoch.schema("embedding").dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, _) => true
        case _ => false
      }
      val assigned =
        if (isFloat)
          epoch.select(col("vec_id"), col("embedding"))
            .as[(Long, Array[Float])]
            .map { case (_, vf) =>
              val vec = new Array[Double](vf.length)
              var i = 0
              while (i < vf.length) { vec(i) = vf(i).toDouble; i += 1 }
              (bestCentroid(bc.value, vec), vec)
            }
        else
          epoch.select(col("vec_id"), asDouble(col("embedding")).as("v"))
            .as[(Long, Array[Double])]
            .map { case (_, vec) => (bestCentroid(bc.value, vec), vec) }
      val comp = assigned
        .toDF("cid", "v")
        .withColumn("amax", graft.functions.GraftFunctions.absMax(col("v")))
        .select(col("cid"), col("amax"), posexplode(col("v")).as(Seq("i", "x")))
        .select(col("cid"), col("i").cast("int").as("i"),
          when(col("amax") > 0, round(col("x") * lit(127.0) / col("amax")))
            .otherwise(lit(0)).cast("long").as("qv"))
        .groupBy(col("cid"), col("i"))
        .agg(sum(col("qv")).as("s"), count(lit(1)).as("cnt"))
        .collect()
      bc.destroy()
      comp.foreach { r =>
        val cid = r.getLong(0).toInt
        val i = r.getInt(1)
        sums(cid)(i) += r.getLong(2)
        if (i == 0) counts(cid) += r.getLong(3)
      }
      refresh()
    }

    /** Exponential recency weighting in EXACT integer space — the
      * drift mitigation (r20, measured in ANN_DRIFT_CURVE.json): halve
      * every running sum and member count (integer division, truncation
      * toward zero — deterministic, associative-safe, engine-exact like
      * the fold itself) and refresh. Applied between epochs this turns
      * the cumulative mean into a half-life-of-one-epoch weighted mean:
      * the centroids track where the drifting distribution IS instead
      * of its all-history average, at zero extra distributed work. */
    def decay(): Unit = {
      for (c <- 0 until nlist; i <- 0 until dim) sums(c)(i) /= 2
      for (c <- 0 until nlist) counts(c) /= 2
      refresh()
    }

    /** Centroid refresh from the running state: quantized long sum /
      * count (exact integer-ratio doubles); an empty centroid keeps its
      * seed. Shared by [[update]] and checkpoint restore so a resumed
      * state serves the same centroids an uninterrupted fold would. */
    private def refresh(): Unit =
      cents = seeds.map { case (cid, seed) =>
        val ci = cid.toInt
        if (counts(ci) > 0)
          (cid, Array.tabulate(dim)(i => sums(ci)(i).toDouble / counts(ci)))
        else (cid, seed)
      }

    /** Install a checkpointed running state (r18 verdict item 5: the
      * fold must survive a driver restart). Overwrites sums/counts and
      * refreshes the centroids — folding epoch k+1 after a restore is
      * byte-identical to folding it uninterrupted, because the state IS
      * (sums, counts, seeds) and assignment reads only the refreshed
      * centroids. */
    private[sim] def install(sq: Array[Array[Long]], n: Array[Long]): Unit = {
      require(sq.length == nlist && n.length == nlist,
        s"checkpoint shape ${sq.length} != nlist $nlist")
      for (c <- 0 until nlist) {
        require(sq(c).length == dim, s"checkpoint dim ${sq(c).length} != $dim")
        Array.copy(sq(c), 0, sums(c), 0, dim)
      }
      Array.copy(n, 0, counts, 0, nlist)
      refresh()
    }

    /** Self-contained checkpoint rows (cid, i, sq, n, seed): the state
      * rows plus the per-dimension seed values, so a restore needs the
      * parquet alone — not a rescan of the corpus for seed vectors
      * (whose earliest rows may have been compacted away by the time a
      * stream restarts). nlist×dim rows, KB-sized at any corpus scale:
      * a trivial parquet round-trip. */
    def checkpointDf(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      // iterate the SEEDS (cid-keyed), not 0..nlist: only seeded lists
      // can ever hold members (assignment arg-maxes over the seeded
      // centroids), so these rows are the complete state
      val rows = for { (cid, seed) <- seeds.toSeq; i <- 0 until dim } yield
        org.apache.spark.sql.Row(
          cid, i, sums(cid.toInt)(i), counts(cid.toInt), seed(i))
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cid",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("i",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("sq",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("seed",
            org.apache.spark.sql.types.DoubleType, nullable = false))))
    }

    /** Persist the checkpoint to parquet (overwrite: the newest state
      * supersedes — a resumed fold never merges two checkpoints). */
    def saveCheckpoint(spark: org.apache.spark.sql.SparkSession,
                       path: String): Unit =
      checkpointDf(spark).repartition(1).write.mode("overwrite").parquet(path)

    /** The exact running state as rows (cid, i, sq, n) — nlist×dim long
      * rows, the hash-checkable output. */
    def stateDf(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      val rows = for { cid <- 0 until nlist; i <- 0 until dim } yield
        org.apache.spark.sql.Row(cid.toLong, i, sums(cid)(i), counts(cid))
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cid",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("i",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("sq",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType, nullable = false))))
    }
  }

  /** Fresh state seeded by the first `nlist` vectors (the same
    * training-free seeding as [[ivfTopK]] — the seeds are what the
    * stream has before any refresh). */
  def incrementalIvfState(embeddings: DataFrame, nlist: Int): IncrementalIvfState = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val seeds = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .filter(col("vec_id") < nlist)
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    require(seeds.nonEmpty, "no seed vectors (vec_id < nlist)")
    new IncrementalIvfState(nlist, seeds.head._2.length, seeds)
  }

  /** The arrival fold shared by the state query and the search query:
    * the corpus split into `chunks` contiguous vec_id epochs (arrival
    * order = id order), folded through [[IncrementalIvfState.update]]
    * epoch by epoch. */
  private def foldIncremental(embeddings: DataFrame, nlist: Int,
                              chunks: Int,
                              decayed: Boolean = false): IncrementalIvfState = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val n = embeddings.agg(max(col("vec_id"))).as[Long].collect()(0) + 1
    val span = math.ceil(n.toDouble / chunks).toLong
    val state = incrementalIvfState(embeddings, nlist)
    for (c <- 0 until chunks) {
      val lo = c * span
      val hi = math.min(n, (c + 1) * span)
      if (lo < hi) {
        // decay BETWEEN epochs (never before the first): each epoch is
        // folded at full weight, prior history at half per epoch of age
        if (decayed && c > 0) state.decay()
        state.update(embeddings.filter(col("vec_id") >= lo && col("vec_id") < hi))
      }
    }
    state
  }

  /** The arrival fold as a shareable state (r20): q_ivf_incremental
    * (state rows) and q_ivf_incremental_topk (search through the folded
    * index) consume the SAME fold — an online index is maintained once
    * and served from, so SparkEntry memoizes this handle like every
    * shared frame: one fold per (session, dir, name) and fingerprint of
    * the input files, build seconds reported in memo_sec. */
  def incrementalIvfFold(embeddings: DataFrame, nlist: Int, chunks: Int,
                         decayed: Boolean = false): IncrementalIvfState =
    foldIncremental(embeddings, nlist, chunks, decayed)

  /** Batch replay of the arrival fold for the oracle gate: the exact
    * running state after every epoch is folded. The streaming twin
    * (IncrementalIvfSpec) drives the SAME state through foreachBatch
    * micro-batches and must land on the identical state rows. */
  def incrementalCentroidState(embeddings: DataFrame, nlist: Int,
                               chunks: Int): DataFrame =
    foldIncremental(embeddings, nlist, chunks).stateDf(embeddings.sparkSession)

  /** Top-k search THROUGH the incrementally refreshed index: the same
    * probe path as [[ivfTopK]], but over the centroids the arrival fold
    * landed on — the full online story (refresh while ingesting, then
    * serve) on one checked path. The refreshed centroids are exact
    * integer-ratio doubles (quantized long sum / count), so the search
    * is as hash-deterministic as the seed-centroid variant. */
  def incrementalIvfTopK(embeddings: DataFrame, nQueries: Int, k: Int,
                         nlist: Int, chunks: Int, nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist, s"nprobe must be in [1, $nlist]")
    val state = foldIncremental(embeddings, nlist, chunks)
    val v = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    ivfSearch(v, state.centroids, nQueries, k, nprobe)
  }

  /** Centroids after the arrival fold — the online index the quality
    * curve (IncrementalIvfSpec / ANN_ONLINE_CURVE.json) compares
    * against [[trainCentroids]]'s offline Lloyd rounds. */
  def incrementalIvfCentroids(embeddings: DataFrame, nlist: Int,
                              chunks: Int): Array[(Long, Array[Double])] =
    foldIncremental(embeddings, nlist, chunks).centroids

  /** Centroids after the DECAYED arrival fold ([[IncrementalIvfState!.decay]]
    * between epochs) — the drift-regime mitigation measured in
    * ANN_DRIFT_CURVE.json: on a drifting corpus the recency-weighted
    * centroids follow the distribution; on a stationary one they serve
    * within the same band as the plain fold. */
  def incrementalIvfCentroidsDecayed(embeddings: DataFrame, nlist: Int,
                                     chunks: Int): Array[(Long, Array[Double])] =
    foldIncremental(embeddings, nlist, chunks, decayed = true).centroids

  /** Batch replay of the decayed fold's exact running state — the
    * oracle-checkable output of the mitigation, mirroring
    * [[incrementalCentroidState]] (q_ivf_decay). */
  def decayedCentroidState(embeddings: DataFrame, nlist: Int,
                           chunks: Int): DataFrame =
    foldIncremental(embeddings, nlist, chunks, decayed = true)
      .stateDf(embeddings.sparkSession)

  /** Top-k through EXPLICIT centroids — the shared probe path opened
    * for quality measurement (online-vs-offline recall curve) and for
    * serving through a restored checkpoint's refreshed centroids
    * without re-folding. Same assignment/probe/score/top-k as every
    * other IVF entry point, so recall differences measure the
    * CENTROIDS, not the search. */
  def ivfTopKWith(embeddings: DataFrame,
                  cents: Array[(Long, Array[Double])],
                  nQueries: Int, k: Int, nprobe: Int = 1): DataFrame = {
    require(cents.nonEmpty, "need at least one centroid")
    require(nprobe >= 1 && nprobe <= cents.length,
      s"nprobe must be in [1, ${cents.length}]")
    val v = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    ivfSearch(v, cents, nQueries, k, nprobe)
  }

  /** Restore an [[IncrementalIvfState]] from [[IncrementalIvfState!.checkpointDf]]
    * rows (typically `spark.read.parquet(checkpointPath)`): seeds, sums
    * and counts are reconstructed and the centroids refreshed, so
    * folding epoch k+1 through the restored state is exactly folding it
    * through the uninterrupted one (spec-pinned). The collect is
    * nlist×dim rows — the whole index state is KB-sized by design.
    *
    * Shape-validated (r19 advisory 1): a truncated or partially-written
    * checkpoint would otherwise restore SILENTLY with zero sums at the
    * missing (cid, i) slots — state corruption the bitwise resume spec
    * cannot catch, because it always round-trips a complete file. The
    * writer emits exactly dim rows per seeded cid with i covering
    * 0..dim-1 ([[IncrementalIvfState!.checkpointDf]]), so anything else
    * here is a damaged file, not a legal state. */
  def restoreIncrementalIvfState(checkpoint: DataFrame): IncrementalIvfState = {
    val rows = checkpoint.select(col("cid"), col("i"), col("sq"),
      col("n"), col("seed")).collect()
    require(rows.nonEmpty, "empty incremental-IVF checkpoint")
    val byCid = rows.groupBy(_.getLong(0))
    val dim = rows.iterator.map(_.getInt(1)).max + 1
    val cids = byCid.keys.toArray.sorted
    val nlist = cids.max.toInt + 1
    require(cids.head == 0L && cids.last == cids.length - 1L,
      s"damaged incremental-IVF checkpoint: cids not contiguous from 0 " +
        s"(${cids.length} cids, max ${cids.last} — seeds are vec_id < nlist)")
    require(rows.length == cids.length * dim,
      s"damaged incremental-IVF checkpoint: ${rows.length} rows for " +
        s"${cids.length} cids x $dim dims (expected ${cids.length * dim})")
    byCid.foreach { case (cid, rs) =>
      val is = rs.map(_.getInt(1)).sorted
      require(is.length == dim && is.head == 0 && is.last == dim - 1 &&
          is.distinct.length == dim,
        s"damaged incremental-IVF checkpoint: cid $cid covers " +
          s"${is.distinct.length}/$dim dims")
    }
    val seeds = cids.map { cid =>
      val seed = new Array[Double](dim)
      byCid(cid).foreach(r => seed(r.getInt(1)) = r.getDouble(4))
      (cid, seed)
    }
    val sums = Array.fill(nlist, dim)(0L)
    val counts = new Array[Long](nlist)
    rows.foreach { r =>
      sums(r.getLong(0).toInt)(r.getInt(1)) = r.getLong(2)
      if (r.getInt(1) == 0) counts(r.getLong(0).toInt) = r.getLong(3)
    }
    val st = new IncrementalIvfState(nlist, dim, seeds)
    st.install(sums, counts)
    st
  }
}
