package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Staging

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`), UDF-free.
  *
  * Three top-k paths, all sharing one exact-cosine re-rank tail
  * ([[annTopK]] dispatches between them):
  *  - bruteForceTopK: exact — broadcast the (small) query set against
  *    the corpus; one scan, corpus never shuffled.
  *  - ivfTopK: inverted-file ANN — k-means cells, map-side assignment,
  *    search only the nProbe nearest cells per query.
  *  - lshTopK: banded random-hyperplane ANN — candidates are the union
  *    of per-band sign-bucket collisions (multi-probe by banding), so
  *    recall is tunable via (bands, planesPerBand) exactly like the
  *    verified q42 near-dup generator. Round 2's single-band variant
  *    had recall 0.03 — unusable; the banded form pins ~0.9+ (q53).
  *
  * Every path ends in the partial [[graft.functions.TopKByScore]]
  * aggregate: only k (score, id) pairs per partition per query reach
  * the final exchange — never a row_number window over all candidates.
  */
object Similarity {

  /** Elementwise-double dot product of two array<double> columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Cast array<float> to array<double> for numerically-stable math. */
  def asDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** Shared exact re-rank tail: `scored` has (query_id, neighbor_id,
    * sim); keep the k best per query via the partial top-k aggregate
    * (ties: score desc, neighbor_id asc — identical across all paths
    * and the DuckDB oracles). Shuffle volume is k rows per partition
    * per query, regardless of candidate count.
    */
  private[ext] def rerankTopK(scored: DataFrame, k: Int): DataFrame = {
    val gf = graft.functions.GraftFunctions
    val spark = scored.sparkSession
    scored.groupBy("query_id")
      .agg(gf.topKByScore(spark, col("sim"), col("neighbor_id"), k).as("hits"))
      .select(col("query_id"), posexplode(col("hits")).as(Seq("pos", "hit")))
      .select(col("query_id"), col("hit.id").as("neighbor_id"),
              round(col("hit.score"), 6).as("cosine_sim"),
              (col("pos") + 1).as("rnk"))
  }

  /** Unified ANN entry point: "brute" (exact), "ivf", "lsh", or
    * "ivf_int8" (IVF cells scored over int8 codes, exact float
    * re-rank — the 4x-scan-bandwidth path, [[IvfIndex.searchQuantized]]).
    * All share [[rerankTopK]]; the methods differ only in candidate
    * generation. */
  def annTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              method: String = "ivf"): DataFrame = method match {
    case "brute" => bruteForceTopK(corpus, queries, idCol, vecCol, k)
    case "ivf"   => ivfTopK(corpus, queries, idCol, vecCol, k)
    case "lsh"   => lshTopK(corpus, queries, idCol, vecCol, k)
    case "ivf_int8" =>
      IvfIndex.build(corpus, idCol, vecCol)
        .searchQuantized(queries, corpus, idCol, vecCol, k, nProbe = 3)
    case other => throw new IllegalArgumentException(
      s"annTopK method must be brute|ivf|lsh|ivf_int8, got: $other")
  }

  /** Exact cosine top-k: for each query vector (small set, broadcast),
    * the k nearest corpus vectors by cosine similarity.
    * Determinism: ties broken by neighbor id.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val gf = graft.functions.GraftFunctions
    val spark = corpus.sparkSession
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("c_vec"))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("q_vec"))
    rerankTopK(
      c.crossJoin(broadcast(q))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("sim", gf.cosineSimilarity(spark, col("c_vec"), col("q_vec")))
        .select("query_id", "neighbor_id", "sim"),
      k)
  }

  /** Hard-negative mining for contrastive/retrieval training: for
    * each anchor (query) vector, the k MOST-similar corpus vectors
    * carrying a DIFFERENT label — the negatives at the decision
    * boundary, where uniform sampling
    * ([[Sampling.negativeSamples]]) returns mostly easy negatives
    * that contribute nothing to the loss. Same broadcast-anchors
    * scale shape as [[bruteForceTopK]]; for corpora too big for one
    * scan per anchor batch, generate candidates with the ANN paths
    * first and apply the same label filter before [[rerankTopK]].
    */
  /** Metadata-FILTERED vector search — the vector-db workload where
    * every query carries a predicate ("nearest docs in MY tenant /
    * language / label"): top-k cosine among corpus vectors whose
    * `labelCol` EQUALS the query's (pre-filtering — the filter cuts
    * the candidate set BEFORE ranking, so low-selectivity labels
    * never starve recall the way post-filtering a fixed-k ANN result
    * does). Same broadcast-anchors scale shape as
    * [[bruteForceTopK]]; at corpus scale, run the label filter
    * against the ANN candidate stream first and rerank
    * ([[hardNegatives]]' note — these two are the equal/not-equal
    * faces of the same plan). */
  def filteredTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, labelCol: String, k: Int): DataFrame = {
    val gf = graft.functions.GraftFunctions
    val spark = corpus.sparkSession
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("__cl"), asDouble(col(vecCol)).as("c_vec"))
    val q = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("__ql"), asDouble(col(vecCol)).as("q_vec"))
    rerankTopK(
      c.crossJoin(broadcast(q))
        .filter(col("__cl") === col("__ql") &&
          col("neighbor_id") =!= col("query_id"))
        .withColumn("sim",
          gf.cosineSimilarity(spark, col("c_vec"), col("q_vec")))
        .select("query_id", "neighbor_id", "sim"),
      k)
  }

  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame = {
    val gf = graft.functions.GraftFunctions
    val spark = corpus.sparkSession
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("__cl"), asDouble(col(vecCol)).as("c_vec"))
    val q = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("__ql"), asDouble(col(vecCol)).as("q_vec"))
    rerankTopK(
      c.crossJoin(broadcast(q))
        .filter(col("__cl") =!= col("__ql"))
        .withColumn("sim",
          gf.cosineSimilarity(spark, col("c_vec"), col("q_vec")))
        .select("query_id", "neighbor_id", "sim"),
      k)
  }

  /** Sign-bucket key: one bit per hyperplane from the sign of
    * dot(vec, plane_j) — the native fused
    * [[graft.functions.HyperplaneBucket]] expression. */
  def withLshBucket(df: DataFrame, vecCol: String, planes: Int,
                    out: String = "bucket", seed: Long = 42L): DataFrame =
    df.withColumn(out,
      graft.functions.GraftFunctions.hyperplaneBucket(
        df.sparkSession, col(vecCol), planes, seed))

  /** K-means (Lloyd) centroids for IVF, then `sweeps` refinement
    * iterations. Each sweep is one corpus scan: map-side
    * [[graft.functions.NearestCentroids]] assignment (centroids ride
    * in as a literal — no centroid join, no corpus shuffle) and a
    * [[graft.functions.VectorSum]] partial aggregate that moves ONE
    * dims-length buffer per partition per cell through the exchange.
    * Empty cells keep their previous centroid.
    *
    * `seedStrategy` picks the deterministic seed set:
    *  - "first": the `nCentroids` lowest-id vectors — the pinned
    *    driver configuration (q43/q53/q63 recall constants are facts
    *    of THESE seeds on the sf0.01 data, where the sub-10 query ids
    *    are among the seeds and anchor their neighborhoods' cells).
    *    Degenerate on id-CLUSTERED corpora, where adjacent ids are
    *    adjacent vectors and every seed lands in one cluster.
    *  - "hash": the first `nCentroids` in [[Sampling.sampleHash]]
    *    content-keyed order — an id-uncorrelated deterministic
    *    uniform sample. Fixes id-order bias at the same cost (an
    *    orderBy-limit over (hash, id)), but a uniform sample still
    *    puts two seeds in one cluster with ~1-k!/k^k probability.
    *  - "spread": deterministic farthest-point traversal (the
    *    k-means++ max-min rule, hash-first start): each next seed is
    *    the corpus vector MINIMIZING its best cosine to the seeds so
    *    far (ties toward the lower id). One scan per seed; for
    *    well-separated clusters the traversal provably visits every
    *    cluster before revisiting one — ExtSpec's clustered-corpus
    *    case pins balanced cells where both "first" AND "hash" leave
    *    a merged-cluster cell.
    *
    *    Measured trade-off on the driver's NEAR-RANDOM sf0.01
    *    embeddings: unbiased seeds cut nProbe=3/16 recall to ~0.43
    *    (a data property — directionally uniform vectors spread any
    *    query's true neighbors across unrelated cells; no seeding
    *    fixes that), so the pinned queries keep "first".
    *
    * Determinism: both seed orders and the assignment are
    * deterministic; the mean is rounded to 9 decimals so ulp-level
    * float-accumulation-order differences across partition schedules
    * cannot leak into the returned matrix (ExtSpec pins two
    * independent runs equal).
    */
  def ivfCentroids(e: DataFrame, idCol: String, vecCol: String,
                   nCentroids: Int, sweeps: Int,
                   seedStrategy: String = "first"): Seq[Seq[Double]] = {
    val spark = e.sparkSession
    val gf = graft.functions.GraftFunctions
    def round9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_EVEN).toDouble
    val ids = e.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    def firstBy(order: Column*): Seq[Seq[Double]] =
      ids.orderBy(order: _*).limit(nCentroids)
        .collect().toSeq.map(_.getSeq[Double](1))
    var cents: Seq[Seq[Double]] = seedStrategy match {
      case "first" => firstBy(col("id"))
      case "hash"  => firstBy(Sampling.sampleHash(col("id"), "ivf-seed"), col("id"))
      case "spread" =>
        // farthest-point: one scan per seed; NaN sims (zero vectors)
        // sort last under asc, so degenerate rows are never picked
        // while any finite-similarity vector remains
        var chosen = firstBy(Sampling.sampleHash(col("id"), "ivf-seed"), col("id")).take(1)
        while (chosen.size < nCentroids) {
          val bestSim = chosen
            .map(c => gf.cosineSimilarity(spark, col("v"), typedLit(c)))
            .reduce((a, b) => greatest(a, b))
          val next = ids.orderBy(bestSim.asc, col("id")).limit(1)
            .collect().toSeq.map(_.getSeq[Double](1))
          chosen = chosen ++ next
        }
        chosen
      case other => throw new IllegalArgumentException(
        s"seedStrategy must be first|hash|spread, got: $other")
    }
    for (_ <- 0 until sweeps) {
      val sums = e
        .withColumn("cell",
          gf.nearestCentroids(spark, col(vecCol), typedLit(cents), 1)(0))
        .groupBy("cell")
        .agg(gf.vectorSum(spark, col(vecCol)).as("vs"))
        .select(col("cell"), col("vs.sum").as("s"), col("vs.n").as("n"))
        .collect()
      val byCell = sums.map(r =>
        r.getInt(0) -> ((r.getSeq[Double](1), r.getLong(2)))).toMap
      cents = cents.zipWithIndex.map { case (old, i) =>
        byCell.get(i) match {
          case Some((s, n)) if n > 0 => s.map(x => round9(x / n))
          case _ => old
        }
      }
    }
    cents
  }

  /** IVF (inverted-file) ANN: partition the corpus into `nCentroids`
    * k-means Voronoi cells ([[ivfCentroids]] — seeded on lowest-id
    * vectors, `kmeansSweeps` Lloyd refinements), then search only the
    * `nProbe` cells nearest each query, re-ranking exactly.
    *
    * Scale shape: the centroid matrix lives on the driver (it does in
    * any IVF build) and rides into the plan as a literal, so cell
    * assignment is a MAP-SIDE fold ([[graft.functions.NearestCentroids]])
    * — no crossJoin with the centroid table, no per-vector row_number
    * window, zero corpus shuffle. The query side broadcasts, and the
    * final top-k is the partial [[graft.functions.TopKByScore]]
    * aggregate, so only k rows per partition per query reach the one
    * remaining exchange. Each query touches ~corpus/nCentroids*nProbe
    * candidates — the structure that keeps ANN sublinear at 10^9+
    * vectors. (At production scale the centroid build is a one-off
    * index-build step; here it runs inline, sweeps x one scan.)
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nCentroids: Int = 16, nProbe: Int = 3,
              kmeansSweeps: Int = 2,
              seedStrategy: String = "first"): DataFrame = {
    val spark = corpus.sparkSession
    val gf = graft.functions.GraftFunctions
    val e = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("c_vec"))
    val centsLit = typedLit(
      ivfCentroids(e, "neighbor_id", "c_vec", nCentroids, kmeansSweeps, seedStrategy))
    val c = e.withColumn("cell", gf.nearestCentroids(spark, col("c_vec"), centsLit, 1)(0))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("q_vec"))
      .withColumn("cell", explode(gf.nearestCentroids(spark, col("q_vec"), centsLit, nProbe)))
    rerankTopK(
      c.join(broadcast(q), "cell")
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("sim", gf.cosineSimilarity(spark, col("c_vec"), col("q_vec")))
        .select("query_id", "neighbor_id", "sim"),
      k)
  }

  /** Exact near-duplicate pairs (cosine >= threshold) through a banded
    * random-hyperplane candidate generator: `bands` independent bands
    * of `planesPerBand` sign bits (one fused [[withLshBucket]] call
    * computes all bands' bits); a pair is a candidate iff it collides
    * in at least one band, and every candidate is verified with the
    * exact cosine — the q31 MinHash pattern applied to embedding
    * space. Shuffle volume is O(n·bands) band keys plus the verified
    * candidates, never the O(n^2) crossJoin. Recall is a deterministic
    * property of the fixed hash-derived planes: a true pair at angle θ
    * is missed with probability (1-(1-θ/π)^P)^B — ~6e-4 at cos 0.5
    * with the default P=3, B=21 — and the driver oracle checks the
    * output against the exact pair set at test scale.
    *
    * The staged embedding frame is registered with [[Staging]]; the
    * query harness releases it after the consuming action (round 2
    * leaked it for the session lifetime).
    *
    * SKEW GUARD (`maxBandBucket`, default off): candidates per band
    * value grow QUADRATICALLY in its occupancy, so one degenerate
    * bucket — mass-duplicated boilerplate embeddings, the zero-vector
    * sign pattern — can dominate the whole job at corpus scale (the
    * q65 stop-shingle lesson in embedding space). With a cap, band
    * values held by more than `maxBandBucket` vectors are dropped
    * BEFORE the self-join, bounding any bucket's fan-out. The trade
    * is explicit: a true pair is then found only via its
    * non-degenerate bands — dense-region pairs usually collide in
    * several — so the capped path is approximate; the default keeps
    * the exact oracle-checked semantics.
    */
  def lshNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, bands: Int = 21,
                      planesPerBand: Int = 3,
                      maxBandBucket: Long = Long.MaxValue): DataFrame = {
    require(bands >= 1 && planesPerBand >= 1 && bands * planesPerBand <= 63,
      "bands*planesPerBand must fit in a long's sign-free bits")
    require(maxBandBucket >= 1, "maxBandBucket must be >= 1")
    val e = Staging.stage(
      df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("vec")))
    val sig = withLshBucket(e, "vec", bands * planesPerBand, "sig")
    val mask = (1L << planesPerBand) - 1L
    // Bands unrolled statically (bands is a plan-time constant).
    val bandVals = array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        shiftright(col("sig"), b * planesPerBand).bitwiseAND(lit(mask)).as("bval"))): _*)
    val banded0 = sig.select(col("id"), explode(bandVals).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bval").as("bval"))
    val banded =
      if (maxBandBucket == Long.MaxValue) banded0
      else {
        // occupancy per band value: tiny aggregate (<= bands * 2^P
        // distinct keys at the default config), broadcast back
        val occ = banded0.groupBy("band", "bval")
          .agg(count(lit(1)).as("__occ"))
          .filter(col("__occ") <= maxBandBucket)
          .select("band", "bval")
        banded0.join(broadcast(occ), Seq("band", "bval"))
      }
    // The band self-join's OUTPUT explodes ~|bucket| x per input row
    // while its INPUT is a few narrow longs per row — AQE sizes the
    // exchange from input bytes, so it coalesced the join down to 1-2
    // partitions and the entire pair blowup + cosine verify ran
    // serially (measured: one 4.1 s single-task job at sf0.1). A
    // USER-specified repartition on the join key pins the exchange at
    // the session's shuffle parallelism (AQE may not resize it) —
    // same shuffle that ENSURE_REQUIREMENTS inserted anyway, and both
    // self-join sides share it through ReuseExchange. The exploding-
    // join hazard is scale-independent (guide §3.3): at 100 TB this
    // exchange is large enough that AQE would keep it wide, so the
    // pin only removes the small-input serialization cliff.
    val nCand = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val bandedR = banded.repartition(nCand, col("band"), col("bval"))
    val cand = bandedR.select(col("id").as("id_a"), col("band"), col("bval"))
      .join(bandedR.select(col("id").as("id_b"), col("band"), col("bval")),
            Seq("band", "bval"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val va = e.select(col("id").as("id_a"), col("vec").as("va"))
    val vb = e.select(col("id").as("id_b"), col("vec").as("vb"))
    cand.join(va, "id_a").join(vb, "id_b")
      .withColumn("sim", graft.functions.GraftFunctions.cosineSimilarity(
        df.sparkSession, col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("cosine_sim"))
  }

  /** Cross-lingual / TRANSFORMED-pair near-duplicates (r16 verdict
    * item 7): translated, paraphrased or re-encoded copies share no
    * shingles, so every text-level dedup engine (MinHash/SimHash/
    * PPJoin) is blind to them — but a multilingual embedding puts a
    * document and its translation nearly parallel, and a translation
    * preserves LENGTH up to a bounded ratio. Candidates come from the
    * [[lshNearDupPairs]] banded hyperplane blocking; each candidate
    * is then pruned by the two METADATA blocks — `lang_a != lang_b`
    * (same-language near-dups are [[lshNearDupPairs]]'/SemDeDup's
    * job; this operator mines the cross-lingual complement) and
    * `max(len) <= maxLenRatio * min(len)` (a 5-word snippet is never
    * a translation of a 5-page document, whatever the cosine says) —
    * BEFORE any vector is fetched, so exact verification pays only
    * for pairs that survive all three blocks.
    *
    * Scale shape: signatures and bands are map-side over the staged
    * (id, vec, lang, len) frame; the candidate join carries
    * (id, band, bval) triples; the metadata prune joins the
    * VECTOR-FREE meta frame twice; only surviving pairs join vectors
    * for the exact cosine. Recall dial: miss probability for a pair
    * at angle θ is (1-(1-θ/π)^P)^(B*sigFamilies) — `sigFamilies`
    * INDEPENDENT hyperplane families (seed-salted) multiply the
    * effective band count past the 63-bit single-signature cap,
    * which matters here because translation-pair thresholds sit LOWER
    * than same-language near-dup thresholds (0.4 vs 0.5+: at 0.4 one
    * 21-band family misses ~2e-3 of true pairs; two families ~5e-6).
    *
    * Returns (id_a, id_b, lang_a, lang_b, cosine_sim) with
    * id_a < id_b, sim rounded to 6dp. */
  def crossLingualNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                               langCol: String, lenCol: String,
                               threshold: Double, maxLenRatio: Double,
                               bands: Int = 21, planesPerBand: Int = 3,
                               sigFamilies: Int = 2): DataFrame = {
    require(bands >= 1 && planesPerBand >= 1 && bands * planesPerBand <= 63,
      "bands*planesPerBand must fit in a long's sign-free bits")
    require(maxLenRatio >= 1.0, "maxLenRatio must be >= 1")
    require(sigFamilies >= 1, "need at least one signature family")
    val e = Staging.stage(
      df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("vec"),
                col(langCol).cast("string").as("lang"),
                col(lenCol).cast("long").as("len")))
    val mask = (1L << planesPerBand) - 1L
    // one signature column per independent plane family (seed-salted;
    // family 0 = the pinned default planes), all computed in the same
    // map-side pass; band ids offset per family so buckets never mix
    val sig = (0 until sigFamilies).foldLeft(
        e.select(col("id"), col("vec"))) { (d, s) =>
      withLshBucket(d, "vec", bands * planesPerBand, s"sig$s", seed = 42L + s)
    }
    val bandVals = array((for {
      s <- 0 until sigFamilies; b <- 0 until bands
    } yield struct(lit(s * bands + b).as("band"),
        shiftright(col(s"sig$s"), b * planesPerBand)
          .bitwiseAND(lit(mask)).as("bval"))): _*)
    val banded = sig.select(col("id"), explode(bandVals).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bval").as("bval"))
    // pin the exploding band self-join's exchange — see
    // [[lshNearDupPairs]] (AQE coalesced it to 1-2 partitions from
    // its small INPUT bytes and serialized the pair blowup)
    val nCand = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val bandedR = banded.repartition(nCand, col("band"), col("bval"))
    val cand = bandedR.select(col("id").as("id_a"), col("band"), col("bval"))
      .join(bandedR.select(col("id").as("id_b"), col("band"), col("bval")),
            Seq("band", "bval"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // metadata blocks FIRST — vector-free prune
    val ma = e.select(col("id").as("id_a"), col("lang").as("lang_a"),
                      col("len").as("len_a"))
    val mb = e.select(col("id").as("id_b"), col("lang").as("lang_b"),
                      col("len").as("len_b"))
    val pruned = cand.join(ma, "id_a").join(mb, "id_b")
      .filter(col("lang_a") =!= col("lang_b"))
      .filter(greatest(col("len_a"), col("len_b")).cast("double") <=
        lit(maxLenRatio) * least(col("len_a"), col("len_b")).cast("double"))
    val va = e.select(col("id").as("id_a"), col("vec").as("va"))
    val vb = e.select(col("id").as("id_b"), col("vec").as("vb"))
    pruned.join(va, "id_a").join(vb, "id_b")
      .withColumn("sim", graft.functions.GraftFunctions.cosineSimilarity(
        df.sparkSession, col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("lang_a"), col("lang_b"),
              round(col("sim"), 6).as("cosine_sim"))
  }

  /** Banded multi-probe LSH ANN top-k: the q42 candidate generator
    * applied to search — a corpus vector is a candidate for a query
    * iff they collide in AT LEAST ONE of `bands` bands of
    * `planesPerBand` sign bits, then candidates re-rank exactly
    * through the shared [[rerankTopK]] tail.
    *
    * Round 2's version used a single `planes`-bit bucket (candidates =
    * corpus/2^planes, recall 0.03 at the q53 pin — unusable) and a
    * row_number window. This form tunes recall with (B, P) like any
    * banded LSH: miss probability for a neighbor at angle θ is
    * (1-(1-θ/π)^P)^B.
    *
    * Plan shape: the corpus's banded signatures are computed map-side
    * and broadcast-joined against the (small) query side's — the
    * corpus is never shuffled with its vectors. The cosine is scored
    * on the collision rows and duplicates from multi-band collisions
    * collapse in the partial (query_id, neighbor_id) max-aggregate
    * BEFORE the exchange, so shuffle rows are 24-byte deduped
    * candidate triples, not vectors. (The cosine is recomputed per
    * colliding band — CPU traded to keep vectors out of the shuffle.)
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              bands: Int = 20, planesPerBand: Int = 3): DataFrame = {
    require(bands >= 1 && planesPerBand >= 1 && bands * planesPerBand <= 63,
      "bands*planesPerBand must fit in a long's sign-free bits")
    val gf = graft.functions.GraftFunctions
    val spark = corpus.sparkSession
    val mask = (1L << planesPerBand) - 1L
    def banded(df: DataFrame, idAs: String, vecAs: String): DataFrame = {
      val sig = withLshBucket(df, vecAs, bands * planesPerBand, "sig")
      val bandVals = array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * planesPerBand).bitwiseAND(lit(mask)).as("bval"))): _*)
      sig.select(col(idAs), col(vecAs), explode(bandVals).as("bb"))
        .select(col(idAs), col(vecAs), col("bb.band").as("band"), col("bb.bval").as("bval"))
    }
    val c = banded(
      corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("c_vec")),
      "neighbor_id", "c_vec")
    val q = banded(
      queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("q_vec")),
      "query_id", "q_vec")
    rerankTopK(
      c.join(broadcast(q), Seq("band", "bval"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("sim", gf.cosineSimilarity(spark, col("c_vec"), col("q_vec")))
        // Collapse multi-band duplicates map-side: partial hash agg on
        // (query, neighbor) runs before the exchange.
        .groupBy("query_id", "neighbor_id").agg(max("sim").as("sim")),
      k)
  }

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): embedding-space near-duplicates — pairs with
    * cosine >= threshold — are one semantic unit even when their
    * surface text shares no n-grams (translations, paraphrases,
    * templated rewrites), and near-duplication is not transitive, so
    * the dedup unit is a connected component of the pair graph, not a
    * pair. Returns the input plus `component`: the lowest member id
    * of the row's semantic cluster (its own id for rows in no pair);
    * `filter(col(idCol) === col("component"))` is then exactly "keep
    * one representative per semantic cluster".
    *
    * Every stage is the already-scale-shaped machinery: pair
    * generation is banded-hyperplane [[lshNearDupPairs]] (shuffle
    * O(n·bands) band keys + verified collisions, never the O(n²)
    * cross join), clustering is checkpointed pointer-jumping
    * [[Dedup.connectedComponents]] (O(log diameter) constant-plan
    * sweeps), and the label join-back broadcasts because only
    * dup-cluster members carry labels. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, bands: Int = 21,
                    planesPerBand: Int = 3,
                    maxBandBucket: Long = Long.MaxValue): DataFrame =
    graft.ext.Dedup.withDupComponent(df, idCol,
      lshNearDupPairs(df, idCol, vecCol, threshold, bands, planesPerBand,
        maxBandBucket))

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    * 1998): from each query's top-`candK` exact candidates, greedily
    * pick `k` maximizing `λ·sim(q,c) − (1−λ)·max over selected s of
    * sim(c,s)` — the diversity-aware top-k that keeps a retrieval (or
    * few-shot-selection) result from being k copies of the same
    * near-duplicate. Choose λ with an exactly-representable
    * complement (0.75, 0.5…) so `1−λ` is the same double everywhere.
    *
    * Shape: candidate generation is [[bruteForceTopK]] (swap in
    * [[annTopK]] upstream at scale); candidate-pair sims are a
    * candK²-per-query self-join of the STAGED candidate set — never
    * corpus-pairs. The greedy loop is k−1 driver-built plan steps
    * (anti-join remaining, max-penalty against selected, pick argmax
    * per query via a window over ≤ candK rows per query); each
    * selected frame is eagerly checkpointed because step t+1 fans it
    * out twice — truncation keeps every step's plan constant-size
    * instead of doubling per step. All
    * comparisons run on 6dp-ROUNDED sims (the q34-pinned cross-engine
    * surface), so selection is engine-reproducible; `mmr` is rounded
    * only on output.
    */
  def mmrRerank(corpus: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String,
                k: Int = 5, candK: Int = 20,
                lambda: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && candK >= k, "need candK >= k >= 1")
    val gf = graft.functions.GraftFunctions
    val spark = corpus.sparkSession
    val lam = lit(lambda)
    val oneMinus = lit(1.0) - lam
    val cands = graft.ops.Staging.stage(
      bruteForceTopK(corpus, queries, idCol, vecCol, candK)
        .select(col("query_id"), col("neighbor_id"),
                col("cosine_sim").as("sim"), col("rnk")))
    val vecs = corpus.select(col(idCol).as("__cid"),
                             asDouble(col(vecCol)).as("__cv"))
    val withVec = cands.join(vecs, col("neighbor_id") === col("__cid"))
    val a = withVec.select(col("query_id"), col("neighbor_id").as("ca"),
                           col("__cv").as("__va"))
    val b = withVec.select(col("query_id").as("__qb"),
                           col("neighbor_id").as("cb"), col("__cv").as("__vb"))
    val pairs = graft.ops.Staging.stage(
      a.join(b, a("query_id") === b("__qb") && col("ca") =!= col("cb"))
        .select(col("query_id"), col("ca"), col("cb"),
                round(gf.cosineSimilarity(spark, col("__va"), col("__vb")), 6)
                  .as("psim")))
    // Each step reads `selected` twice (anti-join + penalty join), so
    // without truncation the analyzed plan DOUBLES per step — an
    // eager localCheckpoint keeps every step's
    // plan constant-size; the superseded checkpoint's blocks are
    // freed as soon as its successor is materialized.
    var selected = graft.ops.Staging.stageCheckpoint(
      cands.filter(col("rnk") === 1)
        .select(col("query_id"), col("neighbor_id").as("id"),
                (lam * col("sim")).as("mmr"), lit(1).as("step"))
        .localCheckpoint(true))
    for (t <- 2 to k) {
      val sel = selected
      val remaining = cands.join(
        sel.select(col("query_id"), col("id").as("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_anti")
      val scored = remaining
        .join(pairs.select(col("query_id"), col("ca").as("neighbor_id"),
                           col("cb"), col("psim")),
              Seq("query_id", "neighbor_id"))
        .join(sel.select(col("query_id"), col("id").as("cb")),
              Seq("query_id", "cb"))
        .groupBy("query_id", "neighbor_id", "sim")
        .agg(max("psim").as("pen"))
      val pick = scored
        .withColumn("mmr", lam * col("sim") - oneMinus * col("pen"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy("query_id")
            .orderBy(col("mmr").desc, col("neighbor_id"))))
        .filter(col("__rn") === 1)
        .select(col("query_id"), col("neighbor_id").as("id"),
                col("mmr"), lit(t).as("step"))
      selected = graft.ops.Staging.stageCheckpoint(
        sel.unionByName(pick).localCheckpoint(true))
      graft.ops.Staging.dropCheckpoint(sel)
    }
    selected.select(col("query_id"), col("step"),
                    col("id").as("picked_id"), round(col("mmr"), 6).as("mmr"))
  }
}
