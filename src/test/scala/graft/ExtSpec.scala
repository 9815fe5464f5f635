package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{AsOf, Dedup, Similarity, TextStats}

class ExtSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- as-of join ------------------------------------------------
  test("asof joinBackward: greatest right time <= left time, inclusive") {
    val left = Seq((1L, 5L), (1L, 7L), (1L, 10L), (2L, 1L))
      .toDF("k", "t").withColumn("t", timestamp_seconds($"t"))
    val right = Seq((1L, 4L, 40.0), (1L, 7L, 70.0), (2L, 3L, 30.0))
      .toDF("rk", "rt", "p").withColumn("rt", timestamp_seconds($"rt"))
    val out = AsOf.joinBackward(left, right, "k", "rk", "t", "rt", Seq("p"))
      .orderBy("k", "t").collect()
    assert(out(0).getAs[Double]("p") == 40.0)  // t=5 -> rt=4
    assert(out(1).getAs[Double]("p") == 70.0)  // t=7 -> rt=7 (inclusive)
    assert(out(2).getAs[Double]("p") == 70.0)  // t=10 -> rt=7
    assert(out(3).isNullAt(out(3).fieldIndex("p"))) // t=1 < all right
    // forward: smallest right time >= left time, inclusive
    val fwd = AsOf.joinForward(left, right, "k", "rk", "t", "rt", Seq("p"))
      .orderBy("k", "t").collect()
    assert(fwd(0).getAs[Double]("p") == 70.0)  // t=5 -> rt=7
    assert(fwd(1).getAs[Double]("p") == 70.0)  // t=7 -> rt=7 (inclusive)
    assert(fwd(2).isNullAt(fwd(2).fieldIndex("p"))) // t=10 > all right
    assert(fwd(3).getAs[Double]("p") == 30.0)  // k=2 t=1 -> rt=3
  }

  // ---- dedup -----------------------------------------------------
  private val docs = Seq(
    (0L, "a b c d e f g h i j"),
    (1L, "a b c d e f g h i k"),   // near-dup of 0 (differs in last token)
    (2L, "x y z w v u t s r q"),
    (3L, "m n o p q r s t u v"),
  ).toDF("doc_id", "text")

  test("exactDupGroups finds identical texts") {
    val withDup = docs.union(Seq((9L, "a b c d e f g h i j")).toDF("doc_id", "text"))
    val groups = Dedup.exactDupGroups(withDup, "doc_id", "text")
    assert(groups.filter($"n_copies" === 2).head().getAs[Long]("representative_id") == 0L)
  }

  test("withShingles emits distinct k-grams; short docs get empty array") {
    val sh = Dedup.withShingles(Seq((1L, "a b c d"), (2L, "a b")).toDF("id", "text"), "text")
    val byId = sh.collect().map(r => r.getLong(0) -> r.getSeq[String](2)).toMap
    assert(byId(1L) == Seq("a b c", "b c d"))
    assert(byId(2L).isEmpty)
  }

  test("minHashNearDups finds the planted near-dup pair and nothing else") {
    val pairs = Dedup.minHashNearDups(docs, "doc_id", "text", threshold = 0.5)
      .collect()
    assert(pairs.length == 1)
    assert(pairs(0).getLong(0) == 0L && pairs(0).getLong(1) == 1L)
    // jaccard of 8-shingle sets sharing 7: 7/9
    assert(math.abs(pairs(0).getAs[Double]("jaccard") - 7.0 / 9.0) < 1e-6)
  }

  test("editVerifiedNearDups gates the jaccard pair on edit distance") {
    // doc0/doc1 differ in the final character: levenshtein 1
    val kept = Dedup.editVerifiedNearDups(docs, "doc_id", "text",
      threshold = 0.5, maxEdits = 1).collect()
    assert(kept.length == 1)
    assert(kept(0).getLong(0) == 0L && kept(0).getLong(1) == 1L)
    assert(kept(0).getAs[Long]("edit_dist") == 1L)
    // tightening the budget below the true distance drops the pair
    assert(Dedup.editVerifiedNearDups(docs, "doc_id", "text",
      threshold = 0.5, maxEdits = 0).count() == 0L)
  }

  test("funnel steps require strict ordering of earliest completions") {
    val events = Seq(
      (1L, "view", 1L), (1L, "click", 2L), (1L, "buy", 3L), // full path
      (2L, "click", 4L), (2L, "view", 5L),                  // click BEFORE view
      (3L, "view", 6L),                                     // stops at step 0
      (4L, "view", 7L), (4L, "click", 7L),                  // tie is not strictly after
      (5L, "view", 8L), (5L, "click", 9L), (5L, "buy", 8L)  // buy before click
    ).toDF("u", "et", "t").withColumn("t", timestamp_seconds($"t"))
    val out = graft.ext.Funnel.steps(events, "u", "et", "t",
        Seq("view", "click", "buy"))
      .orderBy("step_idx").collect()
    assert(out.map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((0, "view", 5L), (1, "click", 2L), (2, "buy", 1L)))
  }

  test("simhash: near-identical docs get close signatures, deterministic") {
    val sh = Dedup.withSimHash(docs, "text").collect()
      .map(r => r.getLong(0) -> r.getAs[String]("simhash")).toMap
    assert(sh.values.forall(_.length == 32))
    def hamming(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(hamming(sh(0L), sh(1L)) < hamming(sh(0L), sh(2L)))
    // determinism across evaluations
    val again = Dedup.withSimHash(docs, "text").collect()
      .map(r => r.getLong(0) -> r.getAs[String]("simhash")).toMap
    assert(sh == again)
  }

  // ---- similarity ------------------------------------------------
  test("bruteForceTopK: hand-computed cosine ordering") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(-1.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0),
        "vec_id", "embedding", 3)
      .orderBy("rnk").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L, 2L, 3L))
    assert(math.abs(out(0).getAs[Double]("cosine_sim") - 0.9 / math.sqrt(0.82)) < 1e-6)
    assert(math.abs(out(1).getAs[Double]("cosine_sim")) < 1e-9)
    assert(math.abs(out(2).getAs[Double]("cosine_sim") + 1.0) < 1e-9)
  }

  test("lshTopK (banded) recalls >=0.9 of brute force with exact sims") {
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter($"vec_id" < 3)
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Similarity.lshTopK(emb, q, "vec_id", "embedding", 3)
      .collect()
    assert(lsh.nonEmpty)
    // every LSH hit's similarity must equal the exact cosine (re-rank is exact)
    val bruteSims = brute.map { case (a, b, s) => (a, b) -> s }.toMap
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      if (bruteSims.contains(key))
        assert(math.abs(r.getDouble(2) - bruteSims(key)) < 1e-9)
    }
    // the round-2 regression: a "working" ANN that misses nearly every
    // true neighbor. The banded generator must recall >= 0.9 here.
    val hits = lsh.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = hits.count(k => bruteSims.contains(k)).toDouble / brute.size
    assert(recall >= 0.9, s"banded LSH recall $recall < 0.9")
  }

  test("plan audit: lshTopK has no window, no cartesian, vectors stay out of the shuffle") {
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val df = Similarity.lshTopK(emb, emb.filter($"vec_id" < 3),
      "vec_id", "embedding", 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"banded LSH must not window-rank:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"banded LSH must not cross-join:\n$plan")
    // two hash exchanges: (query,neighbor) candidate dedup + final top-k;
    // both carry (long, long, double) triples, never embedding arrays
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 2, s"expected 2 hash exchanges, got $exchanges:\n$plan")
  }

  test("ivfCentroids: deterministic across runs, refines toward cell means") {
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val e = emb.select($"vec_id".as("id"), Similarity.asDouble($"embedding").as("v"))
    val a = Similarity.ivfCentroids(e, "id", "v", 8, sweeps = 2)
    val b = Similarity.ivfCentroids(e, "id", "v", 8, sweeps = 2)
    assert(a == b, "two identical k-means runs must return identical centroids")
    assert(a.size == 8 && a.forall(_.size == 64))
    // a sweep must actually move the seeds (lowest-id vectors)
    val seeds = Similarity.ivfCentroids(e, "id", "v", 8, sweeps = 0)
    assert(a != seeds, "2 Lloyd sweeps should move the seed centroids")
  }

  test("VectorSum equals the posexplode+groupBy formulation") {
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val gf = graft.functions.GraftFunctions
    val viaAgg = emb
      .select($"label", Similarity.asDouble($"embedding").as("v"))
      .groupBy("label").agg(gf.vectorSum(spark, $"v").as("vs"))
      .select($"label", $"vs.n".as("n"),
              round(aggregate($"vs.sum", lit(0.0), (a, x) => a + x), 6).as("tot"))
      .collect().map(r => (r.get(0).toString, r.getLong(1), r.getDouble(2))).toSet
    val viaExplode = emb
      .select($"label", posexplode($"embedding").as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(sum($"x".cast("double")).as("s"), count(lit(1)).as("cnt"))
      .groupBy("label")
      .agg(round(sum($"s"), 6).as("tot"), max($"cnt").as("n"))
      .collect().map(r => (r.get(0).toString, r.getLong(2), r.getDouble(1))).toSet
    assert(viaAgg == viaExplode)
    // null and empty inputs: nulls skipped; n counts accumulated rows
    val withNull = Seq(
      (1L, Seq(1.0, 2.0)), (2L, null.asInstanceOf[Seq[Double]]), (3L, Seq(3.0, 4.0))
    ).toDF("id", "v")
      .agg(gf.vectorSum(spark, $"v").as("vs"))
      .select($"vs.sum", $"vs.n").head()
    assert(withNull.getSeq[Double](0) == Seq(4.0, 6.0) && withNull.getLong(1) == 2L)
    // ragged input: longest length wins deterministically (shorter and
    // empty rows skipped) regardless of row order or partitioning
    for (parts <- Seq(1, 3)) {
      val ragged = Seq(
        (1L, Seq.empty[Double]), (2L, Seq(9.0, 9.0)),
        (3L, Seq(1.0, 2.0, 3.0)), (4L, Seq(4.0, 5.0, 6.0))
      ).toDF("id", "v").repartition(parts)
        .agg(gf.vectorSum(spark, $"v").as("vs"))
        .select($"vs.sum", $"vs.n").head()
      assert(ragged.getSeq[Double](0) == Seq(5.0, 7.0, 9.0) && ragged.getLong(1) == 2L,
        s"longest-wins must hold at $parts partitions")
    }
  }

  test("plan audit: q36 centroid norm has no Generate/explode before the exchange") {
    val plan = graft.queries.VectorQueries.queries("q36_label_centroid_norm")(
        spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"),
      s"q36 must not posexplode n x dims rows:\n$plan")
  }

  test("DocPrep.prepare: dedup keeps lowest id, quality and language filters apply") {
    val docs = Seq(
      (5L, "the the the a a", "web"),   // stopword ratio 1.0 -> quality 0.025
      (2L, "dup text body", "cc"),      // duplicate content, higher id
      (1L, "dup text body", "web"),     // duplicate content, kept (lowest id)
      (3L, "scan hash part wins", "web") // marker-scored as zh
    ).toDF("doc_id", "text", "source")
    val profiles = Seq(
      "de" -> Seq("key", "merge", "batch"),
      "zh" -> Seq("scan", "hash", "part"))
    val stop = Seq("a", "the")
    def run(minQ: Double, langs: Seq[String]) =
      graft.ext.DocPrep.prepare(docs, "doc_id", "text", stop, profiles, minQ, langs)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // all-zero marker scores tie-break to the first-listed profile (de)
    assert(run(0.3, Seq("de", "zh")) == Set(1L, 3L)) // 5 fails quality; 2 deduped
    assert(run(0.3, Seq("zh")) == Set(3L))           // language filter
    assert(run(0.0, Seq("de", "zh")) == Set(1L, 3L, 5L)) // quality floor off
    // provenance columns present; exactly one shuffle in the operator
    val out = graft.ext.DocPrep.prepare(docs, "doc_id", "text", stop, profiles, 0.0, Seq("de", "zh"))
    assert(Seq("content_hash", "predicted_lang", "n_tokens", "quality")
      .forall(out.columns.contains))
    val plan = out.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"DocPrep should shuffle once (dedup window):\n$plan")
  }

  test("Sampling: deterministic across partitionings, fraction edges, stratification") {
    import graft.ext.Sampling
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val a = ids(Sampling.deterministicSample(docs, $"doc_id", 0.3, "s1"))
    val b = ids(Sampling.deterministicSample(docs.repartition(7), $"doc_id", 0.3, "s1"))
    assert(a == b, "sample membership must not depend on partitioning")
    val n = docs.count().toDouble
    assert(math.abs(a.size / n - 0.3) < 0.08, s"~30% expected, got ${a.size / n}")
    // different salts decorrelate; fraction edges
    val c = ids(Sampling.deterministicSample(docs, $"doc_id", 0.3, "s2"))
    assert(c != a)
    assert(ids(Sampling.deterministicSample(docs, $"doc_id", 0.0)).isEmpty)
    assert(ids(Sampling.deterministicSample(docs, $"doc_id", 1.0)).size == n.toLong)
    // stratified: per-stratum rates hold, and each stratum's kept set
    // is the global-sample subset for the same fraction+salt
    val strat = Sampling.stratifiedSample(docs, $"doc_id", $"source",
      Map("src0" -> 1.0, "src1" -> 0.0), defaultFraction = 0.3, salt = "s1")
    val bySrc = strat.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val src0Total = docs.filter($"source" === "src0").count()
    assert(bySrc("src0") == src0Total && !bySrc.contains("src1"))
    assert(ids(strat.filter($"source" =!= "src0")) ==
      a.intersect(ids(docs.filter($"source" =!= "src0" && $"source" =!= "src1"))))
  }

  test("int8 quantize/dequantize: hand cases, away-from-zero rounding, error bound") {
    val gf = graft.functions.GraftFunctions
    val out = Seq(
      (1L, Seq(1.0, -0.5, 0.0)),
      (2L, Seq(0.0, 0.0)),          // zero vector: scale 1.0, codes 0
      (3L, Seq.empty[Double])
    ).toDF("id", "v")
      .withColumn("q", gf.int8Quantize(spark, $"v"))
      .withColumn("r", gf.int8Dequantize(spark, $"q"))
      .orderBy("id").collect()
    val q1 = out(0).getStruct(2)
    assert(math.abs(q1.getDouble(0) - 1.0 / 127) < 1e-15)
    // -0.5/scale = -63.5 rounds AWAY from zero to -64 (DuckDB parity)
    assert(q1.getSeq[Byte](1) == Seq[Byte](127, -64, 0))
    assert(math.abs(out(0).getSeq[Double](3)(0) - 1.0) < 1e-15) // 127*scale == max
    assert(out(1).getStruct(2).getDouble(0) == 1.0 &&
           out(1).getSeq[Byte](1) == Seq[Byte](0, 0))
    assert(out(2).getSeq[Byte](1).isEmpty && out(2).getSeq[Double](3).isEmpty)
    // real embeddings: reconstruction error bounded by scale/2, codes in range
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(graft.ext.Similarity.asDouble($"embedding").as("v"))
      .withColumn("q", gf.int8Quantize(spark, $"v"))
      .withColumn("r", gf.int8Dequantize(spark, $"q"))
      .select(
        max(array_max(zip_with($"v", $"r", (a, b) => abs(a - b))) - $"q.scale" / 2).as("slack"),
        max(array_max(transform($"q.codes", c => abs(c)))).as("maxcode"))
      .head()
    assert(out.nonEmpty && emb.getAs[Double]("slack") <= 1e-12,
      "per-element reconstruction error must be <= scale/2")
    assert(emb.getAs[Byte]("maxcode") == 127)
  }

  test("exactJaccardPairs stop-shingle guard bounds candidates from a ubiquitous shingle") {
    // every doc opens with the same 3 tokens, so the shingle
    // "the common stop" sits in EVERY posting list; the rest of each
    // doc is unique filler except one true near-dup pair.
    val n = 20
    val base = (0 until n).map(i =>
      (i.toLong, s"the common stop f${i}a f${i}b f${i}c", "g"))
    val dups = Seq(
      (100L, "the common stop near dup text alpha beta gamma", "g"),
      (101L, "the common stop near dup text alpha beta gamma delta", "g"))
    val docs = (base ++ dups).toDF("doc_id", "text", "src")
    // default (no guard), threshold 0: every materialized candidate
    // pair survives, so the output COUNT is the join's fan-out —
    // the ubiquitous shingle alone drives it to all C(22,2) pairs
    val unguarded = graft.ext.Dedup.exactJaccardPairs(
      docs, "doc_id", "text", "src", k = 3, threshold = 0.0)
    assert(unguarded.count() == (n + 2).toLong * (n + 1) / 2,
      "without the guard the stop shingle materializes all pairs")
    // guard at 0.5: df("the common stop")=22 > 11 drops it; only the
    // true near-dup pair (sharing low-df shingles) materializes
    val guarded = graft.ext.Dedup.exactJaccardPairs(
      docs, "doc_id", "text", "src", k = 3, threshold = 0.0, maxDocFreq = 0.5)
    val rows = guarded.collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((100L, 101L)),
      "guarded join must materialize only low-df co-occurrences")
    // symmetric filtered Jaccard: doc100 keeps 6 of 7 shingles,
    // doc101 keeps 7 of 8 (both lose the stop shingle), inter=6 -> 6/7
    assert(math.abs(rows.head.getAs[Double]("jaccard") - 6.0 / 7.0) < 1e-6)
    // unfiltered score of the same pair for contrast: 7/8
    val exact = unguarded.filter($"id_a" === 100L).collect()
    assert(math.abs(exact.head.getAs[Double]("jaccard") - 7.0 / 8.0) < 1e-6)
    graft.ops.Staging.releaseAll()
  }

  test("redact applies patterns in order with word boundaries") {
    val df = Seq(
      (1L, "the key to the hash is spark"),
      (2L, "keyboard hashes sparkle"),       // no word-boundary matches
      (3L, "key")
    ).toDF("id", "text")
    val out = df.select($"id", graft.ext.TextStats.redact($"text",
        Seq("SECRET" -> "\\b(key|hash)\\b", "TOOL" -> "\\bspark\\b")).as("r"))
      .orderBy("id").collect().map(_.getString(1))
    assert(out(0) == "the [SECRET] to the [SECRET] is [TOOL]")
    assert(out(1) == "keyboard hashes sparkle")
    assert(out(2) == "[SECRET]")
  }

  test("packShards: deterministic cut points, soft budget, per-bucket lanes") {
    val docs = Seq(
      (0L, 3000), (2L, 3000), (4L, 3000),  // bucket 0: cum 3000,6000,9000
      (1L, 4900), (3L, 150), (5L, 5000)    // bucket 1: cum 4900,5050,10050
    ).toDF("doc_id", "n")
    val packed = graft.ext.Packing.packShards(docs, $"doc_id", $"n",
        tokenBudget = 5000L, bucket = pmod($"doc_id", lit(2)).cast("int"))
      .select("doc_id", "pack_bucket", "pack_shard")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    // bucket 0: starts at 0, 3000, 6000 -> shards 0, 0, 1
    assert(packed(0L) == (0, 0L) && packed(2L) == (0, 0L) && packed(4L) == (0, 1L))
    // bucket 1: starts at 0, 4900, 5050 -> shards 0, 0 (overflows softly), 1
    assert(packed(1L) == (1, 0L) && packed(3L) == (1, 0L) && packed(5L) == (1, 1L))
  }

  test("withRepetitionStats: hand-computed signals, filter gates") {
    val docs = Seq(
      (1L, "aa bb aa cc"),  // rep 1-3/4, dup-bigram 0, syms 0, mwl 8/4
      (2L, "x! x! x! x!"),  // rep 1-1/4, dup-bigram 1-1/3, syms 4/11, mwl 2
      (3L, "hello")         // 1 token: bigram guard -> 0, mwl 5
    ).toDF("doc_id", "text")
    val out = graft.ext.TextStats.withRepetitionStats(docs, "text")
      .orderBy("doc_id")
      .select("rep_ratio", "dup_bigram_ratio", "symbol_ratio", "mean_word_len")
      .collect()
    def near(a: Double, b: Double) = math.abs(a - b) < 1e-12
    assert(near(out(0).getDouble(0), 0.25) && near(out(0).getDouble(1), 0.0) &&
           near(out(0).getDouble(2), 0.0) && near(out(0).getDouble(3), 2.0))
    assert(near(out(1).getDouble(0), 0.75) && near(out(1).getDouble(1), 1.0 - 1.0 / 3) &&
           near(out(1).getDouble(2), 4.0 / 11) && near(out(1).getDouble(3), 2.0))
    assert(near(out(2).getDouble(0), 0.0) && near(out(2).getDouble(1), 0.0) &&
           near(out(2).getDouble(2), 0.0) && near(out(2).getDouble(3), 5.0))
    val kept = graft.ext.TextStats.repetitionFilter(docs, "text")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L), s"gates must drop the repetitive/symbol-noise doc, got $kept")
  }

  test("ngramContamination counts shared distinct trigrams, bench side broadcasts") {
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon"), // shares both bench trigrams
      (2L, "zz alpha beta gamma"),            // shares exactly 1 -> below minShared
      (3L, "nothing in common here")
    ).toDF("doc_id", "text")
    val out = graft.ext.Dedup.ngramContamination(train, bench,
      "doc_id", "text", k = 3, minShared = 2)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq((1L, 100L, 2L)))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"bench posting list must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"))
    // minShared=1 admits the single-shingle pair too
    val loose = graft.ext.Dedup.ngramContamination(train, bench,
        "doc_id", "text", k = 3, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(loose == Set((1L, 100L, 2L), (2L, 100L, 1L)))
  }

  test("withFold: total, deterministic, hash-threshold-exact fold assignment") {
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val folds = Seq("train" -> 0.7, "val" -> 0.2, "test" -> 0.1)
    val tagged = graft.ext.Sampling.withFold(docs, $"doc_id", folds, salt = "r5")
    // total: every row labeled, labels only from the fold set
    assert(tagged.filter($"fold".isNull).count() == 0)
    assert(tagged.select("fold").distinct().collect().map(_.getString(0)).toSet
      .subsetOf(Set("train", "val", "test")))
    assert(tagged.count() == docs.count())
    // exact threshold semantics: fold == manual CASE over the hash
    val manual = docs.withColumn("h", graft.ext.Sampling.sampleHash($"doc_id", "r5"))
      .withColumn("expected",
        when($"h" < "b3333333", "train").when($"h" < "e6666666", "val").otherwise("test"))
    val joined = tagged.select($"doc_id", $"fold")
      .join(manual.select($"doc_id", $"expected"), "doc_id")
    assert(joined.filter($"fold" =!= $"expected").count() == 0)
    // weights must sum to 1
    intercept[IllegalArgumentException] {
      graft.ext.Sampling.withFold(docs, $"doc_id", Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("prefixJaccardPairs: equals all-pairs; finds the J == t integral-boundary pair") {
    // the unsound-floor edge: |x| = 4 shingles, |y| = 2, intersect 2
    // => J = 2/4 = 0.5 == t with t*|x| = 2 INTEGRAL — a floor-based
    // prefix would drop the one shingle the overlap bound permits
    // outside it and miss this pair
    val docs = Seq(
      (1L, "a b c d e f"),          // shingles abc,bcd,cde,def
      (2L, "a b c d"),              // shingles abc,bcd  (J vs 1 = 0.5)
      (3L, "x y z w v u t s r q"),  // unrelated
      (4L, "x y z w v u t s r p")   // near-dup of 3
    ).toDF("doc_id", "text")
    val got = graft.ext.Dedup.prefixJaccardPairs(docs, "doc_id", "text",
        k = 3, threshold = 0.5)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // brute force over the same shingle sets
    val sh = graft.ext.Dedup.withShingles(docs, "text", 3)
      .select($"doc_id", $"shingles")
    val brute = sh.as("a").join(sh.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id",
        size(array_intersect($"a.shingles", $"b.shingles")).cast("long").as("i"),
        (size($"a.shingles") + size($"b.shingles") -
          size(array_intersect($"a.shingles", $"b.shingles"))).cast("long").as("u"))
      .filter($"i" * 1000000L >= $"u" * 500000L)
      .orderBy("a.doc_id", "b.doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == brute.toSeq)
    assert(got.map(t => (t._1, t._2)).toSet == Set((1L, 2L), (3L, 4L)),
      "must include the J == 0.5 integral boundary pair (1,2)")
    // r22: the size + positional pre-filters (PPJoin length/positional
    // bounds) must NEVER drop a qualifying pair — pinned against brute
    // force on a deterministic 40-doc fixture with heavy shingle
    // overlap, mixed lengths (the size filter's axis), shared
    // prefixes/suffixes (the positional filter's axis) and exact
    // J == t boundary pairs at two thresholds.
    val vocab = Array("red", "ox", "ate", "dry", "hay", "all", "day",
      "one", "two", "six", "ten", "old", "new", "big")
    val fuzz = (0 until 40).map { i =>
      val len = 4 + (i * 7) % 23
      val toks = (0 until len).map(j => vocab((i * 3 + j * j) % vocab.length))
      (i.toLong, toks.mkString(" "))
    }.toDF("doc_id", "text")
    for (t <- Seq(0.5, 0.25)) {
      val gotF = graft.ext.Dedup.prefixJaccardPairs(fuzz, "doc_id", "text",
          k = 3, threshold = t)
        .orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val shF = graft.ext.Dedup.withShingles(fuzz, "text", 3)
        .filter(size($"shingles") > 0).select($"doc_id", $"shingles")
      val tp = math.round(t * 1e6)
      val bruteF = shF.as("a").join(shF.as("b"), $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id", $"b.doc_id",
          size(array_intersect($"a.shingles", $"b.shingles")).cast("long").as("i"),
          (size($"a.shingles") + size($"b.shingles") -
            size(array_intersect($"a.shingles", $"b.shingles"))).cast("long").as("u"))
        .filter($"i" * 1000000L >= $"u" * tp)
        .orderBy("a.doc_id", "b.doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(bruteF.nonEmpty, s"fixture must produce qualifying pairs at t=$t")
      assert(gotF.toSeq == bruteF.toSeq,
        s"pre-filter dropped or altered a qualifying pair at t=$t")
    }
    // candidates come from the prefix-token join, never a product
    val plan = graft.ext.Dedup.prefixJaccardPairs(docs, "doc_id", "text",
      k = 3, threshold = 0.5).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"),
      s"prefix join must not plan an all-pairs product:\n$plan")
    // ppm-inexact thresholds are refused (the integer verify would lie)
    intercept[IllegalArgumentException] {
      graft.ext.Dedup.prefixJaccardPairs(docs, "doc_id", "text", 3, 1.0 / 3)
    }
  }

  test("winnowFingerprints: shared-run guarantee, density bound, valid positions") {
    // two docs sharing a run of >= w + k - 1 = 7 tokens MUST share a
    // selected fingerprint (the Schleimer guarantee); doc 3 is disjoint
    val shared = "alpha bravo charlie delta echo foxtrot golf"
    val docs = Seq(
      (1L, s"one two three $shared nine ten eleven twelve"),
      (2L, s"uno dos $shared tres cuatro cinco seis siete"),
      (3L, "red green blue cyan magenta yellow black white grey pink"))
      .toDF("doc_id", "text")
    val fps = graft.ext.TextStats.winnowFingerprints(
      docs, "doc_id", "text", k = 4, w = 4)
    val byDoc = fps.collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getString(2))).toSet).toMap
    assert((byDoc(1L).map(_._2) intersect byDoc(2L).map(_._2)).nonEmpty,
      "docs sharing a >= w+k-1 token run must share a fingerprint hash")
    assert((byDoc(3L).map(_._2) intersect
      (byDoc(1L).map(_._2) ++ byDoc(2L).map(_._2))).isEmpty,
      "disjoint doc must not collide")
    // every window of w gram positions selects something => at most
    // one fp per window-end but at least ceil(npos-w+1 / w)-ish; pin
    // the hard bounds: 1 <= fps <= windows, positions within range
    for ((id, set) <- byDoc) {
      val n = docs.filter($"doc_id" === id).head.getString(1)
        .split(" ").length
      val windows = n - 6
      assert(set.nonEmpty && set.size <= windows,
        s"doc $id: ${set.size} fps vs $windows windows")
      assert(set.forall { case (p, _) => p >= 1 && p <= n - 3 },
        s"doc $id: fingerprint position out of gram range")
    }
    // a doc shorter than k + w - 1 tokens has no full window -> no fps
    val short = graft.ext.TextStats.winnowFingerprints(
      Seq((9L, "a b c d e f")).toDF("doc_id", "text"), "doc_id", "text",
      k = 4, w = 4)
    assert(short.count() == 0)
  }

  test("gridRangeJoin: equals all-pairs, closed boundary, no cartesian in the plan") {
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pts = emb.select($"vec_id",
      element_at($"embedding", 1).cast("double").as("px"),
      element_at($"embedding", 2).cast("double").as("py"))
    val r = 0.02
    val grid = graft.ext.Spatial.gridRangeJoin(pts, "vec_id", "px", "py", r)
    val brute = pts.as("a").join(pts.as("b"), $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("id_a"), $"b.vec_id".as("id_b"),
        (($"a.px" - $"b.px") * ($"a.px" - $"b.px") +
         ($"a.py" - $"b.py") * ($"a.py" - $"b.py")).as("dist2"))
      .filter($"dist2" <= r * r)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
    val g = rows(grid)
    assert(g == rows(brute), "grid join must equal the all-pairs filter")
    assert(grid.count() == g.size, "no duplicate pairs")
    // the scale contract: candidates come from cell joins, never a
    // cartesian/broadcast-nested-loop product
    val plan = grid.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"),
      s"grid join must not plan an all-pairs product:\n$plan")
    // closed boundary across a cell edge: (0, 0) and (0.02, 0) sit in
    // different cells at exactly distance r — must be found
    val edge = Seq((1L, 0.0, 0.0), (2L, r, 0.0), (3L, 10.0, 10.0))
      .toDF("id", "x", "y")
    val er = graft.ext.Spatial.gridRangeJoin(edge, "id", "x", "y", r)
      .select("id_a", "id_b").collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(er.toSet == Set((1L, 2L)), "boundary pair at dist == r is in (closed)")
  }

  test("leakageSafeFolds: survives id/component input columns, rejects reserved outputs") {
    val folds = Seq("train" -> 0.8, "test" -> 0.2)
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    // input columns named id/component used to make the unqualified
    // post-join select AMBIGUOUS_REFERENCE (r16 advice) — the
    // component frame's columns are now renamed before the join
    val docs = Seq((1L, "x", 9L), (2L, "x", 8L), (3L, "y", 7L),
                   (4L, "y", 6L)).toDF("id", "text", "component")
    val out = graft.ext.Sampling.leakageSafeFolds(
      docs, "id", pairs, "a", "b", folds, salt = "r17")
    assert(out.columns.toSeq ==
      Seq("id", "text", "component", "cluster", "fold"))
    // the caller's component column rides through untouched
    assert(out.filter($"id" === 4L).select("component").head.getLong(0) == 6L)
    // cluster atomicity: 1,2,3 share one near-dup cluster => one fold
    assert(out.filter($"id".isin(1L, 2L, 3L))
      .select("fold").distinct().count() == 1)
    // reserved outputs refused, mirroring cutBoilerplate's contract
    for (bad <- Seq("cluster", "fold")) {
      intercept[IllegalArgumentException] {
        graft.ext.Sampling.leakageSafeFolds(
          docs.withColumn(bad, lit("x")), "id", pairs, "a", "b", folds)
      }
    }
  }

  test("connectedComponents: min-label propagation over chains, singleton default") {
    // chain 1-2-3-4-5 exercises multi-sweep propagation (min label
    // crosses one hop per sweep); {10,11} a separate 2-clique
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("id_a", "id_b")
    val cc = graft.ext.Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
                     10L -> 10L, 11L -> 10L))
    // docs 1..5, 10, 11 plus singleton 99 (no pair): own representative
    val docs = (Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 99L)).toDF("doc_id")
    val tagged = graft.ext.Dedup.withDupComponent(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tagged(99L) == 99L && tagged(5L) == 1L && tagged(11L) == 10L)
    // "keep one representative per cluster" filter keeps exactly 1,10,99
    val kept = graft.ext.Dedup.withDupComponent(docs, "doc_id", pairs)
      .filter($"doc_id" === $"component").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 10L, 99L))
    // ids are generic: string keys label by lexicographic min
    val strCc = graft.ext.Dedup.connectedComponents(
        Seq(("b", "c"), ("a", "b")).toDF("id_a", "id_b"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(strCc == Map("a" -> "a", "b" -> "a", "c" -> "a"))
    // an unconverged run must throw, never return a split cluster
    // (threshold 0 forces the distributed sweeps — the driver path
    // has no iteration budget to exhaust)
    val err = intercept[IllegalStateException] {
      graft.ext.Dedup.connectedComponents(pairs, maxIter = 1,
        smallGraphThreshold = 0)
    }
    assert(err.getMessage.contains("converge"))
    graft.ops.Staging.releaseAll()
  }

  test("nearDupAgainstCorpus: corpus matches drop, intra-delta pairs both survive") {
    val corpus = Seq(
      (100L, "a b c d e f g h i j"),
      (101L, "x y z w v u t s r q")).toDF("doc_id", "text")
    val corpusSigs = Dedup.withSimHash64(corpus, "text").select("simhash")
    val delta = Seq(
      (1L, "a b c d e f g h i j"),   // exact text of corpus 100 -> hamming 0, drops
      (2L, "m n o p q r s t u v"),   // novel, survives
      (3L, "k l m n o p q r s t"),   // novel, survives
      (4L, "m n o p q r s t u v")    // intra-delta dup of 2: BOTH survive (out of scope)
    ).toDF("doc_id", "text")
    val out = Dedup.nearDupAgainstCorpus(delta, "doc_id", "text", corpusSigs)
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L, 4L))
    // survivors carry their signature (the state rows to append)
    assert(out.columns.contains("simhash"))
    val sigs = out.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("simhash")).toMap
    assert(sigs(2L).length == 64 && sigs(2L) == sigs(4L))
    // the shuffle-join fallback path returns the identical set
    val shuffled = Dedup.nearDupAgainstCorpus(delta, "doc_id", "text",
        corpusSigs, broadcastDelta = false)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(shuffled == kept)
    // the 32-bit signature path (2 bands of 16 bits at maxHamming=1)
    // applies the same drop/survive semantics
    val corpusSigs32 = Dedup.withSimHash(corpus, "text").select("simhash")
    val kept32 = Dedup.nearDupAgainstCorpus(delta, "doc_id", "text",
        corpusSigs32, maxHamming = 1, bits = 32)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept32.contains(2L) && kept32.contains(3L) && !kept32.contains(1L))
    // plan: the broadcast path probes the corpus map-side — no
    // band-keyed exchange anywhere; the fallback shuffles by band
    val bplan = Dedup.nearDupAgainstCorpus(delta, "doc_id", "text", corpusSigs)
      .queryExecution.executedPlan.toString
    assert(bplan.contains("BroadcastHashJoin"))
    assert(!bplan.contains("hashpartitioning(band"),
      "broadcast path must not shuffle by band value")
    // (no band-shuffle assertion on the fallback path: at this size
    // the optimizer auto-broadcasts it anyway — the result equality
    // above is the fallback's contract)
    // appending the survivors' signatures makes a re-crawl of them drop
    val nextState = corpusSigs.union(out.select("simhash"))
    val redrop = Dedup.nearDupAgainstCorpus(
        delta.filter($"doc_id" =!= 1L), "doc_id", "text", nextState)
      .count()
    assert(redrop == 0L, "re-crawled survivors must drop against the appended state")
    graft.ops.Staging.releaseAll()
  }

  test("mixtureResample: clamped domains keep all, absent domains drop, budgets nest") {
    val docs = ((0L until 40L).map(i => (i, "web")) ++
                (100L until 104L).map(i => (i, "code")) ++
                (200L until 210L).map(i => (i, "junk"))).toDF("id", "dom")
    val shares = Map("web" -> 0.5, "code" -> 0.5)
    // budget 8: web frac = 8*0.5/40 = 0.1, code = 4/4 = 1.0 (clamped:
    // 0.5 share of budget 8 wants 4 rows and code has exactly 4)
    val kept = graft.ext.Sampling.mixtureResample(
        docs, $"id", $"dom", shares, totalBudget = 8L, salt = "t")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(kept.count(_._2 == "code") == 4, "clamped domain must keep every row")
    assert(!kept.exists(_._2 == "junk"), "unlisted domain must be dropped")
    // membership is the documented pure function of md5(id || salt)
    val webKept = kept.filter(_._2 == "web").map(_._1).toSet
    val expectWeb = (0L until 40L).filter { i =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${i}t".getBytes("UTF-8")).map("%02x".format(_)).mkString
      md.substring(0, 8) < f"${math.round(0.1 * 4294967296.0)}%08x"
    }.toSet
    assert(webKept == expectWeb)
    // shrinking the budget yields a SUBSET (nested subsamples)
    val smaller = graft.ext.Sampling.mixtureResample(
        docs, $"id", $"dom", shares, totalBudget = 4L, salt = "t")
      .filter($"dom" === "web").collect().map(_.getLong(0)).toSet
    assert(smaller.subsetOf(webKept))
    intercept[IllegalArgumentException] {
      graft.ext.Sampling.mixtureResample(docs, $"id", $"dom",
        Map("web" -> 0.5), totalBudget = 8L)
    }
  }

  test("chunkDocuments: overlap windows, short docs, boundary arithmetic") {
    // 10 tokens a..j, maxTokens=4, overlap=1 -> step 3:
    // chunks [a b c d][d e f g][g h i j] = 3 chunks; 7 tokens -> [a b c d][d e f g];
    // 4 tokens -> exactly one chunk; 1 token -> one chunk
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g"),
      (3L, "a b c d"),
      (4L, "x")).toDF("doc_id", "text")
    val out = graft.ext.Chunking.chunkDocuments(docs, $"text", maxTokens = 4, overlap = 1)
      .select("doc_id", "chunk_id", "chunk_text", "chunk_tokens")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
      .sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq(
      (1L, 0, "a b c d", 4), (1L, 1, "d e f g", 4), (1L, 2, "g h i j", 4),
      (2L, 0, "a b c d", 4), (2L, 1, "d e f g", 4),
      (3L, 0, "a b c d", 4),
      (4L, 0, "x", 1)))
    // a doc whose tail starts mid-window gets a short last chunk
    val tail = graft.ext.Chunking.chunkDocuments(
        Seq((9L, "a b c d e")).toDF("doc_id", "text"), $"text", 4, 1)
      .select("chunk_text", "chunk_tokens").orderBy("chunk_text").collect()
    assert(tail.map(_.getString(0)).toSeq == Seq("a b c d", "d e"))
    assert(tail.map(_.getInt(1)).toSeq == Seq(4, 2))
    intercept[IllegalArgumentException] {
      graft.ext.Chunking.chunkDocuments(docs, $"text", 4, 4)
    }
  }

  test("plan audit: chunking is map-side fan-out — one exchange, no window, no UDF") {
    val plan = graft.queries.TextQueries.queries("q74_doc_chunking")(
        spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"chunking must not window:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"chunking must use builtin expressions only:\n$plan")
    // two hash exchanges, both from the AGGREGATE (count-distinct's
    // standard (source, doc_id) partial phase + the final per-source
    // phase); the explode fan-out itself contributes none — chunk
    // rows are born and consumed map-side
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2,
      s"expected the 2 count-distinct agg exchanges only:\n$plan")
    assert(plan.contains("Generate explode"), s"chunk fan-out must be a Generate:\n$plan")
  }

  test("mixtureResample weighted: fractions divide by token sums, zero-weight domain drops") {
    val docs = Seq(
      (1L, "a", 100L), (2L, "a", 100L), (3L, "a", 100L), (4L, "a", 100L),
      (5L, "b", 50L), (6L, "b", 50L),
      (7L, "z", 0L)).toDF("id", "dom", "w")
    // budget 200 tokens: a frac = 200*0.5/400 = 0.25, b = 100/100 = 1.0 (clamp)
    val kept = graft.ext.Sampling.mixtureResample(
        docs, $"id", $"dom", Map("a" -> 0.5, "b" -> 0.5), 200L, "tw", $"w")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(kept.count(_._2 == "b") == 2, "clamped domain keeps all")
    assert(!kept.exists(_._2 == "z"), "domain absent from shares drops")
    val aKept = kept.filter(_._2 == "a").map(_._1).toSet
    val expectA = (1L to 4L).filter { i =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${i}tw".getBytes("UTF-8")).map("%02x".format(_)).mkString
      md.substring(0, 8) < f"${math.round(0.25 * 4294967296.0)}%08x"
    }.toSet
    assert(aKept == expectA)
  }

  test("withDupSpanStats: positions counted per occurrence, short docs ratio 0") {
    // doc 1 repeats "x y" twice -> with k=2 its grams are
    // [x y][y x][x y] (3 positions, "x y" occurs twice => 2 dup
    // positions); doc 2 shares no gram with anyone; doc 3 contains
    // "a b" which also appears in doc 4 -> cross-doc duplication;
    // doc 5 is shorter than k (0 positions, ratio 0)
    val docs = Seq(
      (1L, "x y x y"),
      (2L, "p q r"),
      (3L, "a b c"),
      (4L, "z a b"),
      (5L, "w")).toDF("doc_id", "text")
    val out = TextStats.withDupSpanStats(docs, "doc_id", "text", k = 2)
      .select("doc_id", "n_positions", "n_dup_positions", "dup_span_ratio")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((3L, 2L, 2.0 / 3.0)))
    assert(out(2L) == ((2L, 0L, 0.0)))
    assert(out(3L) == ((2L, 1L, 0.5)))   // "a b" dup; "b c" unique
    assert(out(4L) == ((2L, 1L, 0.5)))   // "z a" unique; "a b" dup
    assert(out(5L) == ((0L, 0L, 0.0)))
    // the all-positions shingle form keeps every occurrence in order
    val grams = docs.filter($"doc_id" === 1L)
      .select(graft.functions.GraftFunctions.wordShinglesAll(spark, $"text", 2))
      .collect().head.getSeq[String](0)
    assert(grams == Seq("x y", "y x", "x y"))
    graft.ops.Staging.releaseAll()
  }

  test("withDupSpanStats: hashed gram key ≡ exact string key on real documents") {
    // the 100 TB path shuffles xxhash64(gram), the oracle path the
    // string — identical results at test scale pins the equivalence
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    def run(hashed: Boolean) =
      TextStats.withDupSpanStats(docs, "doc_id", "text", k = 3, hashGramKey = hashed)
        .select("doc_id", "n_positions", "n_dup_positions")
        .orderBy("doc_id").collect().toSeq
    assert(run(true) == run(false))
    graft.ops.Staging.releaseAll()
  }

  test("cutDupSpans: first occurrence survives, spans merge, counts add up") {
    // k=2, minOcc=2. "a b" occurs at (1,0), (1,3) and (2,1):
    // (1,0) is the first occurrence -> kept; (1,3) and (2,1) are cut.
    // Doc 1 "a b x a b": cut start 3 covers tokens [3,4] -> "a b x",
    //   one span, 2 tokens removed.
    // Doc 2 "z a b": cut start 1 covers [1,2] -> "z", 1 span, 2 removed.
    // Doc 3 all-duplicate of doc 1's kept gram: "a b" at (3,0) cut ->
    //   covers [0,1] = whole doc -> text_cut "", 1 span, 2 removed.
    // Doc 4 short, untouched.
    val docs = Seq(
      (1L, "a b x a b"),
      (2L, "z a b"),
      (3L, "a b"),
      (4L, "q")).toDF("doc_id", "text")
    val out = TextStats.cutDupSpans(docs, "doc_id", "text", k = 2)
      .select("doc_id", "text_cut", "n_cut_spans", "n_tokens_removed")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L) == (("a b x", 1, 2)))
    assert(out(2L) == (("z", 1, 2)))
    assert(out(3L) == (("", 1, 2)))
    assert(out(4L) == (("q", 0, 0)))
    graft.ops.Staging.releaseAll()
  }

  test("cutDupSpans: adjacent and overlapping covers merge into one span") {
    // doc 10 = doc 11, so every position of doc 11 (the later id) is
    // cut: starts 0,1,2 with k=3 overlap into ONE span covering all 5
    // tokens. Rebuilt text is empty, not partially stitched.
    val docs = Seq(
      (10L, "a b c d e"),
      (11L, "a b c d e")).toDF("doc_id", "text")
    val out = TextStats.cutDupSpans(docs, "doc_id", "text", k = 3)
      .select("doc_id", "text_cut", "n_cut_spans", "n_tokens_removed")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(10L) == (("a b c d e", 0, 0)))
    assert(out(11L) == (("", 1, 5)))
    graft.ops.Staging.releaseAll()
  }

  test("cutDupSpans: hashed ≡ string key, token conservation on real docs") {
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    def run(hashed: Boolean) =
      TextStats.cutDupSpans(docs, "doc_id", "text", k = 5, hashGramKey = hashed)
        .select("doc_id", "text_cut", "n_cut_spans", "n_tokens_removed")
        .orderBy("doc_id").collect().toSeq
    val hashedRun = run(true)
    assert(hashedRun == run(false))
    // conservation: tokens removed + tokens surviving = original
    // tokens, per doc (rebuilding can't lose or invent tokens). NOTE:
    // re-running the stats on the cut corpus is NOT guaranteed to find
    // zero dups — splicing a span out makes the boundary tokens
    // adjacent, which can mint brand-new k-grams that collide with
    // kept ones; Lee et al. accept the same (one pass removes all
    // ORIGINAL duplicated spans, not spliced-in ones).
    val orig = docs.select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    hashedRun.foreach { r =>
      val id = r.getLong(0)
      val nOrig = orig(id).split(" ", -1).length
      val cutText = r.getString(1)
      val nKept = if (cutText.isEmpty) 0 else cutText.split(" ", -1).length
      val removed = r.getInt(3)
      assert(nKept + removed == nOrig || (cutText.isEmpty && removed == 0 && nOrig == 1),
        s"doc $id: kept $nKept + removed $removed != original $nOrig")
      if (removed > 0) assert(r.getInt(2) > 0, s"doc $id: removed tokens but 0 spans")
    }
    graft.ops.Staging.releaseAll()
  }

  test("dedupAgainstCorpus: corpus wins, intra-batch keeps lowest id, hashes returned") {
    val corpus = Seq("seen text").toDF("text")
      .select(md5($"text").as("content_hash"))
    val delta = Seq(
      (10L, "seen text"),   // already in corpus -> dropped
      (11L, "new text"),    // intra-batch dup, lowest id -> kept
      (12L, "new text"),    // intra-batch dup -> dropped
      (13L, "other new")    // unique -> kept
    ).toDF("doc_id", "text")
    val out = graft.ext.Dedup.dedupAgainstCorpus(delta, "doc_id", "text", corpus)
      .select("doc_id", "text", "content_hash").collect()
    assert(out.map(_.getLong(0)).sorted.toSeq == Seq(11L, 13L))
    // returned hashes are the md5 fingerprints to append to the state
    val hashes = out.map(r => r.getString(1) -> r.getString(2)).toMap
    assert(hashes("new text") ==
      java.security.MessageDigest.getInstance("MD5")
        .digest("new text".getBytes("UTF-8")).map("%02x".format(_)).mkString)
    // idempotence: running the delta against corpus + returned hashes drops everything
    val state = corpus.union(
      delta.select(md5($"text").as("content_hash")).filter($"content_hash".isin(hashes.values.toSeq: _*)))
    assert(graft.ext.Dedup.dedupAgainstCorpus(delta, "doc_id", "text", state).count() == 0)
  }

  test("dedupAgainstCorpus: bloom sidecar prefilters ahead of the anti join, same result") {
    // parquet-backed (a LocalRelation delta would let Catalyst
    // constant-fold the foldable-literal probe away at plan time)
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val corpus = docs.filter(pmod($"doc_id", lit(5)) =!= 0)
      .select(md5($"text").as("content_hash")).distinct()
    val delta = docs.filter(pmod($"doc_id", lit(5)) === 0)
      .select("doc_id", "text")
    val sidecar = graft.ext.Dedup.corpusHashBloom(corpus)
    assert(sidecar.nonEmpty)
    val plain = graft.ext.Dedup.dedupAgainstCorpus(delta, "doc_id", "text", corpus)
    val bloomed = graft.ext.Dedup.dedupAgainstCorpus(delta, "doc_id", "text",
      corpus, bloom = Some(sidecar))
    // no false negatives -> bit-identical result
    assert(bloomed.orderBy("doc_id").collect().toSeq ==
           plain.orderBy("doc_id").collect().toSeq)
    // the probe sits in the plan ahead of the anti join (prefilter +
    // bypass union), and the plain path has no probe
    val plan = bloomed.queryExecution.executedPlan.toString
    val probeAt = plan.indexOf("might_contain")
    val antiAt = plan.indexOf("LeftAnti")
    assert(probeAt >= 0, "bloom probe missing from plan")
    assert(antiAt >= 0 && plan.contains("Union"), "anti join / bypass union missing")
    assert(!plain.queryExecution.executedPlan.toString.contains("might_contain"))
  }

  test("dedupAgainstCorpus: null text drops explicitly, null state hash is inert") {
    // before round 9 a null-text row survived the anti join (null key
    // never matches) but silently vanished at the representative
    // equi-join; now the drop is an explicit, documented filter — and
    // a null in the corpus state must not swallow the whole delta the
    // way a SQL `NOT IN (… null …)` would
    val corpus = Seq(Some("seen text"), None).toDF("text")
      .select(md5($"text").as("content_hash"))  // contains a null hash
    val delta = Seq(
      (1L, Some("new text")),
      (2L, None),              // null body: no dedup identity -> dropped
      (3L, Some("seen text"))  // corpus copy -> dropped
    ).toDF("doc_id", "text")
    val out = graft.ext.Dedup.dedupAgainstCorpus(delta, "doc_id", "text", corpus)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(out == Seq(1L))
  }

  test("oracle token-count formulas carry the empty-text guard (q75 divergence)") {
    // TextStats.tokenCount('') is 0; the raw length-arithmetic is 1.
    // Every oracle token count must guard, or the first empty document
    // in testdata breaks the hash compare.
    val formula = "length(replace(text, ' ', '')) + 1"
    graft.queries.TextQueries.oracles.foreach { case (name, sql) =>
      sql.linesIterator.filter(_.contains(formula)).foreach { line =>
        assert(line.contains("CASE WHEN length(text) = 0 THEN 0"),
          s"$name has an unguarded token count: $line")
      }
    }
    // and the Spark side really returns 0 for empty text
    val z = Seq("", "a b", " ").toDF("text")
      .select(TextStats.tokenCount($"text")).collect().map(_.getInt(0)).toSeq
    assert(z == Seq(0, 2, 2))
  }

  test("semanticDedup: cosine clusters get one representative, singletons keep own id") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.1f, 0.0f, 0.0f)),   // near-dup of 1
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),    // orthogonal singleton
      (4L, Array(0.0f, 0.0f, 1.0f, 0.0f)),    // orthogonal singleton
      (5L, Array(0.0f, 0.0f, 0.98f, 0.15f))   // near-dup of 4
    ).toDF("vec_id", "embedding")
    val out = graft.ext.Similarity.semanticDedup(vecs, "vec_id", "embedding",
        threshold = 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(r.fieldIndex("component"))).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 4L))
    graft.ops.Staging.releaseAll()
  }

  test("connectedComponents: O(log diameter) sweeps on a worst-case chain") {
    // a 10k-node chain is the worst diameter per edge; pointer jumping
    // must converge in ~log2(d) sweeps, so a regression to plain label
    // propagation (O(d) sweeps — would need ~10000 here) fails fast.
    // maxIter=18 doubles as the assertion that no sweep budget blowup
    // sneaks by: the run throws, not just slows, if jumping breaks.
    val n = 10000
    val chain = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong))
      .toDF("id_a", "id_b")
    // threshold 0 forces the distributed sweeps (the adaptive gate
    // would hand a 10k-edge graph to the driver)
    val (cc, sweeps) =
      Dedup.connectedComponentsWithSweeps(chain, maxIter = 18,
        smallGraphThreshold = 0)
    assert(sweeps > 0, "distributed path must actually sweep")
    assert(sweeps <= 16, s"pointer jumping took $sweeps sweeps for diameter ${n - 1}")
    val labels = cc.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length == n && labels.forall(_._2 == 0L))
    graft.ops.Staging.releaseAll()
  }

  test("connectedComponents: every sweep budget either throws or returns union-find's labels") {
    // Threshold 0 forces the distributed sweeps. A budget that runs out
    // before a sweep changes nothing must throw; any budget past that
    // point must return the labels of the driver union-find path. The
    // first budget that returns is the sweep count the chain needs.
    for ((n, firstReturning) <- Seq(5 -> 2, 40 -> 5)) {
      val chain = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong))
        .toDF("id_a", "id_b")
      val expected = Dedup.connectedComponents(chain).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      var first = -1
      var maxIter = 1
      while ((first < 0 && maxIter <= 30) || maxIter <= first + 2) {
        try {
          val got = Dedup.connectedComponents(chain, maxIter = maxIter,
              smallGraphThreshold = 0)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          assert(got == expected, s"chain of $n, maxIter $maxIter: wrong labels")
          if (first < 0) first = maxIter
        } catch {
          case e: IllegalStateException =>
            assert(first < 0,
              s"chain of $n: maxIter $maxIter threw after $first returned: $e")
        }
        graft.ops.Staging.releaseAll()
        maxIter += 1
      }
      assert(first == firstReturning,
        s"chain of $n: first returning budget $first, expected $firstReturning")
    }
  }

  test("connectedComponents equals union-find on random graphs (seeded)") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val nodes = 60 + trial * 40
      // sparse random graph: ~0.8 edges/node leaves a mix of large
      // components, small cliques, and chains in one instance
      val edges = Seq.fill((nodes * 0.8).toInt)(
        (rnd.nextInt(nodes).toLong, rnd.nextInt(nodes).toLong))
        .filter { case (a, b) => a != b }
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(k => k -> find(k)).toMap
      // default threshold -> driver union-find path
      val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial (nodes=$nodes) diverged from union-find")
      // threshold 0 -> distributed sweeps; labels must be path-independent
      val dist = Dedup.connectedComponents(edges.toDF("id_a", "id_b"),
          smallGraphThreshold = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dist == expected, s"trial $trial distributed path diverged")
    }
    graft.ops.Staging.releaseAll()
  }

  test("connectedComponents equals a driver-side closure on real simhash pairs") {
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val pairs = graft.ext.Dedup.simHashNearDups(docs, "doc_id", "text",
      maxHamming = 3, bits = 64)
    val edgeList = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edgeList.nonEmpty)
    // reference: tiny union-find over the collected pairs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edgeList.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(k => k -> find(k)).toMap
    val got = graft.ext.Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    graft.ops.Staging.releaseAll()
  }

  test("simHashNearDups equals all-pairs hamming via pigeonhole banding, no cross join") {
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    // exact reference: hamming over the signature parsed as 32-bit
    // WORDS (a 64-bit conv() parse nulls out when bit 63 is set — the
    // exact trap the operator's per-word parse avoids)
    def allPairs(bits: Int) = {
      val sig = if (bits == 64) graft.ext.Dedup.withSimHash64(docs, "text")
                else graft.ext.Dedup.withSimHash(docs, "text")
      val words = (0 until bits / 32).map(w =>
        conv(substring($"simhash", w * 32 + 1, 32), 2, 10).cast("long").as(s"w$w"))
      val sh = sig.select($"doc_id" +: words: _*)
      val a = sh.select($"doc_id".as("id_a") +:
        (0 until bits / 32).map(w => col(s"w$w").as(s"wa$w")): _*)
      val b = sh.select($"doc_id".as("id_b") +:
        (0 until bits / 32).map(w => col(s"w$w").as(s"wb$w")): _*)
      val hamming = (0 until bits / 32)
        .map(w => bit_count(col(s"wa$w").bitwiseXOR(col(s"wb$w")))).reduce(_ + _)
      a.crossJoin(b).filter($"id_a" < $"id_b")
        .withColumn("hamming", hamming)
        .filter($"hamming" <= 3)
        .select("id_a", "id_b", "hamming")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).intValue)).toSet
    }
    for (bits <- Seq(32, 64)) {
      val exact = allPairs(bits)
      assert(exact.nonEmpty, s"fixture should contain $bits-bit simhash near-dups")
      val banded = graft.ext.Dedup.simHashNearDups(docs, "doc_id", "text",
        maxHamming = 3, bits = bits)
      assert(banded.collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).intValue)).toSet
        == exact, s"pigeonhole banding ($bits-bit) must reproduce the all-pairs result exactly")
      val plan = banded.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
        s"banded simhash join must not cross-join:\n$plan")
    }
  }

  test("IvfIndex: build/search equals ivfTopK; save/load prunes partitions") {
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter($"vec_id" < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val idx = graft.ext.IvfIndex.build(emb, "vec_id", "embedding",
      nCentroids = 8, kmeansSweeps = 2)
    val inMem = idx.search(q, "vec_id", "embedding", k = 3, nProbe = 3)
    val direct = Similarity.ivfTopK(emb, q, "vec_id", "embedding", k = 3,
      nCentroids = 8, nProbe = 3, kmeansSweeps = 2)
    assert(rows(inMem) == rows(direct),
      "index search must equal the inline ivfTopK plan")
    // save -> load -> search: identical results, and the probed-cell
    // filter must prune partition directories at the scan
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    idx.save(dir)
    val loaded = graft.ext.IvfIndex.load(spark, dir)
    assert(loaded.centroids == idx.centroids)
    val viaDisk = loaded.search(q, "vec_id", "embedding", k = 3, nProbe = 3)
    val plan = viaDisk.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"loaded-index search must prune cell partitions:\n$plan")
    assert(rows(viaDisk) == rows(inMem))
  }

  test("IvfIndex.searchFiltered: full probe ≡ exact filteredTopK; (label, cell) directories pruned") {
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter($"vec_id" < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val idx = graft.ext.IvfIndex.buildLabeled(emb, "vec_id", "embedding",
      "label", nCentroids = 8, kmeansSweeps = 2)
    // at exhaustive probes the cell routing is a no-op, so the
    // pre-filter semantics must reduce EXACTLY to the oracle-checked
    // filteredTopK (same candidates, same ties, same rounding)
    val full = idx.searchFiltered(q, "vec_id", "embedding", "label",
      k = 3, nProbe = 8)
    val exact = Similarity.filteredTopK(emb, q, "vec_id", "embedding",
      "label", k = 3)
    assert(rows(full) == rows(exact),
      "full-probe filtered search must equal exact filteredTopK")
    // saved labeled layout: partitioned by (label, cell), and a
    // filtered search prunes BOTH at the scan
    val dir = java.nio.file.Files.createTempDirectory("ivflab").toString
    idx.save(dir)
    val labelDirs = new java.io.File(s"$dir/corpus").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(labelDirs.nonEmpty && labelDirs.forall(_.startsWith("label=")),
      s"corpus must partition by label first, got: ${labelDirs.mkString(",")}")
    val loaded = graft.ext.IvfIndex.load(spark, dir)
    val pruned = loaded.searchFiltered(q, "vec_id", "embedding", "label",
      k = 3, nProbe = 3)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("label") &&
      plan.contains("cell"),
      s"filtered search must prune (label, cell) directories:\n$plan")
    // the loaded index searches identically to the in-memory one
    assert(rows(pruned) ==
      rows(idx.searchFiltered(q, "vec_id", "embedding", "label",
        k = 3, nProbe = 3)))
    // an unlabeled index refuses filtered search loudly
    intercept[IllegalArgumentException] {
      graft.ext.IvfIndex.build(emb, "vec_id", "embedding", nCentroids = 8,
        kmeansSweeps = 0).searchFiltered(q, "vec_id", "embedding", "label",
        k = 3, nProbe = 3)
    }
  }

  test("labeled IvfIndex lifecycle: append requires labels and lands in label dirs; compact keeps them") {
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val half1 = emb.filter(pmod($"vec_id", lit(2)) === 0)
    val half2 = emb.filter(pmod($"vec_id", lit(2)) =!= 0)
    val q = emb.filter($"vec_id" < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val dir = java.nio.file.Files.createTempDirectory("ivflapp").toString
    graft.ext.IvfIndex.buildLabeled(half1, "vec_id", "embedding", "label",
      nCentroids = 8, kmeansSweeps = 2).save(dir)
    // label-less append against a labeled layout must refuse loudly
    // (silently dropping the delta from the label directories would
    // make it invisible to every filtered search)
    intercept[IllegalArgumentException] {
      graft.ext.IvfIndex.append(spark, dir, half2, "vec_id", "embedding")
    }
    graft.ext.IvfIndex.append(spark, dir, half2, "vec_id", "embedding",
      labelCol = Some("label"))
    val appended = graft.ext.IvfIndex.load(spark, dir)
    // full corpus visible to filtered search at exhaustive probes ==
    // the exact pre-filtered scorer over everything
    assert(rows(appended.searchFiltered(q, "vec_id", "embedding", "label",
             k = 3, nProbe = 8)) ==
           rows(Similarity.filteredTopK(emb, q, "vec_id", "embedding",
             "label", k = 3)),
      "appended labeled index must cover the delta for filtered search")
    // compaction keeps the (label, cell) layout and the same corpus
    val dest = java.nio.file.Files.createTempDirectory("ivflcmp").toString
    graft.ext.IvfIndex.compact(spark, dir, dest,
      nCentroids = 8, kmeansSweeps = 2)
    val neu = graft.ext.IvfIndex.load(spark, dest)
    val labelDirs = new java.io.File(s"$dest/corpus").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(labelDirs.nonEmpty && labelDirs.forall(_.startsWith("label=")),
      s"compacted labeled index lost its label layout: ${labelDirs.mkString(",")}")
    assert(rows(neu.searchFiltered(q, "vec_id", "embedding", "label",
             k = 3, nProbe = 8)) ==
           rows(appended.searchFiltered(q, "vec_id", "embedding", "label",
             k = 3, nProbe = 8)))
  }

  test("QUANTIZED labeled IvfIndex: filtered int8 search ≡ filteredTopK at full probe; layout + lifecycle") {
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val half1 = emb.filter(pmod($"vec_id", lit(2)) === 0)
    val half2 = emb.filter(pmod($"vec_id", lit(2)) =!= 0)
    val q = emb.filter($"vec_id" < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val idx = graft.ext.IvfIndex.buildLabeled(emb, "vec_id", "embedding",
      "label", nCentroids = 8, kmeansSweeps = 2)
    // at exhaustive probes the cell routing is a no-op and the exact
    // re-rank decides — the int8 stage must reduce to filteredTopK
    // exactly (pre-filter semantics preserved through BOTH stages)
    val exact = Similarity.filteredTopK(emb, q, "vec_id", "embedding",
      "label", k = 3)
    assert(rows(idx.searchFilteredQuantized(q, emb, "vec_id", "embedding",
             "label", k = 3, nProbe = 8)) == rows(exact),
      "full-probe filtered int8 search must equal exact filteredTopK")
    // saved quantized labeled layout: (label, cell) directories, int8
    // codes only (no float vectors), and filtered search prunes BOTH
    val dir = java.nio.file.Files.createTempDirectory("ivflq").toString
    idx.saveQuantized(dir)
    val stored = spark.read.parquet(s"$dir/corpus")
    assert(stored.columns.toSet ==
      Set("neighbor_id", "scale", "codes", "label", "cell"),
      s"quantized labeled layout wrong: ${stored.columns.mkString(",")}")
    val labelDirs = new java.io.File(s"$dir/corpus").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(labelDirs.nonEmpty && labelDirs.forall(_.startsWith("label=")),
      s"quantized corpus must partition by label first: ${labelDirs.mkString(",")}")
    val loaded = graft.ext.IvfIndex.load(spark, dir)
    val pruned = loaded.searchFilteredQuantized(q, emb, "vec_id",
      "embedding", "label", k = 3, nProbe = 3)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("label") &&
      plan.contains("cell"),
      s"filtered int8 search must prune (label, cell) directories:\n$plan")
    assert(rows(pruned) == rows(idx.searchFilteredQuantized(q, emb,
      "vec_id", "embedding", "label", k = 3, nProbe = 3)),
      "loaded quantized index must search identically to the in-memory one")
    // layout guards stay loud in both directions
    intercept[IllegalArgumentException] { // quantized layout, float API
      loaded.searchFiltered(q, "vec_id", "embedding", "label",
        k = 3, nProbe = 3)
    }
    // append into the quantized labeled layout: label-less refuses;
    // labeled delta lands inside the label directories
    val dir2 = java.nio.file.Files.createTempDirectory("ivflqa").toString
    graft.ext.IvfIndex.buildLabeled(half1, "vec_id", "embedding", "label",
      nCentroids = 8, kmeansSweeps = 2).saveQuantized(dir2)
    intercept[IllegalArgumentException] {
      graft.ext.IvfIndex.append(spark, dir2, half2, "vec_id", "embedding")
    }
    graft.ext.IvfIndex.append(spark, dir2, half2, "vec_id", "embedding",
      labelCol = Some("label"))
    val appended = graft.ext.IvfIndex.load(spark, dir2)
    assert(rows(appended.searchFilteredQuantized(q, emb, "vec_id",
             "embedding", "label", k = 3, nProbe = 8)) == rows(exact),
      "appended quantized labeled index must cover the delta for filtered search")
    // compaction keeps the (label, cell) layout and never re-quantizes
    val dest = java.nio.file.Files.createTempDirectory("ivflqc").toString
    graft.ext.IvfIndex.compact(spark, dir2, dest,
      nCentroids = 8, kmeansSweeps = 2)
    val destLabelDirs = new java.io.File(s"$dest/corpus").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(destLabelDirs.nonEmpty && destLabelDirs.forall(_.startsWith("label=")),
      s"compacted quantized labeled index lost its label layout: ${destLabelDirs.mkString(",")}")
    def codes(p: String) = spark.read.parquet(s"$p/corpus")
      .select("neighbor_id", "scale", "codes").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getSeq[Byte](2)))).toMap
    assert(codes(dest) == codes(dir2),
      "compaction must never re-quantize stored codes (labeled layout)")
    assert(rows(graft.ext.IvfIndex.load(spark, dest)
             .searchFilteredQuantized(q, emb, "vec_id", "embedding",
               "label", k = 3, nProbe = 8)) == rows(exact))
  }

  test("IvfIndex.append: build(half)+append(half) ≡ build(full) at exhaustive probe; pruning intact") {
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val half1 = emb.filter(pmod($"vec_id", lit(2)) === 0)
    val half2 = emb.filter(pmod($"vec_id", lit(2)) =!= 0)
    val q = emb.filter($"vec_id" < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val dir = java.nio.file.Files.createTempDirectory("ivfapp").toString
    graft.ext.IvfIndex.build(half1, "vec_id", "embedding",
      nCentroids = 8, kmeansSweeps = 2).save(dir)
    graft.ext.IvfIndex.append(spark, dir, half2, "vec_id", "embedding")
    val appended = graft.ext.IvfIndex.load(spark, dir)
    // centroids stayed FIXED at the half1 build's
    assert(appended.centroids ==
      graft.ext.IvfIndex.build(half1, "vec_id", "embedding",
        nCentroids = 8, kmeansSweeps = 2).centroids)
    // at exhaustive probes ANY centroid set searches exactly, so the
    // appended index must match an index built over the full corpus
    val full = graft.ext.IvfIndex.build(emb, "vec_id", "embedding",
      nCentroids = 8, kmeansSweeps = 2)
    assert(rows(appended.search(q, "vec_id", "embedding", k = 3, nProbe = 8)) ==
           rows(full.search(q, "vec_id", "embedding", k = 3, nProbe = 8)),
      "append must cover the delta: exhaustive search == full rebuild")
    // partition pruning still holds on the appended layout
    val pruned = appended.search(q, "vec_id", "embedding", k = 3, nProbe = 3)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"appended-index search must still prune cell partitions:\n$plan")
    // quantized layout appends codes, not floats
    val qdir = java.nio.file.Files.createTempDirectory("ivfappq").toString
    graft.ext.IvfIndex.build(half1, "vec_id", "embedding",
      nCentroids = 8, kmeansSweeps = 2).saveQuantized(qdir)
    graft.ext.IvfIndex.append(spark, qdir, half2, "vec_id", "embedding")
    val savedQ = spark.read.parquet(s"$qdir/corpus")
    assert(savedQ.columns.toSet == Set("neighbor_id", "scale", "codes", "cell"))
    assert(savedQ.count() == emb.count())
    val qFull = graft.ext.IvfIndex.load(spark, qdir)
      .searchQuantized(q, emb, "vec_id", "embedding", k = 3, nProbe = 8)
    assert(rows(qFull) == rows(full.search(q, "vec_id", "embedding", k = 3, nProbe = 8)),
      "quantized append at full probe must match the float full rebuild")
  }

  test("IvfIndex.merge: merge(build(A), build(B)) ≡ rebuild at exhaustive probes; shard cells preserved") {
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val half1 = emb.filter(pmod($"vec_id", lit(2)) === 0)
    val half2 = emb.filter(pmod($"vec_id", lit(2)) =!= 0)
    val q = emb.filter($"vec_id" < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val a = java.nio.file.Files.createTempDirectory("ivfmrgA").toString
    val b = java.nio.file.Files.createTempDirectory("ivfmrgB").toString
    val m = java.nio.file.Files.createTempDirectory("ivfmrgM").toString
    graft.ext.IvfIndex.build(half1, "vec_id", "embedding",
      nCentroids = 8, kmeansSweeps = 2).save(a)
    graft.ext.IvfIndex.build(half2, "vec_id", "embedding",
      nCentroids = 8, kmeansSweeps = 2).save(b)
    graft.ext.IvfIndex.merge(spark, Seq(a, b), m)
    val merged = graft.ext.IvfIndex.load(spark, m)
    // centroid union in path order: A's 8 cells then B's 8, relabeled
    assert(merged.centroids.size == 16)
    assert(merged.centroids.take(8) == graft.ext.IvfIndex.build(half1,
      "vec_id", "embedding", nCentroids = 8, kmeansSweeps = 2).centroids)
    assert(merged.centroids.drop(8) == graft.ext.IvfIndex.build(half2,
      "vec_id", "embedding", nCentroids = 8, kmeansSweeps = 2).centroids)
    // every vector keeps its SHARD assignment: merge moved bytes,
    // never reassigned — A's (even ids) in cells 0-7, B's in 8-15
    assert(merged.assigned.select("neighbor_id", "cell").collect().forall(
      r => (r.getInt(1) < 8) == (r.getLong(0) % 2 == 0)))
    assert(merged.assigned.count() == emb.count())
    // at exhaustive probes the union index IS a rebuild
    val full = graft.ext.IvfIndex.build(emb, "vec_id", "embedding",
      nCentroids = 8, kmeansSweeps = 2)
    assert(rows(merged.search(q, "vec_id", "embedding", k = 3, nProbe = 16)) ==
           rows(full.search(q, "vec_id", "embedding", k = 3, nProbe = 8)),
      "exhaustive search over the merged index must equal the full rebuild")
    // partial probes still prune cell directories
    val plan = merged.search(q, "vec_id", "embedding", k = 3, nProbe = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"merged-index search must prune cell partitions:\n$plan")
    // quantized shards merge the same way and search exactly at full probe
    val aq = java.nio.file.Files.createTempDirectory("ivfmrgAq").toString
    val bq = java.nio.file.Files.createTempDirectory("ivfmrgBq").toString
    val mq = java.nio.file.Files.createTempDirectory("ivfmrgMq").toString
    graft.ext.IvfIndex.build(half1, "vec_id", "embedding",
      nCentroids = 8, kmeansSweeps = 2).saveQuantized(aq)
    graft.ext.IvfIndex.build(half2, "vec_id", "embedding",
      nCentroids = 8, kmeansSweeps = 2).saveQuantized(bq)
    graft.ext.IvfIndex.merge(spark, Seq(aq, bq), mq)
    assert(rows(graft.ext.IvfIndex.load(spark, mq)
        .searchQuantized(q, emb, "vec_id", "embedding", k = 3, nProbe = 16)) ==
      rows(full.search(q, "vec_id", "embedding", k = 3, nProbe = 8)),
      "merged quantized shards at full probe must match the float rebuild")
    // mixed layouts refused loudly
    val bad = java.nio.file.Files.createTempDirectory("ivfmrgBad").toString
    val ex = intercept[IllegalArgumentException] {
      graft.ext.IvfIndex.merge(spark, Seq(a, bq), bad)
    }
    assert(ex.getMessage.contains("layouts must agree"))
    // a rerun into a populated destination is refused, not duplicated
    // (the shard writes are mode=append — r19 review)
    val ex2 = intercept[IllegalArgumentException] {
      graft.ext.IvfIndex.merge(spark, Seq(a, b), m)
    }
    assert(ex2.getMessage.contains("already holds a corpus"))
    // a repeated shard path is refused, not silently double-appended
    val bad2 = java.nio.file.Files.createTempDirectory("ivfmrgDup").toString
    val ex3 = intercept[IllegalArgumentException] {
      graft.ext.IvfIndex.merge(spark, Seq(a, a), bad2)
    }
    assert(ex3.getMessage.contains("duplicate shard paths"))
  }

  test("IvfIndex.delete: tombstones drop at load; compact folds physically; merge carries them") {
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter($"vec_id" < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val victims = emb.filter(pmod($"vec_id", lit(5)) === 1)
    val survivors = emb.filter(pmod($"vec_id", lit(5)) =!= 1)
    // the serve contract: exhaustive probes over the post-delete index
    // == brute-force top-k over the SURVIVING corpus, exactly
    val exact = rows(Similarity.bruteForceTopK(survivors, q,
      "vec_id", "embedding", k = 3))
    val dir = java.nio.file.Files.createTempDirectory("ivfdel").toString
    graft.ext.IvfIndex.build(emb, "vec_id", "embedding",
      nCentroids = 8, kmeansSweeps = 2).save(dir)
    graft.ext.IvfIndex.delete(spark, dir, victims.select("vec_id"), "vec_id")
    val logical = graft.ext.IvfIndex.load(spark, dir)
      .search(q, "vec_id", "embedding", k = 3, nProbe = 8)
    assert(rows(logical) == exact,
      "the very next load must serve without the deleted vectors")
    // the delete wrote ONLY the tombstone set — corpus files untouched
    assert(spark.read.parquet(s"$dir/corpus").count() == emb.count())
    // cell partition pruning survives the tombstone anti-join
    val plan = graft.ext.IvfIndex.load(spark, dir)
      .search(q, "vec_id", "embedding", k = 3, nProbe = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"tombstoned-index search must still prune cell partitions:\n$plan")
    // idempotent: re-deleting the same ids changes nothing
    graft.ext.IvfIndex.delete(spark, dir, victims.select("vec_id"), "vec_id")
    assert(rows(graft.ext.IvfIndex.load(spark, dir)
      .search(q, "vec_id", "embedding", k = 3, nProbe = 8)) == exact)
    // append under a tombstoned id stays invisible until a compact —
    // the documented tombstone trade
    graft.ext.IvfIndex.append(spark, dir, victims.limit(1),
      "vec_id", "embedding")
    assert(rows(graft.ext.IvfIndex.load(spark, dir)
      .search(q, "vec_id", "embedding", k = 3, nProbe = 8)) == exact)
    // compact folds the tombstones physically: the fresh generation
    // holds survivors only and carries NO tombstone set
    val dest = java.nio.file.Files.createTempDirectory("ivfdelc").toString
    graft.ext.IvfIndex.compact(spark, dir, dest,
      nCentroids = 8, kmeansSweeps = 2)
    assert(!new java.io.File(s"$dest/tombstones").exists,
      "a compacted generation must not carry tombstones forward")
    assert(spark.read.parquet(s"$dest/corpus").count() == survivors.count())
    assert(rows(graft.ext.IvfIndex.load(spark, dest)
      .search(q, "vec_id", "embedding", k = 3, nProbe = 8)) == exact)
    // the quantized layout serves the same delete path (re-rank from
    // the FULL float corpus — candidates already exclude the deleted)
    val qdir = java.nio.file.Files.createTempDirectory("ivfdelq").toString
    graft.ext.IvfIndex.build(emb, "vec_id", "embedding",
      nCentroids = 8, kmeansSweeps = 2).saveQuantized(qdir)
    graft.ext.IvfIndex.delete(spark, qdir, victims.select("vec_id"), "vec_id")
    assert(rows(graft.ext.IvfIndex.load(spark, qdir)
      .searchQuantized(q, emb, "vec_id", "embedding", k = 3, nProbe = 8))
      == exact)
    // merge carries each shard's live tombstones into the union
    val a = java.nio.file.Files.createTempDirectory("ivfdelA").toString
    val b = java.nio.file.Files.createTempDirectory("ivfdelB").toString
    val m = java.nio.file.Files.createTempDirectory("ivfdelM").toString
    graft.ext.IvfIndex.build(emb.filter(pmod($"vec_id", lit(2)) === 0),
      "vec_id", "embedding", nCentroids = 8, kmeansSweeps = 2).save(a)
    graft.ext.IvfIndex.build(emb.filter(pmod($"vec_id", lit(2)) =!= 0),
      "vec_id", "embedding", nCentroids = 8, kmeansSweeps = 2).save(b)
    graft.ext.IvfIndex.delete(spark, a, victims.select("vec_id"), "vec_id")
    graft.ext.IvfIndex.merge(spark, Seq(a, b), m)
    assert(rows(graft.ext.IvfIndex.load(spark, m)
      .search(q, "vec_id", "embedding", k = 3, nProbe = 16)) == exact,
      "merged index must honor carried tombstones")
  }

  test("IvfIndex.tombstonePressure: per-cell + totals census; delete refuses a pathless index") {
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("ivftp").toString
    graft.ext.IvfIndex.build(emb, "vec_id", "embedding",
      nCentroids = 8, kmeansSweeps = 2).save(dir)
    // a fresh index reads zero pressure everywhere
    val fresh = graft.ext.IvfIndex.tombstonePressure(spark, dir).collect()
    assert(fresh.forall(r => r.getLong(2) == 0L && r.getLong(5) == 0L))
    val nTotal = emb.count()
    assert(fresh.filter(_.getInt(0) == -1).map(_.getLong(1)).toSeq
      == Seq(nTotal))
    // delete every vec_id % 5 == 1, re-delete half of them (distinct
    // absorbs), and one never-ingested id (orphan)
    val victims = emb.filter(pmod($"vec_id", lit(5)) === 1).select("vec_id")
    graft.ext.IvfIndex.delete(spark, dir, victims, "vec_id")
    graft.ext.IvfIndex.delete(spark, dir, victims.limit(3), "vec_id")
    graft.ext.IvfIndex.delete(spark, dir,
      Seq(999999L).toDF("vec_id"), "vec_id")
    val census = graft.ext.IvfIndex.tombstonePressure(spark, dir).collect()
    val tot = census.filter(_.getInt(0) == -1).head
    val nVict = victims.count()
    assert(tot.getLong(1) == nTotal)                   // n_stored
    assert(tot.getLong(2) == nVict)                    // n_tombstoned
    assert(tot.getLong(3) == nTotal - nVict)           // n_live
    assert(tot.getLong(4) == (nVict * 1000000L) / nTotal) // dead_ppm
    assert(tot.getLong(5) == 1L)                       // orphan
    // per-cell rows reconcile to the totals and stay orphan-free
    val cells = census.filter(_.getInt(0) >= 0)
    assert(cells.map(_.getLong(1)).sum == nTotal)
    assert(cells.map(_.getLong(2)).sum == nVict)
    assert(cells.forall(_.getLong(5) == 0L))
    // r19 advice: a mistyped path must refuse, not write an orphan set
    val ex = intercept[IllegalArgumentException] {
      graft.ext.IvfIndex.delete(spark,
        dir + "_typo", victims, "vec_id")
    }
    assert(ex.getMessage.contains("no index at"))
    assert(!new java.io.File(dir + "_typo").exists)
  }

  test("IvfIndex.compact: fresh-generation re-cluster, identical exhaustive search, codes carried bit-identical") {
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val half1 = emb.filter(pmod($"vec_id", lit(2)) === 0)
    val half2 = emb.filter(pmod($"vec_id", lit(2)) =!= 0)
    val q = emb.filter($"vec_id" < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    // drifted float index: built on half the corpus, appended the rest
    val dir = java.nio.file.Files.createTempDirectory("ivfcsrc").toString
    graft.ext.IvfIndex.build(half1, "vec_id", "embedding",
      nCentroids = 8, kmeansSweeps = 2).save(dir)
    graft.ext.IvfIndex.append(spark, dir, half2, "vec_id", "embedding")
    val dest = java.nio.file.Files.createTempDirectory("ivfcdst").toString
    graft.ext.IvfIndex.compact(spark, dir, dest,
      nCentroids = 8, kmeansSweeps = 2)
    val old = graft.ext.IvfIndex.load(spark, dir)
    val neu = graft.ext.IvfIndex.load(spark, dest)
    // centroids recomputed over the CURRENT corpus, not the build half
    assert(neu.centroids != old.centroids)
    assert(neu.centroids.length == 8)
    // same corpus, so exhaustive-probe searches are identical
    assert(rows(neu.search(q, "vec_id", "embedding", k = 3, nProbe = 8)) ==
           rows(old.search(q, "vec_id", "embedding", k = 3, nProbe = 8)))
    // the new generation's layout prunes like any built index
    val plan = neu.search(q, "vec_id", "embedding", k = 3, nProbe = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"))
    // in-place compaction is refused, not silently corrupting
    intercept[IllegalArgumentException] {
      graft.ext.IvfIndex.compact(spark, dir, dir)
    }
    // quantized layout: stored (scale, codes) pass through BIT-IDENTICAL
    val qdirC = java.nio.file.Files.createTempDirectory("ivfcq").toString
    graft.ext.IvfIndex.build(half1, "vec_id", "embedding",
      nCentroids = 8, kmeansSweeps = 2).saveQuantized(qdirC)
    graft.ext.IvfIndex.append(spark, qdirC, half2, "vec_id", "embedding")
    val qdestC = java.nio.file.Files.createTempDirectory("ivfcqd").toString
    graft.ext.IvfIndex.compact(spark, qdirC, qdestC,
      nCentroids = 8, kmeansSweeps = 2)
    def codes(p: String) = spark.read.parquet(s"$p/corpus")
      .select("neighbor_id", "scale", "codes").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getSeq[Byte](2)))).toMap
    assert(codes(qdestC) == codes(qdirC),
      "compaction must never re-quantize stored codes")
  }

  test("ivfCentroids: farthest-point seeding balances cells on an id-clustered corpus") {
    // adversarial-for-lowest-id-seeding corpus: ids are ordered BY
    // CLUSTER (ids 0-49 cluster 0, 50-99 cluster 1, ...), so lowest-id
    // seeds all land in cluster 0. Clusters are angularly separated
    // (assignment is cosine) with small deterministic jitter.
    val nPer = 50
    val rows = for (c <- 0 until 4; i <- 0 until nPer) yield {
      val base = math.Pi / 2 * c + math.Pi / 18 // 10 deg offset
      val jitter = (i % 10 - 4.5) / 100.0        // +-0.045 rad
      val a = base + jitter
      ((c * nPer + i).toLong, Seq(math.cos(a), math.sin(a)))
    }
    val df = rows.toDF("id", "vec")
    def occupancy(strategy: String): Array[Long] = {
      val cents = Similarity.ivfCentroids(df.select($"id", $"vec".as("v")),
        "id", "v", nCentroids = 4, sweeps = 3, seedStrategy = strategy)
      df.withColumn("cell", graft.functions.GraftFunctions.nearestCentroids(
          spark, $"vec", typedLit(cents), 1)(0))
        .groupBy("cell").count().collect().map(_.getLong(1))
    }
    // farthest-point traversal hits every separated cluster once
    // before revisiting -> one seed per cluster -> perfectly balanced
    val spreadOcc = occupancy("spread")
    assert(spreadOcc.length == 4, s"every cell must be populated, got ${spreadOcc.toSeq}")
    val mean = nPer.toDouble // 4 clusters x nPer / 4 cells
    assert(spreadOcc.max <= 2 * mean,
      s"no cell may exceed 2x mean occupancy; got ${spreadOcc.toSeq} (mean $mean)")
    // the contrasts that motivate "spread": lowest-id seeds all start
    // in cluster 0 and Lloyd leaves a merged-two-cluster cell
    // (measured 25,25,50,100); a uniform hash sample can also double
    // up on a cluster (measured 100,20,30,50 here — ~1-4!/4^4 odds)
    val firstOcc = occupancy("first")
    assert(firstOcc.length < 4 || firstOcc.max >= 2 * nPer,
      s"expected lowest-id seeding to leave a >=2-cluster cell on this corpus, got ${firstOcc.toSeq}")
    assert(spreadOcc.max < firstOcc.max,
      s"spread seeding must be strictly more balanced: ${spreadOcc.toSeq} vs ${firstOcc.toSeq}")
  }

  test("Int8CosineSim equals cosine of the dequantized vector (scale cancels)") {
    val gf = graft.functions.GraftFunctions
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", graft.ext.Similarity.asDouble($"embedding").as("v"))
    val q = emb.filter($"vec_id" === 0).select($"v".as("qv"))
    val diff = emb.crossJoin(broadcast(q))
      .withColumn("qz", gf.int8Quantize(spark, $"v"))
      .withColumn("a", gf.int8Cosine(spark, $"qz", $"qv"))
      .withColumn("b", gf.cosineSimilarity(spark,
        gf.int8Dequantize(spark, $"qz"), $"qv"))
      .agg(max(abs($"a" - $"b")).as("d")).head().getDouble(0)
    assert(diff <= 1e-12,
      s"asymmetric int8 cosine must match dequantized cosine to 1e-12, got $diff")
    // length mismatch -> NULL, not a truncated similarity
    val bad = Seq((Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0))).toDF("x", "y")
      .select(gf.int8Cosine(spark, gf.int8Quantize(spark, $"x"), $"y").as("c"))
    assert(bad.head().isNullAt(0))
  }

  test("IvfIndex quantized layout: codes-only parquet, pruned scan, recall vs float path") {
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter($"vec_id" < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val idx = graft.ext.IvfIndex.build(emb, "vec_id", "embedding",
      nCentroids = 8, kmeansSweeps = 2)
    val viaFloat = idx.search(q, "vec_id", "embedding", k = 3, nProbe = 8)
    val viaInt8 = idx.searchQuantized(q, emb, "vec_id", "embedding",
      k = 3, nProbe = 8)
    assert(rows(viaInt8) == rows(viaFloat),
      "int8-scored + exact-rerank must equal the float IVF search at full probe")
    val dir = java.nio.file.Files.createTempDirectory("ivfq").toString
    idx.saveQuantized(dir)
    // the saved corpus must carry int8 codes, NOT float vectors
    val saved = spark.read.parquet(s"$dir/corpus")
    assert(saved.columns.toSet == Set("neighbor_id", "scale", "codes", "cell"))
    import org.apache.spark.sql.types.{ArrayType, ByteType}
    assert(saved.schema("codes").dataType == ArrayType(ByteType, containsNull = false) ||
           saved.schema("codes").dataType == ArrayType(ByteType, containsNull = true))
    val loaded = graft.ext.IvfIndex.load(spark, dir)
    val viaDisk = loaded.searchQuantized(q, emb, "vec_id", "embedding",
      k = 3, nProbe = 3)
    val plan = viaDisk.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"quantized-index search must prune cell partitions:\n$plan")
    assert(rows(viaDisk) ==
      rows(idx.searchQuantized(q, emb, "vec_id", "embedding", k = 3, nProbe = 3)))
    // float search on a codes-only index must fail loudly, not wrongly
    val err = intercept[IllegalArgumentException] {
      loaded.search(q, "vec_id", "embedding", k = 3, nProbe = 3)
    }
    assert(err.getMessage.contains("searchQuantized"))
  }

  test("Staging.releaseAll unpersists every staged frame") {
    import org.apache.spark.storage.StorageLevel
    val df = Seq((1, "a"), (2, "b")).toDF("id", "s")
    val df2 = Seq((3, "c")).toDF("id", "s")
    graft.ops.Staging.stage(df); graft.ops.Staging.stage(df2)
    df.count(); df2.count()
    assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(df2.storageLevel == StorageLevel.MEMORY_AND_DISK)
    graft.ops.Staging.releaseAll()
    assert(df.storageLevel == StorageLevel.NONE,
      "staged frame must be unpersisted by releaseAll")
    assert(df2.storageLevel == StorageLevel.NONE)
    graft.ops.Staging.releaseAll() // idempotent on empty registry
  }

  test("TopKByScore aggregate equals the window top-k on real embeddings") {
    import org.apache.spark.sql.expressions.Window
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val gf = graft.functions.GraftFunctions
    val e = emb.select($"vec_id", graft.ext.Similarity.asDouble($"embedding").as("vec"))
    val q = e.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"vec".as("qv"))
    val scored = e.crossJoin(broadcast(q)).filter($"vec_id" =!= $"query_id")
      .withColumn("sim", gf.cosineSimilarity(spark, $"vec", $"qv"))
    val viaWindow = scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy($"sim".desc, $"vec_id")))
      .filter($"rnk" <= 4)
      .select($"query_id", $"vec_id".as("id"), round($"sim", 9).as("s"), $"rnk")
      .collect().map(_.toString).sorted.toSeq
    val viaAgg = scored.groupBy("query_id")
      .agg(gf.topKByScore(spark, $"sim", $"vec_id", 4).as("hits"))
      .select($"query_id", posexplode($"hits").as(Seq("pos", "hit")))
      .select($"query_id", $"hit.id".as("id"), round($"hit.score", 9).as("s"),
              ($"pos" + 1).as("rnk"))
      .collect().map(_.toString).sorted.toSeq
    assert(viaAgg == viaWindow)
  }

  test("TopKByScoreStr equals the window top-k per language; q62 plan has no Window") {
    import org.apache.spark.sql.expressions.Window
    val gf = graft.functions.GraftFunctions
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val counts = graft.ext.Dedup.withShingles(docs, "text", k = 2)
      .select($"lang", explode($"shingles").as("ngram"))
      .groupBy("lang", "ngram").agg(count(lit(1)).as("n"))
    val viaWindow = counts
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy($"n".desc, $"ngram")))
      .filter($"rk" <= 5)
      .select($"lang", $"ngram", $"n", $"rk")
      .collect().map(_.toString).sorted.toSeq
    val viaAgg = counts.groupBy("lang")
      .agg(gf.topKByScoreStr(spark, $"n".cast("double"), $"ngram", 5).as("hits"))
      .select($"lang", posexplode($"hits").as(Seq("pos", "hit")))
      .select($"lang", $"hit.id".as("ngram"), $"hit.score".cast("long").as("n"),
              ($"pos" + 1).cast("int").as("rk"))
      .collect().map(_.toString).sorted.toSeq
    assert(viaAgg == viaWindow)
    val plan = graft.queries.TextQueries.queries("q62_top_ngrams")(
      spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"q62 must rank via the partial aggregate, not a window sort:\n$plan")
  }

  test("TopKStrBuffer keeps k best with (score desc, id asc) tie-break across merges") {
    import org.apache.spark.unsafe.types.UTF8String
    def u(s: String) = UTF8String.fromString(s)
    val b = new graft.functions.TopKStrBuffer(3)
    Seq((1.0, "kk"), (3.0, "bb"), (3.0, "aa"), (2.0, "zz"), (0.5, "mm"), (3.0, "cc"))
      .foreach { case (s, i) => b.add(s, u(i)) }
    assert(b.sortedDesc.toSeq.map { case (s, i) => (s, i.toString) } ==
      Seq((3.0, "aa"), (3.0, "bb"), (3.0, "cc")))
    val other = new graft.functions.TopKStrBuffer(3)
    other.add(4.0, u("yy"))
    b.merge(other)
    assert(b.sortedDesc.toSeq.map { case (s, i) => (s, i.toString) } ==
      Seq((4.0, "yy"), (3.0, "aa"), (3.0, "bb")))
  }

  test("TopKBuffer keeps k best with (score desc, id asc) tie-break") {
    val b = new graft.functions.TopKBuffer(3)
    Seq((1.0, 10L), (3.0, 7L), (3.0, 5L), (2.0, 1L), (0.5, 2L), (3.0, 9L))
      .foreach { case (s, i) => b.add(s, i) }
    assert(b.sortedDesc.toSeq == Seq((3.0, 5L), (3.0, 7L), (3.0, 9L)))
    val other = new graft.functions.TopKBuffer(3)
    other.add(4.0, 99L)
    b.merge(other)
    assert(b.sortedDesc.toSeq == Seq((4.0, 99L), (3.0, 5L), (3.0, 7L)))
  }

  test("TopKBuffer ranks NaN scores first (SQL DESC semantics), never drops them") {
    val b = new graft.functions.TopKBuffer(2)
    b.add(5.0, 1L); b.add(4.0, 2L)     // buffer full
    b.add(Double.NaN, 3L)              // must evict 4.0, not be dropped
    val out = b.sortedDesc.toSeq
    assert(out.length == 2)
    assert(out.head._1.isNaN && out.head._2 == 3L)
    assert(out(1) == (5.0, 1L))
  }

  test("ivfTopK returns exact-sim candidates with full recall at nProbe=all") {
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter($"vec_id" < 3)
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // probing every cell must reproduce the exact top-k
    val full = Similarity.ivfTopK(emb, q, "vec_id", "embedding", 3,
        nCentroids = 8, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(full == brute)
    // and a partial probe returns a subset with identical sims
    val part = Similarity.ivfTopK(emb, q, "vec_id", "embedding", 3,
        nCentroids = 8, nProbe = 2).collect()
    assert(part.nonEmpty)
    part.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      if (brute.contains(key)) assert(math.abs(r.getDouble(2) - brute(key)) < 1e-9)
    }
  }

  test("lshNearDupPairs equals the exact all-pairs set, without a cross join") {
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val e = emb.select($"vec_id", Similarity.asDouble($"embedding").as("vec"))
    val a = e.select($"vec_id".as("id_a"), $"vec".as("va"))
    val b = e.select($"vec_id".as("id_b"), $"vec".as("vb"))
    val exact = a.crossJoin(b).filter($"id_a" < $"id_b")
      .withColumn("sim", graft.functions.GraftFunctions.cosineSimilarity(spark, $"va", $"vb"))
      .filter($"sim" >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshNearDupPairs(emb, "vec_id", "embedding", 0.5)
    assert(lsh.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == exact)
    val plan = lsh.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"))
  }

  test("approxLcsPairs: planted shared run found on the right diagonal; estimate bounded; hot fingerprints excludable") {
    import graft.ext.TextStats
    val shared = (1 to 12).map(i => s"s$i").mkString(" ") // 12-token run
    val docs = Seq(
      (1L, s"a1 a2 a3 $shared a4"), // run starts at token 4
      (2L, s"b1 $shared"),          // run starts at token 2
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10")).toDF("doc_id", "text")
    val got = TextStats.approxLcsPairs(docs, "doc_id", "text",
        k = 4, w = 4, minSpan = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    graft.ops.Staging.releaseAll()
    assert(got.length == 1, s"only the planted pair should surface: ${got.toSeq}")
    val (ia, ib, est, diag, nfps) = got.head
    assert((ia, ib) == (1L, 2L))
    // the run's alignment IS the best diagonal
    assert(diag == 2L, s"diag was $diag")
    // winnowing guarantees a fingerprint per interior window, so the
    // diagonal span estimates the 12-token run within edge slack and
    // never exceeds it (no gram outside the run shares a hash)
    assert(est <= 12L && est >= 12L - 7L, s"estimate was $est")
    assert(nfps >= 1L)
    // hot-fingerprint exclusion: a boilerplate run shared by 5 docs
    // pairs them all by default, and not at all once its hashes are
    // over the maxFpDocs occupancy cut
    val boiler = (1 to 9).map(i => s"t$i").mkString(" ")
    val many = (1L to 5L).map(i => (i, s"u$i $boiler")).toDF("doc_id", "text")
    val full = TextStats.approxLcsPairs(many, "doc_id", "text",
      k = 4, w = 4, minSpan = 4).count()
    graft.ops.Staging.releaseAll()
    assert(full == 10L, s"5 boilerplate docs must form all 10 pairs, got $full")
    val capped = TextStats.approxLcsPairs(many, "doc_id", "text",
      k = 4, w = 4, minSpan = 4, maxFpDocs = 2L).count()
    graft.ops.Staging.releaseAll()
    assert(capped == 0L, s"capped boilerplate must yield no pairs, got $capped")
  }

  test("crossLingualNearDupPairs equals the metadata-filtered all-pairs closure") {
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val meta = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"lang", $"n_chars")
    val joined = emb.join(meta, $"vec_id" === $"doc_id")
    val e = joined.select($"vec_id", Similarity.asDouble($"embedding").as("vec"),
      $"lang", $"n_chars")
    val a = e.select($"vec_id".as("id_a"), $"vec".as("va"),
      $"lang".as("la"), $"n_chars".as("ca"))
    val b = e.select($"vec_id".as("id_b"), $"vec".as("vb"),
      $"lang".as("lb"), $"n_chars".as("cb"))
    val exact = a.crossJoin(b).filter($"id_a" < $"id_b")
      .filter($"la" =!= $"lb")
      .filter(greatest($"ca", $"cb").cast("double") <=
        lit(2.0) * least($"ca", $"cb").cast("double"))
      .withColumn("sim", graft.functions.GraftFunctions
        .cosineSimilarity(spark, $"va", $"vb"))
      .filter($"sim" >= 0.4)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mined = Similarity.crossLingualNearDupPairs(joined,
        "vec_id", "embedding", "lang", "n_chars",
        threshold = 0.4, maxLenRatio = 2.0)
      .collect()
    graft.ops.Staging.releaseAll()
    assert(mined.map(r => (r.getLong(0), r.getLong(1))).toSet == exact)
    assert(exact.nonEmpty, "fixture should contain cross-lingual near-dups")
    // every emitted pair respects both metadata blocks
    mined.foreach { r =>
      assert(r.getString(2) != r.getString(3),
        s"same-language pair leaked: $r")
    }
    // the banded plan never degenerates to a cartesian pair product
    val plan = Similarity.crossLingualNearDupPairs(joined,
        "vec_id", "embedding", "lang", "n_chars", 0.4, 2.0)
      .queryExecution.executedPlan.toString
    graft.ops.Staging.releaseAll()
    assert(!plan.contains("CartesianProduct"))
  }

  test("crossLingualNearDupPairs: length-ratio block prunes size-mismatched pairs") {
    // two parallel vectors (sim 1.0) in different langs but 10x apart
    // in length: blocked; a third at compatible length pairs with both
    val df = Seq(
      (1L, Array(1.0f, 0.0f), "en", 100L),
      (2L, Array(0.99f, 0.1f), "fr", 1000L),
      (3L, Array(0.98f, 0.05f), "de", 150L)).toDF("id", "vec", "lg", "len")
    val got = Similarity.crossLingualNearDupPairs(df, "id", "vec", "lg", "len",
        threshold = 0.5, maxLenRatio = 2.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.ops.Staging.releaseAll()
    assert(got == Set((1L, 3L)),
      s"only the length-compatible cross-lang pair survives, got $got")
  }

  test("lshNearDupPairs maxBandBucket suppresses degenerate buckets, keeps sparse pairs") {
    // 30 identical "boilerplate" vectors: every band bucket they
    // occupy holds >= 30 members, the quadratic-blowup shape the cap
    // exists for; plus one sparse planted near-dup pair elsewhere
    val boiler = (0L until 30L).map(i => (i, Array(1.0f, 0.0f, 0.0f, 0.0f)))
    val planted = Seq((100L, Array(0.0f, 1.0f, 0.0f, 0.05f)),
                      (101L, Array(0.0f, 1.0f, 0.05f, 0.0f)))
    val df = (boiler ++ planted).toDF("id", "vec")
    val capped = Similarity.lshNearDupPairs(df, "id", "vec", threshold = 0.9,
        maxBandBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((100L, 101L)),
      "capped path must drop boilerplate buckets and keep the sparse pair")
    // the default (no cap) remains the exact semantics
    val full = Similarity.lshNearDupPairs(df, "id", "vec", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.size == 30 * 29 / 2 + 1)
    graft.ops.Staging.releaseAll()
  }

  test("NearestCentroids matches a manual cosine argmax; full probe is exact") {
    import org.apache.spark.sql.functions.typedLit
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, 0.0))
    val df = Seq(
      (1L, Seq(0.9, 0.1)),   // nearest: 0, then 1, then 2
      (2L, Seq(-3.0, 0.2)),  // nearest: 2, then 1, then 0
      (3L, Seq(0.5, 0.5))    // ties 0/1 -> lower index first
    ).toDF("id", "vec")
    val out = df.withColumn("nc", graft.functions.GraftFunctions.nearestCentroids(
        spark, $"vec", typedLit(cents), 3))
      .orderBy("id").collect().map(_.getSeq[Int](2).toSeq)
    assert(out(0) == Seq(0, 1, 2))
    assert(out(1) == Seq(2, 1, 0))
    assert(out(2) == Seq(0, 1, 2)) // exact tie broken by index
    // dimension-mismatched centroid never wins
    val bad = Seq((1L, Seq(1.0, 0.0, 0.0))).toDF("id", "vec")
      .withColumn("nc", graft.functions.GraftFunctions.nearestCentroids(
        spark, $"vec", typedLit(Seq(Seq(1.0, 0.0))), 1))
      .head().getSeq[Int](2)
    assert(bad == Seq(0)) // sole centroid still returned, scored -Inf
  }

  test("native SimHash32 is bit-for-bit identical to the lambda composition") {
    // The interpreted composition the native expression replaces.
    def lambdaSimHash(text: org.apache.spark.sql.Column) = {
      val hexes = transform(split(text, " "), t => md5(t))
      val bitVotes = transform(sequence(lit(1), lit(32)),
        i => aggregate(hexes, lit(0),
          (acc, h) => acc + when(
            h.substr(i, lit(1)).isin("8", "9", "a", "b", "c", "d", "e", "f"), 1)
            .otherwise(-1)))
      concat_ws("", transform(bitVotes, v => when(v > 0, "1").otherwise("0")))
    }
    val edge = Seq("", " ", "a", "a b a", "  double  space", "trailing ").toDF("text")
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"text").union(edge)
      .withColumn("native", graft.functions.GraftFunctions.simHash32($"text"))
      .withColumn("lambda", lambdaSimHash($"text"))
    assert(docs.filter($"native" =!= $"lambda").count() == 0)
  }

  test("native SimHash64 is bit-for-bit identical to the lambda composition") {
    // 64-bit layout: positions 1-32 vote on hex digit i's HIGH bit
    // (digit in 8..f), positions 33-64 on digit (i-32)'s SECOND bit
    // (digit in 4-7 or c-f) — same digest, no second hash pass.
    def lambdaSimHash64(text: org.apache.spark.sql.Column) = {
      val hexes = transform(split(text, " "), t => md5(t))
      val bitVotes = transform(sequence(lit(1), lit(64)),
        i => aggregate(hexes, lit(0),
          (acc, h) => acc + when(i <= 32,
              when(h.substr(i, lit(1)).isin("8", "9", "a", "b", "c", "d", "e", "f"), 1)
                .otherwise(-1))
            .otherwise(
              when(h.substr(i - 32, lit(1)).isin("4", "5", "6", "7", "c", "d", "e", "f"), 1)
                .otherwise(-1))))
      concat_ws("", transform(bitVotes, v => when(v > 0, "1").otherwise("0")))
    }
    val edge = Seq("", " ", "a", "a b a", "  double  space", "trailing ").toDF("text")
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"text").union(edge)
      .withColumn("native", graft.functions.GraftFunctions.simHash64($"text"))
      .withColumn("lambda", lambdaSimHash64($"text"))
    assert(docs.filter($"native" =!= $"lambda").count() == 0)
    // the first 32 chars ARE the 32-bit signature (shared digest)
    val pre = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(graft.functions.GraftFunctions.simHash32($"text").as("s32"),
              graft.functions.GraftFunctions.simHash64($"text").substr(1, 32).as("p32"))
    assert(pre.filter($"s32" =!= $"p32").count() == 0)
  }

  test("native TokenSetCount equals the filter/isin lambda") {
    val set = Seq("a", "the", "data")
    val edge = Seq("", " ", "a", "a the data a", "  a", "x y z").toDF("text")
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"text").union(edge)
      .withColumn("native", graft.functions.GraftFunctions.tokenSetCount($"text", set))
      .withColumn("lambda",
        size(filter(split($"text", " "), t => t.isin(set.map(lit): _*))))
    assert(docs.filter($"native" =!= $"lambda").count() == 0)
  }

  test("native TopElementFreq equals the explode/count/max plan; edge cases") {
    import graft.functions.GraftFunctions
    // hand-computed: max multiplicity regardless of position
    val cases = Seq(
      (Seq("a b c a b a"), 3),        // "a" x3 as 1-grams
      (Seq("x y x y x y x"), 4),      // "x" x4
      (Seq("q"), 1),
      (Seq(""), 1))                   // one empty-string token
    cases.foreach { case (txts, want) =>
      val got = txts.toDF("text")
        .select(GraftFunctions.topElementFreq(spark,
          GraftFunctions.wordShinglesAll(spark, $"text", 1)).as("f"))
        .collect().head.getInt(0)
      assert(got == want, s"$txts")
    }
    // empty array -> 0; null array -> null
    val arrs = Seq((1, Seq[String]()), (2, Seq("p", "p", "q")))
      .toDF("id", "arr")
      .select($"id", GraftFunctions.topElementFreq(spark, $"arr").as("f"))
      .collect().map(r => r.getInt(0) -> r.get(1)).toMap
    assert(arrs(1) == 0 && arrs(2) == 2)
    // equals the distributed explode -> count -> max shape on corpus text
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumn("n", graft.ext.TextStats.tokenCount($"text"))
      .filter($"n" >= 3)
    val nativeF = docs.select($"doc_id",
      GraftFunctions.topElementFreq(spark,
        GraftFunctions.wordShinglesAll(spark, $"text", 3)).as("f"))
    val exploded = docs
      .select($"doc_id", explode(GraftFunctions.wordShinglesAll(
        spark, $"text", 3)).as("g"))
      .groupBy("doc_id", "g").count()
      .groupBy("doc_id").agg(max("count").cast("int").as("f2"))
    assert(nativeF.join(exploded, "doc_id").filter($"f" =!= $"f2").count() == 0)
    // plan audit: the map-side form aggregated per source exchanges
    // ONCE (the group-by), never on a gram key
    val plan = docs
      .select($"source", GraftFunctions.topElementFreq(spark,
        GraftFunctions.wordShinglesAll(spark, $"text", 3)).as("f"))
      .groupBy("source").agg(max("f"))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("plan audit: ivfTopK assigns cells map-side (no window, no cartesian)") {
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val plan = Similarity.ivfTopK(emb, emb.filter($"vec_id" < 3),
        "vec_id", "embedding", 3, nCentroids = 8, nProbe = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"IVF assignment must not window-sort:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"IVF assignment must not cross-join centroids:\n$plan")
    // one hash exchange total: the partial top-k aggregate's shuffle
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"expected a single hash exchange (partial top-k):\n$plan")
  }

  test("plan audit: q01 pushes its filter to the parquet scan and prunes columns") {
    val plan = graft.queries.Relational.queries("q01_pricing_summary")(
        spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // the shipdate predicate must reach the scan, not run post-scan only
    assert(plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"),
      s"q01's filter must be pushed to the parquet reader:\n$plan")
    // projection pruning: untouched wide columns never leave the reader
    assert(plan.contains("ReadSchema") && !plan.contains("l_comment"),
      s"q01 must not read l_comment:\n$plan")
  }

  test("plan audit: q12 windowed share shuffles lineitem exactly once") {
    val plan = graft.queries.Relational.queries("q12_multikey_join")(
        spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"expected one hash exchange (the 2-key window):\n$plan")
  }

  // ---- text stats ------------------------------------------------
  test("tokenCount matches split-size and handles empty") {
    val df = Seq(("a b c"), (""), ("one")).toDF("text")
      .withColumn("n", TextStats.tokenCount($"text"))
    assert(df.collect().map(_.getInt(1)).toSeq == Seq(3, 0, 1))
  }

  test("stopword ratio and quality score") {
    val df = Seq(("the a x y")).toDF("text")
      .withColumn("r", TextStats.stopwordRatio($"text", Seq("the", "a")))
      .withColumn("q", TextStats.qualityScore($"text", Seq("the", "a"), fullTokens = 4))
    val row = df.head()
    assert(math.abs(row.getAs[Double]("r") - 0.5) < 1e-9)
    // q = min(4/4,1)*0.5 + (1-0.5)*0.5 = 0.75
    assert(math.abs(row.getAs[Double]("q") - 0.75) < 1e-9)
  }

  test("charNgramScore counts overlapping profile grams via length arithmetic") {
    val df = Seq(("the theme is there"), ("la casa")).toDF("text")
      .withColumn("s_en", TextStats.charNgramScore($"text", Seq("the", "is")))
      .withColumn("s_es", TextStats.charNgramScore($"text", Seq("la ", "casa")))
    val rows = df.collect()
    assert(rows(0).getAs[Int]("s_en") == 4) // "the" x3 + "is" x1 ("is" inside "is")
    assert(rows(1).getAs[Int]("s_es") == 2)
    val scored = TextStats.withCharNgramScores(df.select("text"), "text",
      Seq("en" -> Seq("the"), "es" -> Seq("casa")))
    assert(scored.columns.contains("cscore_en") && scored.columns.contains("cscore_es"))
  }

  test("langid argmax is deterministic with first-listed tie-break") {
    val profiles = Seq("en" -> Seq("the"), "es" -> Seq("el"))
    val df = TextStats.withLangScores(
      Seq(("the cat"), ("el gato"), ("x y")).toDF("text"), "text", profiles)
      .withColumn("pred", TextStats.predictLang(profiles))
    assert(df.collect().map(_.getAs[String]("pred")).toSeq == Seq("en", "es", "en"))
  }

  test("containment pairs: embedded doc scores 1.0 where Jaccard stays low") {
    val short = "alpha beta gamma delta epsilon"
    val long = ("zero one two three four five six seven eight nine ten " +
      short + " eleven twelve thirteen fourteen fifteen sixteen")
    val docs = Seq((1L, "g", short), (2L, "g", long), (3L, "g", "wholly different words here now"))
      .toDF("id", "grp", "text")
    val out = Dedup.exactContainmentPairs(docs, "id", "text", "grp",
      k = 3, threshold = 0.9).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("id_a") == 1L && out(0).getAs[Long]("id_b") == 2L)
    assert(out(0).getAs[Double]("cont_a") == 1.0) // every shingle of A is in B
    assert(out(0).getAs[Double]("cont_b") < 0.5)  // B mostly not in A
    // the same pair is invisible to Jaccard at any useful threshold
    val j = Dedup.exactJaccardPairs(docs, "id", "text", "grp", k = 3,
      threshold = 0.5).collect()
    assert(j.isEmpty)
  }

  test("weightedSampleK: exact k per group, partition-invariant, weight-biased, w<=0 dropped") {
    import graft.ext.Sampling
    val rows = (1 to 200).map { i =>
      (i.toLong, if (i % 2 == 0) "a" else "b",
       if (i == 2) 1000000.0 else 1.0) // one overwhelming weight in group a
    } :+ (999L, "a", 0.0) :+ (998L, "a", -3.0)
    val df = rows.toDF("id", "grp", "w")
    val out = Sampling.weightedSampleK(df, $"id", $"w", "grp", k = 5, salt = "t")
    val byGrp = out.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGrp == Map("a" -> 5L, "b" -> 5L))
    val aIds = out.filter($"grp" === "a").select("id").collect().map(_.getLong(0)).toSet
    assert(aIds.contains(2L), "the 1e6-weight row must be sampled")
    assert(!aIds.contains(999L) && !aIds.contains(998L), "non-positive weights drop")
    // pure function of content: same sample under any partitioning
    val out2 = Sampling.weightedSampleK(df.repartition(13), $"id", $"w", "grp",
      k = 5, salt = "t")
    assert(out2.select("grp", "rnk", "id").orderBy("grp", "rnk").collect().toSeq ==
      out.select("grp", "rnk", "id").orderBy("grp", "rnk").collect().toSeq)
    // the salt decorrelates samples
    val out3 = Sampling.weightedSampleK(df, $"id", $"w", "grp", k = 5, salt = "u")
    assert(out3.select("id").collect().map(_.getLong(0)).toSet !=
      out.select("id").collect().map(_.getLong(0)).toSet)
    // priority_h is the exact 52-bit draw (hash-stable across engines,
    // unlike any emitted function of ln)
    val hs = out.select("priority_h").collect().map(_.getLong(0))
    assert(hs.forall(h => h >= 0L && h < 4503599627370496L))
  }

  test("hashSplit: exhaustive, disjoint, partition-invariant, near-target fractions") {
    import graft.ext.Sampling
    val df = spark.range(0, 2000).toDF("id")
    val out = Sampling.hashSplit(df, $"id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "s").cache()
    val bySplit = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every row lands in exactly one slice
    assert(bySplit.values.sum == 2000L)
    assert(bySplit.keySet == Set("train", "val", "test"))
    // fractions near target (md5 is uniform; 2000 draws, generous margins)
    assert(bySplit("train") > 1500 && bySplit("train") < 1700, bySplit)
    assert(bySplit("val") > 120 && bySplit("val") < 280, bySplit)
    // pure function of content: identical assignment under repartition
    val again = Sampling.hashSplit(df.repartition(7), $"id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "s")
    assert(again.orderBy("id").select("split").collect().map(_.getString(0)).toSeq ==
      out.orderBy("id").select("split").collect().map(_.getString(0)).toSeq)
    out.unpersist()
    // bad fractions rejected
    intercept[IllegalArgumentException] {
      Sampling.hashSplit(df, $"id", Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("negativeSamples: sparse and string ids sample real rows, never self, deterministic") {
    import graft.ext.Sampling
    // SPARSE Long ids — the r9 id-space draw would find no match for
    // most draws; the dense-position draw must pair every row
    val sparse = (1 to 40).map(i => (i * 97L + 13L, s"g${i % 3}"))
      .toDF("doc_id", "source")
    val out = Sampling.negativeSamples(sparse, "doc_id", negsPerDoc = 3,
      salt = "t").cache()
    assert(out.count() == 120, "every row draws exactly negsPerDoc negatives")
    assert(out.filter($"neg_id" === $"doc_id").count() == 0, "no self-pairs")
    val validIds = sparse.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.select("neg_id").collect().map(_.getLong(0)).forall(validIds))
    // partition-invariant (content-keyed draw + order-defined index)
    val again = Sampling.negativeSamples(sparse.repartition(7), "doc_id",
      negsPerDoc = 3, salt = "t")
    assert(again.select("doc_id", "j", "neg_id").orderBy("doc_id", "j")
      .collect().toSeq ==
      out.select("doc_id", "j", "neg_id").orderBy("doc_id", "j")
        .collect().toSeq)
    out.unpersist()
    // string ids work the same way
    val strs = ('a' to 'j').map(c => (s"doc_$c", 1)).toDF("doc_id", "x")
    val sout = Sampling.negativeSamples(strs, "doc_id", negsPerDoc = 2,
      salt = "t")
    assert(sout.count() == 20)
    assert(sout.filter($"neg_id" === $"doc_id").count() == 0)
    // degenerate 1-row corpus: no other row exists -> zero pairs, not
    // a self-pair
    val one = Seq((42L, "solo")).toDF("doc_id", "source")
    assert(Sampling.negativeSamples(one, "doc_id", 3, "t").count() == 0)
    graft.ops.Staging.releaseAll()
  }

  test("mmrRerank: first pick is top-1, picks distinct, diversity beats pure top-k") {
    // two tight clusters; query sits nearer cluster A. Pure top-3 is
    // all-A; MMR with lambda 0.5 must mix in cluster B.
    def v(x: Double, y: Double) = Seq(x, y, 0.0, 0.0)
    val emb = Seq(
      (0L, v(1.0, 0.05)),                    // query
      (1L, v(1.0, 0.0)), (2L, v(0.999, 0.01)), (3L, v(0.998, 0.02)), // cluster A
      (4L, v(0.0, 1.0)), (5L, v(0.01, 0.999))                        // cluster B
    ).toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" === 0),
      "vec_id", "embedding", 3).collect()
    val topIds = brute.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Long]("neighbor_id"))
    assert(topIds.toSet == Set(1L, 2L, 3L), "pure top-3 is the A clique")
    val mmr = Similarity.mmrRerank(emb, emb.filter($"vec_id" === 0),
      "vec_id", "embedding", k = 3, candK = 5, lambda = 0.5)
      .orderBy("step").collect()
    val picked = mmr.map(_.getAs[Long]("picked_id"))
    assert(picked.length == 3 && picked.toSet.size == 3, "picks are distinct")
    assert(picked(0) == topIds(0), "step 1 is the plain argmax")
    assert(picked.toSet.exists(Set(4L, 5L)), "MMR must cross into cluster B")
    // mmr scores are non-increasing in relevance terms only when
    // lambda = 1 — but each step's score must be <= lambda (sims <= 1)
    assert(mmr.forall(_.getAs[Double]("mmr") <= 0.5 + 1e-9))
  }

  test("q142 hashed classifier plans map-side: the only exchange is the final sort") {
    val df = graft.queries.TextQueries
      .queries("q142_hash_classifier")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    val shuffles = plan.split('\n')
      .count(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles == 1,
      s"per-token scoring must fold inside the scan (no explode+groupBy " +
        s"shuffle); expected only the ORDER BY exchange, got $shuffles:\n$plan")
  }
}
