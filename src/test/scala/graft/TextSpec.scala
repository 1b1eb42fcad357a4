package graft

import org.apache.spark.sql.functions._
import graft.text.{Dedup, TextAnalysis}
import graft.ml.Similarity
import graft.multimodal.Multimodal

class TextSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup keeps smallest id per distinct text") {
    val df = Seq((1L, "hello world"), (2L, "hello world"), (3L, "other"))
      .toDF("id", "text")
    val kept = Dedup.exact(df, "id", "text").select("id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L))
  }

  test("sparse featurize + train ≡ the dense per-bucket formulation") {
    import graft.text.{Dsir, QualityClassifier}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (buckets <- Seq(8, 64)) {
      // the pre-r12 dense formulation, re-stated here as the reference:
      // for each bucket, re-filter the full token array (O(buckets·n_tok))
      val toks = TextAnalysis.tokens(col("text"))
      val nTok = size(toks)
      val denseX = concat(
        transform(sequence(lit(0), lit(buckets - 1)), b =>
          size(filter(toks, t =>
            Dsir.bucketOf(t, buckets) === b.cast("long"))).cast("double") /
            nTok.cast("double")),
        array(lit(1.0)))
      val dense = docs.withColumn("n_tok", nTok).filter(col("n_tok") > 0)
        .select(col("doc_id"), denseX.as("x"))
      // densify the sparse entries and compare value-for-value
      val sparse = QualityClassifier.featurize(docs, "text", buckets)
        .select(col("doc_id"), col("__xs"))
      val joined = dense.join(sparse, "doc_id")
        .select(col("doc_id"), col("x"),
          transform(sequence(lit(0), lit(buckets)), i =>
            coalesce(
              element_at(map_from_entries(col("__xs")), i.cast("long")),
              lit(0.0))).as("xd"))
      assert(joined.count() == dense.count())
      val bad = joined.filter(
        exists(zip_with(col("x"), col("xd"), (a, b) => abs(a - b) > 1e-12),
          identity))
      assert(bad.isEmpty, s"buckets=$buckets: ${bad.count()} rows diverge")
      // and trained weights follow the identical snapped trajectory
      val (w, scored) = QualityClassifier.train(
        docs, "text", col("lang") === "en", buckets = buckets, iters = 2)
      assert(w.length == buckets + 1 && w.exists(_ != 0.0))
      assert(scored.columns.contains("margin") && scored.count() > 0)
    }
  }

  test("jaccard: identical=1, disjoint=0") {
    val df = Seq(("a b c d", "a b c d", "x y z w")).toDF("t1", "t2", "t3")
    val (same, diff) = df.select(
      Dedup.jaccard(col("t1"), col("t2"), 2),
      Dedup.jaccard(col("t1"), col("t3"), 2)).as[(Double, Double)].head()
    assert(same == 1.0 && diff == 0.0)
  }

  test("repeatedSpans finds cross-doc spans, counts in-doc repeats as occurrences only") {
    val shared = "one two three four five six seven eight"
    val df = Seq(
      (1L, s"intro $shared tail words here"),
      (2L, s"$shared different ending entirely"),
      (3L, s"$shared middle $shared"), // span twice in ONE doc
      (4L, "nothing in common with anything else at all today friends"))
      .toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(df, "doc_id", "text", n = 8, minDocs = 2)
      .as[(String, Long, Long)].collect()
    val hit = out.find(_._1 == shared)
    assert(hit.nonEmpty, s"shared span not found in ${out.toSeq}")
    assert(hit.get._2 == 3, s"expected 3 distinct docs, got ${hit.get}")
    assert(hit.get._3 == 4, s"expected 4 occurrences, got ${hit.get}")
    // no span from doc 4 (unique text) may appear
    assert(!out.exists(_._1.contains("nothing in common")))
  }

  test("minhash LSH finds a near-duplicate pair") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val df = Seq((1L, base), (2L, base + " extra"), (3L, "completely different words here nothing shared at all ever"))
      .toDF("doc_id", "text")
    val pairs = Dedup.nearDuplicates(df, "doc_id", "text", w = 2, k = 8, b = 4,
      threshold = 0.3).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // banding arguments are checked while the frame is built, before any
    // job: b > k would make r = 0 (every document collides in every band),
    // b = 0 divides by zero, and k % b != 0 drops signature entries
    def rejected(build: => Any, names: String*): Unit = {
      val (e, jobs) = jobsStarted(intercept[IllegalArgumentException](build))
      assert(jobs == 0)
      names.foreach(n => assert(e.getMessage.contains(n), e.getMessage))
    }
    for ((k, b) <- Seq((4, 8), (8, 0), (8, 3))) {
      rejected(Dedup.minhashCandidates(df, "doc_id", "text", w = 2, k = k, b = b),
        s"k = $k", s"b = $b")
      rejected(Dedup.nearDuplicates(df, "doc_id", "text", w = 2, k = k, b = b),
        s"k = $k", s"b = $b")
      rejected(Dedup.fuzzyNearDuplicates(df, "doc_id", "text", w = 2, k = k, b = b),
        s"k = $k", s"b = $b")
    }
    rejected(Dedup.bands(col("sig"), 0, 2), "b = 0")
    rejected(Dedup.bands(col("sig"), 4, 0), "r = 0")
    for (cap <- Seq(0, -1))
      rejected(Dedup.fuzzyNearDuplicates(df, "doc_id", "text", capChars = cap),
        "capChars", s"$cap")
    // k = 8, b = 4 is unaffected
    assert(Dedup.minhashCandidates(df, "doc_id", "text", w = 2, k = 8, b = 4)
      .as[(Long, Long)].collect().toSet.contains((1L, 2L)))
  }

  test("maxBucket: normal buckets give identical pairs; a degenerate bucket is dropped") {
    // 40 near-identical docs → one hot LSH bucket; 2 genuine near-dups besides
    val hot = (100L to 139L).map(i => (i, "identical degenerate filler text shared by every document"))
    val normal = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today extra"))
    val df = (normal ++ hot).toDF("doc_id", "text")
    val uncapped = Dedup.minhashCandidates(df, "doc_id", "text", w = 2, k = 8, b = 4)
      .as[(Long, Long)].collect().toSet
    val capped = Dedup.minhashCandidates(df, "doc_id", "text", w = 2, k = 8, b = 4,
      maxBucket = 10).as[(Long, Long)].collect().toSet
    // the hot bucket (40 ids > cap) is dropped; the normal pair survives intact
    assert(capped.contains((1L, 2L)))
    assert(!capped.exists(p => p._1 >= 100L))
    assert(uncapped.exists(p => p._1 >= 100L))
    // a cap above every bucket size changes nothing — pair-set equality
    val highCap = Dedup.minhashCandidates(df, "doc_id", "text", w = 2, k = 8, b = 4,
      maxBucket = 1000).as[(Long, Long)].collect().toSet
    assert(highCap == uncapped)
  }

  test("planted degenerate bucket: streaming self-join matches the grouped pair-gen") {
    // 5% of docs share one text (→ one band hash across all bands); the
    // rest are unique-ish with a couple of genuine near-dup pairs.
    val degenerate = (1000L until 1050L)
      .map(i => (i, "identical degenerate filler text shared by five percent"))
    val unique = (1L to 950L).map(i =>
      (i, s"document $i talks about topic${i % 97} and subject${i % 89} " +
        s"with words w${i}a w${i}b w${i}c w${i}d"))
    val dups = Seq(
      (2001L, "the quick brown fox jumps over the lazy dog again today"),
      (2002L, "the quick brown fox jumps over the lazy dog again today extra"))
    val df = (unique ++ degenerate ++ dups).toDF("doc_id", "text")
    val banded = Dedup.minhashCandidates(df, "doc_id", "text", w = 2, k = 8, b = 4)
      .as[(Long, Long)].collect().toSet
    // reference: the pre-r12 grouped local pair generation, restated
    val oldShape = {
      val sh = df.select(col("doc_id").as("__id"),
        array_distinct(graft.text.Dedup.shingles(col("text"), 2)).as("__sh"))
      val sig = sh.select(col("__id"),
        graft.text.Dedup.signatureFromShingles(col("__sh"), 8).as("__sig"))
      val bandRows = sig.select(col("__id"),
        explode(graft.text.Dedup.bands(col("__sig"), 4, 2)).as("__band"))
        .select(col("__id"), col("__band.band_id"), col("__band.band_hash"))
      bandRows.groupBy(col("band_id"), col("band_hash"))
        .agg(sort_array(collect_set(col("__id"))).as("ids"))
        .filter(size(col("ids")) > 1)
        .select(explode(flatten(transform(col("ids"), (x, i) =>
          transform(slice(col("ids"), i + 2, size(col("ids"))),
            y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
        .select(col("p.id_a"), col("p.id_b")).distinct()
        .as[(Long, Long)].collect().toSet
    }
    assert(banded == oldShape,
      s"pair sets diverge: only-new=${(banded -- oldShape).take(5)} " +
        s"only-old=${(oldShape -- banded).take(5)}")
    // the degenerate cluster emits its n(n-1)/2 pairs when uncapped...
    assert(banded.count(p => p._1 >= 1000L && p._2 < 2000L) == 50 * 49 / 2)
    // ...and a cap below 50 drops exactly those, keeping the true pair
    val capped = Dedup.minhashCandidates(df, "doc_id", "text",
      w = 2, k = 8, b = 4, maxBucket = 40).as[(Long, Long)].collect().toSet
    assert(capped.contains((2001L, 2002L)))
    assert(!capped.exists(p => p._1 >= 1000L && p._2 < 2000L))
  }

  test("decontaminate drops docs overlapping the benchmark, keeps clean ones") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "intro text then the quick brown fox jumps over the lazy dog tonight verbatim"),
      (2L, "completely unrelated content about spark query planning and shuffles"),
      (3L, "short")).toDF("doc_id", "text")
    val hits = Dedup.contaminationHits(corpus, "doc_id", "text", bench, "text", w = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.contains(1L) && hits(1L) >= 5, s"verbatim span must collide: $hits")
    assert(!hits.contains(2L) && !hits.contains(3L))
    val clean = Dedup.decontaminate(corpus, "doc_id", "text", bench, "text",
      w = 5, minHits = 1).select("doc_id").as[Long].collect().toSet
    assert(clean == Set(2L, 3L))
  }

  test("simhash: identical texts share signature; hamming=0") {
    val df = Seq(("same words here", "same words here", "other stuff there"))
      .toDF("a", "b", "c")
    val (hAB, hAC) = df.select(
      Dedup.hammingDistance(Dedup.simhash(col("a")), Dedup.simhash(col("b"))),
      Dedup.hammingDistance(Dedup.simhash(col("a")), Dedup.simhash(col("c"))))
      .as[(Long, Long)].head()
    assert(hAB == 0L && hAC > 0L)
  }

  test("tokenCount handles blanks; fingerprint is order-insensitive") {
    val df = Seq(("", "b a c", "c b a")).toDF("e", "x", "y")
    val (n, fx, fy) = df.select(TextAnalysis.tokenCount(col("e")),
      TextAnalysis.fingerprint(col("x")), TextAnalysis.fingerprint(col("y")))
      .as[(Int, String, String)].head()
    assert(n == 0 && fx == fy)
  }

  test("brute-force topk: self is the nearest neighbor") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding"))
    val top = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", "qid", 2)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    assert(top == Seq(0L, 1L))
  }

  test("ivf with a single centroid equals brute force") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding"))
    val cents = Seq((0, Array(0.5, 0.5)))
    val top = Similarity.ivfTopK(vecs, q, "vec_id", "embedding", "qid", cents, 2)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    assert(top == Seq(0L, 1L))
  }

  test("duplicateClusters: chains collapse to one component, components stay apart") {
    // chain 1-2-3-4 (diameter > 1 forces real propagation), pair 10-11,
    // and 20-21-22 sharing a hub
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (21L, 20L), (21L, 22L))
      .toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("duplicateClusters: a planted 1000-chain converges in O(log n) star phases") {
    // the adversarial case for min-label propagation (O(diameter) = 999
    // rounds); the alternating small/large-star schedule must fold it up
    // exponentially
    val n = 1000
    val rnd = new scala.util.Random(7)
    val pairs = rnd.shuffle((1 until n).map(i => (i.toLong, (i + 1).toLong)).toList)
      .toDF("id_a", "id_b")
    val (labels, phases) = Dedup.duplicateClustersWithStats(pairs, "id_a", "id_b")
    val logBound = 2 * math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt + 4
    assert(phases <= logBound, s"$phases star phases > O(log n) bound $logBound")
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == n && got.forall(_._2 == 1L),
      s"chain must collapse to cluster 1; bad: ${got.filter(_._2 != 1L).take(5).toSeq}")
  }

  test("ivf nprobe: all-cells probing equals brute force; recall rises with nprobe") {
    val vecs = graft.queries.util.t(spark, "/root/testdata/sf0.001", "embeddings")
    val q = vecs.limit(5)
      .select(col("vec_id").as("qid"), col("embedding"))
    // deterministic centroids: 4 fixed unit-ish directions in the emb dim
    val dim = vecs.select(size(col("embedding"))).as[Int].head()
    val cents = (0 until 4).map(c =>
      c -> Array.tabulate(dim)(i => math.sin(1.0 + c * 37 + i * 7)))
    def hits(nprobe: Int): Map[Long, Set[Long]] =
      Similarity.ivfTopK(vecs, q, "vec_id", "embedding", "qid", cents, k = 3,
        nprobe = nprobe)
        .select(col("qid").cast("long"), col("vec_id").cast("long")).as[(Long, Long)]
        .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", "qid", 3)
      .select(col("qid").cast("long"), col("vec_id").cast("long")).as[(Long, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // probing every cell = exact search
    assert(hits(4) == exact)
    def recall(h: Map[Long, Set[Long]]): Double =
      exact.map { case (k2, v) => (h.getOrElse(k2, Set.empty) & v).size.toDouble / v.size }
        .sum / exact.size
    assert(recall(hits(2)) >= recall(hits(1)))
    assert(recall(hits(4)) == 1.0)
  }

  test("embeddingNearDups maxBucket drops a degenerate bucket, keeps normal pairs") {
    // Buckets under these planes: v0,v1 → 5; v2,v3 → 6; v4 → 2 alone;
    // the planted identical vectors → 1, disjoint from every normal bucket.
    val planes = Seq(Array(0.3, -0.7, 0.2), Array(-0.5, 0.4, 0.8), Array(0.9, 0.1, -0.6))
    val normal = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(0.99f, 0.05f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)), (3L, Array(0.02f, 0.98f, 0.1f)),
      (4L, Array(-1.0f, 0.1f, 0.0f))).toDF("vec_id", "embedding")
    val base = Similarity.embeddingNearDups(normal, "vec_id", "embedding", planes, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(base == Set((0L, 1L), (2L, 3L))) // the "unchanged" claim below is not vacuous

    // dead/identical embeddings (the common corpus-scale degeneracy) all land
    // in ONE bucket: 100 of them uncapped emit 100*99/2 pairs from one task
    def dead(n: Long) = spark.range(n).select(
      (col("id") + 100000L).as("vec_id"),
      array(lit(-1.0f), lit(-2.0f), lit(-0.5f)).as("embedding"))
    val uncapped = Similarity.embeddingNearDups(normal.unionByName(dead(100)),
      "vec_id", "embedding", planes, 0.8)
    assert(uncapped.count() == base.size + 100L * 99 / 2)

    // maxBucket prunes the degenerate bucket BEFORE pair expansion — 10k
    // planted vectors (≈5e7 pairs uncapped) stay cheap — and normal buckets
    // are untouched
    val capped = Similarity.embeddingNearDups(normal.unionByName(dead(10000)),
      "vec_id", "embedding", planes, 0.8, maxBucket = 100)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == base)
  }

  test("multimodal frame sampling emits duration/every + 1 frames") {
    val df = Seq((1L, Array[Byte](1, 2, 3))).toDF("id", "payload")
    val assets = Multimodal.asAssets(df, "id", "payload", "video")
      .withColumn("meta", struct(lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height"), lit(null).cast("int").as("sample_rate"),
        lit(2000L).as("duration_ms"), lit("fake").as("codec")))
    val frames = Multimodal.sampleFrames(assets, 500L)
    assert(frames.count() == 5) // 0,500,1000,1500,2000
    val feats = Multimodal.extractFeatures(assets, dim = 4)
      .select(size(col("features"))).as[Int].head()
    assert(feats == 4)
  }

  test("batched decode streams bounded batches through mapPartitions") {
    val df = (0 until 100).map(i => (i.toLong, Array.fill[Byte](8)(i.toByte)))
      .toDF("id", "payload")
    val assets = Multimodal.asAssets(df, "id", "payload", "image").repartition(4)
    // a decode fn that records the batch sizes it was handed
    val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val out = Multimodal.decodeBatched(assets, batchSize = 16, dim = 4,
      decode = (ps, d) => { sizes.add(ps.length); Multimodal.stubDecode(ps, d) })
    assert(out.count() == 100)
    assert(out.rdd.getNumPartitions == 4)       // no shuffle, no repartition
    // local-mode executors share the JVM, so the queue observes real batches
    assert(scala.jdk.CollectionConverters.CollectionHasAsScala(sizes)
      .asScala.forall(_ <= 16))                  // memory bound respected
    // deterministic: same payload → same features, twice
    val a = out.select(col("asset_id"), col("features")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val b = Multimodal.decodeBatched(assets, batchSize = 7, dim = 4)
      .select(col("asset_id"), col("features")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(a == b)
  }
}
