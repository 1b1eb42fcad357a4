package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, designed around
  * Spark's shuffle model:
  *
  *  - exact: one hash-aggregate on a digest of the text (never groupBy the
  *    raw 100 KB text — group the 16-byte md5).
  *  - MinHash + LSH: shingle → k min-hashes → band → self-join on
  *    (band_id, band_hash). The self-join is an equi-join on the band hash,
  *    so candidate generation is shuffle-bounded by bucket sizes, not O(n²).
  *  - SimHash: 64-bit bit-majority signature; near-dups share signature
  *    (or band thereof).
  *  - n-gram Jaccard: exact verification on LSH candidates only.
  *
  * Hash primitive is md5 (hex string): identical across engines, which keeps
  * every step DuckDB-oracle-checkable. xxhash64 would be faster.
  */
object Dedup {

  /** w-token shingles of a text column — native one-pass expression
    * ([[graft.functions.ShinglesExpr]]); byte-identical to the reference
    * Column composition `graft.Reference.shinglesHof` (src/test). */
  def shingles(text: Column, w: Int): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.functions.ShinglesExpr(Bridge.expression(text), w))
  }

  /** MinHash signature: k permutations approximated by min(md5(i || shingle))
    * per i — lexicographic min over hex strings is a valid uniform min-hash. */
  def minhashSignature(text: Column, w: Int, k: Int): Column =
    signatureFromShingles(shingles(text, w), k)

  /** Signature from a pre-materialized shingle column. Materialize shingles
    * in their own projection first — inlining the shingle expression into
    * the k-way transform re-derives it k times per row (measured 3-4× on
    * the dedup pipeline).
    *
    * Evaluated by the native codegen expression [[graft.functions.MinHashMd5]]
    * (one JVM loop, stays inside WholeStageCodegen); byte-identical to
    * the reference formulation
    * `graft.Reference.signatureFromShinglesHof` (src/test). */
  def signatureFromShingles(sh: Column, k: Int): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.functions.MinHashMd5(Bridge.expression(sh), k))
  }

  /** LSH banding: signature (length k) → b bands of r rows, hashed. */
  def bands(signature: Column, b: Int, r: Int): Column = {
    require(b > 0 && r > 0, s"LSH bands need b > 0 and r > 0; got b = $b, r = $r")
    transform(sequence(lit(0), lit(b - 1)),
      i => struct(i.as("band_id"),
        md5(array_join(slice(signature, i * r + 1, lit(r)), "|")).as("band_hash")))
  }

  /** (id, distinct shingles) projection — the shared first stage of the
    * MinHash pipeline. Its own projection so downstream stages read the
    * materialized array instead of re-deriving it.
    *
    * The hash stage is CPU-bound, so parallelism matters: a compact input
    * (one parquet row-group) would otherwise pin the corpus on one task.
    * `parallelism` > 0 fans the input out to that many partitions;
    * 0 (the scale default) respects the input's own partitioning — at real
    * scale the scan already has thousands of partitions and a forced
    * repartition would be a full corpus shuffle. The caller decides: this
    * deliberately does NOT probe the input's partition count (a `df.rdd`
    * probe forces physical planning per pipeline call and bypasses the
    * AQE-final view). */
  private def shingled(df: DataFrame, idCol: String, textCol: String, w: Int,
                       parallelism: Int): DataFrame = {
    val in = if (parallelism > 0) df.repartition(parallelism) else df
    in.select(col(idCol).as("__id"),
      array_distinct(shingles(col(textCol), w)).as("__sh"))
  }

  private def bandedIds(sh: DataFrame, k: Int, b: Int): DataFrame = {
    require(k > 0 && b > 0 && k % b == 0,
      s"LSH banding needs k > 0 and b > 0 dividing k; got k = $k, b = $b")
    val r = k / b
    sh.select(col("__id"), signatureFromShingles(col("__sh"), k).as("__sig"))
      .select(col("__id"), explode(bands(col("__sig"), b, r)).as("__band"))
      .select(col("__id"), col("__band.band_id"), col("__band.band_hash"))
  }

  /** id<id candidate pairs from banded signatures — a streaming bucket
    * self-join on (band_id, band_hash): both join sides are projections of
    * ONE repartitioned frame (a single exchange, reused), and Spark's join
    * streams each bucket's cross pairs through spillable match buffers, so
    * memory stays O(bucket), never O(bucket²). The pre-r12 formulation
    * (collect_set → nested transform → explode) materialized a bucket's
    * entire pair array inside one row — safe only while banded buckets stay
    * small, and the embedding twin OOM'd the sf1 sweep on exactly that
    * shape ([[graft.ml.Similarity.embeddingNearDups]] r9); this mirrors its
    * fix. A pair colliding in several bands is emitted once per band; the
    * final distinct dedups (the old shape needed it too). Pair-count
    * blow-up (a bucket of n ids emits n(n-1)/2 pairs) is inherent to LSH,
    * not to the formulation; tune b/r for the corpus.
    *
    * `maxBucket` > 0 drops buckets larger than the cap before any pair
    * materializes. The counts, the drop list, and both join sides all
    * derive from the ONE repartitioned frame: the shingle/MinHash/band
    * pipeline computes once, its exchange is written once, and every
    * consumer (the count aggregate, the anti-join, both self-join inputs)
    * is a ReusedExchange read — the r12 formulation counted over `banded`
    * directly, which planned a second independent subtree and re-ran the
    * whole signature pipeline per run (r12 ADVICE). The drop list, not the
    * keep list, is broadcast: at corpus scale almost every bucket survives
    * the cap, so the survivors would never fit a broadcast while the
    * degenerates (rare by construction — near-empty documents sharing a
    * band hash) always do. A degenerate bucket's rows now ride the single
    * exchange before the anti-join drops them — rows, not pairs, and only
    * once; the n²/2 pair blow-up they'd cause still never happens.
    * Oversized buckets carry almost no dedup signal — dropping them is
    * standard MinHash-LSH practice. */
  private def pairsFromBuckets(banded: DataFrame, maxBucket: Int = 0): DataFrame = {
    val part = banded.repartition(col("band_id"), col("band_hash"))
    val pruned =
      if (maxBucket > 0) {
        val over = part.groupBy(col("band_id"), col("band_hash"))
          .agg(count(lit(1)).as("__bn"))
          .filter(col("__bn") > maxBucket)
          .select(col("band_id"), col("band_hash"))
        part.join(broadcast(over), Seq("band_id", "band_hash"), "left_anti")
      } else part
    val l = pruned.select(col("band_id"), col("band_hash"), col("__id").as("id_a"))
    val r = pruned.select(col("band_id"), col("band_hash"), col("__id").as("id_b"))
    l.join(r, Seq("band_id", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Candidate near-duplicate pairs via MinHash LSH. Returns (id_a, id_b)
    * with id_a < id_b, distinct. Shuffles: one groupBy on band hash.
    * `maxBucket` > 0 drops degenerate LSH buckets (see [[pairsFromBuckets]]);
    * at corpus scale set it (e.g. 1000) — a bucket that large is noise. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        w: Int = 3, k: Int = 16, b: Int = 4,
                        maxBucket: Int = 0, parallelism: Int = 0): DataFrame =
    pairsFromBuckets(
      bandedIds(shingled(df, idCol, textCol, w, parallelism), k, b), maxBucket)

  /** Exact n-gram Jaccard similarity between two text columns. */
  def jaccard(textA: Column, textB: Column, w: Int): Column = {
    val sa = array_distinct(shingles(textA, w))
    val sb = array_distinct(shingles(textB, w))
    val inter = size(array_intersect(sa, sb)).cast("double")
    val uni = size(array_union(sa, sb)).cast("double")
    when(uni > 0, inter / uni).otherwise(lit(0.0))
  }

  /** Exact Jaccard over two pre-distinct shingle arrays. */
  def jaccardFromShingles(sa: Column, sb: Column): Column = {
    val inter = size(array_intersect(sa, sb)).cast("double")
    val uni = (size(sa) + size(sb)).cast("double") - inter
    when(uni > 0, inter / uni).otherwise(lit(0.0))
  }

  /** Live `rescan` candidate-pair persists, oldest first (see
    * [[nearDuplicates]]). At most [[MaxLivePersists]] stay live: when a new
    * call would exceed it, the OLDEST is unpersisted WITH A WARNING (an
    * evicted frame still mid-query recomputes correctly but loses its
    * cache). Storage stays bounded under repeated calls, while up to that
    * many CONCURRENT or interleaved pipelines (e.g. a `nearDuplicates` and
    * a `fuzzyNearDuplicates` whose results are both consumed later) each
    * keep their pairs cached instead of unpersisting each other's
    * mid-query, as a single slot did. Call [[releaseCache]] after
    * consuming results to drop all. */
  private val MaxLivePersists = 4
  private val livePersists = new java.util.ArrayDeque[DataFrame]()

  private def registerPersist(df: DataFrame): Unit =
    livePersists.synchronized {
      livePersists.addLast(df)
      while (livePersists.size > MaxLivePersists) {
        log.warn(s"dedup persist registry over its cap ($MaxLivePersists): " +
          "evicting the oldest unreleased candidate-pair cache — a pipeline " +
          "still consuming it will recompute instead of reading cache. Call " +
          "Dedup.releaseCache() after consuming results.")
        livePersists.pollFirst().unpersist(blocking = false)
      }
    }

  /** Unpersist every frame cached by [[nearDuplicates]] /
    * [[fuzzyNearDuplicates]] calls still in the registry. Safe to call at
    * any time. */
  def releaseCache(): Unit = livePersists.synchronized {
    while (!livePersists.isEmpty)
      livePersists.pollFirst().unpersist(blocking = false)
  }

  /** Test hook: number of verify-stage persists currently live. */
  private[graft] def liveCacheCount: Int =
    livePersists.synchronized(livePersists.size)

  /** Candidate-id sets at or below this count get a broadcast hint on the
    * verify-side semi join (ids are a narrow id column — 4M ids ≈ tens of
    * MB hashed); above it the semi join falls back to a shuffle, which AQE
    * may still convert at runtime. */
  private val BroadcastIdCap = 4L * 1000 * 1000

  /** Measured in-memory blow-up of the corpus (id, shingles) projection
    * over the input's compressed parquet bytes: 28 GB from 0.57 GB of
    * documents at sf100 (SCALE.md) ≈ 49×, rounded down. */
  private val ShingleInflation = 48L

  /** How many multiples of the storage budget the estimated corpus-shingle
    * footprint may reach before the verify abandons `recompute` for
    * `rescan`. `recompute` persists nothing, so the budget is a proxy for
    * the real limit — the verify joins carry the FULL corpus-shingle
    * projection, and once it dwarfs execution memory those joins spill
    * while `rescan`'s candidate-semi-filtered verify touches only ~12% of
    * docs. Bracketing measurements (SCALE.md, "Round-22 additions",
    * verify-strategy scale map; 2 GB budget): at 1.3× budget (sf10)
    * recompute beat rescan 4.91 vs 6.29 s; at 13× (sf100) it lost 35.2 vs
    * 28.1 s. The switch sits at the geometric midpoint 4×. The probe that
    * measured it, `graft.testing.DedupVerifyProbe`, is in commit 38e36ee;
    * re-run it from there to narrow the switch if a workload lands
    * between. */
  private val RecomputeBudgetFactor = 4L

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Missing-stats sentinel: Catalyst reports `spark.sql.defaultSizeInBytes`
    * (Long.MaxValue by default) for plans it cannot size — e.g. RDD-backed
    * frames or views without statistics. Anything above 1 PiB is a
    * "don't know", not a measurement. */
  private val StatsSentinel = BigInt(1L << 50)

  /** Cache budget from executor confs when they are set: executor memory ×
    * `spark.memory.fraction` (default 0.6) is the unified region a worker
    * actually has for storage, quartered like the local-heap fallback. On
    * clusters this is what the verify switch should see — the driver JVM's
    * own heap says nothing about executor storage. */
  private[graft] def budgetFromConfs(execMem: Option[String],
                                     fraction: Option[Double]): Option[Long] =
    execMem.map { m =>
      val bytes =
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(m)
      (bytes * fraction.getOrElse(0.6) / 4).toLong
    }

  /** The verify switch's storage budget: executor-conf-derived on a
    * CLUSTER master, local JVM heap on a local one — local mode IGNORES
    * `spark.executor.memory` at runtime (the driver heap is the only
    * storage), so a local session carrying cluster-default confs must not
    * derive its budget from them (ADVICE r19). */
  private[graft] def autoBudget(master: String, execMem: Option[String],
                                fraction: Option[Double]): Long =
    (if (master.startsWith("local")) None
     else budgetFromConfs(execMem, fraction))
      .getOrElse(Runtime.getRuntime.maxMemory() / 4)

  /** Whether the near-dup verify takes the `rescan` shape (see
    * [[nearDuplicates]]) rather than `recompute`: true when the estimated
    * corpus-shingle footprint (optimizer-stats input bytes ×
    * [[ShingleInflation]]) exceeds [[RecomputeBudgetFactor]] × the storage
    * budget ([[autoBudget]]), or when the input has no usable stats at all
    * (the sentinel default would otherwise pass for a measurement; the
    * bounded-state shape is the safe call for an unknown-size input, and
    * the choice is logged). */
  private[graft] def rescan(df: DataFrame, what: String): Boolean = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est >= StatsSentinel) {
      log.info(s"$what: input stats unavailable (sizeInBytes=$est); " +
        "verifying through the bounded-state 'rescan' shape")
      true
    } else {
      val conf = df.sparkSession.conf
      val budget = autoBudget(df.sparkSession.sparkContext.master,
        conf.getOption("spark.executor.memory"),
        conf.getOption("spark.memory.fraction").map(_.toDouble))
      est * ShingleInflation > BigInt(RecomputeBudgetFactor) * budget
    }
  }

  /** Verify front end shared by [[nearDuplicates]] and
    * [[fuzzyNearDuplicates]]: the LSH candidate pairs and the frame the
    * verify reads. Under `rescan` the (small) pair set is persisted
    * eagerly — the one `count` both materializes it and drives the
    * broadcast decision — and the verify reads the input semi-joined to
    * the distinct candidate ids (broadcast-hinted at or below
    * [[BroadcastIdCap]]). Under `recompute` nothing is persisted and the
    * verify reads the input itself. */
  private def candidates(df: DataFrame, idCol: String, textCol: String,
                         w: Int, k: Int, b: Int, maxBucket: Int,
                         parallelism: Int, what: String)
      : (DataFrame, DataFrame) = {
    val pairs = minhashCandidates(df, idCol, textCol, w, k, b, maxBucket,
      parallelism)
    if (!rescan(df, what)) (pairs, df)
    else {
      val cands =
        pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      registerPersist(cands)
      val nPairs = cands.count()
      val ids = cands.select(explode(array(col("id_a"), col("id_b"))).as(idCol))
        .distinct()
      (cands, df.join(if (2 * nPairs <= BroadcastIdCap) broadcast(ids) else ids,
        Seq(idCol), "left_semi"))
    }
  }

  /** MinHash-LSH near-dup pairs verified by exact Jaccard ≥ threshold.
    * The engine picks the verify shape from the input's optimizer
    * statistics ([[rescan]]); the result is the same under either, and the
    * shapes trade fixed latency against bounded state:
    *
    *  - `rescan` (r18, the corpus-scale shape): candidate generation
    *    streams the shingle/MinHash/band pipeline through ONE exchange and
    *    the resulting (id_a, id_b) pairs — bounded by LSH bucket
    *    collisions, orders of magnitude smaller than the corpus — are what
    *    gets persisted (eagerly: one `count` materializes them and drives
    *    the broadcast decision). Verification re-derives shingles ONLY for
    *    documents appearing in some pair: a semi-join of the raw input on
    *    the candidate-id set (broadcast-hinted below [[BroadcastIdCap]]
    *    ids, shuffle otherwise) + a second shingle pass over that slice
    *    (~12% of docs at sf100). Replaces the corpus-wide shingle cache
    *    (28 GB + 10 GB spill at sf100) and its two full-corpus verify
    *    shuffles: 67.1 → 23.1 s steady-state at sf100 (SCALE.md). State is
    *    bounded by the candidate set at ANY corpus size. The input is
    *    scanned twice — pass a directly scannable frame, or persist `df`
    *    first if it is an expensive derivation.
    *  - `recompute` (r22, the small-input shape): no persist anywhere —
    *    candidate generation and both verify sides each derive the shingle
    *    projection from the input directly, one action, zero extra jobs,
    *    zero storage footprint. Since the shingle/minhash kernels became
    *    allocation-free byte loops (r21), re-running them is cheaper than
    *    building and holding a corpus-shingle cache (measured at every SF,
    *    SCALE.md "Round-22 additions"). The input is scanned three times —
    *    pass a directly scannable frame, or persist `df` yourself if it is
    *    an expensive derivation.
    *
    * The switch ([[rescan]]): `rescan` once the estimated corpus-shingle
    * footprint passes executor memory × `spark.memory.fraction` (or the
    * whole local heap), or when the input has no usable optimizer stats
    * (e.g. an RDD-backed frame); `recompute` otherwise.
    *
    * `parallelism` > 0 fans an under-partitioned input out to that many
    * tasks before the CPU-bound shingle/hash stages (see [[shingled]]);
    * 0 respects input partitioning. */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
                     w: Int = 3, k: Int = 16, b: Int = 4,
                     threshold: Double = 0.8, maxBucket: Int = 0,
                     parallelism: Int = 0): DataFrame = {
    val (cands, src) = candidates(df, idCol, textCol, w, k, b, maxBucket,
      parallelism, "nearDuplicates")
    val sh = shingled(src, idCol, textCol, w, parallelism)
    cands
      .join(sh.select(col("__id").as("id_a"), col("__sh").as("__sha")), Seq("id_a"))
      .join(sh.select(col("__id").as("id_b"), col("__sh").as("__shb")), Seq("id_b"))
      .withColumn("jaccard", round(jaccardFromShingles(col("__sha"), col("__shb")), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Fuzzy near-duplicates: the SAME banded-MinHash candidate generation
    * as [[nearDuplicates]], but verified by EDIT-distance similarity
    * (1 − lev/maxlen) on a length-capped text prefix instead of shingle
    * Jaccard — the verify used when token reordering should NOT count as
    * similar (boilerplate detection, template spam). Scale shape: edit
    * distance is the bit-parallel [[graft.functions.LevenshteinExpr]]
    * (Spark's `levenshtein` integer in O(⌈len/64⌉·len) word operations per
    * pair, 7·len at the default 400-character cap, where Spark's fills
    * len² cells), and it only ever runs on LSH candidate pairs (never
    * all-pairs) and on a `capChars` prefix (> 0) that bounds the worst
    * case. Pairs where both prefixes are empty have no defined similarity
    * and are dropped.
    * The verify shape is picked as on [[nearDuplicates]]: under `rescan`
    * the prefix side is semi-filtered to candidate ids (persisted pairs +
    * eager count + broadcast-hinted id set) so the full corpus's text
    * prefixes never shuffle; under `recompute` the prefixes join directly
    * (a substring of a scan, recomputed per side). Here `rescan` buys
    * shuffle volume rather than heap — only the candidate slice's
    * prefixes (~`capChars` bytes/doc) shuffle — paid for with the extra
    * candidate-count job and a second input scan. */
  def fuzzyNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                          w: Int = 3, k: Int = 16, b: Int = 4,
                          threshold: Double = 0.8, capChars: Int = 400,
                          maxBucket: Int = 0,
                          parallelism: Int = 0): DataFrame = {
    require(capChars > 0, s"capChars must be positive; got $capChars")
    val (cands, src) = candidates(df, idCol, textCol, w, k, b, maxBucket,
      parallelism, "fuzzyNearDuplicates")
    val txt = src.select(col(idCol),
      substring(col(textCol), 1, capChars).as("__t"))
    val denom = greatest(length(col("__ta")), length(col("__tb")))
    cands
      .join(txt.select(col(idCol).as("id_a"), col("__t").as("__ta")), Seq("id_a"))
      .join(txt.select(col(idCol).as("id_b"), col("__t").as("__tb")), Seq("id_b"))
      .withColumn("edit_sim", when(denom > 0,
        round((lit(1.0) -
          graft.functions.editDistance(col("__ta"), col("__tb")).cast("double") / denom) * 1e4) / 1e4))
      .filter(col("edit_sim") >= threshold)
      .select("id_a", "id_b", "edit_sim")
  }

  /** Repeated token-span detection (substring-level dedup, the public
    * "Deduplicating Training Data Makes Language Models Better" recipe
    * restricted to fixed-width spans): lowercase-whitespace tokenize, slide
    * an `n`-token window, and surface spans appearing in >= `minDocs`
    * DISTINCT documents, most-shared first.
    *
    * Scale shape: the canonical two-exchange exact count-distinct ladder —
    * partial aggregation on (md5(span), id), final aggregation on md5(span)
    * — so every shuffle is keyed by the 16-byte digest (the [[exact]]
    * policy); the raw span text rides as a value column, never a key
    * (PlanSpec pins this). The final top-k is TakeOrderedAndProject (no
    * global sort materialization). Window expansion is the native one-pass
    * [[graft.functions.ShinglesExpr]] kernel (codegen'd, no interpreted
    * HOFs) — linear work, no self-join anywhere. Documents shorter than `n`
    * tokens emit one degenerate short span (the ShinglesExpr contract);
    * the token-count filter below drops those. */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 8, minDocs: Int = 2, topK: Int = 50): DataFrame = {
    val spans = df
      .select(col(idCol).as("__id"),
        explode(shingles(col(textCol), n)).as("span"))
      .filter(size(split(col("span"), " ")) === n)
    spans
      .groupBy(md5(col("span")).as("__h"))
      .agg(first(col("span")).as("span"),
        countDistinct(col("__id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("span"))
      .limit(topK)
      .select("span", "n_docs", "n_occ")
  }

  /** Benchmark decontamination — the n-gram overlap check every LLM
    * training pipeline runs before training (the public recipe: e.g. GPT-3
    * appendix C, 13-gram overlap): count the distinct `w`-gram collisions
    * each corpus document has with an evaluation/benchmark set.
    *
    * Scale shape: the benchmark set is SMALL by definition, so its
    * distinct n-gram digests broadcast; the corpus streams through the
    * native shingle kernel ONCE — a broadcast join and a groupBy on doc id,
    * no shuffle of corpus text, no self-join. Returns (idCol, n_hits) for
    * documents with ≥ 1 colliding n-gram. */
  def contaminationHits(corpus: DataFrame, idCol: String, textCol: String,
                        bench: DataFrame, benchTextCol: String,
                        w: Int = 13): DataFrame = {
    def grams(text: Column) =
      explode(array_distinct(shingles(text, w))).as("__g")
    val benchGrams = bench.select(grams(col(benchTextCol)))
      .filter(size(split(col("__g"), " ")) === w) // drop short-doc degenerates
      .select(md5(col("__g")).as("__h")).distinct()
    val docGrams = corpus.select(col(idCol), grams(col(textCol)))
      .filter(size(split(col("__g"), " ")) === w)
      .select(col(idCol), md5(col("__g")).as("__h"))
    docGrams.join(broadcast(benchGrams), Seq("__h"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hits"))
  }

  /** Sketch form of [[contaminationHits]]: the benchmark n-gram digests go
    * into a Bloom filter ([[graft.functions.bloomAgg]] — Spark's native
    * runtime-filter sketch) instead of a broadcast digest SET, and the
    * corpus probes the sketch inline ([[graft.functions.bloomMightContain]]
    * — codegen'd, no join at all). Trade: the sketch is CONSTANT-size
    * (numBits/8 bytes however large the benchmark grows — the exact set
    * broadcast grows linearly), at the cost of a bounded false-positive
    * rate; never false-negative, so no contaminated document escapes.
    * That is the right shape when the "benchmark" side is itself huge
    * (e.g. decontaminating against another full corpus — note Spark's
    * default runtime-filter confs cap the sketch at 2^26 bits / 4M
    * items; raise `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` /
    * `...maxNumItems` for corpus-scale benchmarks). Returns
    * (idCol, n_hits) counting DISTINCT n-grams whose digest the sketch
    * accepts — a superset of the exact hit set. */
  def contaminationHitsBloom(corpus: DataFrame, idCol: String, textCol: String,
                             bench: DataFrame, benchTextCol: String,
                             w: Int = 13, numBits: Long = 1L << 23): DataFrame = {
    def grams(text: Column) =
      explode(array_distinct(shingles(text, w))).as("__g")
    val benchGrams = bench.select(grams(col(benchTextCol)))
      .filter(size(split(col("__g"), " ")) === w)
      .select(md5(col("__g")).as("__h")).distinct()
    // ONE row of sketch bytes; the only thing that ever leaves the bench
    // side. expectedItems is a hint — numBits fixes the real size/fpp.
    val sketch = benchGrams
      .agg(graft.functions.bloomAgg(col("__h"), numBits / 16, numBits))
      .head.getAs[Array[Byte]](0)
    corpus.select(col(idCol), grams(col(textCol)))
      .filter(size(split(col("__g"), " ")) === w)
      .filter(graft.functions.bloomMightContain(lit(sketch), md5(col("__g"))))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hits"))
  }

  /** Drop corpus documents with ≥ `minHits` distinct n-gram collisions
    * against the benchmark set (anti-join on the flagged ids). */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
                    bench: DataFrame, benchTextCol: String,
                    w: Int = 13, minHits: Int = 1): DataFrame = {
    val flagged = contaminationHits(corpus, idCol, textCol, bench, benchTextCol, w)
      .filter(col("n_hits") >= minHits).select(col(idCol))
    corpus.join(flagged, Seq(idCol), "left_anti")
  }

  /** Exact dedup: keep the smallest id per distinct text digest.
    * Aggregates on md5(text), not text itself — tiny shuffle keys. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.groupBy(md5(col(textCol)).as("__digest"))
      .agg(min(col(idCol)).as(idCol))
      .drop("__digest")
      .join(df, Seq(idCol))
  }

  /** SimHash: per-distinct-token signed bit votes — native one-pass
    * expression ([[graft.functions.SimHashExpr]]); byte-identical to the
    * reference formulation `graft.Reference.simhashHof` (src/test). */
  def simhash(text: Column, bits: Int = 16): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.functions.SimHashExpr(Bridge.expression(text), bits))
  }

  /** Hamming distance between two simhash values. */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Duplicate CLUSTERS from near-dup pairs — the step after
    * [[nearDuplicates]] in every real dedup pipeline: connected components,
    * so each document gets the smallest id in its component as `cluster_id`
    * (the canonical-doc assignment).
    *
    * Algorithm: alternating large-star/small-star (Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond" — the public
    * MapReduce-era recipe). Each phase is one groupBy + one equi-join,
    * both keyed on node id (shuffle-bounded, no driver data), and the
    * alternation converges in O(log n) phases even on adversarial
    * long-chain graphs, where the plain min-label propagation this
    * replaces needs O(diameter) rounds (a planted 1000-chain: ~15 phases
    * vs 999 rounds — property-spec'd). `localCheckpoint` cuts the growing
    * lineage per phase. Only ids that appear in `pairs` are emitted;
    * unpaired documents are their own singleton clusters by definition. */
  def duplicateClusters(pairs: DataFrame, aCol: String, bCol: String,
                        maxIter: Int = 60): DataFrame =
    duplicateClustersWithStats(pairs, aCol, bCol, maxIter)._1

  /** [[duplicateClusters]] plus the number of star phases it ran —
    * exposed so the convergence-bound property spec can assert the
    * O(log n) behavior instead of trusting the comment. */
  def duplicateClustersWithStats(pairs: DataFrame, aCol: String, bCol: String,
                                 maxIter: Int = 60): (DataFrame, Int) = {
    val ids = pairs.select(col(aCol).cast("long").as("doc_id"))
      .union(pairs.select(col(bCol).cast("long").as("doc_id"))).distinct()
    var edges = pairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint()

    // large-star: every node links its LARGER neighbors to the minimum of
    // its neighborhood (incl. itself) — long tails fold up exponentially
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy("u").agg(min(col("v")).as("__mn"))
        .select(col("u"), least(col("u"), col("__mn")).as("__m"))
      sym.join(m, Seq("u")).filter(col("v") > col("u"))
        .select(col("v").as("u"), col("__m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }
    // small-star: every node links its smaller-or-equal neighbors (and
    // itself) to the minimum among them
    def smallStar(e: DataFrame): DataFrame = {
      val o = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val m = o.groupBy("u").agg(min(col("v")).as("__m"))
      val wm = o.join(m, Seq("u"))
      wm.select(col("v").as("u"), col("__m").as("v"))
        .union(wm.select(col("u"), col("__m").as("v")))
        .filter(col("u") =!= col("v")).distinct()
    }
    def sameSet(a: DataFrame, b: DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

    var phases = 0
    var done = edges.isEmpty
    while (!done && phases < maxIter) {
      // large-star to its own fixpoint, then one small-star (the paper's
      // two-phase schedule); overall fixpoint = both phases are no-ops
      var lsDone = false
      while (!lsDone && phases < maxIter) {
        val nxt = largeStar(edges).localCheckpoint()
        lsDone = sameSet(nxt, edges)
        edges = nxt
        phases += 1
      }
      val ss = smallStar(edges).localCheckpoint()
      done = sameSet(ss, edges)
      edges = ss
      phases += 1
    }
    // fixpoint edges form a star per component: (node, component-min).
    // Nodes with no surviving edge (roots, self-pair-only ids) label
    // themselves.
    val labels = ids.join(edges.select(col("u").as("doc_id"), col("v")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("v"), col("doc_id")).as("cluster_id"))
    (labels, phases)
  }
}
