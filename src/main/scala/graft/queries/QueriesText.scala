package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.queries.util._
import graft.text.{Dedup, TextAnalysis => TA}
import graft.ml.Similarity
import graft.multimodal.Multimodal

/** Training-data pipeline battery: dedup (exact / MinHash-LSH / SimHash /
  * n-gram Jaccard), similarity search over embeddings, text analysis
  * (token counts, language-ID, quality, fingerprints), multimodal plumbing.
  * The md5-based hashing keeps every deterministic step DuckDB-checkable.
  */
object QueriesText {

  // deterministic random hyperplanes for embedding LSH (seed-free: fixed).
  private val planes: Seq[Array[Double]] = Seq(7, 13, 29).map { p =>
    Array.tabulate(64)(i => math.sin((i + 1) * p).toDouble)
  }

  val queries: Map[String, Q] = Map(
    "text_token_stats" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        TA.tokenCount(col("text")).as("n_tokens"),
        length(col("text")).as("n_chars_calc"),
        TA.subwordCount(col("text")).as("n_subwords"))
        .orderBy(col("doc_id"))),

    "text_quality" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        TA.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))),

    "text_langid" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"), col("lang"),
        TA.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))),

    "text_fingerprint" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        TA.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))),

    "dedup_exact" -> ((s, d) =>
      Dedup.exact(t(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))),

    "dedup_minhash_sig" -> ((s, d) =>
      t(s, d, "documents").filter(col("doc_id") < 100).select(
        col("doc_id"),
        element_at(Dedup.minhashSignature(col("text"), 3, 4), 1).as("mh0"),
        element_at(Dedup.minhashSignature(col("text"), 3, 4), 2).as("mh1"))
        .orderBy(col("doc_id"))),

    // LSH candidates + exact Jaccard verification — rows-only at full
    // pipeline level would hide bugs, so the oracle replicates the whole
    // MinHash+LSH+Jaccard pipeline in SQL.
    "dedup_near_pairs" -> ((s, d) =>
      Dedup.nearDuplicates(t(s, d, "documents"), "doc_id", "text",
        w = 3, k = 4, b = 2, threshold = 0.5,
        // local fixture arrives as one row-group; fan the CPU-bound hash
        // stage out (explicit hint — the library never probes partitions)
        parallelism = s.sparkContext.defaultParallelism)
        .orderBy(col("id_a"), col("id_b"))),

    // The fuzzy (edit-distance) verify over the SAME LSH candidates:
    // 1 − lev/maxlen on a 400-char prefix — the reorder-sensitive
    // near-dup check (boilerplate/template spam), O(len²) only ever on
    // candidate pairs, never all-pairs. threshold 0.5 provably filters
    // (one candidate pair sits at ~0.30 and is dropped).
    "text_fuzzy_pairs" -> ((s, d) =>
      Dedup.fuzzyNearDuplicates(t(s, d, "documents"), "doc_id", "text",
        w = 3, k = 4, b = 2, threshold = 0.5, capChars = 400,
        parallelism = s.sparkContext.defaultParallelism)
        .orderBy(col("id_a"), col("id_b"))),

    "dedup_simhash" -> ((s, d) =>
      t(s, d, "documents").filter(col("doc_id") < 200).select(
        col("doc_id"),
        Dedup.simhash(col("text"), 16).as("simhash"))
        .orderBy(col("doc_id"))),

    // pairs -> duplicate clusters (connected components, min-label
    // propagation): the canonical-doc assignment step after near-dup
    // detection. Oracle closes the same pair set with a recursive CTE.
    "dedup_clusters" -> ((s, d) => {
      val pairs = Dedup.nearDuplicates(t(s, d, "documents"), "doc_id", "text",
        w = 3, k = 4, b = 2, threshold = 0.5,
        parallelism = s.sparkContext.defaultParallelism)
      Dedup.duplicateClusters(pairs, "id_a", "id_b").orderBy(col("doc_id"))
    }),

    // Canonical-document selection — the decision near-dup clustering
    // exists to feed: within every duplicate cluster, KEEP the highest-
    // quality copy (ties to the smaller id) and drop the rest. Composes
    // the LSH pipeline + star-schedule clustering + the quality scorer;
    // one keyed window over cluster-sized groups (bounded by near-dup
    // cluster size, not corpus size).
    "dedup_keep_best" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      val pairs = Dedup.nearDuplicates(docs, "doc_id", "text",
        w = 3, k = 4, b = 2, threshold = 0.5,
        parallelism = s.sparkContext.defaultParallelism)
      val clusters = Dedup.duplicateClusters(pairs, "id_a", "id_b")
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("q").desc, col("doc_id").asc)
      clusters
        .join(docs.select(col("doc_id"),
          TA.qualityScore(col("text")).as("q")), Seq("doc_id"))
        .withColumn("keep", row_number().over(w) === 1)
        .select(col("doc_id"), col("cluster_id"), col("q"), col("keep"))
        .orderBy(col("doc_id"))
    }),

    "sim_bruteforce_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queriesDf = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.bruteForceTopK(
        emb.filter(col("vec_id") >= 3), queriesDf,
        "vec_id", "embedding", "query_id", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // LSH-bucketed embedding near-dups. The planes are sin((i+1)*p) for
    // p ∈ {7,13,29}, so the oracle recomputes them in SQL — no literals.
    "sim_lsh_pairs" -> ((s, d) =>
      Similarity.embeddingNearDups(t(s, d, "embeddings"), "vec_id", "embedding",
        planes, threshold = 0.3)
        .orderBy(col("id_a"), col("id_b"))),

    // substring-level dedup (Lee et al. 2022 recipe, fixed-width spans):
    // 8-token spans shared by >=2 distinct docs, one md5-keyed shuffle,
    // top-50 via TakeOrderedAndProject
    "dedup_ngram_spans" -> ((s, d) =>
      Dedup.repeatedSpans(t(s, d, "documents"), "doc_id", "text",
        n = 8, minDocs = 2, topK = 50)),

    // repetition metrics (the Gopher/MassiveText quality-filter family,
    // Rae et al. 2021 — public recipe): duplicate-word fraction, most
    // frequent word share, most frequent 2-gram share. Two md5-free
    // groupBy ladders keyed on (doc_id, token) — no windows, no collects;
    // fractions use the integer-scaled rounding recipe.
    "text_repetition" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val words = docs.select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("w"))
        .filter(col("w") =!= "")
      val stats = words.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(sum("c").as("n_words"),
          count(lit(1)).as("n_distinct"), max("c").as("top_c"))
      val gramTop = docs.select(col("doc_id"),
        explode(Dedup.shingles(col("text"), 2)).as("g"))
        .filter(size(split(col("g"), " ")) === 2)
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max("c").as("top2_c"), sum("c").as("n_grams"))
      def frac(num: Column, den: Column) =
        round(num.cast("double") / den.cast("double") * 10000, 0) / 10000
      stats.join(gramTop, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_words"),
          frac(col("n_words") - col("n_distinct"), col("n_words")).as("dup_word_frac"),
          frac(col("top_c"), col("n_words")).as("top_word_frac"),
          frac(col("top2_c"), col("n_grams")).as("top_2gram_frac"))
        .orderBy(col("doc_id"))
    }),

    // benchmark decontamination (GPT-3-style n-gram overlap): docs 0-4
    // play the eval set, the rest are the corpus; per-doc distinct 5-gram
    // collision counts. Broadcast eval digests, one corpus pass.
    "text_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.contaminationHits(
        docs.filter(col("doc_id") >= 5), "doc_id", "text",
        docs.filter(col("doc_id") < 5), "text", w = 5)
        .orderBy(col("doc_id"))
    }),

    "multimodal_frames" -> ((s, d) => {
      val assets = Multimodal.asAssets(
        t(s, d, "documents").select(col("doc_id"), col("text"), col("n_chars")),
        "doc_id", "text", "video")
        .withColumn("meta", struct(lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"), lit(null).cast("int").as("sample_rate"),
          (col("asset_id") % 20 * 1000 + 500).cast("long").as("duration_ms"),
          lit("fake").as("codec")))
      Multimodal.sampleFrames(assets, everyMs = 500L)
        .select(col("asset_id"), col("ts_ms"), col("frame_idx"))
        .orderBy(col("asset_id"), col("ts_ms"))
    }),

    // PII redaction (the pre-training scrub — BigScience ROOTS / Dolma
    // publish the same email/IP/phone families). The fixture corpus is
    // PII-free word soup, so deterministic PII is synthesized from doc_id
    // (present on ~1/3, ~1/4, ~1/5 of docs respectively, with clean rows
    // in between) — both engines build the identical string, then each
    // runs its own regex engine: agreement proves the patterns are
    // engine-portable and the chained replacement exact.
    "text_pii_redact" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") < 2000)
      val pii = concat_ws(" ",
        substring(col("text"), 1, 40),
        when(col("doc_id") % 3 === 0,
          concat(lit("user"), col("doc_id").cast("string"), lit("@example.com")))
          .otherwise(lit("noemail")),
        when(col("doc_id") % 4 === 0,
          concat(lit("+1-555-"),
            lpad((col("doc_id") * 7919 % 10000).cast("string"), 4, "0")))
          .otherwise(lit("x")),
        when(col("doc_id") % 5 === 0,
          concat(lit("10."), (col("doc_id") % 256).cast("string"), lit("."),
            (col("doc_id") * 3 % 256).cast("string"), lit("."),
            (col("doc_id") * 7 % 256).cast("string")))
          .otherwise(lit("y")))
      docs.select(col("doc_id"),
          TA.redactPii(pii).as("red"),
          TA.piiCount(pii).as("n_pii"))
        .orderBy(col("doc_id"))
    }),

    // Sequence packing (ops/SequencePacking): the span map from the
    // doc-order token stream onto fixed 512-token training sequences —
    // each row says "this doc contributes n_slice tokens starting at
    // doc_off to sequence seq_id"; docs crossing a boundary emit one row
    // per covered sequence.
    "text_pack_sequences" -> ((s, d) =>
      graft.ops.SequencePacking.spans(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        TA.tokenCount(col("text")), Seq(col("doc_id")), seqLen = 512L)
        .select(col("seq_id"), col("doc_id"), col("doc_off"), col("n_slice"))
        .orderBy(col("seq_id"), col("doc_id")))
  )

  private[queries] val tokensSql = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')"
  private[queries] def shinglesSql(w: Int) =
    s"""(CASE WHEN len($tokensSql) >= $w
       | THEN [array_to_string(($tokensSql)[i:i+${w - 1}], ' ')
       |       FOR i IN generate_series(1, len($tokensSql) - ${w - 1})]
       | ELSE [array_to_string($tokensSql, ' ')] END)""".stripMargin

  private def minhashSql(i: Int, w: Int) =
    s"list_min(list_transform(${shinglesSql(w)}, s -> md5('$i' || ':' || s)))"

  /** Shared SQL replica of the MinHash+LSH+Jaccard pair pipeline (sig k=4,
    * b=2 bands of r=2, exact-Jaccard verify) — checking only at the
    * pipeline level would hide bugs, so both the pairs oracle and the
    * clusters oracle rebuild the whole thing from these CTEs. */
  private lazy val nearPairsCte: String = {
    val sigs = (0 to 3).map(i => s"${minhashSql(i, 3)} AS mh$i").mkString(", ")
    s"""sig AS (
       | SELECT doc_id, $sigs, ${shinglesSql(3)} AS sh FROM documents),
       |banded AS (
       | SELECT doc_id, 0 AS band_id, md5(mh0 || '|' || mh1) AS band_hash, sh FROM sig
       | UNION ALL
       | SELECT doc_id, 1, md5(mh2 || '|' || mh3), sh FROM sig),
       |cand AS (
       | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       | FROM banded a JOIN banded b
       |  ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       |  AND a.doc_id < b.doc_id),
       |verified AS (
       | SELECT id_a, id_b,
       |  round(len(list_distinct(list_intersect(sa.sh, sb.sh)))
       |   / (len(list_distinct(sa.sh)) + len(list_distinct(sb.sh))
       |      - len(list_distinct(list_intersect(sa.sh, sb.sh)))), 4) AS jaccard
       | FROM cand
       | JOIN sig sa ON sa.doc_id = id_a
       | JOIN sig sb ON sb.doc_id = id_b)""".stripMargin
  }

  /** The quality-score formula as oracle SQL — shared by text_quality
    * and the streaming curation-filter key so the two cannot drift. */
  private[queries] lazy val qualityScoreSql: String =
    """round((
      | (CASE WHEN length(text) < 10 THEN 0.0 WHEN length(text) > 20000 THEN 0.3 ELSE 1.0 END) * 0.3
      | + (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / greatest(length(text), 1.0)) * 0.3
      | + (CASE WHEN length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / greatest(length(text), 1.0) > 0.2
      |    THEN 0.0 ELSE 1.0 - length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / greatest(length(text), 1.0) END) * 0.2
      | + (CASE WHEN length(text) / greatest(CASE WHEN trim(text) = '' THEN 0
      |      ELSE len(string_split_regex(trim(text), '\s+')) END, 1)
      |     BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.2 END) * 0.2) * 10000) / 10000""".stripMargin

  val oracle: Map[String, String] = Map(
    "dedup_ngram_spans" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        | FROM documents),
        |g AS (SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS span
        | FROM t, unnest(range(1, len(toks) - 6)) AS r(i)
        | WHERE len(toks) >= 8)
        |SELECT span, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
        |FROM g GROUP BY span HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY n_docs DESC, n_occ DESC, span LIMIT 50""".stripMargin,

    "text_repetition" ->
      """WITH w AS (
        | SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
        |   x -> x <> '')) AS w
        | FROM documents),
        |pw AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2),
        |s AS (SELECT doc_id, sum(c)::BIGINT AS n_words,
        |  count(*)::BIGINT AS n_distinct, max(c) AS top_c FROM pw GROUP BY 1),
        |tok AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        | FROM documents),
        |g AS (SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS g
        | FROM tok, unnest(range(1, len(toks))) AS r(i) WHERE len(toks) >= 2),
        |pg AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
        |sg AS (SELECT doc_id, max(c) AS top2_c, sum(c)::BIGINT AS n_grams
        | FROM pg GROUP BY 1)
        |SELECT s.doc_id, n_words,
        | round((n_words - n_distinct) / n_words * 10000) / 10000 AS dup_word_frac,
        | round(top_c / n_words * 10000) / 10000 AS top_word_frac,
        | round(top2_c / n_grams * 10000) / 10000 AS top_2gram_frac
        |FROM s LEFT JOIN sg ON s.doc_id = sg.doc_id
        |ORDER BY s.doc_id""".stripMargin,

    "text_decontaminate" ->
      """WITH tok AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        | FROM documents),
        |b AS (SELECT DISTINCT array_to_string(toks[i:i+4], ' ') AS g
        | FROM tok, unnest(range(1, len(toks) - 3)) AS r(i)
        | WHERE doc_id < 5 AND len(toks) >= 5),
        |d AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS g
        | FROM tok, unnest(range(1, len(toks) - 3)) AS r(i)
        | WHERE doc_id >= 5 AND len(toks) >= 5)
        |SELECT doc_id, count(*) AS n_hits
        |FROM d JOIN b USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_token_stats" ->
      """SELECT doc_id,
        | CASE WHEN trim(text) = '' THEN 0
        |      ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) END AS n_tokens,
        | CAST(length(text) AS INTEGER) AS n_chars_calc,
        | CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS n_subwords
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      s"""SELECT doc_id, $qualityScoreSql AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_langid" -> {
      def ratio(words: Seq[String]) =
        s"""(len(list_filter($tokensSql,
           |  t -> t IN (${words.map(w => s"'$w'").mkString(",")})))
           | / greatest(len($tokensSql), 1))""".stripMargin
      val en = ratio(TA.stopwordsEn); val es = ratio(TA.stopwordsEs)
      val de = ratio(TA.stopwordsDe); val fr = ratio(TA.stopwordsFr)
      s"""SELECT doc_id, lang,
         | CASE
         |  WHEN length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g'))
         |    / greatest(length(text), 1) > 0.05 THEN 'zh'
         |  WHEN greatest($en, $es, $de, $fr) = 0 THEN 'und'
         |  WHEN $en = greatest($en, $es, $de, $fr) THEN 'en'
         |  WHEN $es = greatest($en, $es, $de, $fr) THEN 'es'
         |  WHEN $de = greatest($en, $es, $de, $fr) THEN 'de'
         |  ELSE 'fr' END AS lang_pred
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "text_fingerprint" ->
      """SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
        |  list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> ''))), ' ')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "dedup_exact" ->
      """SELECT d.doc_id, d.lang, d.n_chars FROM documents d
        |JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k
        | ON d.doc_id = k.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "dedup_minhash_sig" ->
      s"""SELECT doc_id, ${minhashSql(0, 3)} AS mh0, ${minhashSql(1, 3)} AS mh1
         |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,

    "dedup_near_pairs" ->
      s"""WITH $nearPairsCte
         |SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    "dedup_keep_best" ->
      s"""WITH RECURSIVE $nearPairsCte,
         |fp AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
         |edges AS (SELECT id_a AS a, id_b AS b FROM fp
         |          UNION ALL SELECT id_b, id_a FROM fp),
         |reach AS (
         | SELECT a, b FROM edges
         | UNION
         | SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |       FROM reach GROUP BY a),
         |scored AS (
         | SELECT cl.doc_id, cl.cluster_id, $qualityScoreSql AS q
         | FROM cl JOIN documents USING (doc_id))
         |SELECT doc_id, cluster_id, q,
         | row_number() OVER (PARTITION BY cluster_id
         |   ORDER BY q DESC, doc_id ASC) = 1 AS keep
         |FROM scored ORDER BY doc_id""".stripMargin,

    "text_fuzzy_pairs" ->
      s"""WITH $nearPairsCte,
         |tx AS (SELECT doc_id, substr(text, 1, 400) AS t FROM documents),
         |fuzzy AS (
         | SELECT id_a, id_b,
         |  CASE WHEN greatest(len(ta.t), len(tb.t)) > 0 THEN
         |   round((1.0 - levenshtein(ta.t, tb.t)::DOUBLE
         |     / greatest(len(ta.t), len(tb.t))) * 1e4) / 1e4 END AS edit_sim
         | FROM cand
         | JOIN tx ta ON ta.doc_id = id_a
         | JOIN tx tb ON tb.doc_id = id_b)
         |SELECT id_a, id_b, edit_sim FROM fuzzy WHERE edit_sim >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    "dedup_clusters" ->
      s"""WITH RECURSIVE $nearPairsCte,
         |fp AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
         |edges AS (SELECT id_a AS a, id_b AS b FROM fp
         |          UNION ALL SELECT id_b, id_a FROM fp),
         |reach AS (
         | SELECT a, b FROM edges
         | UNION
         | SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,

    "dedup_simhash" -> {
      // 16-bit simhash: per bit, majority vote over distinct tokens
      // (nested list lambdas — correlated subqueries crash DuckDB here)
      val th = s"list_transform(list_distinct($tokensSql), t -> ('0x' || substr(md5(t), 1, 8))::BIGINT)"
      s"""SELECT doc_id,
         | CAST(list_sum(list_transform(generate_series(0,15), i ->
         |   CASE WHEN list_sum(list_transform($th,
         |     h -> CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |    THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS simhash
         |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin
    },

    "sim_bruteforce_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 3),
        | c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 3),
        | scored AS (
        |  SELECT q.query_id, c.vec_id,
        |   round(list_dot_product(c.cv, q.qv)
        |     / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
        |  FROM c CROSS JOIN q)
        |SELECT query_id, vec_id, cosine, rank FROM (
        | SELECT query_id, vec_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |   ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
        | FROM scored)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "sim_lsh_pairs" -> {
      // same hyperplanes as `planes` above: element j (1-based) of plane p
      // is sin(j * p); bucket bit i set iff round(dot * 1e6) >= 0 — the
      // integer-scaled round matches the engine's ULP-snap at the boundary
      def dotSql(p: Int) =
        s"list_sum(list_transform(generate_series(1, len(e)), i -> e[i] * sin(i * $p)))"
      val bucket = Seq(7, 13, 29).zipWithIndex.map { case (p, idx) =>
        s"(CASE WHEN round(${dotSql(p)} * 1e6) >= 0 THEN ${1L << idx} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |b AS (SELECT vec_id, e, $bucket AS bucket FROM v)
         |SELECT id_a, id_b, cosine FROM (
         | SELECT a.vec_id AS id_a, c.vec_id AS id_b,
         |  round(list_dot_product(a.e, c.e)
         |    / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(c.e, c.e)))
         |    * 10000) / 10000 AS cosine
         | FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
         |WHERE cosine >= 0.3 ORDER BY id_a, id_b""".stripMargin
    },

    "multimodal_frames" ->
      """SELECT doc_id AS asset_id, unnest(generate_series(0, dur, 500)) AS ts_ms,
        | CAST(unnest(generate_series(0, dur, 500)) / 500 AS BIGINT) AS frame_idx
        |FROM (SELECT doc_id, doc_id % 20 * 1000 + 500 AS dur FROM documents)
        |ORDER BY asset_id, ts_ms""".stripMargin,

    "text_pii_redact" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
      val phone = "\\+?[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,4}"
      s"""WITH p AS (
         | SELECT doc_id,
         |  substr(text, 1, 40) || ' ' ||
         |  CASE WHEN doc_id % 3 = 0
         |       THEN 'user' || doc_id || '@example.com' ELSE 'noemail' END
         |  || ' ' ||
         |  CASE WHEN doc_id % 4 = 0
         |       THEN '+1-555-' || lpad((doc_id * 7919 % 10000)::VARCHAR, 4, '0')
         |       ELSE 'x' END
         |  || ' ' ||
         |  CASE WHEN doc_id % 5 = 0
         |       THEN '10.' || (doc_id % 256) || '.' || (doc_id * 3 % 256)
         |            || '.' || (doc_id * 7 % 256)
         |       ELSE 'y' END AS pii
         | FROM documents WHERE doc_id < 2000)
         |SELECT doc_id,
         | regexp_replace(regexp_replace(regexp_replace(pii,
         |   '$email', '<EMAIL>', 'g'),
         |   '$ip', '<IP>', 'g'),
         |   '$phone', '<PHONE>', 'g') AS red,
         | (len(regexp_extract_all(pii, '$email'))
         |  + len(regexp_extract_all(
         |      regexp_replace(pii, '$email', '<EMAIL>', 'g'), '$ip'))
         |  + len(regexp_extract_all(
         |      regexp_replace(regexp_replace(pii, '$email', '<EMAIL>', 'g'),
         |        '$ip', '<IP>', 'g'), '$phone')))::BIGINT AS n_pii
         |FROM p ORDER BY doc_id""".stripMargin
    },

    "text_pack_sequences" ->
      """WITH t AS (
        | SELECT doc_id,
        |  CASE WHEN trim(text) = '' THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END::BIGINT AS n_toks
        | FROM documents),
        |s AS (
        | SELECT doc_id, n_toks,
        |  (sum(n_toks) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS run
        | FROM t),
        |e AS (
        | SELECT doc_id, n_toks, run - n_toks AS st, run,
        |  unnest(generate_series((run - n_toks) // 512, (run - 1) // 512)) AS seq_id
        | FROM s WHERE n_toks > 0)
        |SELECT seq_id, doc_id,
        | (greatest(seq_id * 512, st) - st)::BIGINT AS doc_off,
        | (least((seq_id + 1) * 512, run) - greatest(seq_id * 512, st))::BIGINT AS n_slice
        |FROM e ORDER BY seq_id, doc_id""".stripMargin
  )
}
