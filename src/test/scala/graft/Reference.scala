package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference formulations of graft's native text and vector kernels as
  * pure Column compositions (Spark builtins and interpreted higher-order
  * functions). They exist to pin the native expressions against an
  * independently evaluated definition, and as documentation of the exact
  * semantics; the library itself never evaluates them.
  */
object Reference {

  /** [[graft.text.TextAnalysis.tokens]]: lowercase, trim, split on `\s+`,
    * drop empties. */
  def tokensHof(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), t => t =!= "")

  /** [[graft.text.TextAnalysis.tokenCount]]: blank text → 0. */
  def tokenCountRegex(text: Column): Column =
    when(trim(text) === "", lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** [[graft.text.TextAnalysis.qualityScore]] over the regex counts (the
    * oracle SQL mirrors this form). */
  def qualityScoreRegex(text: Column): Column = {
    val n = length(text).cast("double")
    val toks = greatest(tokenCountRegex(text), lit(1)).cast("double")
    val alpha = length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") / greatest(n, lit(1.0))
    val punct = length(regexp_replace(text, "[^.,;:!?]", "")).cast("double") / greatest(n, lit(1.0))
    val meanWordLen = n / toks
    val lenScore = when(n < 10, lit(0.0)).when(n > 20000, lit(0.3)).otherwise(lit(1.0))
    val punctScore = when(punct > 0.2, lit(0.0)).otherwise(lit(1.0) - punct)
    val wordLenScore = when(meanWordLen.between(2.0, 12.0), lit(1.0)).otherwise(lit(0.2))
    round((lenScore * 0.3 + alpha * 0.3 + punctScore * 0.2 + wordLenScore * 0.2) * 10000, 0) / 10000
  }

  /** [[graft.text.Dedup.shingles]]: the n-w+1 w-token windows, or one
    * all-token join when there are fewer than w tokens. */
  def shinglesHof(text: Column, w: Int): Column = {
    val toks = tokensHof(text)
    val n = size(toks)
    when(n >= w,
      transform(sequence(lit(0), n - w), i => array_join(slice(toks, i + 1, lit(w)), " ")))
      .otherwise(array(array_join(toks, " ")))
  }

  /** [[graft.text.Dedup.signatureFromShingles]]: k min-hashes, each the
    * lexicographic min of md5(i || ":" || shingle). */
  def signatureFromShinglesHof(sh: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(sh,
        s => md5(concat(i.cast("string"), lit(":"), s)))))

  /** [[graft.text.Dedup.simhash]]: for each bit position, the sign of the
    * summed votes over the distinct tokens' hashes. */
  def simhashHof(text: Column, bits: Int = 16): Column = {
    val toks = array_distinct(tokensHof(text))
    // token → int hash from first 8 hex chars of md5
    val th = transform(toks, t => conv(substring(md5(t), 1, 8), 16, 10).cast("long"))
    // shiftright/shiftleft builtins take an Int literal; inside a lambda the
    // shift amount is a Column, so go through call_function.
    val bitVotes = transform(sequence(lit(0), lit(bits - 1)), i =>
      when(aggregate(th, lit(0L),
        (acc, h) => acc + when(call_function("shiftright", h, i).bitwiseAND(lit(1L)) === 1L,
          lit(1L)).otherwise(lit(-1L))
      ) > 0, lit(1L)).otherwise(lit(0L)))
    aggregate(zip_with(bitVotes, sequence(lit(0), lit(bits - 1)),
      (bit, i) => call_function("shiftleft", bit, i)), lit(0L), (acc, v) => acc + v)
  }

  /** [[graft.functions.dotProduct]]: element products as doubles, summed
    * left to right from 0.0. Null when either array is null, holds a null
    * or is shorter than the other (zip_with pads with nulls); 0.0 for two
    * empty arrays. */
  def dotProductHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** [[graft.functions.cosineSimilarity]]: three HOF passes. */
  def cosineSimilarityHof(a: Column, b: Column): Column =
    dotProductHof(a, b) /
      (graft.functions.l2Norm(a) * graft.functions.l2Norm(b))

  /** [[graft.text.Dedup.fuzzyNearDuplicates]] verified with Spark's
    * `levenshtein` instead of the bit-parallel kernel, over the same
    * MinHash candidates (prefixes joined directly, the `recompute` shape). */
  def fuzzyNearDuplicatesSpark(df: DataFrame, idCol: String, textCol: String,
                               w: Int, k: Int, b: Int, threshold: Double,
                               capChars: Int = 400): DataFrame = {
    val cands = graft.text.Dedup.minhashCandidates(df, idCol, textCol, w, k, b)
    val txt = df.select(col(idCol), substring(col(textCol), 1, capChars).as("__t"))
    val denom = greatest(length(col("__ta")), length(col("__tb")))
    cands
      .join(txt.select(col(idCol).as("id_a"), col("__t").as("__ta")), Seq("id_a"))
      .join(txt.select(col(idCol).as("id_b"), col("__t").as("__tb")), Seq("id_b"))
      .withColumn("edit_sim", when(denom > 0,
        round((lit(1.0) -
          levenshtein(col("__ta"), col("__tb")).cast("double") / denom) * 1e4) / 1e4))
      .filter(col("edit_sim") >= threshold)
      .select("id_a", "id_b", "edit_sim")
  }
}
