package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  * All pure Column compositions (codegen'd, no UDFs) so they run inside
  * whole-stage codegen over 100 TB of documents.
  */
object TextAnalysis {

  /** THE whitespace token convention every text op in graft shares:
    * lowercase, trim, split on \s+, drop empties. The SQL oracles mirror
    * it as `QueriesText.tokensSql`; change both together or nowhere.
    *
    * r22 (opt guide §4): native one-pass byte-run kernel
    * ([[graft.functions.TokensExpr]] over the same scanner the shingle
    * path adopted in r21) — the Column composition went through Spark's
    * `StringSplit`, which pays a full UTF-16 decode and a `Pattern.compile`
    * PER ROW. Byte-identical to the reference Column composition
    * `graft.Reference.tokensHof` (src/test) for valid UTF-8 input (the
    * scanner's `\s` ≡ ASCII-whitespace argument is on
    * [[graft.functions.ShingleUtil.tokens]]); pinned by TokensExprSpec. */
  def tokens(text: Column): Column = graft.functions.tokens(text)

  /** Whitespace token count. Empty/blank text → 0. Native one-pass
    * ([[graft.functions.textStats]]); `graft.Reference.tokenCountRegex`
    * (src/test) is the reference formulation. */
  def tokenCount(text: Column): Column =
    graft.functions.textStats(text).getField("n_tokens")

  /** BPE-ish subword count: alnum runs + individual punctuation marks — a
    * cheap, deterministic proxy for tokenizer counts (≈ GPT-style regex
    * families). RE2-safe pattern (no lookarounds) so oracles can mirror it. */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Stopword hit ratio over a given stopword list — building block for
    * language-ID and quality scoring. The denominator is the [[tokens]]
    * count (at least 1), so whitespace that leads or trails the text adds
    * no empty token: "\tthe cat", "the cat\n" and " \tthe cat \n" all give
    * 0.5. Blank text gives 0 and null gives null. The `text_langid` oracle
    * SQL divides by the same count (`QueriesText.tokensSql`). */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val toks = tokens(text)
    val hits = size(filter(toks, t => t.isin(stopwords.map(lit(_).cast("string")): _*)))
    hits.cast("double") / greatest(size(toks), lit(1)).cast("double")
  }

  // Small built-in stopword inventories for the n-gram/stopword language
  // heuristic (public common-word lists).
  val stopwordsEn = Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "on")
  val stopwordsEs = Seq("el", "la", "de", "que", "y", "en", "los", "del", "se", "las")
  val stopwordsDe = Seq("der", "die", "das", "und", "in", "den", "von", "zu", "mit", "ist")
  val stopwordsFr = Seq("le", "la", "de", "et", "les", "des", "en", "un", "du", "une")

  /** Language-ID heuristic: highest stopword ratio wins; CJK detection by
    * unicode-range density first. Returns a 2-letter code, "und" if unsure. */
  def langId(text: Column): Column = {
    val cjk = length(regexp_replace(text, "[^\\u4e00-\\u9fff]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")
    val en = stopwordRatio(text, stopwordsEn)
    val es = stopwordRatio(text, stopwordsEs)
    val de = stopwordRatio(text, stopwordsDe)
    val fr = stopwordRatio(text, stopwordsFr)
    val best = greatest(en, es, de, fr)
    when(cjk > 0.05, lit("zh"))
      .when(best === lit(0.0), lit("und"))
      .when(en === best, lit("en"))
      .when(es === best, lit("es"))
      .when(de === best, lit("de"))
      .otherwise(lit("fr"))
  }

  /** Quality score in [0,1]: combines length band, punctuation sanity,
    * alpha ratio and mean word length — the standard cheap pre-filters in
    * web-scale corpus cleaning. */
  def qualityScore(text: Column): Column = {
    val st = graft.functions.textStats(text)
    val n = st.getField("n_chars").cast("double")
    val toks = greatest(st.getField("n_tokens"), lit(1)).cast("double")
    val alpha = st.getField("n_alpha").cast("double") / greatest(n, lit(1.0))
    val punct = st.getField("n_punct").cast("double") / greatest(n, lit(1.0))
    val meanWordLen = n / toks
    val lenScore = when(n < 10, lit(0.0)).when(n > 20000, lit(0.3)).otherwise(lit(1.0))
    val punctScore = when(punct > 0.2, lit(0.0)).otherwise(lit(1.0) - punct)
    val wordLenScore = when(meanWordLen.between(2.0, 12.0), lit(1.0)).otherwise(lit(0.2))
    // scaled-integer rounding: round(x*10000)/10000 instead of round(x, 4).
    // Spark rounds via the double's DECIMAL string (BigDecimal HALF_UP),
    // DuckDB via std::round on the BINARY scaled double - at half-way
    // boundaries they disagree (~0.2% of docs at sf0.1). Rounding the
    // scaled value to an integer is exact in both engines.
    round((lenScore * 0.3 + alpha * 0.3 + punctScore * 0.2 + wordLenScore * 0.2) * 10000, 0) / 10000
  }

  /** Document fingerprint (OpenRefine-style key collision fingerprint):
    * lowercase → tokenize → distinct → sort → md5. Deterministic and
    * oracle-reproducible; used for near-exact dedup of reordered text. */
  def fingerprint(text: Column): Column =
    // the inner filter(split(lower(trim(..)))) IS tokens() verbatim — r22
    // routes it through the native kernel; distinct/sort/join/md5 stay the
    // same codegen builtins
    md5(array_join(array_sort(array_distinct(tokens(text))), " "))

  /** Rolling-hash shingle fingerprints: md5 per w-token shingle, minimum
    * kept — a cheap content-defined signature. */
  def minShingleHash(text: Column, w: Int): Column = {
    // r22: the transform/sequence/slice ladder was element-for-element the
    // shingle contract ([[graft.functions.ShinglesExpr]]): n ≥ w gives the
    // n-w+1 w-windows, n < w (including 0 tokens → [""] and null text →
    // [null] → array_min null) gives the one degenerate all-token join —
    // so derive from the native kernel and keep only the md5/array_min.
    import org.apache.spark.sql.graft.Bridge
    val sh = Bridge.column(
      graft.functions.ShinglesExpr(Bridge.expression(text), w))
    array_min(transform(sh, s => md5(s)))
  }

  // ---- PII redaction ------------------------------------------------------
  // The standard pre-training scrub step (BigScience ROOTS / Dolma publish
  // the same three families). RE2-compatible patterns — no lookarounds —
  // so Java (Spark) and RE2 (DuckDB oracles) agree match-for-match.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  val PhoneRe = "\\+?[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,4}"

  /** Redact emails, IPv4 addresses, and phone-shaped number runs to typed
    * placeholders. Chained native regexp_replace (codegen'd, replaces all
    * occurrences). Order is load-bearing: emails carry dots+digits that
    * could half-match the IP pattern, and IPs carry digit runs — each
    * family is removed before the next looks. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Count of PII matches across the three families, equal by construction
    * to the number of placeholders [[redactPii]] inserts: each family
    * counts on the text with the PRIOR families already redacted, exactly
    * as the replacement chain sees it (an email containing an IP-shaped
    * substring — `a@10.2.3.4.example.com` — counts once, as the email the
    * scrub actually replaces). */
  def piiCount(text: Column): Column = {
    val afterEmail = regexp_replace(text, EmailRe, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, Ipv4Re, "<IP>")
    (size(regexp_extract_all(text, lit(EmailRe), lit(0))) +
      size(regexp_extract_all(afterEmail, lit(Ipv4Re), lit(0))) +
      size(regexp_extract_all(afterIp, lit(PhoneRe), lit(0)))).cast("long")
  }
}
