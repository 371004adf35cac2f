package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale document pipelines.
  *
  * All are built from codegen'd `org.apache.spark.sql.functions` primitives —
  * no Scala UDFs in the hot path — so they stay inside whole-stage codegen
  * and scale to 100 TB document tables.
  *
  * Capability parity targets: the reference's string utilities
  * (`util/StringHelper.scala:1-114`) plus the training-data-pipeline text ops
  * (token counting, quality scoring, language ID, fingerprinting).
  */
object TextFunctions {

  /** Whitespace tokens; empty string → 0 tokens (split of "" yields [""]). */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(split(trim(text), "\\s+")).cast("long"))

  /** BPE-ish sub-word token estimate: words + punctuation marks counted
    * separately (a cheap deterministic proxy for a real tokenizer). */
  def subwordTokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(split(trim(text), "(?<=\\W)|(?=\\W)")).cast("long"))

  /** Count of punctuation characters. */
  def punctCount(text: Column): Column =
    length(regexp_replace(text, "[^.,;:!?'\"()\\[\\]{}-]", "")).cast("long")

  /** Punctuation-to-character ratio in [0,1]; 0 for empty text. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(punctCount(text).cast("double") / length(text).cast("double"))

  /** Ratio of stopword tokens to all tokens (English stopword set). */
  def stopwordRatio(text: Column): Column = {
    val stops = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is",
      "it", "that", "for", "on", "with", "as", "was", "at", "by", "be")
    val toks = split(lower(trim(text)), "\\s+")
    val stopHits = size(filter(toks, t => array_contains(
      array(stops.map(lit): _*), regexp_replace(t, "[^a-z]", ""))))
    when(tokenCount(text) === 0, lit(0.0))
      .otherwise(stopHits.cast("double") / tokenCount(text).cast("double"))
  }

  /** Mean word length over whitespace tokens; 0 for empty. */
  def meanWordLength(text: Column): Column =
    when(tokenCount(text) === 0, lit(0.0))
      .otherwise(
        aggregate(split(trim(text), "\\s+"), lit(0L),
          (acc, w) => acc + length(w)).cast("double") /
          tokenCount(text).cast("double"))

  /** Composite quality score in [0,1]: length sweet-spot, sane punctuation,
    * some stopwords (suggests natural language). Deterministic, heuristic. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast("double") / lit(20.0), lit(1.0))
    val punctOk = when(punctRatio(text) < 0.2, lit(1.0)).otherwise(lit(0.5))
    val stopOk = when(stopwordRatio(text) > 0.05, lit(1.0)).otherwise(lit(0.5))
    round(lenScore * lit(0.5) + punctOk * lit(0.25) + stopOk * lit(0.25), 4)
  }

  /** Fasttext-style linear classifier INFERENCE over hashed bag-of-words
    * features: each token hashes to one of `weights.length` buckets via its
    * md5 hex prefix, the document's score is
    * `sigmoid(mean(weights(bucket(w))) + intercept)`.
    *
    * This is the runtime shape of a learned quality filter at corpus
    * scale: the model is a small weight-vector artifact folded into the
    * expression as a literal array, scoring is map-only inside the row
    * (no shuffle, no per-row model lookup join), and the md5-prefix
    * bucketing is engine-portable so any SQL engine reproduces the exact
    * scores. `weights.length` must divide 256 (buckets come from the
    * first two hex chars: 16·h₁ + h₂ mod dim).
    *
    * HOF caveat (see [[wordBigrams]]): callers must stage the token
    * array once — pass a pre-split array column, not an inline split. */
  def hashedLinearScore(toks: Column, weights: Array[Double],
      intercept: Double): Column = {
    require(weights.nonEmpty && 256 % weights.length == 0,
      "weights.length must divide 256")
    val hex = "0123456789abcdef"
    val warr = array(weights.map(lit): _*)
    def bucket(w: Column): Column =
      ((instr(lit(hex), substring(md5(w), 1, 1)) - 1) * 16 +
        (instr(lit(hex), substring(md5(w), 2, 1)) - 1)) % weights.length
    when(size(toks) === 0, lit(null).cast("double")).otherwise(
      lit(1.0) / (lit(1.0) + exp(-(
        aggregate(toks, lit(0.0),
          (acc, w) => acc + element_at(warr, bucket(w) + 1)) /
          size(toks).cast("double") + lit(intercept)))))
  }

  /** N-gram-frequency language ID heuristic. Scores text against per-language
    * marker word sets; returns the language code with the most marker hits,
    * "und" when nothing matches. Pure column expressions → codegen'd. */
  def langIdHeuristic(text: Column): Column = {
    val markers: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of", "is", "that", "with", "for", "this"),
      "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein"),
      "fr" -> Seq("le", "la", "les", "est", "une", "des", "dans", "pour"),
      "es" -> Seq("el", "los", "las", "es", "una", "para", "por", "como"),
      "it" -> Seq("il", "di", "che", "per", "con", "una", "sono", "della"))
    val toks = split(lower(trim(text)), "[^a-zà-ÿ]+")
    val scored = markers.map { case (langCode, words) =>
      struct(
        size(filter(toks, t => array_contains(array(words.map(lit): _*), t)))
          .as("hits"),
        lit(langCode).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Deterministic 64-bit document fingerprint (content hash of normalised
    * text) — the "rolling hash" document identity for exact dedup. */
  def fingerprint(text: Column): Column =
    xxhash64(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Character shingles (n-length substrings of normalised text) — basis for
    * MinHash / Jaccard dedup. Built with sequence+transform: stays codegen'd. */
  def charShingles(text: Column, n: Int): Column = {
    val norm = regexp_replace(lower(trim(text)), "\\s+", " ")
    when(length(norm) < n, array(norm))
      .otherwise(array_distinct(transform(
        sequence(lit(1), length(norm) - lit(n - 1)),
        i => norm.substr(i, lit(n)))))
  }

  /** Word n-grams over an ALREADY-SPLIT token array column. Callers stage
    * the `split` in its own projection first — HOFs are interpreted with
    * no CSE, so the inline `wordNgramsAll` form re-runs
    * split() once per PRODUCED GRAM (the `slice(toks, …)` lambda body
    * re-evaluates its child); over a staged attribute the array
    * materialises once per row. Same output, ~O(tokens) instead of
    * O(tokens · grams) splitting. */
  def wordNgramsOfTokens(toks: Column, n: Int,
      distinctGrams: Boolean): Column = {
    val grams = transform(
      sequence(lit(0), size(toks) - lit(n)),
      i => concat_ws(" ", slice(toks, i + 1, lit(n))))
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(if (distinctGrams) array_distinct(grams) else grams)
  }

  /** Word n-grams WITHOUT de-duplication (positional) — the multiset the
    * repetition filters need; `distinctGrams` collapses repeats. Inline
    * convenience form — hot paths stage the split (see
    * [[wordNgramsOfTokens]]). */
  def wordNgramsAll(text: Column, n: Int): Column =
    wordNgramsOfTokens(split(lower(trim(text)), "\\s+"), n,
      distinctGrams = false)

  /** Fraction of duplicate word n-grams in [0,1]: 1 − distinct/total over
    * the positional n-gram multiset. The Gopher-style repetition signal
    * ("fraction of duplicate n-grams"); high values flag looping/boilerplate
    * text. 0 for texts shorter than n words.
    *
    * The n-gram `transform` is a higher-order function (interpreted, no CSE)
    * so it must appear exactly once: the multiset SIZE is derived
    * arithmetically (tokens − n + 1), never by a second `size(grams)`. */
  def duplicateNgramRatio(text: Column, n: Int): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val total = (size(toks) - lit(n - 1)).cast("double")
    when(size(toks) < n, lit(0.0))
      .otherwise(lit(1.0) -
        size(array_distinct(wordNgramsAll(text, n))).cast("double") / total)
  }

  /** Fraction of whitespace tokens containing at least one ASCII letter —
    * the Gopher "80% of words must contain an alphabetic character" signal.
    * 0 for empty text. */
  def alphaWordRatio(text: Column): Column = {
    val toks = split(trim(text), "\\s+")
    when(tokenCount(text) === 0, lit(0.0))
      .otherwise(
        size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("double") /
          tokenCount(text).cast("double"))
  }

  /** Overlapping token-window chunks (RAG/embedding indexing shape): window
    * of `windowTokens` whitespace tokens advancing by `strideTokens`. The
    * final window may be shorter; texts shorter than one window yield one
    * chunk. Pure column algebra — map-only, explode-ready. */
  def chunkText(text: Column, windowTokens: Int, strideTokens: Int): Column = {
    require(windowTokens > 0 && strideTokens > 0 &&
      strideTokens <= windowTokens, "0 < stride <= window")
    val toks = split(trim(text), "\\s+")
    val nChunks = when(size(toks) <= windowTokens, lit(1))
      .otherwise(ceil((size(toks) - lit(windowTokens)).cast("double") /
        lit(strideTokens)).cast("int") + lit(1))
    transform(sequence(lit(0), nChunks - 1),
      i => concat_ws(" ",
        slice(toks, i * strideTokens + 1, lit(windowTokens))))
  }

  /** Symbol-to-word ratio: occurrences of `#` or `...` per whitespace token
    * (Gopher uses the same two markers). 0 for empty text. */
  def symbolToWordRatio(text: Column): Column = {
    val symbols = (length(text) -
      length(regexp_replace(text, "#", ""))).cast("double") +
      (length(text) - length(regexp_replace(text, "\\.\\.\\.", "")))
        .cast("double") / lit(3.0)
    when(tokenCount(text) === 0, lit(0.0))
      .otherwise(symbols / tokenCount(text).cast("double"))
  }

  // ── PII detection / redaction ─────────────────────────────────────────
  // Patterns are deliberately restricted to the regex subset Java and RE2
  // share (no lookaround, no backreferences) so the DuckDB oracle runs the
  // byte-identical pattern. Redaction order is fixed (email → IPv4 →
  // phone) and the patterns are mutually non-overlapping (emails contain
  // '@', IPv4s contain dots but no '+', phones start '+'), so the chain is
  // order-insensitive in effect but deterministic by construction.

  /** RFC-5322-ish email addresses (pragmatic subset). */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Dotted-quad IPv4 literals. */
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** International-format phone numbers: '+' country code then 7–14
    * digits with optional single spaces/dashes between groups. */
  val PhonePattern = "\\+\\d{1,3}([ -]?\\d){7,14}"

  /** Count of email / IPv4 / phone matches in the text. */
  def emailCount(text: Column): Column = regexp_count(text, lit(EmailPattern))
  def ipv4Count(text: Column): Column = regexp_count(text, lit(Ipv4Pattern))
  def phoneCount(text: Column): Column = regexp_count(text, lit(PhonePattern))

  /** Replace every PII match with a typed placeholder token. Map-only,
    * codegen'd `regexp_replace` chain — the shape a 100 TB privacy scrub
    * needs (no shuffle, no state, safe to run inside the ingest scan). */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>"),
      PhonePattern, "<PHONE>")

  /** Sentence segments of a document: split on runs of terminal
    * punctuation followed by whitespace (or end-of-text after trimming),
    * empty fragments dropped. The pattern avoids lookaround so the RE2
    * engine in the DuckDB oracle splits byte-identically. Abbreviation
    * handling ("Dr.", "e.g.") is out of scope — this is the corpus-stats
    * segmenter, not a linguistic one. */
  def sentences(text: Column): Column =
    filter(split(trim(text), "[.!?]+(\\s+|$)"),
      s => length(trim(s)) > 0)

  /** Per-document sentence statistics: sentence count, mean words per
    * sentence, and max words in any sentence — the readability /
    * run-on-text quality signals. Map-only column algebra; the sentence
    * array appears once (HOF, no CSE — see [[wordBigrams]]), so callers
    * should stage [[sentences]] in its own projection and pass the array. */
  def sentenceStatsOfSentences(sents: Column): Column = {
    val wordCounts = transform(sents,
      s => size(filter(split(trim(s), "\\s+"), w => length(w) > 0)))
    struct(
      size(sents).cast("long").as("n_sentences"),
      when(size(sents) === 0, lit(0.0))
        .otherwise(round(
          aggregate(wordCounts, lit(0L), (acc, c) => acc + c).cast("double") /
            size(sents).cast("double"), 4)).as("mean_words"),
      when(size(sents) === 0, lit(0L))
        .otherwise(array_max(wordCounts).cast("long")).as("max_words"))
  }

  /** Adjacent word pairs (the counting unit of one BPE-merge iteration and
    * of corpus collocation stats). Empty/one-word texts yield an empty
    * array. Positional — repeats are kept; counting is the caller's
    * aggregation.
    *
    * Takes the TOKEN ARRAY, not the text: the transform lambda references
    * its input four times, and higher-order functions are interpreted with
    * no CSE — an inline `split` would re-tokenise per reference. Stage the
    * split in its own projection: `.select(split(...).as("ws"))` then
    * `wordBigrams(col("ws"))` (~4× on the corpus bigram count). */
  def wordBigrams(toks: Column): Column =
    when(size(toks) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))

  /** Unicode-script profile — counts of characters in the major script
    * ranges (plus ASCII letters/digits): the routing signal multilingual
    * corpus pipelines split on, and the mixed-script spam flag. Explicit
    * codepoint ranges (not \\p{script=} classes) so the DuckDB RE2 oracle
    * states the same sets. */
  def scriptProfile(text: Column): Column = struct(
    regexp_count(text, lit("[A-Za-z]")).as("latin"),
    regexp_count(text, lit("[0-9]")).as("digits"),
    regexp_count(text, lit("[Ѐ-ӿ]")).as("cyrillic"),
    regexp_count(text, lit("[؀-ۿ]")).as("arabic"),
    regexp_count(text, lit("[一-鿿]")).as("han"),
    regexp_count(text, lit("[가-힯]")).as("hangul"),
    regexp_count(text, lit("[぀-ヿ]")).as("kana"))

  /** Markup-structure profile of a document — the boilerplate/structure
    * signals web-corpus quality filters read (markdown headings/links,
    * code fences, residual HTML tags, bare URLs). All `regexp_count`
    * (codegen'd, RE2-compatible patterns so the DuckDB oracle restates
    * them verbatim). */
  def markupStats(text: Column): Column = struct(
    regexp_count(text, lit("(?m)^#{1,6} ")).as("md_headings"),
    regexp_count(text, lit("\\[[^\\]]*\\]\\([^)]*\\)")).as("md_links"),
    regexp_count(text, lit("```")).as("code_fence_marks"),
    regexp_count(text, lit("<[a-zA-Z][^>]*>")).as("html_tags"),
    regexp_count(text, lit("https?://[^\\s]+")).as("urls"))

  /** Flesch reading-ease inputs and score — the classic readability
    * quality signal. Syllables are the standard vowel-group heuristic:
    * one syllable per maximal [aeiouy]+ run, and one for each word with
    * no vowel at all (counted WITHOUT lookarounds: a vowel-bearing word
    * matches `[^\s]*[aeiouy][^\s]*` exactly once, because the greedy run
    * consumes to the token end — RE2-compatible, so the DuckDB oracle
    * restates every pattern verbatim). Sentences are the [[sentences]]
    * terminal-punctuation rule with a floor of 1. Map-only; `flesch` is
    * null for empty documents.
    *
    * score = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words) */
  def fleschStats(text: Column): Column = {
    val words = regexp_count(text, lit("[^\\s]+"))
    val vowelWords =
      regexp_count(lower(text), lit("[^\\s]*[aeiouy][^\\s]*"))
    val vowelGroups = regexp_count(lower(text), lit("[aeiouy]+"))
    val nSent = greatest(lit(1), size(sentences(text)))
    val syllables = vowelGroups + (words - vowelWords)
    struct(
      words.cast("long").as("words"),
      nSent.cast("long").as("sents"),
      syllables.cast("long").as("syllables"),
      when(words > 0, round(
        lit(206.835) -
          lit(1.015) * words.cast("double") / nSent.cast("double") -
          lit(84.6) * syllables.cast("double") / words.cast("double"), 4))
        .as("flesch"))
  }

  /** Deflate-compressed size of the UTF-8 text (zlib level 6, raw
    * deflate) — the compression-ratio quality signal of CCNet/RefinedWeb:
    * machine-generated or template text compresses far below natural
    * prose, so `deflate_bytes / raw_bytes` is a cheap repetitiveness
    * screen. Map-only; no engine-portable restatement exists (no zlib in
    * SQL), so queries over it are rows-only and the spec pins behaviour
    * with closed-form repetitive/random inputs. */
  def deflateSize(text: Column): Column = {
    val f = udf { (t: String) =>
      if (t == null) null.asInstanceOf[java.lang.Long]
      else {
        val d = new java.util.zip.Deflater(6, true)
        d.setInput(t.getBytes("UTF-8")); d.finish()
        val buf = new Array[Byte](8192)
        var n = 0L
        while (!d.finished()) n += d.deflate(buf, 0, buf.length)
        d.end()
        java.lang.Long.valueOf(n)
      }
    }
    f(text)
  }
}
