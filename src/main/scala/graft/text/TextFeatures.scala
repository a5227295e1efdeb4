package graft.text

import graft.exprs.PortableRound.col6
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token statistics, quality scoring, language-ID heuristic, document
  * fingerprinting, SimHash. Everything is whitespace-token based and
  * engine-portable (no library hashes): token ids are a DIRECT polynomial
  * hash over the token's characters ([[tokenHash]]) — row-local, no
  * dictionary to build, no driver collect, no vocabulary-size bound — and
  * an independent SQL engine reproduces every value bit-for-bit
  * (`list_reduce` over `string_split(tok, '')` in DuckDB).
  *
  * Scale notes: every feature here is one explode + one groupBy(doc) —
  * data shuffled is O(tokens), the unavoidable lower bound for
  * order-sensitive token features. Nothing depends on vocabulary size.
  */
object TextFeatures {

  val P: Long = 9007199254740881L // largest prime < 2^53
  val P9: Long = 1000000007L

  /** Portable per-token hash: fold (acc*131 + codepoint) mod P over the
    * token's characters. Row-local (scales to any vocabulary), identical in
    * DuckDB: `list_reduce(list_prepend(0, list_transform(string_split(t,''),
    * c -> ascii(c))), (a,b) -> (a*131+b) % P)`. acc < 2^53 so acc*131+cp
    * stays well inside Long; collisions ~ |vocab|^2 / 2P (negligible below
    * ~10^8 distinct tokens). NOTE: Spark splits into UTF-16 code units and
    * DuckDB into codepoints, so parity holds for BMP text (all test data);
    * supplementary-plane corpora would need a codepoint-exploding variant.
    */
  def tokenHash(tok: Column): Column =
    graft.exprs.CatalystExprs.tokenPolyHash(tok)

  /** The higher-order-function formulation of [[tokenHash]] — identical
    * values (spec-asserted); kept as the executable documentation of the
    * formula and the portability reference for the DuckDB oracle. The
    * codegen'd [[graft.exprs.TokenPolyHash]] expression replaces it in the
    * hot path: the HOF evaluates an interpreted lambda per character.
    */
  def tokenHashHof(tok: Column): Column =
    aggregate(
      transform(split(tok, ""), ch => ascii(ch).cast("long")),
      lit(0L),
      (acc, b) => pmod(acc * lit(131L) + b, lit(P)))

  /** (doc_id, tok, pos) — pos is 1-based within the document. */
  def tokens(docs: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame =
    docs.select(col(id), posexplode(split(col(text), " ")).as(Seq("pos0", "tok")))
      .select(col(id), col("tok"), (col("pos0") + 1).as("pos"))

  /** [[tokens]] plus the portable token-hash id `tid`. */
  def hashedTokens(docs: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame =
    tokens(docs, id, text).withColumn("tid", tokenHash(col("tok")))

  /** GPT-2-style BPE pre-tokenizer pattern, simplified to the alternation/
    * class subset shared by Java regex and RE2 (DuckDB): contractions,
    * letter runs, digit runs, punctuation runs, space runs — the standard
    * "BPE-ish" token count for budget estimation (true BPE merges only
    * split these pieces further, so this is a stable lower bound).
    */
  val BpeishPattern: String = "'[sdmt]|'ll|'ve|'re| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"

  /** BPE-ish token count of a text column (row-local, codegen-friendly). */
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeishPattern), lit(0))).cast("long")

  /** Per-document surface statistics + a composite quality score in [0,1]. */
  def stats(docs: DataFrame, stopwords: Seq[String],
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val toks = split(col(text), " ")
    val nTok = size(toks).cast("double")
    val stopArr = typedLit(stopwords)
    val nStop = size(filter(toks, t => array_contains(stopArr, t))).cast("double")
    val nShort = size(filter(toks, t => length(t) <= 2)).cast("double")
    val nChars = length(col(text)).cast("double")
    docs.select(
      col(id),
      nChars.as("n_chars"),
      nTok.cast("long").as("n_tokens"),
      bpeishCount(col(text)).as("n_tokens_bpe"),
      col6((nChars - (nTok - 1)) / nTok).as("mean_tok_len"),
      col6(nStop / nTok).as("stop_ratio"),
      col6(nShort / nTok).as("short_ratio"),
      // quality: long enough, not stopword soup, not fragment soup
      col6(
        least(nTok / 100.0, lit(1.0)) * 0.4 +
          (lit(1.0) - nStop / nTok) * 0.3 +
          (lit(1.0) - nShort / nTok) * 0.3).as("quality"))
  }

  /** Gopher-style repetition / quality signals (Rae et al. 2021, §A1.1 —
    * public filter definitions), computed per document from the word n-gram
    * tables. Character accounting is the deterministic convention
    * "occurrences × n-gram length (spaces excluded) / document characters
    * (spaces excluded)" — overlap-free by construction so both engines
    * agree exactly:
    *
    *  - `top2_char_frac`: chars covered by the MOST FREQUENT word 2-gram
    *    (ties: lexicographically smallest)
    *  - `dup3_char_frac`: chars covered by all 3-grams occurring >= 2 times
    *  - `symbol_word_ratio`: '#' and '...' occurrences per word
    *  - `alpha_word_frac`: fraction of words containing a letter
    *
    * Plan shape: one n-gram groupBy per signal family + a broadcast-free
    * groupBy(doc) roll-up joined back to the doc row — no windows over raw
    * text, no cross joins.
    */
  def repetitionSignals(docs: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    import graft.exprs.PortableRound.col6
    import graft.text.{TextVectors => TV}
    val toks = split(col(text), " ")
    val base = docs.select(
      col(id),
      (length(col(text)) - (size(toks) - 1)).cast("double").as("__chars"),
      size(toks).cast("double").as("__words"),
      size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("double").as("__alpha"),
      (size(split(col(text), "#", -1)) - 1 +
        size(split(col(text), "\\.\\.\\.", -1)) - 1).cast("double").as("__symbols"))
    val top2 = TV.ngramCounts(docs, 2, id, text)
      .groupBy(col(id))
      .agg(min_by(
        (col("cnt") * (length(col("ngram")) - 1)),
        // most frequent first; ties -> lexicographically smallest ngram
        struct((-col("cnt")).as("__nc"), col("ngram"))).as("__top2"))
    val dup3 = TV.ngramCounts(docs, 3, id, text)
      .filter(col("cnt") >= 2)
      .groupBy(col(id))
      .agg(sum(col("cnt") * (length(col("ngram")) - 2)).as("__dup3"))
    base
      .join(top2, Seq(id), "left")
      .join(dup3, Seq(id), "left")
      .select(
        col(id),
        col6(coalesce(col("__top2"), lit(0L)).cast("double") / col("__chars")).as("top2_char_frac"),
        col6(coalesce(col("__dup3"), lit(0L)).cast("double") / col("__chars")).as("dup3_char_frac"),
        col6(col("__symbols") / col("__words")).as("symbol_word_ratio"),
        col6(col("__alpha") / col("__words")).as("alpha_word_frac"))
  }

  /** Stopword-lexicon language-ID heuristic: hit counts per language,
    * argmax with alphabetical tie-break (deterministic).
    */
  val Lexicons: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "les", "de", "et", "est"))

  def langId(docs: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame = {
    val toks = split(col(text), " ")
    val hits = Lexicons.map { case (lang, lex) =>
      lang -> size(filter(toks, t => array_contains(typedLit(lex), t))).cast("long")
    }
    val withHits = docs.select(col(id) +: hits.map { case (l, c) => c.as(s"hits_$l") }: _*)
    // argmax with alphabetical tie-break (strict > keeps the earliest max)
    val langs = Lexicons.map(_._1)
    val pred = langs.tail.foldLeft[(Column, Column)]((col(s"hits_${langs.head}"), lit(langs.head))) {
      case ((bc, bl), lang) =>
        val c = col(s"hits_$lang")
        (when(c > bc, c).otherwise(bc), when(c > bc, lit(lang)).otherwise(bl))
    }
    withHits.withColumn("pred_lang", when(greatest(langs.map(l => col(s"hits_$l")): _*) === 0, "und")
      .otherwise(pred._2))
  }

  /** Order-sensitive rolling document fingerprint over hashed token ids:
    * fp = sum(((tid mod P9) * 2654435761 + pos * 40503) mod P9) mod P9.
    * Input: [[hashedTokens]]. Terms stay < P9 (~1e9) so the pre-mod sum is
    * exact for documents up to ~9e9 tokens under ANSI Long arithmetic.
    */
  def fingerprint(toks: DataFrame, id: String = "doc_id"): DataFrame =
    toks
      .groupBy(col(id))
      .agg(pmod(sum(pmod(pmod(col("tid"), lit(P9)) * lit(2654435761L)
          + col("pos") * lit(40503L), lit(P9))), lit(P9))
        .as("fingerprint"))

  /** 32-bit SimHash over hashed token ids (input: [[hashedTokens]];
    * h = (tid mod P9) * 2654435761 mod 2^32; bit b set iff sum over tokens
    * of (2*bit_b(h) - 1) > 0).
    */
  def simhash(toks: DataFrame, id: String = "doc_id"): DataFrame = {
    val h = pmod(pmod(col("tid"), lit(P9)) * lit(2654435761L), lit(4294967296L))
    val withH = toks.withColumn("h", h)
    val bitSums = (0 until 32).map { b =>
      sum(shiftright(col("h"), b).bitwiseAND(1) * 2 - 1).as(s"s$b")
    }
    val agg = withH.groupBy(col(id)).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 32).map { b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce[Column](_ + _)
    agg.select(col(id), sig.as("simhash"))
  }

  /** PII masking — the redaction pass a training-data pipeline runs before
    * anything else sees the text. Entirely row-local regexp_replace chain
    * (codegen'd, no shuffle, no UDF); replacement order is fixed
    * (email → IPv4 → phone) and the patterns avoid every construct RE2
    * lacks (no backrefs, no lookaround), so any RE2-based engine — and
    * the DuckDB oracle — reproduces the output byte-for-byte.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
    ("\\+[0-9][0-9-]{6,}", "<PHONE>"))

  def redactPii(docs: DataFrame, text: String = "text"): DataFrame =
    docs.withColumn(text,
      piiPatterns.foldLeft(col(text)) { case (c, (p, r)) =>
        regexp_replace(c, p, r)
      })
}
