package graft.queries

import graft.exprs.PortableRound.col6
import graft.Tables
import graft.text.TextFeatures
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis / dedup / multimodal queries over `documents`. */
object TextQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)

  private val stop = TextFeatures.Lexicons.find(_._1 == "en").get._2

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // gated default is the SCALE path: fingerprint grouping (24-byte shuffle
    // payload, no text in the exchange — PlanSpec asserts it) + in-plan blob
    // re-verification of survivor groups; the oracle recomputes the result
    // from raw text, so fp-grouping == text-grouping is what goes green
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactVerified(docs(s, dir)).select(col("doc_id"), col("keep_id"),
        col("is_dup").cast("long").as("is_dup"), col("verified"))),

    "q_text_stats" -> ((s, dir) =>
      TextFeatures.stats(docs(s, dir), stop)
        .select(col("doc_id"), col("n_chars"), col("n_tokens"), col("n_tokens_bpe"),
          col("mean_tok_len"), col("stop_ratio"), col("short_ratio"), col("quality"))),

    "q_langid" -> ((s, dir) =>
      TextFeatures.langId(docs(s, dir))
        .select((col("doc_id") +: TextFeatures.Lexicons.map { case (l, _) => col(s"hits_$l") })
          :+ col("pred_lang"): _*)),

    "q_fingerprint" -> ((s, dir) =>
      TextFeatures.fingerprint(TextFeatures.hashedTokens(docs(s, dir)))),

    "q_simhash" -> ((s, dir) =>
      TextFeatures.simhash(TextFeatures.hashedTokens(docs(s, dir)))),

    "q_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(TextFeatures.simhash(TextFeatures.hashedTokens(docs(s, dir))))),

    "q_minhash" -> ((s, dir) =>
      Dedup.minhashSignatures(Dedup.shingles(docs(s, dir)))),

    "q_lsh_pairs" -> ((s, dir) =>
      Dedup.lshCandidates(Dedup.minhashSignatures(Dedup.shingles(docs(s, dir))))),

    "q_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairs(Dedup.shingles(docs(s, dir)), threshold = 0.2)),

    // Cluster step after candidate generation: connected components over
    // the LSH pair list (large-star/small-star rounds), labels = min doc
    // id per TRANSITIVE group. The oracle recomputes the same pairs in
    // SQL and closes them with a recursive CTE — value-level parity for
    // the whole pipeline dedup would actually run.
    "q_dedup_clusters" -> ((s, dir) =>
      Dedup.connectedComponents(
        Dedup.lshCandidates(Dedup.minhashSignatures(Dedup.shingles(docs(s, dir)))),
        docs(s, dir))
        .select(col("doc_id"), col("component"))),

    // PII masking with deterministically PLANTED pii (the corpus has
    // none): every third doc gets an email + IPv4 + phone derived from
    // its id appended on BOTH sides, then the row-local redaction chain
    // must strip them byte-for-byte.
    "q_redact" -> ((s, dir) => {
      val planted = docs(s, dir).withColumn("text",
        when(col("doc_id") % 3 === 0, concat(
          col("text"),
          lit(" contact u"), col("doc_id").cast("string"),
          lit("@example.com via 10.0."), (col("doc_id") % 256).cast("string"),
          lit("."), (col("doc_id") % 100).cast("string"),
          lit(" or +1-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(col("text")))
      TextFeatures.redactPii(planted)
        .select(col("doc_id"), col("text").as("text_redacted"))
    }),

    "q_rep_signals" -> ((s, dir) =>
      TextFeatures.repetitionSignals(docs(s, dir))),

    // Data-mixing recipe: per-language quota sampling as a row-local
    // portable-hash filter. The oracle replays the exact per-row coin in
    // SQL, so the gate is decision-level parity, not a rate check.
    "q_mix_sample" -> ((s, dir) =>
      graft.transforms.Mixing.stratifiedSample(docs(s, dir), "lang", "doc_id",
        Map("en" -> 0.5, "de" -> 0.25), defaultFrac = 0.1)
        .select(col("doc_id"), col("lang"), col("n_chars"))),

    // Next-fit sequence packing of the n_chars weight stream into
    // 8000-unit bins over 8 id-sharded streams.
    "q_pack" -> ((s, dir) =>
      graft.transforms.Mixing.packSequences(docs(s, dir), "doc_id", "n_chars",
        budget = 8000L, shards = 8)
        .select(col("doc_id"), col("shard"), col("offset"), col("bin"))),

    "q_multimodal" -> ((s, dir) =>
      Multimodal.extractFeatures(Multimodal.attachBinary(docs(s, dir))).toDF
        .select(col("doc_id"), col("media_type"), col("byte_len"),
          col("width").cast("long").as("width"), col("height").cast("long").as("height"),
          col("frames").cast("long").as("frames"), col6(col("decoded_mean")).as("decoded_mean")))
  )

  // ---- oracle SQL ----------------------------------------------------

  private val tokCte =
    """tok0 AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
      |         generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, tok, pos,
      |         list_reduce(
      |           list_prepend(CAST(0 AS BIGINT),
      |             list_transform(string_split(tok, ''), c -> CAST(ascii(c) AS BIGINT))),
      |           (a, b) -> (a * 131 + b) % 9007199254740881) AS tid
      |  FROM tok0)""".stripMargin

  private def inList(xs: Seq[String]) = xs.map(x => s"'$x'").mkString("(", ",", ")")

  private val P = TextFeatures.P

  val oracles: Map[String, String] = Map(
    "q_mix_sample" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE ((((doc_id % 2147483648) * 2654435761 + 1013904223) % 4294967296) % 1000000)
        |      < (CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 250000 ELSE 100000 END)""".stripMargin,

    "q_pack" ->
      """SELECT doc_id, doc_id % 8 AS shard,
        |       CAST(SUM(n_chars) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS BIGINT) - n_chars AS offset,
        |       CAST(FLOOR((SUM(n_chars) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) - n_chars) / 8000.0) AS BIGINT) AS bin
        |FROM documents""".stripMargin,

    "q_dedup_exact" ->
      """SELECT doc_id, MIN(doc_id) OVER (PARTITION BY text) AS keep_id,
        |       CAST(CASE WHEN doc_id <> MIN(doc_id) OVER (PARTITION BY text) THEN 1 ELSE 0 END AS BIGINT) AS is_dup,
        |       CAST(1 AS BIGINT) AS verified
        |FROM documents""".stripMargin,

    "q_text_stats" ->
      s"""WITH $tokCte,
         |agg AS (
         |  SELECT doc_id, COUNT(*) AS n_tok,
         |         SUM(CASE WHEN tok IN ${inList(stop)} THEN 1 ELSE 0 END) AS n_stop,
         |         SUM(CASE WHEN LENGTH(tok) <= 2 THEN 1 ELSE 0 END) AS n_short
         |  FROM tok GROUP BY doc_id)
         |SELECT d.doc_id, CAST(LENGTH(d.text) AS DOUBLE) AS n_chars, a.n_tok AS n_tokens,
         |  CAST(len(regexp_extract_all(d.text, '${TextFeatures.BpeishPattern.replace("'", "''")}')) AS BIGINT) AS n_tokens_bpe,
         |  FLOOR(CAST(((LENGTH(d.text) - (a.n_tok - 1)) / CAST(a.n_tok AS DOUBLE)) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS mean_tok_len,
         |  FLOOR(CAST((a.n_stop / CAST(a.n_tok AS DOUBLE)) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS stop_ratio,
         |  FLOOR(CAST((a.n_short / CAST(a.n_tok AS DOUBLE)) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS short_ratio,
         |  FLOOR(CAST((LEAST(a.n_tok / 100.0, 1.0) * 0.4 +
         |        (1.0 - a.n_stop / CAST(a.n_tok AS DOUBLE)) * 0.3 +
         |        (1.0 - a.n_short / CAST(a.n_tok AS DOUBLE)) * 0.3) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS quality
         |FROM documents d JOIN agg a USING (doc_id)""".stripMargin,

    "q_langid" -> {
      val sums = TextFeatures.Lexicons.map { case (l, lex) =>
        s"CAST(SUM(CASE WHEN tok IN ${inList(lex)} THEN 1 ELSE 0 END) AS BIGINT) AS hits_$l"
      }.mkString(",\n         ")
      val langs = TextFeatures.Lexicons.map(_._1)
      val m = s"GREATEST(${langs.map(l => s"hits_$l").mkString(",")})"
      val caseChain = langs.map(l => s"WHEN hits_$l = $m THEN '$l'").mkString(" ")
      s"""WITH $tokCte,
         |h AS (
         |  SELECT doc_id, $sums
         |  FROM tok GROUP BY doc_id)
         |SELECT doc_id, ${langs.map(l => s"hits_$l").mkString(", ")},
         |       CASE WHEN $m = 0 THEN 'und' $caseChain END AS pred_lang
         |FROM h""".stripMargin
    },

    "q_fingerprint" ->
      s"""WITH $tokCte
         |SELECT doc_id,
         |       CAST(SUM(((tid % 1000000007) * 2654435761 + pos * 40503) % 1000000007) % 1000000007 AS BIGINT) AS fingerprint
         |FROM tok
         |GROUP BY doc_id""".stripMargin,

    "q_simhash" -> {
      val bitSums = (0 until 32).map(b =>
        s"SUM((((h >> $b) & 1) * 2 - 1)) AS s$b").mkString(",\n         ")
      val sig = (0 until 32).map(b =>
        s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
      s"""WITH $tokCte,
         |w AS (
         |  SELECT doc_id, ((tid % 1000000007) * 2654435761) % 4294967296 AS h
         |  FROM tok),
         |agg AS (
         |  SELECT doc_id, $bitSums
         |  FROM w GROUP BY doc_id)
         |SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM agg""".stripMargin
    },

    "q_simhash_pairs" -> {
      val bitSums = (0 until 32).map(b =>
        s"SUM((((h >> $b) & 1) * 2 - 1)) AS s$b").mkString(",\n         ")
      val sig = (0 until 32).map(b =>
        s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
      val bands = (0 until 4).map(b =>
        s"SELECT doc_id, simhash, $b AS band, (simhash >> ${b * 8}) & 255 AS byte FROM sh")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH $tokCte,
         |w AS (
         |  SELECT doc_id, ((tid % 1000000007) * 2654435761) % 4294967296 AS h
         |  FROM tok),
         |agg AS (SELECT doc_id, $bitSums FROM w GROUP BY doc_id),
         |sh AS (SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM agg),
         |banded AS (
         |  $bands)
         |SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
         |       CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming
         |FROM banded l JOIN banded r
         |  ON l.band = r.band AND l.byte = r.byte AND l.doc_id < r.doc_id
         |WHERE bit_count(xor(l.simhash, r.simhash)) <= 3""".stripMargin
    },

    // Gopher-style repetition/quality signals (deterministic char-coverage
    // convention documented at TextFeatures.repetitionSignals)
    "q_rep_signals" ->
      s"""WITH $tokCte,
         |n2 AS (
         |  SELECT t1.doc_id, t1.tok || ' ' || t2.tok AS ngram, COUNT(*) AS cnt
         |  FROM tok t1 JOIN tok t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
         |  GROUP BY 1, 2),
         |top2 AS (
         |  SELECT doc_id, cnt * (LENGTH(ngram) - 1) AS c FROM (
         |    SELECT doc_id, ngram, cnt,
         |           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, ngram ASC) AS rn
         |    FROM n2)
         |  WHERE rn = 1),
         |n3 AS (
         |  SELECT t1.doc_id, t1.tok || ' ' || t2.tok || ' ' || t3.tok AS ngram, COUNT(*) AS cnt
         |  FROM tok t1
         |  JOIN tok t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
         |  JOIN tok t3 ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2
         |  GROUP BY 1, 2),
         |dup3 AS (
         |  SELECT doc_id, SUM(cnt * (LENGTH(ngram) - 2)) AS c
         |  FROM n3 WHERE cnt >= 2 GROUP BY doc_id),
         |b AS (
         |  SELECT doc_id,
         |         CAST(LENGTH(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE) AS chars,
         |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS words,
         |         CAST(len(list_filter(string_split(text, ' '), t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE) AS alpha,
         |         CAST((LENGTH(text) - LENGTH(REPLACE(text, '#', ''))) +
         |              (LENGTH(text) - LENGTH(REPLACE(text, '...', ''))) / 3 AS DOUBLE) AS symbols
         |  FROM documents)
         |SELECT b.doc_id,
         |  FLOOR(CAST((COALESCE(top2.c, 0) / chars) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS top2_char_frac,
         |  FLOOR(CAST((COALESCE(dup3.c, 0) / chars) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS dup3_char_frac,
         |  FLOOR(CAST((symbols / words) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS symbol_word_ratio,
         |  FLOOR(CAST((alpha / words) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS alpha_word_frac
         |FROM b LEFT JOIN top2 USING (doc_id) LEFT JOIN dup3 USING (doc_id)""".stripMargin,

    "q_minhash" -> minhashSql(),
    "q_lsh_pairs" -> {
      val bandRows = (0 until 4).map { b =>
        val sig = (0 until 4).map(r => s"CAST(mh_${b * 4 + r} AS VARCHAR)").mkString(" || '_' || ")
        s"SELECT doc_id, $b AS band, $sig AS sig FROM sigs"
      }.mkString("\n  UNION ALL\n  ")
      s"""${minhashSql(cteOnly = true)},
         |banded AS (
         |  $bandRows)
         |SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |FROM banded l JOIN banded r
         |  ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id""".stripMargin
    },

    "q_dedup_clusters" -> {
      val bandRows = (0 until 4).map { b =>
        val sig = (0 until 4).map(r => s"CAST(mh_${b * 4 + r} AS VARCHAR)").mkString(" || '_' || ")
        s"SELECT doc_id, $b AS band, $sig AS sig FROM sigs"
      }.mkString("\n  UNION ALL\n  ")
      s"""${minhashSql(cteOnly = true)},
         |banded AS (
         |  $bandRows),
         |pairs AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM banded l JOIN banded r
         |    ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id),
         |und AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
         |reach AS (
         |  SELECT u AS s, v AS t FROM und
         |  UNION
         |  SELECT r.s, u.v FROM reach r JOIN und u ON r.t = u.u),
         |comp AS (SELECT s AS doc_id, LEAST(MIN(t), s) AS component
         |         FROM reach GROUP BY s)
         |SELECT d.doc_id, CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS component
         |FROM documents d LEFT JOIN comp c USING (doc_id)"""
        .stripMargin.replaceFirst("WITH ", "WITH RECURSIVE ")
    },

    "q_redact" -> {
      val redacted = TextFeatures.piiPatterns.foldLeft("text") {
        case (expr, (p, r)) => s"regexp_replace($expr, '$p', '$r', 'g')"
      }
      s"""WITH planted AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN text
         |      || ' contact u' || CAST(doc_id AS VARCHAR)
         |      || '@example.com via 10.0.' || CAST(doc_id % 256 AS VARCHAR)
         |      || '.' || CAST(doc_id % 100 AS VARCHAR)
         |      || ' or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |    ELSE text END AS text
         |  FROM documents)
         |SELECT doc_id, $redacted AS text_redacted FROM planted""".stripMargin
    },

    "q_jaccard" ->
      s"""${shingleSql()},
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
         |fsh AS (
         |  SELECT doc_id, shingle FROM (
         |    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
         |  WHERE df <= 1000),
         |inter AS (
         |  SELECT l.doc_id AS a, r.doc_id AS b, COUNT(*) AS i
         |  FROM fsh l JOIN fsh r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
         |  GROUP BY l.doc_id, r.doc_id)
         |SELECT a, b, FLOOR(CAST((CAST(i AS DOUBLE) / (sa.sz + sb.sz - i)) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS jaccard
         |FROM inter JOIN sizes sa ON inter.a = sa.doc_id
         |            JOIN sizes sb ON inter.b = sb.doc_id
         |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.2""".stripMargin,

    // The oracle PREDICTS what the REAL BMP/WAV/AVI parsers must recover
    // from the synthesized media, straight from the document text
    // (all-ASCII, so chars == UTF-8 bytes): a header/stride/payload bug on
    // either the writer or the parser side breaks the match. AVI byte_len =
    // 224 fixed header bytes (RIFF + hdrl LIST + movi LIST preamble) +
    // frames * (8 + stride); every arm's pixel/sample mean reduces to the
    // ascii mean of the text (replicated rows/frames and equal channels
    // cancel; integer sums keep the division bit-exact across engines).
    "q_multimodal" -> {
      val meanAll =
        """list_aggregate(list_transform(string_split(text, ''),
          |     c -> CAST(ascii(c) AS BIGINT)), 'sum') / CAST(LENGTH(text) AS DOUBLE)""".stripMargin
      s"""WITH m AS (
         |  SELECT doc_id, text, LENGTH(text) AS n,
         |         CAST(doc_id % 3 AS INT) AS mt,
         |         ((3 * LENGTH(text) + 3) // 4) * 4 AS stride,
         |         (LENGTH(text) % 8) + 1 AS hgt,
         |         (LENGTH(text) % 4) + 2 AS vframes
         |  FROM documents)
         |SELECT doc_id,
         |  CASE mt WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         |  CAST(CASE mt WHEN 0 THEN 54 + stride * hgt
         |               WHEN 1 THEN 44 + 2 * n
         |               ELSE 224 + vframes * (8 + stride) END AS BIGINT) AS byte_len,
         |  CAST(CASE mt WHEN 0 THEN n
         |               WHEN 1 THEN 1
         |               ELSE n END AS BIGINT) AS width,
         |  CAST(CASE mt WHEN 0 THEN hgt
         |               WHEN 1 THEN 16
         |               ELSE 1 END AS BIGINT) AS height,
         |  CAST(CASE mt WHEN 0 THEN 1
         |               WHEN 1 THEN n
         |               ELSE vframes END AS BIGINT) AS frames,
         |  FLOOR(CAST(($meanAll) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS decoded_mean
         |FROM m""".stripMargin
    }
  )

  /** Shingle CTE shared by minhash/jaccard oracles: the modular polynomial
    * ((t1*131 + t2) mod P * 131 + t3) mod P over portable token hashes.
    */
  private def shingleSql(): String =
    s"""WITH $tokCte,
       |sh AS (
       |  SELECT DISTINCT t1.doc_id,
       |         (((t1.tid * 131 + t2.tid) % $P) * 131 + t3.tid) % $P AS shingle
       |  FROM tok t1
       |  JOIN tok t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
       |  JOIN tok t3 ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2)""".stripMargin

  private def minhashSql(cteOnly: Boolean = false): String = {
    val mins = (0 until 16).map { i =>
      val a = 1103515245L * (i + 1) % Dedup.P
      val b = 12345L * (i + 1) % Dedup.P
      s"MIN(((shingle % ${Dedup.P}) * $a + $b) % ${Dedup.P}) AS mh_$i"
    }.mkString(",\n         ")
    val base =
      s"""${shingleSql()},
         |sigs AS (
         |  SELECT doc_id, $mins
         |  FROM sh GROUP BY doc_id)""".stripMargin
    if (cteOnly) base else base + "\nSELECT * FROM sigs"
  }
}
