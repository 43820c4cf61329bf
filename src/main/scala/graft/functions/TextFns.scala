package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis pack for large-scale training-data pipelines (builder
  * brief): language-ID, quality scoring, token counting, fingerprinting.
  * Everything is a pure Column expression — codegen'd, no UDFs, no
  * shuffles — so it runs at scan speed over 100 TB of documents.
  *
  * The string-function surface itself mirrors riptable's FAString
  * (`riptable/rt_str.py:122`: upper/lower `:519,534`, strlen `:609`,
  * contains `:674`, startswith/endswith `:811,859`, replace `:773`,
  * regex_match `:907`, extract `:1030`) — those map 1:1 onto
  * `org.apache.spark.sql.functions` and need no wrappers; this object
  * holds the composed analyses.
  */
object TextFns {

  /** Whitespace tokens, lowercased. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Token count (whitespace tokenization). */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0).otherwise(size(tokens(text)))

  /** BPE-ish subword count estimate: words + digit runs + punctuation
    * marks, the standard cheap proxy when no tokenizer model is shipped.
    */
  def tokenCountBpeIsh(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Language ID by stopword voting: count hits from tiny per-language
    * stopword sets over the token array, argmax wins. N-gram-free variant
    * of the classic heuristic; ties break by fixed language order.
    */
  private val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "en"))

  /** Stopword-hit count for one language's word set. */
  def langScore(text: Column, lang: String): Column = {
    val words = stopwords.toMap.getOrElse(lang, Nil)
    size(filter(tokens(text), t => words.map(w => t === lit(w)).reduce(_ || _)))
  }

  /** Best-guess language from the stopword vote. */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    def score(ws: Seq[String]): Column =
      size(filter(toks, t => ws.map(w => t === lit(w)).reduce(_ || _)))
    val scored = stopwords.map { case (l, ws) => struct(score(ws).as("s"), lit(l).as("l")) }
    // argmax: array_max on (score, lang) structs — lang order breaks ties
    element_at(array_max(array(scored.reverse: _*)), "l")
  }

  /** Quality score in [0,1]: blend of length band, punctuation ratio,
    * stopword ratio, mean word length — the standard cheap pre-filter
    * heuristics for web-scale corpora.
    */
  def qualityScore(text: Column): Column = {
    val n = length(text).cast("double")
    val toks = tokens(text)
    val nTok = size(toks).cast("double")
    val punct = size(regexp_extract_all(text, lit("[^\\w\\s]"), lit(0))).cast("double")
    val stop = size(filter(toks,
      t => Seq("the", "and", "of", "to", "a", "in", "is", "it").map(w => t === lit(w)).reduce(_ || _))).cast("double")
    val lenScore = when(n >= 200 && n <= 10000, 1.0)
      .when(n < 200, n / 200.0).otherwise(lit(10000.0) / n)
    val punctScore = when(nTok === 0, 0.0)
      .otherwise(lit(1.0) - least(punct / greatest(nTok, lit(1.0)), lit(1.0)))
    val stopScore = when(nTok === 0, 0.0)
      .otherwise(least(stop * lit(4.0) / greatest(nTok, lit(1.0)), lit(1.0)))
    round((lenScore + punctScore + stopScore) / lit(3.0), 6)
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercase text —
    * the exact-dedup key. (Content-defined rolling-hash winnowing is in
    * Dedup.simhash/minhash for the near-dup path.)
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003, MOSS):
    * hash every char k-gram of the normalized text, slide a w-hash
    * window, keep each window's MINIMUM hash; the distinct survivors are
    * the document's fingerprint set. GUARANTEE: any substring match of
    * length ≥ w + k − 1 between two documents shares ≥ 1 fingerprint
    * (every length-w window selects SOME gram inside the match), while
    * density is ~2/(w+1) of all grams — the content-defined sampling
    * that makes plagiarism/near-dup detection sublinear in stored
    * fingerprints.
    *
    * Hashes are 16-hex-char md5 prefixes compared as STRINGS — the
    * lexicographic min over fixed-width lowercase hex is a total order
    * identical in any engine, so a SQL oracle reproduces the selection
    * exactly without integer-fold gymnastics. Short texts
    * (< k chars → one whole-text gram; < w windows → one clamped
    * window) degrade to whole-text fingerprinting.
    *
    * REFERENCE FORM ONLY — do not use in pipelines: the gram array
    * and the normalization regex sit inside `transform` lambdas, and
    * higher-order-function bodies evaluate interpreted PER ELEMENT,
    * so this is O(len²)+ per document (a sf0.1 doc pinned a core for
    * 45 min). Pipelines use `Dedup.winnowFingerprintsDf`, the
    * explode+window formulation with identical output — the same
    * split as simhash (Column form) vs simhashDf.
    */
  def winnowFingerprints(text: Column, k: Int = 8, w: Int = 4): Column = {
    val s = regexp_replace(lower(trim(text)), "\\s+", " ")
    val nGrams = length(s) - (k - 1)
    val hs = transform(sequence(lit(1), greatest(nGrams, lit(1))),
      i => substring(md5(substr(s, i, lit(k))), 1, 16))
    val nWins = greatest(nGrams - (w - 1), lit(1))
    array_distinct(transform(sequence(lit(1), nWins),
      j => array_min(slice(hs, j, lit(w)))))
  }

  /** PII patterns for training-corpus scrubbing — the standard
    * pre-release redaction pass (emails, IPv4s, US-style phone numbers,
    * SSNs). Patterns stay inside the Java-regex ∩ RE2 common subset
    * (no lookaround, no backreferences) so a DuckDB oracle runs the
    * SAME pattern strings; redaction applies the patterns in one fixed
    * order (email, ip, phone, ssn — emails first, since a dotted-quad
    * inside an email domain would otherwise be eaten by the IP rule).
    * All pure Column expressions — codegen'd, scan-speed, no UDFs: at
    * 100 TB this is a map-only pass.
    */
  object Pii {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipv4  = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val phone = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
    val ssn   = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
    val all: Seq[(String, String)] = Seq(
      "email" -> email, "ip" -> ipv4, "phone" -> phone, "ssn" -> ssn)
  }

  /** Count of matches for one PII pattern. */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Replace every PII match with a typed placeholder (`<EMAIL>`,
    * `<IP>`, `<PHONE>`, `<SSN>`), in the fixed order of `Pii.all`.
    */
  def redactPii(text: Column): Column =
    Pii.all.foldLeft(text) { case (acc, (name, pat)) =>
      regexp_replace(acc, pat, s"<${name.toUpperCase}>")
    }

  /** Unicode NFC normalization via the native `rip_nfc` expression
    * (`plans.RipNfc`) — run at ingest before any hashing/dedup so
    * decomposed and precomposed spellings of the same text can't
    * register as distinct documents.
    */
  def nfc(text: Column): Column = call_function("rip_nfc", text)

  /** Character n-gram shingles (the unit for Jaccard/MinHash dedup). */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    val idx = sequence(lit(0), greatest(size(toks) - n, lit(0)))
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(idx, i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** Per-doc top-k terms by TF-IDF — the classic keyword/topic signal
    * for corpus curation. score = (tf/len)·ln(N/df); ranking uses the
    * ROUNDED score (term asc tiebreak) so the order is reproducible
    * across engines regardless of last-ulp ln() drift.
    *
    * Scale shape: two hash aggregates (doc×term counts, term df), the
    * corpus size as a broadcast one-row aggregate (never a driver
    * collect), a term-keyed join (shuffle bounded by the vocabulary),
    * and a per-doc window top-k. No all-pairs, no global sort.
    */
  /** Unigram cross-entropy quality score: average −ln p(token) under
    * the corpus's own unigram distribution — the cheap proxy for the
    * LM-perplexity filters used in pre-training curation (a doc of
    * common words scores low/fluent; rare-token soup scores high).
    * Two aggregates (corpus token counts, per-doc fold) + one
    * vocabulary-keyed join — same scale shape as TF-IDF; the corpus
    * total rides a broadcast one-row frame.
    */
  def unigramCrossEntropy(docs: org.apache.spark.sql.DataFrame, idCol: String,
                          textCol: String,
                          out: String = "xent"): org.apache.spark.sql.DataFrame = {
    val terms = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
    // the unigram LM is consumed twice (normalizer + scoring join) —
    // persisted so the token explode backing it runs once (r16);
    // vocab-sized
    val freqs = graft.FrameCache.persist(
      terms.groupBy(col("term")).agg(count(lit(1)).as("tf")))
    val total = freqs.agg(sum(col("tf")).cast("double").as("tot"))
    terms.join(freqs, Seq("term"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(round(avg(-log(col("tf").cast("double") / col("tot"))), 6).as(out),
        count(lit(1)).as("n_tokens"))
  }

  /** Per-document cross-entropy under an add-one-smoothed CONDITIONAL
    * bigram LM trained on the corpus itself — the two-gram upgrade of
    * [[unigramCrossEntropy]] and the cheap stand-in for the KenLM
    * perplexity filters of CCNet-style curation (Wenzek et al. 2020):
    * rank documents by fluency under a corpus LM, drop the tail.
    * p(w2|w1) = (C(w1 w2) + 1) / (C(w1 ·) + V), V = distinct w2 types;
    * xent2 = mean over the doc's bigrams of −ln p.
    *
    * Scale shape: bigram extraction is a codegen'd array transform (no
    * shuffle); the model is two hash aggregates over the VOCABULARY²
    * -bounded bigram table; scoring is two gram-keyed joins plus a
    * broadcast one-row V — the same posture as TF-IDF (q130), nothing
    * keyed on a document. Docs with < 2 tokens have no bigrams and drop
    * out (score them with [[unigramCrossEntropy]] instead).
    */
  def bigramCrossEntropy(docs: org.apache.spark.sql.DataFrame, idCol: String,
                         textCol: String,
                         out: String = "xent2"): org.apache.spark.sql.DataFrame = {
    val bg = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__t"))
      .select(col("doc_id"), explode(expr(
        // (w1, w2) for every adjacent pair; element_at is 1-based
        "transform(slice(__t, 1, size(__t) - 1), " +
          "(w, i) -> struct(w AS w1, element_at(__t, i + 2) AS w2))"))
        .as("__b"))
      .select(col("doc_id"), col("__b.w1"), col("__b.w2"))
    // the bigram LM frame is referenced THREE times (unigram
    // marginals, vocab size, scoring join) — unpersisted, each
    // reference re-expanded the tokenize+pair explode (4 corpus passes
    // total, measured 6.6 s CPU on q171); persisted it builds once
    // (r16). Bigram-vocab-sized — spills at scale like the q169 index.
    val c2 = graft.FrameCache.persist(
      bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2")))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val v = c2.agg(count_distinct(col("w2")).cast("double").as("v"))
    bg.join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(v))
      .groupBy(col("doc_id"))
      .agg(round(avg(-log((col("c2").cast("double") + 1d) /
        (col("c1").cast("double") + col("v")))), 6).as(out),
        count(lit(1)).as("n_bigrams"))
  }

  /** Within-document repetition signals — the self-repetition half of
    * the Gopher quality rules (Rae et al. 2021, "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher",
    * Table A1): per document and per n in `ns`,
    * `top{n}_frac` = occurrences of the most frequent n-gram / total
    * n-grams, and `dup{n}_frac` = fraction of n-gram occurrences beyond
    * the first of their kind = (total − distinct) / total. High values
    * flag the degenerate keyword-stuffed / looping pages a pretraining
    * filter drops. (Cross-document boilerplate is `boilerplateStats`,
    * q120; exact substring spans are `substringDupStats`, q169.)
    * Documents with fewer than n tokens have no n-grams → both
    * fractions are 0.
    *
    * Scale shape: per n, one codegen'd n-gram transform + explode and
    * two hash aggregates keyed (doc, gram) then (doc) — the gram stream
    * is never keyed on the gram alone, so corpus-frequent grams cause
    * no skew, and each aggregate is map-side combined. The per-n
    * outputs are one-row-per-doc frames hash-joined back on the id.
    */
  def repetitionStats(docs: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String,
                      ns: Seq[Int] = Seq(2, 3)): org.apache.spark.sql.DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), "ns must be positive")
    val base = docs.select(col(idCol), tokens(col(textCol)).as("__t"))
    val perN = ns.map { n =>
      val grams = base.select(col(idCol), explode(expr(
        s"transform(slice(__t, 1, greatest(size(__t) - ${n - 1}, 0)), " +
          s"(w, i) -> array_join(slice(__t, i + 1, $n), ' '))")).as("__g"))
      grams.groupBy(col(idCol), col("__g"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col(idCol))
        .agg(round(max(col("__c")) / sum(col("__c")), 6).as(s"top${n}_frac"),
          round((sum(col("__c")) - count(lit(1))) / sum(col("__c")), 6)
            .as(s"dup${n}_frac"))
    }
    perN.foldLeft(docs.select(col(idCol))) { (acc, d) =>
      acc.join(d, Seq(idCol), "left")
    }.na.fill(0.0, ns.flatMap(n => Seq(s"top${n}_frac", s"dup${n}_frac")))
  }

  /** Per-group character-distribution Shannon entropy (nats) — the
    * compression-ratio proxy quality signal (RefinedWeb-style: very
    * low char entropy flags repeated-character/template junk, very
    * high flags binary-ish soup) computed at the SOURCE level, beside
    * the per-doc token-level [[unigramCrossEntropy]].
    *
    * Scale shape: the char explode is the one corpus-sized pass and its
    * aggregate is map-side combined onto ≤ groups × |alphabet| rows;
    * totals and the entropy fold then run on that dictionary-sized
    * frame only. Numeric discipline: FLOAT-WITH-FINAL-ROUNDING (6 dp)
    * — see ARCHITECTURE.md "Numeric determinism contract", table B.
    */
  def charEntropyBy(docs: org.apache.spark.sql.DataFrame, byCol: String,
                    textCol: String): org.apache.spark.sql.DataFrame = {
    // groups × |alphabet| rows consumed by the totals AND the entropy
    // fold — persisted so the corpus char explode runs once (r16)
    val counts = graft.FrameCache.persist(docs
      .select(col(byCol), explode(split(col(textCol), "")).as("__c"))
      .filter(col("__c") =!= "")
      .groupBy(col(byCol), col("__c")).agg(count(lit(1)).as("__n")))
    // rename before the totals self-join: both branches derive from
    // `counts`, and a shared `__n` attribute is ambiguous to resolve
    val tot = counts.groupBy(col(byCol)).agg(sum(col("__n")).as("__N"))
    counts.select(col(byCol), col("__n").as("__cnt"))
      .join(tot, Seq(byCol))
      .withColumn("__p", col("__cnt").cast("double") / col("__N"))
      .groupBy(col(byCol))
      .agg(max(col("__N")).as("n_chars"),
        count(lit(1)).as("n_distinct_chars"),
        round(sum(-col("__p") * log(col("__p"))), 6).as("entropy_nats"))
  }

  /** CORPUS-level n-gram diversity per group — distinct-gram ratio over
    * the whole group for each n (the self-repetition / mode-collapse
    * diagnostic for a source or a generated corpus; [[repetitionStats]]
    * is the within-doc twin). A source whose distinct-trigram ratio
    * collapses is template spam, however clean each page looks alone.
    *
    * Scale shape: one codegen'd gram transform + explode per n (all n
    * ride ONE scan via a flattened struct array), then a single
    * aggregate keyed (group, n, gram) for the distinct count — partial
    * (map-side) aggregation absorbs gram repetition before the
    * shuffle, and no stage keys on the gram alone, so corpus-frequent
    * grams cause no skew. Output is groups × |ns| rows.
    */
  def ngramDiversity(docs: org.apache.spark.sql.DataFrame, byCol: String,
                     textCol: String,
                     ns: Seq[Int] = Seq(1, 2, 3)): org.apache.spark.sql.DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), "ns must be positive")
    val t = filter(tokens(col(textCol)), x => x =!= lit(""))
    val grams = flatten(array(ns.map { n =>
      expr(s"transform(slice(__t, 1, greatest(size(__t) - ${n - 1}, 0)), " +
        s"(w, i) -> struct($n AS n, array_join(slice(__t, i + 1, $n), ' ') AS g))")
    }: _*))
    docs.select(col(byCol), t.as("__t"))
      .select(col(byCol), explode(grams).as("__p"))
      .groupBy(col(byCol), col("__p.n").cast("long").as("n"))
      .agg(count(lit(1)).as("total_grams"),
        countDistinct(col("__p.g")).as("distinct_grams"))
      .withColumn("diversity",
        round(col("distinct_grams").cast("double") / col("total_grams"), 6))
  }

  def tfidfTopTerms(docs: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, topK: Int = 3): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
    // tf (the inverted index) feeds doc lengths, document frequency,
    // AND the scoring projection — three re-expansions of the token
    // explode unpersisted; one build persisted (r16)
    val tf = graft.FrameCache.persist(
      terms.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("n")))
    val docLen = tf.groupBy(col("doc_id")).agg(sum(col("n")).as("len"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).cast("double").as("nd"))
    val scored = tf
      .join(docLen, Seq("doc_id"))
      .join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round((col("n").cast("double") / col("len")) *
          log(col("nd") / col("df")), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("doc_id"), col("term"), col("tfidf"), col("rk").cast("long").as("rk"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke, Büttcher 2009) — the
    * standard score-free combiner for hybrid retrieval (BM25 + dense
    * ANN, or multiple query formulations):
    *   RRF(d) = Σ_r 1/(c + rank_r(d)),
    * summed over each input ranking that contains d. Rank-based, so
    * incomparable score scales fuse without calibration. Inputs are
    * (id, rank) frames (rank 1-based); an item missing from a ranking
    * simply contributes nothing. Each input ranking is top-k-sized
    * (tiny) — the union and aggregate are driver-free but effectively
    * broadcast-scale; the final top-k is a TakeOrderedAndProject.
    * Fused score ranks on the 6-dp ROUNDING (id tiebreak) for
    * cross-engine determinism.
    */
  def rrfFuse(rankings: Seq[org.apache.spark.sql.DataFrame], idCol: String,
              rankCol: String, k: Int, c: Int = 60): org.apache.spark.sql.DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val contrib = rankings.map(r => r.select(col(idCol),
      (lit(1.0) / (col(rankCol) + c)).as("__c")))
    contrib.reduce(_ unionByName _)
      .groupBy(col(idCol))
      .agg(round(sum(col("__c")), 6).as("rrf_score"),
        count(lit(1)).cast("long").as("n_lists"))
      .orderBy(col("rrf_score").desc, col(idCol))
      .limit(k)
  }

  /** BM25 keyword retrieval (Robertson/Spärck Jones; Lucene's idf
    * variant, ln(1 + (N − df + ½)/(df + ½))) — the lexical baseline
    * that sits beside the ANN stack in every retrieval pipeline:
    *   score(d, Q) = Σ_{t∈Q} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl)).
    *
    * Scale shape: ONE token pass — the explode filters to the query's
    * terms at scan level (codegen isin) before any aggregation, so the
    * (doc, term, tf) stream is bounded by docs-containing-query-terms;
    * per-term df folds from the same stream; N and avgdl ride a
    * one-row broadcast; the ≤|Q|-row df table broadcasts; the final
    * top-k is TakeOrderedAndProject (no global sort). Ranking uses the
    * score ROUNDED to 6 dp with the id tiebreak, so equal-content docs
    * order deterministically on any engine.
    */
  def bm25TopK(docs: org.apache.spark.sql.DataFrame, idCol: String,
               textCol: String, query: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("__t"))
      .select(col(idCol), size(col("__t")).as("__len"),
        explode(col("__t")).as("term"))
      .filter(col("term").isin(query: _*))
    val tf = toks.groupBy(col(idCol), col("__len"), col("term"))
      .agg(count(lit(1)).as("__tf"))
    // df folds from tf, not from toks (r16): tf is distinct on
    // (id, term) by construction, so count-of-rows per term ==
    // count_distinct(id) over the raw stream — same value, and the
    // token explode now runs ONCE per call instead of twice
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("__df"))
    val corpus = docs.agg(count(lit(1)).as("__N"),
      avg(tokenCount(col(textCol))).as("__avgdl"))
    val idf = log(lit(1d) + (col("__N") - col("__df") + 0.5)
      / (col("__df") + 0.5))
    // parenthesization mirrors the oracle SQL term by term so the
    // doubles agree bit-for-bit: (1−b) + (b·dl)/avgdl, then ·k1
    val termScore = idf * col("__tf") * (k1 + 1) /
      (col("__tf") + (lit(1 - b) + lit(b) * col("__len") / col("__avgdl")) * k1)
    tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(corpus))
      .withColumn("__s", termScore)
      .groupBy(col(idCol))
      .agg(round(sum(col("__s")), 6).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  // --- FAString niche byte-ops (rt_str.py:621,642,1232,1278) ---------
  // The generic FAString surface maps 1:1 onto built-ins (scaladoc at
  // the top); these four have no direct builtin and get dedicated
  // Column helpers. All pure expressions — codegen'd, scan-speed.

  /** Single character at `pos` (0-based; negative counts from the end)
    * — FAString.char (`rt_str.py:1278`). Out-of-bounds positions yield
    * the empty string (the reference raises; the relational analog is
    * the empty match, consistent with substring past the end).
    */
  def charAt(s: Column, pos: Column): Column = {
    val p = when(pos < 0, length(s) + pos).otherwise(pos)
    when(p < 0 || p >= length(s), lit(""))
      .otherwise(s.substr(p.cast("int") + 1, lit(1)))
  }

  /** 0-based index of the first occurrence of ANY character of `chars`,
    * or -1 when none occur — FAString.index_any_of / strpbrk
    * (`rt_str.py:621,642`). Empty `chars` returns 0 for every row
    * (reference parity).
    */
  def indexAnyOf(s: Column, chars: String): Column =
    if (chars.isEmpty) when(s.isNotNull, lit(0))
    else {
      // escape every non-alphanumeric so the class is literal
      val cls = "[" + chars.flatMap(c =>
        if (c.isLetterOrDigit) c.toString else "\\" + c) + "]"
      (regexp_instr(s, lit(cls)) - 1).cast("int")
    }

  /** Deprecated reference alias of [[indexAnyOf]] (`rt_str.py:642`). */
  def strpbrk(s: Column, chars: String): Column = indexAnyOf(s, chars)

  /** Prefix of each string up to (by default excluding) the first
    * occurrence of `stop`; the whole string when `stop` is absent —
    * FAString.substr_char_stop (`rt_str.py:1232`). `inclusive` keeps
    * one extra character, exactly like the reference's `int_stop += 1`.
    */
  def substrCharStop(s: Column, stop: String,
                     inclusive: Boolean = false): Column = {
    val idx = instr(s, stop) // 1-based, 0 when absent
    val n = when(idx === 0, length(s))
      .otherwise(idx - 1 + (if (inclusive) 1 else 0))
    s.substr(lit(1), n)
  }
}
